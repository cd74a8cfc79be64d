"""Round-11 hardening invariants: the plan-size/CPU structure of the
reworked p06 Bloom screen expression (one bitmap literal total, one
hash per probe)."""

from __future__ import annotations


# ---------------------------------------------------------------------------
# p06 — Bloom screen expression structure
# ---------------------------------------------------------------------------
def test_p06_screen_expr_single_literal():
    """The generated screen must carry the ~128 KB bitmap literal
    EXACTLY ONCE (bound as the ``bm`` lambda variable) — the round-10
    shape carried K copies. The hash stays INLINE (2 evaluations per
    probe): the hash-once ``exists`` binding was A/B-measured at sf10
    and rejected (+19% — per-gram HOF dispatch costs more than the
    hash; see the builder's docstring)."""
    from streamandbatchprocessing_spark.queries.pipeline import (
        _P06_BLOOM_K,
        _P06_BLOOM_M,
        _p06_bloom_screen_expr,
    )

    words = [0] * (_P06_BLOOM_M // 64)
    words[0] = 1234567891234  # distinctive, grep-able literal
    expr = _p06_bloom_screen_expr(words)
    assert expr.count("1234567891234L") == 1
    assert expr.count("xxhash64") == 2 * _P06_BLOOM_K
    assert expr.count("element_at(bm,") == _P06_BLOOM_K
    assert "exists(" not in expr
