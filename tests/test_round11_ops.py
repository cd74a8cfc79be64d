"""Round-11 hardening invariants: the validated ``$SBP_*`` knob parser
(one parse discipline, uniform zero-disables semantics — the advisor's
round-10 finding: bare ``int()`` at import crashed on malformed values
and e24's zero emptied the output instead of disabling the cap), the
e24 zero-disables path strict-compared against its SQL, and the
plan-size/CPU structure of the reworked p06 Bloom screen expression
(one bitmap literal total, one hash per probe)."""

from __future__ import annotations

import pytest

from streamandbatchprocessing_spark.queries.registry import env_int


# ---------------------------------------------------------------------------
# env_int — the shared $SBP_* knob parser
# ---------------------------------------------------------------------------
def test_env_int_default_when_unset(monkeypatch):
    monkeypatch.delenv("SBP_TEST_KNOB", raising=False)
    assert env_int("SBP_TEST_KNOB", 8) == 8


def test_env_int_parses_value(monkeypatch):
    monkeypatch.setenv("SBP_TEST_KNOB", "42")
    assert env_int("SBP_TEST_KNOB", 8) == 42


def test_env_int_rejects_non_integer(monkeypatch):
    monkeypatch.setenv("SBP_TEST_KNOB", "eight")
    with pytest.raises(ValueError, match=r"SBP_TEST_KNOB.*not an integer"):
        env_int("SBP_TEST_KNOB", 8)


def test_env_int_rejects_negative(monkeypatch):
    monkeypatch.setenv("SBP_TEST_KNOB", "-1")
    with pytest.raises(ValueError, match=r"SBP_TEST_KNOB.*out of range"):
        env_int("SBP_TEST_KNOB", 8)


def test_env_int_zero_disables_caps_but_not_working_sets(monkeypatch):
    """0 is legal for cap-style knobs (minimum=0, 'disable the bound')
    and illegal where a positive working set is required (minimum=1)."""
    monkeypatch.setenv("SBP_TEST_KNOB", "0")
    assert env_int("SBP_TEST_KNOB", 8) == 0
    with pytest.raises(ValueError, match=r"SBP_TEST_KNOB.*out of range"):
        env_int("SBP_TEST_KNOB", 8, minimum=1)


# ---------------------------------------------------------------------------
# e24 — zero disables the vocabulary cap (uniform $SBP_* semantics)
# ---------------------------------------------------------------------------
def test_e24_cap_zero_disables(spark, sf_dir):
    """vocab_k == 0 must mean 'unbounded vocabulary' on BOTH engines
    (strict-oracle-compared) and equal the effectively-unbounded huge-K
    build — NOT the pre-round-11 behavior, where 0 emitted an empty
    grid (LIMIT 0) on Spark and SQL alike."""
    from streamandbatchprocessing_spark.queries.textops import (
        _e24_frame,
        _e24_oracle,
    )
    from tests.oracle_harness import compare

    compare(
        spark, sf_dir, "e24_uncapped",
        lambda s, d: _e24_frame(s, d, 0), _e24_oracle(0),
    )
    key = lambda r: (r["source_a"], r["source_b"])  # noqa: E731
    zero = {
        key(r): (r["n_union_tokens"], r["jsd_nats"])
        for r in _e24_frame(spark, sf_dir, 0).collect()
    }
    huge = {
        key(r): (r["n_union_tokens"], r["jsd_nats"])
        for r in _e24_frame(spark, sf_dir, 1 << 30).collect()
    }
    assert zero and zero == huge


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
