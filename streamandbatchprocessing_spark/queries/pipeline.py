"""Composed training-data pipeline (p-group): the families chained the
way a real 100 TB data-mix job chains them, with a funnel of per-stage
doc/token counts as the observable output.

Stages (each reuses the single-family operator logic):
  raw → quality gate (e02 class != poor) → language gate (e06 langid)
      → exact dedup (c01 canonicalization) → near-dedup suppression
        (c02 MinHash-LSH candidates, est ≥ 14/16 against a smaller
        doc_id suppresses the larger — one pass, no iteration).

Scale: the funnel prunes BEFORE the expensive stages — quality and
langid are codegen'd projections that cut the corpus ahead of the
signature shuffle, and the LSH pair stream stays shuffle-free
(band-exclusive joins). The final aggregation is 5 rows. Greedy
min-id suppression is deterministic and needs no cluster fixpoint:
every near-dup GROUP keeps exactly its smallest member (any larger
member pairs with the group's minimum via the band join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash60
from ..functions.text import LANG_STOPWORDS, tokens
from ..functions.aggregates import davg, dsum, pround, pround_sql
from ..functions.windows import panel_window, panel_window_all
from ..sources.batch import load_table
from .dedup import _agree_col, _band_pairs, _CC_MIN_AGREE, _sig_df
from .registry import persist_tracked, planner_broadcasts, query
from .textops import QUALITY_SCORE_CTE

_EN_WORDS = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])


def _mix_oracle() -> str:
    # Stage CTEs; each s{i} carries doc_id, text, n_tokens.
    from .dedup import _MERSENNE61, _MH_H1, _MH_H2, _N_HASHES, _ROWS_PER_BAND, _BANDS

    sig_cols = ",\n               ".join(
        f"MIN(({_MH_H1} + {i} * {_MH_H2}) % {_MERSENNE61}) AS h{i}"
        for i in range(_N_HASHES)
    )
    band_joins = []
    for b in range(_BANDS):
        conds = [
            " AND ".join(
                f"a.h{i} = b.h{i}"
                for i in range(k * _ROWS_PER_BAND, (k + 1) * _ROWS_PER_BAND)
            )
            for k in range(b + 1)
        ]
        expr = (
            conds[b]
            + "".join(f" AND NOT ({c})" for c in conds[:b])
            + " AND a.doc_id < b.doc_id"
        )
        agree = " + ".join(
            f"CAST(a.h{i} = b.h{i} AS INT)" for i in range(_N_HASHES)
        )
        band_joins.append(
            f"        SELECT b.doc_id AS loser FROM sig a JOIN sig b ON {expr}\n"
            f"        WHERE ({agree}) >= {_CC_MIN_AGREE}"
        )
    suppress = "\n        UNION\n".join(band_joins)
    return f"""
    WITH s0 AS (SELECT doc_id, lang, text,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                       string_split(lower(text), ' ') AS ltoks
                FROM documents),
    s1 AS (SELECT * FROM s0 WHERE n_tokens >= 15),
    s2 AS (SELECT * FROM s1
           WHERE len(list_filter(ltoks, x -> x IN ({_EN_WORDS}))) > 0),
    canon AS (SELECT text, MIN(doc_id) AS kid FROM s2 GROUP BY text),
    s3 AS (SELECT s2.* FROM s2 JOIN canon c
           ON s2.text = c.text AND s2.doc_id = c.kid),
    t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
          FROM s3),
    x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    sig AS (SELECT doc_id,
               {sig_cols}
            FROM x GROUP BY doc_id),
    losers AS (
{suppress}
    ),
    s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT loser FROM losers))
    SELECT stage, stage_order, n_docs, total_tokens FROM (
        SELECT 'raw' AS stage, 0 AS stage_order,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM s0
        UNION ALL SELECT 'quality', 1, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(n_tokens) AS BIGINT) FROM s1
        UNION ALL SELECT 'language', 2, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(n_tokens) AS BIGINT) FROM s2
        UNION ALL SELECT 'exact_dedup', 3, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(n_tokens) AS BIGINT) FROM s3
        UNION ALL SELECT 'near_dedup', 4, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(n_tokens) AS BIGINT) FROM s4
    )
    ORDER BY stage_order
    """


@query("p01_training_mix", oracle=_mix_oracle())
def p01_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end data-mix funnel: per-stage surviving doc/token counts.
    See module docstring for the stage chain and scale rationale."""
    docs = load_table(spark, sf_dir, "documents")
    s0 = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        tokens(F.lower("text")).alias("ltoks"),
    )
    s1 = s0.filter(F.col("n_tokens") >= 15)
    s2 = s1.filter(
        F.size(F.filter("ltoks", lambda x: x.isin(*LANG_STOPWORDS["en"]))) > 0
    )
    canon = s2.groupBy("text").agg(F.min("doc_id").alias("kid"))
    # Explicit aliases: canon derives from s2, and the unaliased
    # same-lineage equi-join logs a "trivially true equals predicate"
    # warning while auto-disambiguating (c01's fix, applied here).
    s3 = (
        s2.alias("s")
        .join(canon.alias("cn"), F.col("s.text") == F.col("cn.text"))
        .filter(F.col("s.doc_id") == F.col("cn.kid"))
        .select("s.*")
    )
    sig = persist_tracked(_sig_df(s3))
    losers = (
        _band_pairs(
            sig, lambda pa, pb, band: [_agree_col(pa, pb, band).alias("agree")]
        )
        .filter(F.col("agree") >= _CC_MIN_AGREE)
        .select(F.col("db").alias("doc_id"))
        .distinct()
    )
    s4 = s3.join(losers, "doc_id", "left_anti")

    def stage(df: DataFrame, name: str, order: int) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.lit(order).alias("stage_order"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        ).select("stage", "stage_order", "n_docs", "total_tokens")

    funnel = (
        stage(s0, "raw", 0)
        .union(stage(s1, "quality", 1))
        .union(stage(s2, "language", 2))
        .union(stage(s3, "exact_dedup", 3))
        .union(stage(s4, "near_dedup", 4))
    )
    return funnel.orderBy("stage_order")


# ---------------------------------------------------------------------------
# p03 — sequence packing (context-window budgeting)
# ---------------------------------------------------------------------------
#: Target context length in tokens. Documents are packed contiguously in
#: doc_id order; a document starting at token offset ``o`` belongs to
#: sequence ``o // _CTX``, so sequences are fixed-capacity windows a
#: trainer can consume directly (straddling docs spill into the next
#: window — the standard streaming-packing rule, no bin-packing search).
_CTX = 512


@query(
    "p03_sequence_packing",
    oracle=f"""
    WITH t AS (SELECT doc_id, source,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, source, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM t),
    b AS (SELECT source,
                 CAST((cum - n_tokens) // {_CTX} AS BIGINT) AS seq_id,
                 doc_id, n_tokens
          FROM c)
    SELECT source, seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM b
    GROUP BY source, seq_id
    ORDER BY source, seq_id
    """,
)
def p03_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential packing of documents into fixed token-budget
    training sequences (``_CTX`` tokens), per source: running token
    offset → sequence id → per-sequence doc/token rollup.

    Scale: the running sum is windowed PER SOURCE — one hash shuffle on
    the source key and every partition packs independently, which is
    exactly how a 100 TB tokenize-and-pack job shards (window over the
    whole corpus = single-partition death). Finer sharding (source ×
    file split) drops in by extending the partition key; the rollup
    after the window is a plain two-phase hash aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    b = c.select(
        "source",
        # Integral `div`, not floor(double /): a per-source cumulative
        # token count past 2^53 would lose exactness in the double and
        # misassign boundary docs vs the oracle's exact `//`. The
        # dividend is non-negative, so trunc == floor on both engines.
        F.expr(f"(cum - n_tokens) div {_CTX}").cast("long").alias("seq_id"),
        "doc_id",
        "n_tokens",
    )
    return (
        b.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "seq_id")
    )


# ---------------------------------------------------------------------------
# p04 — deterministic stratified sampling (per-source hash rates)
# ---------------------------------------------------------------------------
#: Per-mille keep rate per stratum, derived from the source name's
#: trailing digit (d → (d+1)·50‰, i.e. 50‰–500‰). A rule, not a lookup
#: table, so any source population at any scale factor gets a defined
#: rate; real mixes swap in their weight table (a broadcast map) without
#: touching the mechanism.
_SAMPLE_SALT = "smpl:"


@query(
    "p04_stratified_sample",
    oracle=f"""
    WITH t AS (SELECT doc_id, source,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                      (TRY_CAST(right(source, 1) AS BIGINT) + 1) * 50
                          AS rate_permille,
                      CAST(('0x' || substr(
                               md5('{_SAMPLE_SALT}' || source || ':'
                                   || CAST(doc_id AS VARCHAR)), 1, 15))
                           AS BIGINT) % 1000 AS bucket
               FROM documents)
    SELECT source,
           CAST(rate_permille AS BIGINT) AS rate_permille,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN bucket < rate_permille THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN bucket < rate_permille THEN n_tokens
                         ELSE 0 END) AS BIGINT) AS sampled_tokens,
           floor((SUM(CASE WHEN bucket < rate_permille THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0 AS realized_rate
    FROM t
    GROUP BY source, rate_permille
    ORDER BY source
    """,
)
def p04_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: every document hashes to a
    per-mille bucket (salted md5 of (source, doc_id)) and survives when
    its bucket falls under its stratum's keep rate — reproducible
    across runs, engines, and reshuffles, unlike ``sample()``/
    ``TABLESAMPLE`` whose output depends on partition layout.

    Scale: the keep decision is a codegen'd projection (hash + compare),
    so sampling composes with scan pruning BEFORE any shuffle — the
    sampled-down corpus is what flows into the expensive dedup/pack
    stages. One two-phase aggregate reports per-stratum realized rates
    vs. the configured rate."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(_SAMPLE_SALT),
                        F.col("source"),
                        F.lit(":"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    # try_cast: a source name without a trailing digit (or empty) has
    # no derivable rate — NULL, not an ANSI cast error (oracle:
    # TRY_CAST). A NULL rate samples nothing from that stratum.
    rate = (F.substring("source", -1, 1).try_cast("long") + 1) * 50
    t = docs.select(
        "source",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        rate.alias("rate_permille"),
        bucket.alias("bucket"),
    )
    keep = F.col("bucket") < F.col("rate_permille")
    # when/otherwise, not a bare boolean cast: an unknown keep verdict
    # (NULL rate/bucket) is "not sampled" (the oracle's CASE→ELSE 0);
    # sum(cast(NULL)) would poison the stratum's counts to NULL.
    kept = F.sum(F.when(keep, 1).otherwise(0))
    return (
        t.groupBy("source", "rate_permille")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            kept.cast("long").alias("n_sampled"),
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("sampled_tokens"),
            pround(
                kept * F.lit(1.0) / F.count(F.lit(1)), 6
            ).alias("realized_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# p05 — token-budget mix allocation (per-stratum water level)
# ---------------------------------------------------------------------------
#: Global training-token budget, split uniformly across strata; a
#: stratum with less than its share contributes everything it has
#: (single-pass allocation — the surplus column makes the shortfall
#: observable so a driver can rerun with a higher share, which is how
#: iterative mix tuning à la DoReMi consumes this).
_MIX_BUDGET = 50_000


@query(
    "p05_mix_budget",
    oracle=f"""
    WITH t AS (SELECT source,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
    avail AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail_tokens,
                     CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM t GROUP BY source),
    tot AS (SELECT COUNT(*) AS n_sources FROM avail)
    SELECT source, n_docs, avail_tokens,
           floor(({_MIX_BUDGET} * 1.0 / n_sources) * 1000000.0 + 0.5) / 1000000.0 AS target_tokens,
           floor((LEAST(1.0, ({_MIX_BUDGET} * 1.0 / n_sources)
                            / avail_tokens)) * 1000000.0 + 0.5) / 1000000.0 AS keep_frac,
           CAST(floor(avail_tokens
                      * LEAST(1.0, ({_MIX_BUDGET} * 1.0 / n_sources)
                                   / avail_tokens) + 0.5) AS BIGINT)
                AS kept_tokens,
           CAST(GREATEST(0, CAST(floor(({_MIX_BUDGET} * 1.0 / n_sources)
                                       - avail_tokens + 0.5) AS BIGINT))
                AS BIGINT) AS shortfall_tokens
    FROM avail CROSS JOIN tot
    ORDER BY source
    """,
)
def p05_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix budget allocation: split a global token budget
    uniformly across source strata, cap each stratum at what it has,
    and report per-stratum keep fraction + shortfall — the planning
    step that feeds p04's sampler its rates.

    Scale: one two-phase aggregate builds the per-stratum availability
    table (|strata| rows), the stratum count arrives as a broadcast
    scalar (BroadcastNestedLoopJoin of a 1-row relation — the W1
    share-of-total pattern, no single-partition window), and every
    output column is arithmetic over those rows. Nothing rescans the
    corpus: at 100 TB the mix plan is a metadata-sized computation."""
    docs = load_table(spark, sf_dir, "documents")
    avail = (
        docs.select(
            "source",
            F.size(tokens("text")).cast("long").alias("n_tokens"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("avail_tokens"),
        )
    )
    tot = avail.agg(F.count(F.lit(1)).alias("n_sources"))
    target = F.lit(_MIX_BUDGET) * F.lit(1.0) / F.col("n_sources")
    keep = F.least(F.lit(1.0), target / F.col("avail_tokens"))
    return (
        avail.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "avail_tokens",
            pround(target, 6).alias("target_tokens"),
            pround(keep, 6).alias("keep_frac"),
            pround(F.col("avail_tokens") * keep, 0)
            .cast("long")
            .alias("kept_tokens"),
            F.greatest(
                F.lit(0).cast("long"),
                pround(target - F.col("avail_tokens"), 0).cast("long"),
            ).alias("shortfall_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# p06 — benchmark-contamination check (eval-panel n-gram overlap)
# ---------------------------------------------------------------------------
#: Held-out "benchmark" panel = doc_id < _EVAL_N; everything else is the
#: training corpus. A train document contaminates an eval document when
#: they share a 5-gram — the standard n-gram decontamination screen run
#: before every LLM training job (GPT-3 App. C / PaLM style, with the
#: n-gram order shrunk to the fixture's short texts).
_EVAL_N = 25
_CONTAM_N = 5

#: Hard ceiling on the eval-panel rows we will force-broadcast. At
#: ~60 B per exploded (eval_doc, gram) row this is ≲300 MB — far under
#: the 8 GB broadcast limit with headroom for row overhead. Above it we
#: do NOT fail: the join stays an un-hinted equi-join and AQE picks the
#: build side from runtime stats (mirrors d03's _MAX_QUERY_VECTORS hard
#: guard, similarity.py — the other bounded-panel collect).
_MAX_PANEL_BROADCAST_ROWS = 5_000_000

#: Ceiling on the DISTINCT panel grams screened through p06's
#: plan-literal Bloom bitmap (the pre-explode fast path). The bitmap
#: itself is FIXED-size (_P06_BLOOM_M bits as int64 words in the plan),
#: so the cap bounds the false-positive rate, not the plan: at 20k
#: grams x 2 hashes in 2^20 bits the bit-load is ~4% and the FP rate
#: ~0.15%, so ~every screened gram that survives is a real panel hit.
#: Above the cap p06 falls back to the explode + broadcast-hash-join
#: shape, which carries the same 100-TB argument (train side streams
#: map-side, never shuffles).
_MAX_PANEL_LITERAL_GRAMS = 20_000

#: Bloom geometry for the fast path: 2^20 bits = 16,384 int64 words
#: (~128 KB in the plan), 2 xxhash64 probes per gram.
_P06_BLOOM_M = 1 << 20
_P06_BLOOM_K = 2


def _p06_bloom_screen_expr(words: list[int], grams: str = "gs") -> str:
    """SQL expression returning the ``grams`` array filtered to the
    probable bitmap members: every one of the K probe bits must be
    set. ``words`` are raw uint64 bit-words; emitted as signed int64
    literals (two's complement).

    Plan-size discipline (round-11, the advisor's finding — the
    round-10 build inlined the array once per probe): the bitmap
    literal appears EXACTLY ONCE, bound as lambda variable ``bm`` via
    a 1-element ``transform`` whose CreateArray-of-literals child
    constant-folds to a single Literal (K probes over the old shape
    carried K copies, ~128 KB each). Measured free: 48.4 vs 46.5 s at
    sf10 same-session, inside noise, for half the plan bytes.

    Each probe still evaluates its xxhash64 TWICE (word index + bit
    index) — deliberately. The advisor's suggested hash-once binding
    (wrap the hash in a 1-element ``exists`` to bind ``h``) was
    A/B-measured at sf10 and REJECTED: 57.8 s vs 48.4 s (+19%) —
    per-gram HOF dispatch + array allocation in the interpreter costs
    more than recomputing a sub-100 ns hash, the same trade the
    round-8 int64-gram-key rejection documented. The ``bm`` binding
    survives because it is per-ROW (one 1-element transform per
    document), not per-gram."""
    signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    arr = "array(" + ",".join(f"{w}L" for w in signed) + ")"
    probes = []
    for s in range(_P06_BLOOM_K):
        h = f"pmod(xxhash64(g, {s}), {_P06_BLOOM_M})"
        probes.append(
            f"(element_at(bm, CAST({h} DIV 64 AS INT) + 1) & "
            f"shiftleft(1L, CAST(pmod({h}, 64) AS INT))) != 0"
        )
    test = " AND ".join(probes)
    return (
        f"element_at(transform(array({arr}), "
        f"bm -> filter({grams}, g -> {test})), 1)"
    )


def _guarded_panel_broadcast(
    panel: DataFrame, cap: int = _MAX_PANEL_BROADCAST_ROWS
) -> DataFrame:
    """Broadcast-hint ``panel`` only if its row count is under ``cap``.

    The "panel is bounded by construction" argument (a benchmark suite
    is thousands of docs) justifies the broadcast PLAN, but nothing in
    the dataflow enforces it — a 100k-doc eval panel exploded to grams
    would silently blow past the executor broadcast ceiling. The count
    here is one cheap action on the (pushdown-pruned) panel side; the
    100-TB train side is never touched by it."""
    if panel.count() <= cap:
        return F.broadcast(panel)
    return panel


@query(
    "p06_contamination_check",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id,
                 list_distinct(CASE WHEN len(toks) < {_CONTAM_N}
                      THEN CAST([] AS VARCHAR[])
                      ELSE list_transform(range(1, len(toks) - {_CONTAM_N - 2}),
                                          i -> array_to_string(
                                              toks[i:i+{_CONTAM_N - 1}], ' '))
                      END) AS gs
          FROM t),
    ev AS (SELECT doc_id AS eval_doc, gs FROM s WHERE doc_id < {_EVAL_N}),
    evs AS (SELECT eval_doc, CAST(len(gs) AS BIGINT) AS n_grams FROM ev),
    evg AS (SELECT eval_doc, unnest(gs) AS g FROM ev),
    trg AS (SELECT doc_id AS train_doc, unnest(gs) AS g FROM s
            WHERE doc_id >= {_EVAL_N}),
    hits AS (SELECT evg.eval_doc,
                    COUNT(DISTINCT evg.g) AS n_hit_grams,
                    COUNT(DISTINCT trg.train_doc) AS n_train_docs
             FROM trg JOIN evg ON trg.g = evg.g
             GROUP BY evg.eval_doc)
    SELECT evs.eval_doc, evs.n_grams,
           CAST(COALESCE(hits.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
           CAST(COALESCE(hits.n_train_docs, 0) AS BIGINT) AS n_train_docs,
           CASE WHEN evs.n_grams = 0 THEN 0.0
                ELSE floor((COALESCE(hits.n_hit_grams, 0) * 1.0
                           / evs.n_grams) * 1000000.0 + 0.5) / 1000000.0 END AS contamination_frac
    FROM evs LEFT JOIN hits ON hits.eval_doc = evs.eval_doc
    ORDER BY evs.eval_doc
    """,
)
def p06_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for each eval-panel document, how much
    of its distinct 5-gram set also occurs in the training corpus, and
    how many train documents touch it.

    Scale design: the eval panel is BOUNDED (a benchmark suite is
    thousands of docs, not billions), so the 100-TB train side streams
    map-side — never shuffled, never re-scanned — in one of two
    regimes. When the distinct panel-gram set fits the Bloom cap
    (<= _MAX_PANEL_LITERAL_GRAMS), each train doc's gram array is
    screened through a PLAN-LITERAL Bloom bitmap of the panel grams
    BEFORE exploding (2 xxhash64 probes per gram against 2^20 bits),
    so only probable hits ever materialize as rows; the tiny surviving
    stream then equi-joins the broadcast panel, which both attributes
    eval docs AND discards Bloom false positives — the screen can only
    over-admit, never drop a real hit, so the result is exact and the
    oracle is unchanged. Above the cap, the train grams explode into a
    broadcast hash join against the panel (the r08 shape). Both
    regimes aggregate identically (distinct grams / distinct train
    docs per eval doc, 2-phase like any countDistinct) and output
    volume is linear in matching train rows — no pair expansion exists
    in this shape (contrast c04, which must enumerate doc PAIRS).

    Measured A/B at sf1.0 (round 10, best-of-2, the round-9 verdict's
    next-round #5; recorded in COVERAGE.md and OPTIMIZATION_r12.md): Bloom
    pre-screen 7.52 s vs intersect-before-explode 18.14 s (deployed
    r09 shape) vs explode-all + BHJ 33.87 s. At sf10 (100x docs) the
    deployed Bloom path runs 54.3 s quiet best-of-3 under the COLLECT
    protocol (round 12 — earlier count-protocol sf10 figures of
    ~10.7/4.7 s were a measurement artifact: the final 25-row LEFT
    join lets Catalyst eliminate the whole train-side subtree for a
    bare count(); see COVERAGE.md round 12). The screen stays linear
    in train grams (each gram pays two hash probes), which is this
    screen's floor. The r09 intersect path
    loses at 10x because ArrayIntersect against a ~1k-element literal
    re-materializes the lookup set per ROW, while the Bloom test is
    two hash probes per gram into a shared 128 KB bitmap — the round-8
    "no per-element hashing in HOF lambdas" rule inverts once the
    alternative is per-row set construction. The train side also
    skips array_distinct now (the attribution join + countDistinct
    dedupe anyway; its removal alone was 18.14 -> 13.56 s). The
    int64-gram-key variant (hash the 5 tokens inside the transform
    lambda) stays REJECTED from round 8: 11.7 s vs 3.9 s at sf0.1 —
    it replaced a cheap concat with per-element hashing AND kept the
    per-row intersect, the losing side of the same trade."""
    docs = load_table(spark, sf_dir, "documents")
    # Project the token array ONCE before building grams from it: the
    # inlined form re-splits the full text inside the transform lambda
    # (once per gram — the e07 no-CSE gotcha; CollapseProject keeps the
    # projection because the non-cheap split is referenced 3×).
    #
    # Grams stay concatenated STRINGS deliberately (measured, round 8):
    # hashing the 5 tokens to an int64 gram key inside the transform
    # lambda (i -> xxhash64(toks[i], ..., toks[i+4])) — the
    # shared_toksets trick applied to n-grams — benched 11.7 s vs 3.9 s
    # at sf0.1: five array subscripts + a 5-arg hash per lambda call
    # evaluate interpreted inside the higher-order function, losing far
    # more than the narrower join key wins. concat_ws(slice(...)) stays.
    grams = F.expr(
        f"CASE WHEN size(toks) < {_CONTAM_N} THEN array() "
        f"ELSE transform(sequence(0, size(toks) - {_CONTAM_N}), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {_CONTAM_N}))) "
        "END"
    )
    g = docs.select(
        "doc_id", tokens("text").alias("toks")
    ).select("doc_id", grams.alias("gs"))
    ev = g.filter(F.col("doc_id") < _EVAL_N).select(
        # The panel side DOES distinct its grams: n_grams is defined
        # over the distinct gram set, and the attribution join must
        # not double-count a panel gram. The train side skips it —
        # the join + countDistinct dedupe, and the array_distinct
        # pass over every corpus doc is measured waste (18.14 ->
        # 13.56 s at sf1.0).
        "doc_id", F.array_distinct("gs").alias("gs")
    )
    ev_sz = ev.select(
        F.col("doc_id").alias("eval_doc"), F.size("gs").cast("long").alias("n_grams")
    )
    # persist: the regime-pick count(), the Bloom-position collect /
    # the broadcast build, and the attribution join all read the panel
    # subtree; uncached it would run the gram transform repeatedly.
    ev_g = persist_tracked(
        ev.select(F.col("doc_id").alias("eval_doc"), F.explode("gs").alias("g"))
    )
    tr = g.filter(F.col("doc_id") >= _EVAL_N).select(
        F.col("doc_id").alias("train_doc"), "gs"
    )
    # Regime pick (one cheap action on the pushdown-pruned panel side;
    # the train side is never touched by it). The distinct-gram count
    # is <= the exploded panel row count, so one count decides both
    # the Bloom cap and the broadcast cap.
    n_panel_rows = ev_g.count()
    if n_panel_rows <= _MAX_PANEL_LITERAL_GRAMS:
        # Collect only the K probe POSITIONS per distinct panel gram
        # (ints — never the gram strings), OR them into the bitmap
        # driver-side, and screen each train doc's gram array through
        # it before the explode.
        pos_rows = (
            ev_g.select("g").distinct()
            .select(
                *[
                    F.pmod(
                        F.xxhash64(F.col("g"), F.lit(s)),
                        F.lit(_P06_BLOOM_M),
                    ).alias(f"p{s}")
                    for s in range(_P06_BLOOM_K)
                ]
            )
            .collect()
        )
        words = [0] * (_P06_BLOOM_M // 64)
        for r in pos_rows:
            for s in range(_P06_BLOOM_K):
                p = r[f"p{s}"]
                words[p // 64] |= 1 << (p % 64)
        tr_maybe = tr.select(
            "train_doc",
            F.explode(F.expr(_p06_bloom_screen_expr(words))).alias("g"),
        )
        hits_src = tr_maybe.join(F.broadcast(ev_g), "g")
    else:
        tr_g = tr.select("train_doc", F.explode("gs").alias("g"))
        # ev_g is persisted, so the guard's second count is a cached
        # metadata-cheap action in this (rare, huge-panel) regime.
        hits_src = tr_g.join(_guarded_panel_broadcast(ev_g), "g")
    hits = hits_src.groupBy("eval_doc").agg(
        F.countDistinct("g").alias("n_hit_grams"),
        F.countDistinct("train_doc").alias("n_train_docs"),
    )
    return (
        ev_sz.join(hits, "eval_doc", "left")
        .select(
            "eval_doc",
            "n_grams",
            F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
            F.coalesce("n_train_docs", F.lit(0)).cast("long").alias("n_train_docs"),
            F.when(F.col("n_grams") == 0, F.lit(0.0))
            .otherwise(
                pround(
                    F.coalesce("n_hit_grams", F.lit(0)) * F.lit(1.0)
                    / F.col("n_grams"),
                    6,
                )
            )
            .alias("contamination_frac"),
        )
        .orderBy("eval_doc")
    )


# ---------------------------------------------------------------------------
# p07 — temperature-weighted source sampling (mC4 / XLM-R rebalancing)
# ---------------------------------------------------------------------------
#: p_i^α / Σ p_j^α with α < 1 flattens the source distribution: big
#: sources are downsampled, small ones upsampled — the standard
#: multilingual/source-mix correction applied before training.
_TEMP_ALPHA = 0.7


@query(
    "p07_temperature_mix",
    oracle=f"""
    WITH s AS (SELECT source,
                      CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                          AS n_tokens
               FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_tokens) AS t FROM s),
    w AS (SELECT source, n_docs, n_tokens,
                 n_tokens * 1.0 / tot.t AS p,
                 pow(n_tokens * 1.0 / tot.t, {_TEMP_ALPHA}) AS pw
          FROM s CROSS JOIN tot),
    z AS (SELECT SUM(pw) AS z FROM w)
    SELECT source, n_docs, n_tokens,
           floor((p) * 1000000.0 + 0.5) / 1000000.0 AS natural_share,
           floor((pw / z.z) * 1000000.0 + 0.5) / 1000000.0 AS temp_share,
           floor(((pw / z.z) / p) * 1000000.0 + 0.5) / 1000000.0 AS sampling_factor
    FROM w CROSS JOIN z
    ORDER BY source
    """,
)
def p07_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling plan: per source, its natural token share,
    its temperature-flattened share p^α/Σp^α (α = ``_TEMP_ALPHA``), and
    the resulting up/downsampling factor.

    Scale: one linear aggregation to |sources| rows, then two broadcast
    scalars (total tokens, partition-function Σ p^α — the a03/W1
    grand-total pattern twice); the corpus is scanned once and never
    rescanned for the normalizations. pow() evaluates on |sources| rows
    only, and every published share is rounded to 6 dp so libm ulp
    differences between engines cannot surface."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens"),
    )
    tot = s.agg(F.sum("n_tokens").alias("t"))
    w = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") * F.lit(1.0) / F.col("t")).alias("p"),
        F.pow(F.col("n_tokens") * F.lit(1.0) / F.col("t"), _TEMP_ALPHA).alias(
            "pw"
        ),
    )
    z = w.agg(F.sum("pw").alias("z"))
    return (
        w.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            pround("p", 6).alias("natural_share"),
            pround(F.col("pw") / F.col("z"), 6).alias("temp_share"),
            pround((F.col("pw") / F.col("z")) / F.col("p"), 6).alias(
                "sampling_factor"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# p08 — deterministic train/validation split + per-split shuffle order
# ---------------------------------------------------------------------------
#: Percent of documents routed to the validation split. The assignment
#: hashes the doc id (not its position or content), so it is stable
#: under corpus growth, re-partitioning, and re-runs — the property a
#: training pipeline needs so eval docs never leak into train between
#: dataset versions.
_VAL_PCT = 10


@query(
    "p08_train_val_split",
    oracle=f"""
    WITH h AS (SELECT doc_id, source,
                      CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
                           AS BIGINT) AS hs,
                      CAST('0x' || substr(md5('order:' || CAST(doc_id AS VARCHAR)), 1, 15)
                           AS BIGINT) AS ho
               FROM documents),
    s AS (SELECT doc_id, source,
                 CASE WHEN hs % 100 < {_VAL_PCT} THEN 'val' ELSE 'train' END
                     AS split,
                 ho
          FROM h)
    SELECT doc_id, source, split,
           CAST(ROW_NUMBER() OVER (PARTITION BY split ORDER BY ho, doc_id)
                AS BIGINT) AS shuffle_rank
    FROM s
    ORDER BY doc_id
    """,
)
def p08_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/validation split with a per-split
    global shuffle order — the last batch step before examples are
    packed and written for training.

    Split assignment is ``hash(doc_id) mod 100 < {_VAL_PCT}`` on a
    60-bit md5-derived hash (``functions/hashing.hash60`` — portable:
    the DuckDB oracle computes the identical value), so membership is a
    pure function of the id: stable across corpus versions, engines and
    partitionings. ``shuffle_rank`` orders each split by an INDEPENDENT
    hash of the same id (different seed prefix), giving a reproducible
    pseudo-random training order without ever materializing a random
    column — rerunning the pipeline yields byte-identical epochs.

    Scale: one scan + one shuffle (the rank's per-split sort). At 100 TB
    the global row_number would bottleneck on a single-reducer tail, so
    a production writer would range-partition on ``(split, ho)`` and
    write file-local ranks with a partition-offset manifest — same
    order, no global window; the fixture-size query keeps the window so
    the oracle can pin the exact ranks."""
    from ..functions.hashing import hash60

    docs = load_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    h = docs.select(
        "doc_id",
        "source",
        hash60(F.concat(F.lit("split:"), sid)).alias("hs"),
        hash60(F.concat(F.lit("order:"), sid)).alias("ho"),
    ).select(
        "doc_id",
        "source",
        F.when(F.col("hs") % 100 < _VAL_PCT, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
        "ho",
    )
    w = Window.partitionBy("split").orderBy("ho", "doc_id")
    return (
        h.withColumn("shuffle_rank", F.row_number().over(w).cast("long"))
        .select("doc_id", "source", "split", "shuffle_rank")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# p09 — per-source quality-percentile gate (distribution-aware filtering)
# ---------------------------------------------------------------------------
@query(
    "p09_quality_percentile_gate",
    oracle=f"""
    WITH {QUALITY_SCORE_CTE.strip()},
    thr AS (SELECT source,
                   quantile_disc(quality_score, 0.25) AS threshold
            FROM scored GROUP BY source)
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           thr.threshold,
           CAST(SUM(CASE WHEN s.quality_score >= thr.threshold
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           floor((SUM(CASE WHEN s.quality_score >= thr.threshold
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0
               AS kept_frac
    FROM scored s JOIN thr ON thr.source = s.source
    GROUP BY s.source, thr.threshold
    ORDER BY s.source
    """,
)
def p09_quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-aware quality filtering: drop each source's bottom
    quartile by quality score, with the cut line computed FROM that
    source's own score distribution — the per-source adaptive gate a
    real data mix uses instead of one global threshold (a threshold
    that keeps 90% of Wikipedia removes most of CommonCrawl).

    Scale design: scores are a codegen'd projection (e02's rational
    arithmetic, shared builder); the per-source threshold is a GK
    quantile sketch aggregate — mergeable, O(accuracy) memory per
    source, the c11 argument — over |sources| groups, so the threshold
    table is dimension-sized and BROADCAST back onto the corpus for
    the gate: the 100-TB side is scanned twice (once for thresholds,
    once for gating) but never shuffled by more than the two map-side
    combinable aggregations. In the sketch's exact regime (per-source
    n < accuracy/2 — true at every fixture SF) the threshold is the
    exact discrete quartile, so the gate is oracle-checkable
    bit-for-bit; beyond it the cut line is approximate-by-design with
    bounded rank error.
    """
    from .textops import quality_score_col, quality_scored_docs

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_scored_docs(docs, "source").select(
        "doc_id", "source", quality_score_col().alias("quality_score")
    )
    thr = scored.groupBy("source").agg(
        F.expr("percentile_approx(quality_score, 0.25D, 10000)")
        .alias("threshold")
    )
    return (
        scored.join(F.broadcast(thr), "source")
        .groupBy("source", "threshold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("quality_score") >= F.col("threshold"), 1)
                .otherwise(0)
            ).cast("long").alias("n_kept"),
        )
        .select(
            "source", "n_docs", "threshold", "n_kept",
            pround(F.col("n_kept") * 1.0 / F.col("n_docs"), 6)
            .alias("kept_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# p10 — weighted (probability-proportional-to-size) Poisson sample
# ---------------------------------------------------------------------------
#: 2^60 as a double: the hash60 domain size, for u = h / 2^60.
_P10_HASH_SPAN = float(1 << 60)


@query(
    "p10_weighted_sample",
    oracle="""
    WITH tot AS (SELECT COUNT(*) // 5 AS target_n,
                        SUM(n_chars) AS sum_w
                 FROM documents),
    scored AS (
        SELECT d.doc_id, d.source, d.n_chars AS weight,
               LEAST(1.0, (CAST(t.target_n AS DOUBLE)
                           / CAST(t.sum_w AS DOUBLE)) * d.n_chars) AS pi,
               CAST('0x' || substr(md5('p10:' || CAST(d.doc_id AS VARCHAR)),
                                   1, 15) AS BIGINT) AS h
        FROM documents d, tot t)
    SELECT doc_id, source, weight, pi, 1.0 / pi AS ht_weight
    FROM scored
    WHERE CAST(h AS DOUBLE) < pi * 1152921504606846976.0
    ORDER BY doc_id
    """,
)
def p10_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted (PPS) Poisson sample of the corpus: each
    document is kept with probability proportional to its size
    (π_i = min(1, c·w_i), c calibrated so the expected sample is 1/5 of
    the corpus), decided by a salted 60-bit hash of its id — the
    training-mix sampling primitive that needs no shuffle, no state,
    and is reproducible row-by-row on any engine. The emitted
    Horvitz–Thompson weight 1/π_i makes any downstream aggregate over
    the sample unbiased for the full corpus.

    Determinism across engines: the only float ops are one division,
    one multiply, and a min — all exactly specified by IEEE 754, so
    Spark and the oracle compute bit-identical π from the same integer
    inputs (Σw and the target are exact BIGINTs); the keep decision
    compares the md5-derived hash against π·2^60 in double, identical
    on both sides. No ln/exp/rand — those vary by libm and would break
    the bit-exact gate.

    Scale design: one map-side-combinable whole-table aggregate
    produces the (target, Σw) scalar, broadcast back via cross join;
    the keep decision is then a stateless per-row filter — the corpus
    is scanned once and never shuffled (the final doc_id sort is
    presentation-only; a production pipeline drops it). Calibration
    drift (Σ changes as data arrives) re-runs only the cheap scalar
    aggregate, not the sample pass."""
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg(
        F.expr("COUNT(*) DIV 5").alias("target_n"),
        F.sum("n_chars").alias("sum_w"),
    )
    scored = docs.crossJoin(F.broadcast(tot)).select(
        "doc_id", "source",
        F.col("n_chars").alias("weight"),
        F.least(
            F.lit(1.0),
            (F.col("target_n").cast("double") / F.col("sum_w").cast("double"))
            * F.col("n_chars"),
        ).alias("pi"),
        hash60(
            F.concat(F.lit("p10:"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    return (
        scored.filter(
            F.col("h").cast("double") < F.col("pi") * F.lit(_P10_HASH_SPAN)
        )
        .select(
            "doc_id", "source", "weight", "pi",
            (F.lit(1.0) / F.col("pi")).alias("ht_weight"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# p11 — column profiling (data-quality summary of a table)
# ---------------------------------------------------------------------------
#: (column, kind) pairs profiled over ``orders``; kind picks the
#: canonical engine-portable string rendering for min/max.
_PROFILE_COLS = (
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
)


def _profile_render_sql(col: str, kind: str, agg: str) -> str:
    x = f"{agg}({col})"
    if kind == "int":
        return f"CAST({x} AS VARCHAR)"
    if kind == "money":
        return (
            f"CAST(CAST(floor({x} * 100.0 + 0.5) / 100.0"
            f" AS DECIMAL(18,2)) AS VARCHAR)"
        )
    if kind == "ts":
        return f"strftime({x}, '%Y-%m-%d %H:%M:%S')"
    return x


def _profile_frame(orders: DataFrame, distinct_agg, distinct_name: str) -> DataFrame:
    """Shared one-pass profile scaffold for p11/p12: the wide aggregate
    (row/null counts, canonically-rendered min/max) plus the stack
    unpivot, parameterized ONLY by the distinct aggregate (exact vs
    HLL++) and its output column name — so the exact profile and its
    100-TB twin can never drift in rendering or shape."""

    def render(col: str, kind: str, agg) -> F.Column:
        x = agg(col)
        if kind == "int":
            return x.cast("string")
        if kind == "money":
            return pround(x, 2).cast("decimal(18,2)").cast("string")
        if kind == "ts":
            return F.date_format(x, "yyyy-MM-dd HH:mm:ss")
        return x

    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for col, kind in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(col)).cast("long").alias(f"nn_{col}"),
            distinct_agg(col).cast("long").alias(f"nd_{col}"),
            render(col, kind, F.min).alias(f"mn_{col}"),
            render(col, kind, F.max).alias(f"mx_{col}"),
        ]
    wide = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{col}', nn_{col}, nd_{col}, mn_{col}, mx_{col}"
        for col, _ in _PROFILE_COLS
    )
    return (
        wide.selectExpr(
            "n_rows",
            f"stack({len(_PROFILE_COLS)}, {stack_args})"
            f" AS (column_name, n_null, {distinct_name}, min_s, max_s)",
        )
        .select(
            "column_name", "n_rows", "n_null", distinct_name,
            "min_s", "max_s",
        )
        .orderBy("column_name")
    )


@query(
    "p11_column_profile",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders)
    SELECT * FROM (
    """
    + "\nUNION ALL\n".join(
        # Per-column stats come from a GLOBAL aggregate subquery (always
        # exactly one row, even over an empty table) cross-joined to the
        # row count — NOT "FROM orders ... GROUP BY n.n_rows", which
        # collapses to ZERO rows on empty input and would diverge from
        # the profile's (correct) one-row-per-column contract.
        f"""
    SELECT '{col}' AS column_name,
           n.n_rows,
           CAST(n.n_rows - s.cnt AS BIGINT) AS n_null,
           s.n_distinct, s.min_s, s.max_s
    FROM (SELECT CAST(COUNT({col}) AS BIGINT) AS cnt,
                 CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
                 {_profile_render_sql(col, kind, 'MIN')} AS min_s,
                 {_profile_render_sql(col, kind, 'MAX')} AS max_s
          FROM orders) s CROSS JOIN n
    """
        for col, kind in _PROFILE_COLS
    )
    + """
    ) ORDER BY column_name
    """,
)
def p11_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of ``orders`` — per column: row count,
    null count, distinct count, and canonically-rendered min/max. The
    schema-drift / data-quality gate a production ingest runs before
    committing a batch (profile deltas catch silent upstream changes:
    a column going nullable, a cardinality explosion, a range shift).

    Scale: ONE aggregate pass computes every per-column statistic
    (Catalyst plans the multi-countDistinct via a single Expand —
    |columns| x row multiplier, each branch map-side combinable), then a
    |columns|-row stack unpivots driver-free. At 100 TB the exact
    distinct counts would swap to approx_count_distinct one-for-one;
    exact is kept here because the oracle gate demands bit-equality.
    Min/max strings render through explicitly-pinned portable formats
    (decimal quantization, strftime pattern) — never engine-default
    casts of doubles/timestamps.
    """
    orders = load_table(spark, sf_dir, "orders")
    return _profile_frame(orders, F.countDistinct, "n_distinct")


@query("p12_column_profile_at_scale")
def p12_column_profile_at_scale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """p11's 100-TB twin: the same one-pass column profile with every
    exact ``countDistinct`` swapped for ``approx_count_distinct``
    (HLL++, rsd 2%). p11's docstring pins this swap as prose; this
    registers it as CODE — the variant a production profile job runs,
    where exact multi-countDistinct's Expand multiplier (|columns| x
    rows shuffled) is the dominant cost and a 2% cardinality estimate
    is plenty for drift detection.

    Plan difference vs p11: NO Expand node — each HLL sketch
    accumulates map-side in the same single aggregate, so the pass
    shuffles |columns| fixed-size sketches instead of |columns| x rows
    (plan-pinned by tests/test_plans.py::test_p12_profile_no_expand).

    No SQL oracle ON PURPOSE: HLL estimates are engine-specific
    (Spark's HLL++ vs DuckDB's HLL disagree by design), so the driver
    records a rows-only verdict — the estimator's accuracy against
    p11's exact counts is asserted locally instead
    (tests/test_round6_ops.py::test_p12_approx_within_tolerance)."""
    orders = load_table(spark, sf_dir, "orders")
    return _profile_frame(
        orders,
        lambda c: F.approx_count_distinct(c, rsd=0.02),
        "approx_distinct",
    )


# ---------------------------------------------------------------------------
# p13 — curriculum mix table (value-bucketed, no global sort)
# ---------------------------------------------------------------------------
@query(
    "p13_curriculum_buckets",
    oracle=f"""
    WITH {QUALITY_SCORE_CTE.strip()},
    tk AS (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
    ph AS (SELECT s.doc_id, s.quality_score, tk.n_tokens,
                  CAST(CASE WHEN floor(s.quality_score * 10) > 9 THEN 9
                            ELSE floor(s.quality_score * 10) END AS INT)
                      AS phase,
                  CAST(s.doc_id % 8 AS INT) AS shard
           FROM scored s JOIN tk ON tk.doc_id = s.doc_id)
    SELECT phase, shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           floor((CAST(SUM(CAST(quality_score AS DECIMAL(25,6)))
                       AS DOUBLE) / COUNT(quality_score)) * 1000000.0
                 + 0.5) / 1000000.0 AS avg_quality
    FROM ph
    GROUP BY phase, shard
    ORDER BY phase, shard
    """,
)
def p13_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule table: documents bucketed into training
    phases by VALUE (quality-score decile band) and sharded by a
    deterministic id hash — the (phase, shard) manifest a curriculum
    trainer consumes, with per-cell doc and token budgets.

    Why value buckets and not ntile: rank-based deciles need a GLOBAL
    sort (single-reducer window at 100 TB); a fixed score→phase map is
    a stateless codegen'd projection that partitions identically at any
    scale, and phase populations stay comparable because the score is
    bounded in [0, 1]. floor(score·10) is the same IEEE operation on
    both engines, so the bucketing is hash-exact.

    Scale: one scan → projection → 80-cell aggregate (map-side
    combinable). No window, no join wider than the score table."""
    from .textops import quality_score_col, quality_scored_docs

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_scored_docs(docs).select(
        "doc_id", "n_tokens", quality_score_col().alias("quality_score")
    )
    # when/otherwise cap, not F.least: least SKIPS NULLs (a NULL
    # quality score would land in phase 9, the top curriculum bucket);
    # the oracle's CASE keeps it NULL — unscorable docs get no phase.
    _p = F.floor(F.col("quality_score") * 10)
    phase = F.when(_p > 9, F.lit(9)).otherwise(_p).cast("int")
    return (
        scored.select(
            "doc_id", "n_tokens", "quality_score",
            phase.alias("phase"),
            (F.col("doc_id") % 8).cast("int").alias("shard"),
        )
        .groupBy("phase", "shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            pround(davg("quality_score"), 6).alias("avg_quality"),
        )
        .orderBy("phase", "shard")
    )


# ---------------------------------------------------------------------------
# p14 — partition-skew report (hot-key diagnosis)
# ---------------------------------------------------------------------------
@query(
    "p14_skew_report",
    oracle="""
    WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
               FROM events GROUP BY user_id),
    t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
                 CAST(COUNT(*) AS BIGINT) AS n_keys
          FROM c)
    SELECT c.user_id, c.n_rows, t.total_rows, t.n_keys,
           floor((c.n_rows * 1.0 / t.total_rows) * 1000000.0 + 0.5)
               / 1000000.0 AS share,
           floor((c.n_rows * 1.0 * t.n_keys / t.total_rows) * 1000000.0
                 + 0.5) / 1000000.0 AS x_mean_ratio
    FROM c, t
    ORDER BY c.n_rows DESC, c.user_id
    LIMIT 20
    """,
)
def p14_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key skew report: the 20 heaviest shuffle keys with their row
    share and ratio-to-mean-key — the diagnosis a pipeline runs BEFORE
    choosing a salting factor or enabling AQE skew-join on a 100 TB
    groupBy/join key.

    Scale: per-key counts are one map-side-combinable aggregate; the
    (total, n_keys) scalar is a 1-row broadcast cross join (W1's
    scalar-agg idiom, never a window); top-20 plans as
    TakeOrderedAndProject — no global sort materializes. The
    (n DESC, user_id) order is total, so the LIMIT boundary is
    deterministic on both engines."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    stats = counts.agg(
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "user_id", "n_rows", "total_rows", "n_keys",
            pround(F.col("n_rows") * 1.0 / F.col("total_rows"), 6)
            .alias("share"),
            pround(
                F.col("n_rows") * 1.0 * F.col("n_keys")
                / F.col("total_rows"),
                6,
            ).alias("x_mean_ratio"),
        )
        .orderBy(F.col("n_rows").desc(), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# p15 — source-mix drift (KL divergence vs a reference snapshot)
# ---------------------------------------------------------------------------
@query(
    "p15_source_mix_drift",
    oracle="""
    WITH r AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_ref
               FROM documents WHERE doc_id % 3 = 0 GROUP BY source),
    c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_cur
          FROM documents WHERE doc_id % 3 <> 0 GROUP BY source),
    tr AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS t FROM r),
    tc AS (SELECT CAST(SUM(n_cur) AS BIGINT) AS t FROM c)
    SELECT r.source, r.n_ref, c.n_cur,
           floor((c.n_cur * 1.0 / tc.t) * 1000000.0 + 0.5) / 1000000.0
               AS p_cur,
           floor((r.n_ref * 1.0 / tr.t) * 1000000.0 + 0.5) / 1000000.0
               AS q_ref,
           floor(((c.n_cur * 1.0 / tc.t)
                  * ln((c.n_cur * 1.0 / tc.t) / (r.n_ref * 1.0 / tr.t)))
                 * 1000000.0 + 0.5) / 1000000.0 AS kl_term
    FROM r JOIN c ON c.source = r.source
    CROSS JOIN tr CROSS JOIN tc
    ORDER BY r.source
    """,
)
def p15_source_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix drift monitor: per-source KL-divergence terms between
    the current intake's source distribution and a reference snapshot
    (deterministic doc_id thirds stand in for the two days — mod 3,
    COPRIME with the fixture's source = doc_id %% 20 assignment, so
    every source appears in both snapshots and the monitor is
    non-vacuous; a parity split would separate the sources exactly).
    Σ kl_term is D_KL(cur ‖ ref) — the alarm a data-mix pipeline
    watches so a crawler change can't silently reweight training data.

    Scale: ONE scan builds both distributions (conditional count-if per
    source — no second read, no join of two aggregates wider than
    |sources|), the two totals broadcast as 1-row scalars, and ln()
    runs once per SOURCE, never per row. Sources absent from either
    snapshot are excluded (KL needs absolute continuity; a production
    monitor alerts on them separately).

    ln() cross-engine: same IEEE double in → same double out on this
    libm pair (the e13 bigram-LM precedent, hash-green since r05);
    outputs are 6dp-rounded like every scored double here."""
    docs = load_table(spark, sf_dir, "documents")
    per0 = docs.groupBy("source").agg(
        F.count(F.when(F.col("doc_id") % 3 == 0, 1)).alias("n_ref"),
        F.count(F.when(F.col("doc_id") % 3 != 0, 1)).alias("n_cur"),
    )
    # Totals cover EVERY source (the full distributions), not just the
    # sources that survive the absolute-continuity filter below —
    # matching the oracle's SUM over each half before its join.
    tot = per0.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    per = per0.filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
    p = F.col("n_cur") * 1.0 / F.col("tc")
    q = F.col("n_ref") * 1.0 / F.col("tr")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_ref", "n_cur",
            pround(p, 6).alias("p_cur"),
            pround(q, 6).alias("q_ref"),
            pround(p * F.log(p / q), 6).alias("kl_term"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# p16 — token-budget apportionment (largest-remainder allocation)
# ---------------------------------------------------------------------------
#: Total token budget to apportion across sources, in tokens.
_APPORTION_BUDGET = 1_000_000


@query(
    "p16_budget_apportionment",
    oracle=f"""
    WITH tk AS (SELECT source,
                       CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                           AS n_tokens
                FROM documents GROUP BY source),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM tk),
    q AS (SELECT tk.source, tk.n_tokens,
                 ({_APPORTION_BUDGET} * tk.n_tokens) // t.total
                     AS floor_alloc,
                 ({_APPORTION_BUDGET} * tk.n_tokens) % t.total
                     AS remainder
          FROM tk CROSS JOIN t),
    rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY remainder DESC,
                                                 source NULLS FIRST)
                         AS rem_rank,
                 SUM(floor_alloc) OVER () AS floor_total
           FROM q)
    SELECT source, n_tokens,
           CAST(floor_alloc AS BIGINT) AS floor_alloc,
           CAST(remainder AS BIGINT) AS remainder,
           CAST(rem_rank AS BIGINT) AS rem_rank,
           CAST(floor_alloc + CASE WHEN rem_rank <=
                    {_APPORTION_BUDGET} - floor_total THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM rk
    ORDER BY source
    """,
)
def p16_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed token
    budget across sources: exact proportional quotas floored, then the
    leftover units handed out by remainder rank — the allocation rule
    that makes per-source token budgets sum EXACTLY to the target with
    no fractional tokens and no drift (p05's water-level solves a
    different problem: capacity-capped fair shares).

    Scale: per-source token counts are one map-side-combinable
    aggregate; everything after operates on the |sources|-row table —
    the corpus total broadcasts, quota arithmetic is exact int64
    (budget·tokens ≤ 1e6·1e12 < 2^63), and the remainder-rank window
    runs on the bounded source panel (b33's metadata-sized-window
    argument). Σ alloc == budget by construction on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens")
    )
    tot = tk.agg(F.sum("n_tokens").cast("long").alias("total"))
    q = tk.crossJoin(F.broadcast(tot)).select(
        "source", "n_tokens",
        F.expr(f"({_APPORTION_BUDGET} * n_tokens) div total")
        .alias("floor_alloc"),
        (F.lit(_APPORTION_BUDGET) * F.col("n_tokens") % F.col("total"))
        .alias("remainder"),
    )
    # Both windows run on the |sources| panel (tens of rows);
    # panel_window makes the single-bucket choice explicit so the
    # "No Partition Defined for Window" warning class stays grep-clean.
    w = panel_window("source", F.desc("remainder"), F.asc("source"))
    wall = panel_window_all("source")
    ranked = q.withColumn(
        "rem_rank", F.row_number().over(w).cast("long")
    ).withColumn("floor_total", F.sum("floor_alloc").over(wall))
    return ranked.select(
        "source", "n_tokens",
        F.col("floor_alloc").cast("long").alias("floor_alloc"),
        F.col("remainder").cast("long").alias("remainder"),
        "rem_rank",
        (
            F.col("floor_alloc")
            + F.when(
                F.col("rem_rank")
                <= F.lit(_APPORTION_BUDGET) - F.col("floor_total"),
                1,
            ).otherwise(0)
        ).cast("long").alias("alloc"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# p17 — dedup-adjusted training mix (what dedup does to the source shares)
# ---------------------------------------------------------------------------
@query(
    "p17_dedup_adjusted_mix",
    oracle="""
    WITH d AS (SELECT doc_id, source, text,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
               FROM documents),
    canon AS (SELECT text, MIN(doc_id) AS kid FROM d GROUP BY text),
    k AS (SELECT d.* FROM d JOIN canon c
            ON c.text = d.text AND c.kid = d.doc_id),
    raw AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_raw,
                   CAST(SUM(n_toks) AS BIGINT) AS tokens_raw
            FROM d GROUP BY source),
    ded AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                   CAST(SUM(n_toks) AS BIGINT) AS tokens_kept
            FROM k GROUP BY source),
    tot AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS t_raw FROM d),
    tok AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS t_kept FROM k)
    SELECT raw.source, raw.n_docs_raw, raw.tokens_raw,
           CAST(COALESCE(ded.n_docs_kept, 0) AS BIGINT) AS n_docs_kept,
           CAST(COALESCE(ded.tokens_kept, 0) AS BIGINT) AS tokens_kept,
           floor((1.0 - COALESCE(ded.n_docs_kept, 0) * 1.0 / raw.n_docs_raw)
                 * 1000000.0 + 0.5) / 1000000.0 AS dup_rate,
           floor((raw.tokens_raw * 1.0 / tot.t_raw) * 1000000.0 + 0.5)
               / 1000000.0 AS share_raw,
           floor((COALESCE(ded.tokens_kept, 0) * 1.0 / tok.t_kept)
                 * 1000000.0 + 0.5) / 1000000.0 AS share_dedup
    FROM raw LEFT JOIN ded ON ded.source = raw.source
    CROSS JOIN tot CROSS JOIN tok
    ORDER BY raw.source
    """,
)
def p17_dedup_adjusted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix shares BEFORE vs AFTER exact dedup: per source, the
    raw doc/token counts, the post-canonicalization counts (c01's
    min-doc_id keep rule — a duplicate shared across sources is
    attributed to the keeper's source), the duplicate rate, and the
    token share under each regime. This is the table that shows a mix
    designer how much of a source's claimed weight is actually
    redundant mass — p01/p05 budgets computed on raw shares overtrain
    on whatever the crawler saw twice.

    Scale: one content-hash groupBy (c01's shuffle — in production on
    a 128-bit digest, not raw text), one doc-level semi-join to the
    keep set, two bounded per-source aggregates, and two broadcast
    scalar totals — all linear, no pairwise stage anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source",
        F.col("text").alias("text"),
        F.size(tokens("text")).cast("long").alias("n_toks"),
    )
    canon = d.groupBy("text").agg(F.min("doc_id").alias("kid"))
    # Explicit aliases: canon derives from d (the c01/p01 same-lineage
    # join fix — keeps the "trivially true equals predicate" warning
    # out of the plan log).
    k = (
        d.alias("dd")
        .join(
            canon.alias("cn"),
            (F.col("dd.text") == F.col("cn.text"))
            & (F.col("dd.doc_id") == F.col("cn.kid")),
        )
        .select(F.col("dd.source").alias("source"),
                F.col("dd.n_toks").alias("n_toks"))
    )
    raw = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_raw"),
        F.sum("n_toks").cast("long").alias("tokens_raw"),
    )
    ded = k.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("n_toks").cast("long").alias("tokens_kept"),
    )
    tot = d.agg(F.sum("n_toks").cast("long").alias("t_raw"))
    tok = k.agg(F.sum("n_toks").cast("long").alias("t_kept"))
    joined = (
        raw.join(ded, "source", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tok))
        .select(
            "source", "n_docs_raw", "tokens_raw",
            F.coalesce("n_docs_kept", F.lit(0)).cast("long")
            .alias("n_docs_kept"),
            F.coalesce("tokens_kept", F.lit(0)).cast("long")
            .alias("tokens_kept"),
            pround(
                1.0 - F.coalesce("n_docs_kept", F.lit(0)) * 1.0
                / F.col("n_docs_raw"), 6,
            ).alias("dup_rate"),
            pround(F.col("tokens_raw") * 1.0 / F.col("t_raw"), 6)
            .alias("share_raw"),
            pround(
                F.coalesce("tokens_kept", F.lit(0)) * 1.0 / F.col("t_kept"), 6
            ).alias("share_dedup"),
        )
    )
    return joined.orderBy("source")


# ---------------------------------------------------------------------------
# p18 — token-length histogram (power-of-two buckets, dataset-card staple)
# ---------------------------------------------------------------------------
@query(
    "p18_token_length_histogram",
    oracle="""
    WITH d AS (SELECT source,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n
               FROM documents),
    b AS (SELECT source, n, CAST(length(bin(n)) AS INT) AS log2_bucket
          FROM d)
    SELECT source, log2_bucket,
           CAST(1 AS BIGINT) << (log2_bucket - 1) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens
    FROM b
    GROUP BY source, log2_bucket
    ORDER BY source, log2_bucket
    """,
)
def p18_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length histogram on power-of-two token
    buckets (bucket b holds docs with 2^(b-1) <= tokens < 2^b) — the
    dataset-card staple that drives sequence-packing efficiency
    estimates (p03) and truncation-loss accounting. The bucket index
    is the BINARY LENGTH of the token count — pure integer arithmetic,
    identical on both engines, no float log2 whose boundary rounding
    could disagree.

    Scale: one linear scan into a |sources| x ~17-bucket aggregate —
    map-side combinable, bounded output, zero joins."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(tokens("text")).cast("long")
    b = docs.select(
        "source", n.alias("n"),
        F.length(F.bin(n)).cast("int").alias("log2_bucket"),
    )
    return (
        b.groupBy("source", "log2_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
        )
        .select(
            "source", "log2_bucket",
            F.expr("shiftleft(CAST(1 AS BIGINT), log2_bucket - 1)")
            .cast("long").alias("bucket_lo"),
            "n_docs", "total_tokens",
        )
        .orderBy("source", "log2_bucket")
    )


# ---------------------------------------------------------------------------
# p19 — dataset card (the one-row corpus summary a release ships with)
# ---------------------------------------------------------------------------
@query(
    "p19_dataset_card",
    oracle=f"""
    WITH {QUALITY_SCORE_CTE.strip().lstrip()},
    d AS (SELECT doc_id, text, lang, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
                 CAST(length(text) AS BIGINT) AS n_chars
          FROM documents),
    base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                    CAST(COUNT(DISTINCT text) AS BIGINT) AS distinct_texts,
                    CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
                    CAST(SUM(n_chars) AS BIGINT) AS total_chars
             FROM d),
    q AS (SELECT CAST(SUM(CAST(quality_score AS DECIMAL(25,6))) AS DOUBLE)
                     AS qsum,
                 COUNT(*) AS qn
          FROM scored)
    SELECT base.n_docs, base.n_sources, base.n_langs, base.total_tokens,
           base.total_chars, base.distinct_texts,
           floor((1.0 - base.distinct_texts * 1.0 / base.n_docs)
                 * 1000000.0 + 0.5) / 1000000.0 AS dup_rate,
           floor((base.total_tokens * 1.0 / base.n_docs)
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_doc_tokens,
           floor((q.qsum / q.qn) * 1000000.0 + 0.5) / 1000000.0
               AS mean_quality
    FROM base CROSS JOIN q
    """,
)
def p19_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: one row a corpus release ships with — document
    / source / language counts, token and byte volume, exact-duplicate
    rate (1 − distinct texts / docs), mean document length, and mean
    quality score (e02's formula, 6dp-rounded per doc BEFORE the
    decimal-sum mean, so the card merges bit-identically across any
    partitioning). Every number is derivable from the operators above
    (c01, e02, p14...) — this is the one-stop aggregation a registry
    displays and a reviewer diffs between releases.

    Scale: two whole-table aggregates (one over raw docs, one over the
    shared quality projection) joined as 1-row broadcasts. The three
    exact countDistincts ride one aggregate; at 100 TB swap source/lang
    (small domains) to grouping and text to approx_count_distinct or
    c01's digest count — the p11→p12 twin argument."""
    from .textops import quality_score_col, quality_scored_docs

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "text", "lang", "source",
        F.size(tokens("text")).cast("long").alias("n_toks"),
        F.length("text").cast("long").alias("n_chars"),
    )
    base = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("text").cast("long").alias("distinct_texts"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    q = quality_scored_docs(docs).select(
        quality_score_col().alias("quality_score")
    ).agg(
        dsum("quality_score", "qsum"),
        F.count(F.lit(1)).alias("qn"),
    )
    return base.crossJoin(F.broadcast(q)).select(
        "n_docs", "n_sources", "n_langs", "total_tokens", "total_chars",
        "distinct_texts",
        pround(
            1.0 - F.try_divide(
                F.col("distinct_texts") * 1.0, F.col("n_docs")
            ),
            6,
        ).alias("dup_rate"),
        pround(
            F.try_divide(F.col("total_tokens") * 1.0, F.col("n_docs")), 6
        ).alias("mean_doc_tokens"),
        pround(F.try_divide(F.col("qsum"), F.col("qn")), 6)
        .alias("mean_quality"),
    )


# ---------------------------------------------------------------------------
# p20 — epoch / repetition schedule (how many passes each source needs)
# ---------------------------------------------------------------------------
#: Total token budget the schedule must serve. Deliberately larger than
#: any single source's availability at the gate SFs so multi-epoch
#: repetition (the interesting regime) actually appears in the output.
_EPOCH_BUDGET = 5_000_000


@query(
    "p20_epoch_plan",
    oracle=f"""
    WITH tk AS (SELECT source,
                       CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                           AS available_tokens
                FROM documents GROUP BY source),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_src FROM tk),
    r AS (SELECT tk.source, tk.available_tokens, k.n_src,
                 ROW_NUMBER() OVER (ORDER BY tk.source) AS lex_rank
          FROM tk CROSS JOIN k),
    t AS (SELECT source, available_tokens,
                 ({_EPOCH_BUDGET} // n_src)
                 + CASE WHEN lex_rank <= {_EPOCH_BUDGET} % n_src
                        THEN 1 ELSE 0 END AS target_tokens
          FROM r)
    SELECT source,
           available_tokens,
           CAST(target_tokens AS BIGINT) AS target_tokens,
           CAST((target_tokens + available_tokens - 1) // available_tokens
                AS BIGINT) AS epochs_needed,
           CAST(target_tokens // available_tokens AS BIGINT) AS full_epochs,
           {pround_sql(
               '(target_tokens % available_tokens) * 1.0 / available_tokens',
               6)} AS last_epoch_frac,
           {pround_sql('target_tokens * 1.0 / available_tokens', 6)}
               AS repetition_factor
    FROM t
    ORDER BY source
    """,
)
def p20_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch/repetition schedule: split a fixed token budget equally
    across sources (integer division, remainder tokens to the
    lexicographically first sources so Σ targets == budget exactly),
    then express each source's target as full passes over its available
    tokens plus a fractional final pass — the repetition factor a
    data-constrained training run plans with (multi-epoch reuse a la
    the data-scaling literature). p16 answers "how many tokens per
    source"; p20 answers "how many TIMES each source must be read to
    serve them".

    Scale: one map-side-combinable per-source token count; everything
    downstream is |sources|-row arithmetic — the source count joins as
    a broadcast scalar, the lexicographic remainder rank is a
    bounded-panel window (p16's argument), and every quantity except
    the two 6dp-rounded ratios is exact int64."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).cast("long")
        .alias("available_tokens")
    )
    k = tk.agg(F.count(F.lit(1)).cast("long").alias("n_src"))
    r = tk.crossJoin(F.broadcast(k)).withColumn(
        "lex_rank",
        F.row_number().over(panel_window("source", F.asc("source")))
        .cast("long"),
    )
    t = r.select(
        "source", "available_tokens",
        (
            F.expr(f"{_EPOCH_BUDGET} div n_src")
            + F.when(
                F.col("lex_rank") <= F.lit(_EPOCH_BUDGET) % F.col("n_src"), 1
            ).otherwise(0)
        ).cast("long").alias("target_tokens"),
    )
    return t.select(
        "source", "available_tokens", "target_tokens",
        F.expr(
            "(target_tokens + available_tokens - 1) div available_tokens"
        ).cast("long").alias("epochs_needed"),
        F.expr("target_tokens div available_tokens").cast("long")
        .alias("full_epochs"),
        pround(
            (F.col("target_tokens") % F.col("available_tokens")) * 1.0
            / F.col("available_tokens"),
            6,
        ).alias("last_epoch_frac"),
        pround(
            F.col("target_tokens") * 1.0 / F.col("available_tokens"), 6
        ).alias("repetition_factor"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# p21 — balanced output-shard manifest (writer-side hash sharding plan)
# ---------------------------------------------------------------------------
#: Target docs per output shard. Fixture-scaled (≈8 shards at sf0.01);
#: a production writer sets it so a shard ≈ the target file size
#: (the target bytes per file / b34's bytes-per-row estimate) — the
#: knob is a row count precisely so the shard count is derived FROM
#: the corpus (ceil division) rather than fixed.
_SHARD_TARGET = 64


@query(
    "p21_shard_manifest",
    oracle=f"""
    WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST((COUNT(*) + {_SHARD_TARGET} - 1)
                           // {_SHARD_TARGET} AS BIGINT) AS n_shards
               FROM documents),
    s AS (SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % (SELECT n_shards FROM t) AS shard_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
                 CAST(n_chars AS BIGINT) AS nb
          FROM documents)
    SELECT shard_id,
           CAST((SELECT n_shards FROM t) AS INTEGER) AS n_shards,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(nb) AS BIGINT) AS n_bytes,
           {pround_sql('COUNT(*) * 1.0 * (SELECT n_shards FROM t)'
                       ' / (SELECT n FROM t)', 6)} AS skew_ratio
    FROM s GROUP BY shard_id ORDER BY shard_id
    """,
)
def p21_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The writer-side sharding plan: every document assigned to one of
    ceil(N / target) hash shards, with per-shard doc / token / byte
    totals and the population ratio vs a perfectly even split — the
    manifest a `repartition(n_shards, shard_key)` + per-shard writer
    consumes, and the balance check that says whether the hash key
    actually spreads the corpus (skew_ratio ≈ 1 everywhere) before a
    100 TB write commits to it.

    Scale: the shard count is DERIVED from a metadata-cheap corpus
    count (the d14 sign_bits_for move — the knob is docs-per-shard,
    not a fixed shard count, so the plan grows with the data); the
    shard key is the portable md5-derived hash60 (stable across
    engines and reshuffles, p08's split discipline); and the manifest
    is one map-side-combinable integer aggregate over |shards| cells —
    linear scan, one bounded shuffle, no data bytes moved."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    n_shards = (n + _SHARD_TARGET - 1) // _SHARD_TARGET
    s = docs.select(
        F.pmod(hash60(F.col("doc_id").cast("string")), F.lit(n_shards))
        .alias("shard_id"),
        F.size(tokens("text")).cast("long").alias("n_toks"),
        F.col("n_chars").cast("long").alias("nb"),
    )
    return (
        s.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum("nb").cast("long").alias("n_bytes"),
        )
        .select(
            "shard_id",
            F.lit(n_shards).cast("int").alias("n_shards"),
            "n_docs", "n_tokens", "n_bytes",
            pround(F.col("n_docs") * 1.0 * n_shards / n, 6)
            .alias("skew_ratio"),
        )
        .orderBy("shard_id")
    )


# ---------------------------------------------------------------------------
# p22 — quality-threshold survival curve (filter-strictness tradeoff)
# ---------------------------------------------------------------------------
def _p22_oracle() -> str:
    from .textops import _STOP_IN

    return f"""
    WITH qt AS (SELECT doc_id, string_split(text, ' ') AS toks,
                       CAST(length(text) AS BIGINT) AS n_chars
                FROM documents),
    qm AS (SELECT doc_id, n_chars,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(len(list_filter(toks, t -> t IN ({_STOP_IN})))
                       AS BIGINT) AS stop_hits,
                  floor(((n_chars - len(toks) + 1) * 1.0 / len(toks))
                        * 1000000.0 + 0.5) / 1000000.0 AS avg_token_len
           FROM qt),
    s AS (SELECT n_tokens,
                 CAST(floor((0.5 * (stop_hits * 1.0 / n_tokens)
                       + 0.3 * (CASE WHEN n_tokens > 60 THEN 60
                                     ELSE n_tokens END / 60.0)
                       + 0.2 * (CASE WHEN avg_token_len > 8 THEN 8
                                     ELSE avg_token_len END / 8.0))
                      * 1000000.0 + 0.5) AS BIGINT) AS q6
          FROM qm),
    cells AS (SELECT q6 // 100000 AS b,
                     CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(n_tokens) AS BIGINT) AS n_toks,
                     SUM(CAST(q6 AS DECIMAL(38,0))) AS sq6
              FROM s GROUP BY b),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_docs FROM s),
    grid AS (SELECT CAST(b AS BIGINT) AS threshold_decile
             FROM range(0, 11) AS g(b)),
    cum AS (SELECT g.threshold_decile,
                   CAST(COALESCE(SUM(c.n_docs), 0) AS BIGINT) AS docs_kept,
                   CAST(COALESCE(SUM(c.n_toks), 0) AS BIGINT)
                       AS tokens_kept,
                   SUM(c.sq6) AS sq6
            FROM grid g LEFT JOIN cells c ON c.b >= g.threshold_decile
            GROUP BY g.threshold_decile)
    SELECT threshold_decile,
           threshold_decile / 10.0 AS threshold,
           docs_kept, tokens_kept,
           floor((CAST(docs_kept AS DOUBLE) / total_docs) * 1000000.0
                 + 0.5) / 1000000.0 AS docs_share,
           CASE WHEN docs_kept = 0 THEN NULL
                ELSE floor((CAST(sq6 AS DOUBLE) / docs_kept / 1000000.0)
                           * 1000000.0 + 0.5) / 1000000.0
           END AS mean_quality_kept
    FROM cum, tot
    ORDER BY threshold_decile
    """


@query("p22_quality_survival_curve", oracle=_p22_oracle())
def p22_quality_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter strictness tradeoff: for every threshold t in
    {0.0, 0.1, ..., 1.0}, how many documents and tokens survive a
    ``quality >= t`` gate, the surviving share, and the surviving
    docs' mean quality — the survival curve a training-mix owner reads
    BEFORE picking e02/p09's cut point, trading corpus volume against
    quality in one table.

    Scale: NEVER a per-threshold rescan (11x the corpus) and never an
    Expand — the corpus collapses in ONE linear map-side-combinable
    pass to <=11 decile cells (the quality score is quantized to int64
    micro-units with pround's floor(x*1e6+0.5) numerator, so the cell
    boundary is integer division — no float boundary for engines to
    disagree on), and the cumulative-from-top rollup is an 11x11
    bounded panel join. The mean accumulates the exact integer q6 in
    DECIMAL(38,0) with ONE double conversion (g13's discipline); the
    doc total arrives as a broadcast scalar (W1's rewrite)."""
    from .textops import quality_scored_docs

    docs = load_table(spark, sf_dir, "documents")
    base = quality_scored_docs(docs)
    raw = (
        0.5 * (F.col("stop_hits") * 1.0 / F.col("n_tokens"))
        + 0.3 * (F.least(F.col("n_tokens"), F.lit(60)) / 60.0)
        + 0.2 * (F.least(F.col("avg_token_len"), F.lit(8.0)) / 8.0)
    )
    s = base.select(
        "n_tokens",
        F.floor(raw * 1000000.0 + F.lit(0.5)).cast("long").alias("q6"),
    )
    cells = s.groupBy(F.expr("q6 DIV 100000").alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_toks"),
        F.sum(F.col("q6").cast("decimal(38,0)")).alias("sq6"),
    )
    tot = s.agg(F.count(F.lit(1)).cast("long").alias("total_docs"))
    grid = spark.range(0, 11).select(
        F.col("id").cast("long").alias("threshold_decile")
    )
    cum = (
        grid.join(cells, F.col("b") >= F.col("threshold_decile"), "left")
        .groupBy("threshold_decile")
        .agg(
            F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long")
            .alias("docs_kept"),
            F.coalesce(F.sum("n_toks"), F.lit(0)).cast("long")
            .alias("tokens_kept"),
            F.sum("sq6").alias("sq6"),
        )
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "threshold_decile",
            (F.col("threshold_decile") / 10.0).alias("threshold"),
            "docs_kept", "tokens_kept",
            pround(
                F.try_divide(
                    F.col("docs_kept").cast("double"), F.col("total_docs")
                ),
                6,
            ).alias("docs_share"),
            F.when(
                F.col("docs_kept") == 0, F.lit(None).cast("double")
            ).otherwise(
                pround(
                    F.col("sq6").cast("double") / F.col("docs_kept")
                    / 1000000.0,
                    6,
                )
            ).alias("mean_quality_kept"),
        )
        .orderBy("threshold_decile")
    )


# ---------------------------------------------------------------------------
# p23 — length x quality joint grid (confounder screen for the gate)
# ---------------------------------------------------------------------------
def _p23_oracle() -> str:
    from .textops import _STOP_IN

    return f"""
    WITH qt AS (SELECT doc_id, string_split(text, ' ') AS toks,
                       CAST(length(text) AS BIGINT) AS n_chars
                FROM documents),
    qm AS (SELECT doc_id, n_chars,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(len(list_filter(toks, t -> t IN ({_STOP_IN})))
                       AS BIGINT) AS stop_hits,
                  floor(((n_chars - len(toks) + 1) * 1.0 / len(toks))
                        * 1000000.0 + 0.5) / 1000000.0 AS avg_token_len
           FROM qt),
    s AS (SELECT n_tokens,
                 CAST(length(bin(n_tokens)) AS INT) AS len_bucket,
                 CAST(floor((0.5 * (stop_hits * 1.0 / n_tokens)
                       + 0.3 * (CASE WHEN n_tokens > 60 THEN 60
                                     ELSE n_tokens END / 60.0)
                       + 0.2 * (CASE WHEN avg_token_len > 8 THEN 8
                                     ELSE avg_token_len END / 8.0))
                      * 1000000.0 + 0.5) AS BIGINT) // 100000
                     AS quality_decile
          FROM qm),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM s)
    SELECT len_bucket,
           CAST(1 AS BIGINT) << (len_bucket - 1) AS bucket_lo,
           quality_decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           floor((CAST(COUNT(*) AS DOUBLE) / MAX(n_total)) * 1000000.0
                 + 0.5) / 1000000.0 AS doc_share
    FROM s, tot
    GROUP BY len_bucket, quality_decile
    ORDER BY len_bucket, quality_decile
    """


@query("p23_length_quality_grid", oracle=_p23_oracle())
def p23_length_quality_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint distribution of document LENGTH (p18's power-of-two token
    buckets) and QUALITY (p22's score deciles): doc/token counts and
    corpus share per cell — the confounder screen read before p09's
    quality gate ships, because a gate that silently keeps only one
    length class (quality correlates with length by construction:
    0.3 weight on min(n_tokens, 60)) reshapes p03's packing and p16's
    budgets in ways a marginal histogram cannot show.

    Scale: ONE linear scan computes both bucket indices statelessly —
    the length bucket is the BINARY LENGTH of the token count (p18's
    integer move) and the quality decile is integer division of
    pround's int64 micro-unit numerator (p22's move) — so the corpus
    collapses map-side into a <=|len_buckets|x11 cell grid; the corpus
    total arrives as a broadcast scalar (W1) for the 6dp share. No
    float boundary anywhere for engines to disagree on."""
    from .textops import quality_scored_docs

    docs = load_table(spark, sf_dir, "documents")
    base = quality_scored_docs(docs)
    # the decile is integer DIV of pround's int64 numerator (p22's
    # boundary discipline) — spelled in SQL so DIV stays integer.
    s = base.select(
        "n_tokens",
        F.length(F.bin("n_tokens")).cast("int").alias("len_bucket"),
        F.expr(
            "CAST(floor((0.5 * (stop_hits * 1.0 / n_tokens)"
            " + 0.3 * (CASE WHEN n_tokens > 60 THEN 60"
            " ELSE n_tokens END / 60.0)"
            " + 0.2 * (CASE WHEN avg_token_len > 8 THEN 8"
            " ELSE avg_token_len END / 8.0))"
            " * 1000000.0 + 0.5) AS BIGINT) DIV 100000"
        ).alias("quality_decile"),
    )
    tot = s.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (
        s.groupBy("len_bucket", "quality_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "len_bucket",
            F.expr("shiftleft(CAST(1 AS BIGINT), len_bucket - 1)")
            .cast("long").alias("bucket_lo"),
            "quality_decile", "n_docs", "n_tokens",
            pround(
                F.col("n_docs").cast("double") / F.col("n_total"), 6
            ).alias("doc_share"),
        )
        .orderBy("len_bucket", "quality_decile")
    )


# ---------------------------------------------------------------------------
# p24 — split balance audit (stratification-neutrality check on p08)
# ---------------------------------------------------------------------------
@query(
    "p24_split_balance_audit",
    oracle=f"""
    WITH s AS (SELECT source,
                      CASE WHEN CAST('0x' || substr(md5('split:'
                                     || CAST(doc_id AS VARCHAR)), 1, 15)
                                AS BIGINT) % 100 < {{val_pct}}
                           THEN 'val' ELSE 'train' END AS split
               FROM documents),
    per AS (SELECT source,
                   CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_train,
                   CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_val
            FROM s GROUP BY source),
    tot AS (SELECT CAST(SUM(n_train) AS BIGINT) AS t_train,
                   CAST(SUM(n_val) AS BIGINT) AS t_val,
                   CAST(SUM(n_train + n_val) AS BIGINT) AS t_all
            FROM per)
    SELECT source, n_train, n_val,
           floor((CAST(n_train AS DOUBLE) / t_train) * 1000000.0 + 0.5)
               / 1000000.0 AS share_train,
           floor((CAST(n_val AS DOUBLE) / t_val) * 1000000.0 + 0.5)
               / 1000000.0 AS share_val,
           floor((CAST(n_train + n_val AS DOUBLE) / t_all)
                 * 1000000.0 + 0.5) / 1000000.0 AS share_overall,
           floor(abs(CAST(n_val AS DOUBLE) / (n_train + n_val)
                     - CAST(t_val AS DOUBLE) / t_all)
                 * 1000000.0 + 0.5) / 1000000.0 AS val_rate_deviation
    FROM per, tot
    ORDER BY source
    """.replace("{val_pct}", str(_VAL_PCT)),
)
def p24_split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratification-neutrality audit of p08's hash split: per source,
    the train/val counts, each split's source composition, the overall
    composition, and how far the source's val rate deviates from the
    global rate — the pre-training check that the validation set is
    not silently over/under-sampling a source (a skewed val set makes
    eval drift look like training regressions).

    Scale: ONE linear scan with the SAME md5 split rule p08 registers
    (shared constant, so the audit can never drift from the split it
    audits) into a |sources|-bounded conditional-count aggregate; the
    three totals broadcast as one scalar row. All integers until the
    6dp shares, each from one identical double division."""
    docs = load_table(spark, sf_dir, "documents")
    split = F.when(
        hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
        % 100 < _VAL_PCT,
        F.lit("val"),
    ).otherwise(F.lit("train"))
    per = (
        docs.select("source", split.alias("split"))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
            .cast("long").alias("n_train"),
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
            .cast("long").alias("n_val"),
        )
    )
    tot = per.agg(
        F.sum("n_train").cast("long").alias("t_train"),
        F.sum("n_val").cast("long").alias("t_val"),
        (F.sum("n_train") + F.sum("n_val")).cast("long").alias("t_all"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_train", "n_val",
            pround(
                F.try_divide(
                    F.col("n_train").cast("double"), F.col("t_train")
                ),
                6,
            ).alias("share_train"),
            pround(
                F.try_divide(F.col("n_val").cast("double"), F.col("t_val")),
                6,
            ).alias("share_val"),
            pround(
                F.try_divide(
                    (F.col("n_train") + F.col("n_val")).cast("double"),
                    F.col("t_all"),
                ),
                6,
            ).alias("share_overall"),
            pround(
                F.abs(
                    F.try_divide(
                        F.col("n_val").cast("double"),
                        F.col("n_train") + F.col("n_val"),
                    )
                    - F.try_divide(
                        F.col("t_val").cast("double"), F.col("t_all")
                    )
                ),
                6,
            ).alias("val_rate_deviation"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# p25 — context-length fit audit (ctx-window sizing table)
# ---------------------------------------------------------------------------
#: Candidate training context lengths (tokens). The ladder straddles
#: the corpus doc-length distribution so the table shows the
#: truncation cliff: how many documents and tokens each ctx choice
#: cuts, per source.
_CTX_LADDER = (32, 64, 128, 256)


def _p25_oracle() -> str:
    per_ctx = ", ".join(
        f"CAST(SUM(CASE WHEN n_tokens > {c} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS over_{c}, "
        f"CAST(SUM(CASE WHEN n_tokens > {c} THEN n_tokens - {c} ELSE 0 END)"
        f" AS BIGINT) AS lost_{c}"
        for c in _CTX_LADDER
    )
    arms = "\n    UNION ALL\n    ".join(
        f"SELECT source, n_docs, total_tokens, CAST({c} AS INT) AS ctx,"
        f" over_{c} AS n_over, lost_{c} AS tokens_lost FROM s"
        for c in _CTX_LADDER
    )
    return f"""
    WITH t AS (SELECT source,
                      CAST(len(string_split(text, ' ')) AS BIGINT)
                          AS n_tokens
               FROM documents),
    s AS (SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                 {per_ctx}
          FROM t GROUP BY source),
    u AS (
    {arms}
    )
    SELECT source, ctx, n_docs, n_over,
           floor((CAST(n_over AS DOUBLE) / n_docs)
                 * 1000000.0 + 0.5) / 1000000.0 AS over_share,
           total_tokens, tokens_lost,
           floor((CAST(tokens_lost AS DOUBLE) / total_tokens)
                 * 1000000.0 + 0.5) / 1000000.0 AS loss_share
    FROM u ORDER BY source, ctx
    """


@query("p25_context_length_fit", oracle=_p25_oracle())
def p25_context_length_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window sizing table: for every source × candidate
    context length (32/64/128/256 tokens), the count and share of
    documents EXCEEDING the window and the tokens lost to truncation —
    the table read before fixing a training run's sequence length (and
    before p03 packs to it): a ctx that truncates 30% of one source's
    tokens silently reshapes the mix p16 budgeted, and the per-source
    split shows exactly which source pays.

    Scale: ONE linear scan collapses map-side into a |sources|-row
    aggregate carrying all ladder arms as conditional int64 sums — the
    ladder NEVER multiplies the corpus (no Expand: the per-ctx fan-out
    happens on the bounded aggregate via stack/UNION ALL, the p22
    no-rescan discipline). Every measure is exact integer arithmetic;
    the two shares are 6dp floor-quantized IEEE divisions on the final
    |sources|·|ladder| panel, so the table is bit-portable and
    mergeable across any partitioning. Adding a ladder rung is one
    more pair of map-side counters, not another scan."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    ]
    for c in _CTX_LADDER:
        over = (F.col("n_tokens") > c).cast("long")
        lost = F.greatest(F.col("n_tokens") - c, F.lit(0))
        aggs.append(F.sum(over).cast("long").alias(f"over_{c}"))
        aggs.append(F.sum(lost).cast("long").alias(f"lost_{c}"))
    s = t.groupBy("source").agg(*aggs)
    stack_args = ", ".join(
        f"CAST({c} AS INT), over_{c}, lost_{c}" for c in _CTX_LADDER
    )
    u = s.selectExpr(
        "source", "n_docs", "total_tokens",
        f"stack({len(_CTX_LADDER)}, {stack_args})"
        " AS (ctx, n_over, tokens_lost)",
    )
    return u.select(
        "source", "ctx", "n_docs", "n_over",
        pround(F.col("n_over").cast("double") / F.col("n_docs"), 6)
        .alias("over_share"),
        "total_tokens", "tokens_lost",
        pround(
            F.col("tokens_lost").cast("double") / F.col("total_tokens"), 6
        ).alias("loss_share"),
    ).orderBy("source", "ctx")


# ---------------------------------------------------------------------------
# p26 — train/val split leakage audit (eval-integrity gate)
# ---------------------------------------------------------------------------
def _p26_oracle() -> str:
    from .dedup import _sig_cte, _cand_cte, _AGREE

    split_case = (
        "CASE WHEN CAST('0x' || substr(md5('split:'"
        " || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100"
        f" < {_VAL_PCT} THEN 'val' ELSE 'train' END"
    )
    return f"""
    {_sig_cte()},
    {_cand_cte()},
    sp AS (SELECT doc_id, {split_case} AS split, md5(text) AS digest
           FROM documents),
    grp AS (SELECT digest,
                   SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                       AS n_train,
                   SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS n_val
            FROM sp GROUP BY digest),
    ex AS (SELECT CAST(SUM(CASE WHEN n_train > 0 AND n_val > 0
                               THEN 1 ELSE 0 END) AS BIGINT)
                      AS exact_leak_groups,
                  CAST(SUM(CASE WHEN n_train > 0 THEN n_val ELSE 0 END)
                       AS BIGINT) AS val_docs_exact_leaked
           FROM grp),
    nd AS (SELECT c.da, c.db, sa.split AS split_a, sb.split AS split_b
           FROM cand c
           JOIN sig ga ON ga.doc_id = c.da
           JOIN sig gb ON gb.doc_id = c.db
           JOIN sp sa ON sa.doc_id = c.da
           JOIN sp sb ON sb.doc_id = c.db
           WHERE ({_AGREE.replace('sa.', 'ga.').replace('sb.', 'gb.')})
                 >= {_CC_MIN_AGREE} AND sa.split <> sb.split),
    ndx AS (SELECT CAST(COUNT(*) AS BIGINT) AS cross_neardup_pairs,
                   CAST(COUNT(DISTINCT CASE WHEN split_a = 'val'
                                            THEN da ELSE db END) AS BIGINT)
                       AS val_docs_near_leaked
            FROM nd),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_train,
                   CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_val
            FROM sp)
    SELECT tot.n_docs, tot.n_train, tot.n_val,
           ex.exact_leak_groups, ex.val_docs_exact_leaked,
           ndx.cross_neardup_pairs, ndx.val_docs_near_leaked,
           floor((CAST(ndx.val_docs_near_leaked AS DOUBLE) / tot.n_val)
                 * 1000000.0 + 0.5) / 1000000.0 AS val_leak_share
    FROM tot CROSS JOIN ex CROSS JOIN ndx
    """


def _p26_split_of(c: F.Column) -> F.Column:
    """p08's exact split rule as a column expression — ONE definition
    feeds the exact arm, both branches of the near-dup arm, and the
    regime probe below, so the audited split can never drift from the
    split it audits."""
    return (
        F.when(
            hash60(F.concat(F.lit("split:"), c.cast("string"))) % 100
            < _VAL_PCT,
            F.lit("val"),
        )
        .otherwise(F.lit("train"))
    )


def _p26_trial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p26's flag join as a trial plan. Its join pick
    (:func:`planner_broadcasts`) chooses how p26 attaches split flags
    to the candidate stream: join the |corpus| (doc_id, split) table,
    flag hashed ONCE per doc, when the planner broadcasts it; else
    recompute the id hash on both sides of every pair row, zero flag
    joins. Measured at sf0.1 (round 12, interleaved): the broadcast
    join is ~0.9 s faster warm (2.7 s -> ~1.8 s) because it hashes
    |docs| ids instead of 2x|pairs|; at a corpus whose flag table the
    planner would NOT broadcast, the join would shuffle the candidate
    stream twice by da then db to attach a flag the stream can compute
    itself, and the inline hash (codegen'd, zero exchanges) wins. Both
    branches are bit-identical by construction (same hash60
    expression, same ids; pinned by
    tests/test_round9_ops.py::test_p26_flag_regimes_agree)."""
    from .dedup import shared_pairs

    flags = load_table(spark, sf_dir, "documents").select(
        "doc_id", _p26_split_of(F.col("doc_id")).alias("split")
    )
    return shared_pairs(spark, sf_dir).select("da", "db").join(
        flags, F.col("da") == F.col("doc_id")
    )


@query("p26_split_leakage_audit", oracle=_p26_oracle())
def p26_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/validation leakage audit: one row reporting, under p08's
    exact split rule (a shared constant, so the audit can never drift
    from the split it audits), how much evaluation data the training
    split can SEE — exact-duplicate content groups that span the split
    (identical bytes in both train and val), the val docs so leaked,
    plus the stronger near-duplicate signal: cross-split candidate
    pairs at the pipeline's deployed 14/16 near-dup gate and the
    distinct val docs with a train near-twin, as a share of val. The
    pre-training CI gate behind every honest eval claim: a val set
    whose members have train-side twins measures memorization, not
    generalization (p06 audits TRAIN against an external benchmark;
    THIS audits the split against itself).

    Scale: the exact arm is c01's content-keyed groupBy (map-side
    combinable, conditional int64 counts); the near-dup arm rides the
    session-shared banded candidate stream (shared_pairs — zero new
    corpus scans) and attaches the split flag by the planner-gated
    cheaper of broadcast flag joins vs inline id-hashing
    (_p26_trial — the flag is a pure hash of the id, so the
    stream never has to be shuffled to learn it); everything collapses
    to three one-row aggregates cross-joined as broadcasts.
    All-integer output plus one 6dp share — bit-portable under any
    partitioning."""
    from ..functions.hashing import hash60
    from .dedup import shared_pairs

    docs = load_table(spark, sf_dir, "documents")
    sp = docs.select(
        "doc_id",
        _p26_split_of(F.col("doc_id")).alias("split"),
        F.md5("text").alias("digest"),
    )
    grp = sp.groupBy("digest").agg(
        F.sum((F.col("split") == "train").cast("long")).alias("n_train"),
        F.sum((F.col("split") == "val").cast("long")).alias("n_val"),
    )
    ex = grp.agg(
        F.sum(
            ((F.col("n_train") > 0) & (F.col("n_val") > 0)).cast("long")
        ).cast("long").alias("exact_leak_groups"),
        F.sum(
            F.when(F.col("n_train") > 0, F.col("n_val")).otherwise(0)
        ).cast("long").alias("val_docs_exact_leaked"),
    )
    pairs = shared_pairs(spark, sf_dir).filter(
        F.col("agree") >= _CC_MIN_AGREE
    )

    # The split flag is a PURE function of the doc id (p08's exact
    # rule), so at scale the pair stream computes it inline instead of
    # paying two doc_id joins (guide §2.4: at a corpus whose flag table
    # cannot broadcast, those joins shuffle the candidate stream twice
    # by da then db to attach a flag the stream can compute itself).
    # Under the planner's BROADCAST regime the join attaches flags
    # hashed ONCE per doc instead of 2x per pair — ~0.9 s faster warm
    # at sf0.1 — so the pick is regime-gated via the planner's own
    # trial plan (_p26_trial, the c18 pattern). Bit-identical
    # either way (same hash60 expression, same ids).
    if planner_broadcasts(spark, sf_dir, "p26_flag_regime", _p26_trial):
        flags = docs.select("doc_id", _p26_split_of(F.col("doc_id"))
                            .alias("split"))
        sa = flags.select(
            F.col("doc_id").alias("da_id"), F.col("split").alias("split_a")
        )
        sb = flags.select(
            F.col("doc_id").alias("db_id"), F.col("split").alias("split_b")
        )
        nd = (
            pairs.join(sa, F.col("da") == F.col("da_id"))
            .join(sb, F.col("db") == F.col("db_id"))
            .filter(F.col("split_a") != F.col("split_b"))
        )
    else:
        nd = pairs.select(
            "da", "db",
            _p26_split_of(F.col("da")).alias("split_a"),
            _p26_split_of(F.col("db")).alias("split_b"),
        ).filter(F.col("split_a") != F.col("split_b"))
    ndx = nd.agg(
        F.count(F.lit(1)).cast("long").alias("cross_neardup_pairs"),
        F.countDistinct(
            F.when(F.col("split_a") == "val", F.col("da"))
            .otherwise(F.col("db"))
        ).cast("long").alias("val_docs_near_leaked"),
    )
    tot = sp.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("split") == "train").cast("long")).cast("long")
        .alias("n_train"),
        F.sum((F.col("split") == "val").cast("long")).cast("long")
        .alias("n_val"),
    )
    return (
        tot.crossJoin(F.broadcast(ex))
        .crossJoin(F.broadcast(ndx))
        .select(
            "n_docs", "n_train", "n_val",
            "exact_leak_groups", "val_docs_exact_leaked",
            "cross_neardup_pairs", "val_docs_near_leaked",
            pround(
                F.try_divide(
                    F.col("val_docs_near_leaked").cast("double"),
                    F.col("n_val"),
                ),
                6,
            ).alias("val_leak_share"),
        )
    )


# ---------------------------------------------------------------------------
# p27 — tokenizer fertility census (chars→tokens budget conversion)
# ---------------------------------------------------------------------------
def _p27_oracle() -> str:
    from .textops import _BPE_RE

    return f"""
    WITH d AS (SELECT source, lang,
                      CAST(length(text) AS BIGINT) AS n_chars,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
                      CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}'))
                           AS BIGINT) AS n_bpe
               FROM documents)
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           floor((CAST(SUM(n_chars) AS DOUBLE) / SUM(n_bpe))
                 * 1000000.0 + 0.5) / 1000000.0 AS chars_per_token,
           floor((CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws))
                 * 1000000.0 + 0.5) / 1000000.0 AS pieces_per_word,
           floor((CAST(SUM(n_chars) AS DOUBLE) / SUM(n_ws))
                 * 1000000.0 + 0.5) / 1000000.0 AS chars_per_word
    FROM d GROUP BY source, lang ORDER BY source, lang
    """


@query("p27_tokenizer_fertility", oracle=_p27_oracle())
def p27_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility census: per (source, language), the exact
    character / whitespace-word / BPE-ish-piece totals and the three
    conversion ratios — chars-per-token (fertility), pieces-per-word,
    chars-per-word. THE conversion table between a storage budget
    (bytes/chars — what a crawl is priced in) and a training budget
    (tokens — what p05/p16 apportion and p20 schedules): fertility
    varies by language and script, so a mix planned in chars silently
    over-weights high-fertility languages unless this census reprices
    it. Uses e05's shared BPE-ish regex (one constant, engine-portable
    to RE2/DuckDB), so the census can never drift from the token
    definition the e-family measures with.

    Scale: ONE linear scan of codegen'd length/split/regex projections
    (no explode — counts come from array lengths), collapsing
    map-side into a |sources|×|langs|-bounded integer grid; the three
    ratios are 6dp floor-quantized IEEE divisions on the bounded
    panel. All-integer totals are exact under any partitioning; at
    100 TB this is the same single-pass shape as e20's charclass
    census."""
    from .textops import _BPE_RE

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.size(tokens("text")).cast("long").alias("n_ws"),
        F.size(
            F.expr(f"regexp_extract_all(lower(text), '{_BPE_RE}', 0)")
        ).cast("long").alias("n_bpe"),
    )
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_ws").cast("long").alias("total_ws_tokens"),
            F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
        )
        .select(
            "source", "lang", "n_docs",
            "total_chars", "total_ws_tokens", "total_bpe_tokens",
            pround(
                F.col("total_chars").cast("double")
                / F.col("total_bpe_tokens"),
                6,
            ).alias("chars_per_token"),
            pround(
                F.col("total_bpe_tokens").cast("double")
                / F.col("total_ws_tokens"),
                6,
            ).alias("pieces_per_word"),
            pround(
                F.col("total_chars").cast("double")
                / F.col("total_ws_tokens"),
                6,
            ).alias("chars_per_word"),
        )
        .orderBy("source", "lang")
    )
