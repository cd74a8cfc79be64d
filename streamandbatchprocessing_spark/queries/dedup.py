"""Deduplication operator family over ``documents`` / ``embeddings``
(north-star extension: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup).

Scale design notes (the whole point of these operators at 100 TB):
  * Exact dedup = hash groupBy on the content — one shuffle keyed by
    text (in production, by a 128-bit content hash, never the raw text).
  * MinHash+LSH never compares all pairs: banding restricts candidate
    generation to equi-joins on band hashes, so the cost is
    O(docs × bands) shuffle + output-proportional join, not O(n²).
  * SimHash pairs are bucketed by the fingerprint's own 8-bit hamming
    blocks (pigeonhole-complete for distance ≤ 3); n-gram pairs by
    shingle posting lists — data-column skew cannot re-create O(n²).
  * All hashes are md5-derived built-ins → portable to the DuckDB
    oracle and UDF-free in Spark.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash60, minhash_hashes
from ..functions.aggregates import pround, pround_sql
from ..functions.text import shingles, tokens
from ..session import is_local_master
from ..sources.batch import load_table
from .registry import persist_tracked, planner_broadcasts, query, session_artifact

_N_HASHES = 16
_BANDS = 2  # 2 bands × 8 rows — tuned for the fixture's high base jaccard
_ROWS_PER_BAND = _N_HASHES // _BANDS


# ---------------------------------------------------------------------------
# c01 — exact dedup (hash groupBy canonicalization)
# ---------------------------------------------------------------------------
@query(
    "c01_exact_dedup",
    oracle="""
    WITH canon AS (SELECT text, MIN(doc_id) AS kid FROM documents GROUP BY text)
    SELECT d.doc_id, c.kid AS canonical_id, d.doc_id <> c.kid AS is_dup
    FROM documents d JOIN canon c ON d.text = c.text
    ORDER BY d.doc_id
    """,
)
def c01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate canonicalization: min doc_id per identical text.
    Production note: group on a content hash (e04's content_hash60 /
    md5) rather than shuffling full document bodies."""
    docs = load_table(spark, sf_dir, "documents")
    canon = docs.groupBy("text").agg(F.min("doc_id").alias("canonical_id"))
    # Explicit aliases: canon derives from docs, and an unaliased
    # same-lineage equi-join makes Spark log a "trivially true equals
    # predicate" self-join warning while auto-disambiguating. Keeping
    # the plan alias-clean means a REAL ambiguity would stand out.
    return (
        docs.alias("d")
        .join(canon.alias("c"), F.col("d.text") == F.col("c.text"))
        .select(
            F.col("d.doc_id").alias("doc_id"),
            F.col("c.canonical_id").alias("canonical_id"),
            (F.col("d.doc_id") != F.col("c.canonical_id")).alias("is_dup"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# c02 — MinHash + LSH candidate pairs
# ---------------------------------------------------------------------------
# One md5 per token; the n-hash family is double hashing on its two
# halves (see functions.hashing.minhash_hashes — the oracle mirrors the
# arithmetic below exactly). Round-1 bench showed 16 md5-of-concat calls
# per token were 23% of the whole headline suite.
_MH_H1 = "CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)"
_MH_H2 = "CAST(('0x' || substr(md5(tok), 16, 12)) AS BIGINT)"
_MERSENNE61 = (1 << 61) - 1


def _sig_cte() -> str:
    """Shared tokenize→minhash-signature CTE chain (``t``/``x``/``sig``)."""
    sig_cols = ",\n           ".join(
        f"MIN(({_MH_H1} + {i} * {_MH_H2}) % {_MERSENNE61}) AS h{i}"
        for i in range(_N_HASHES)
    )
    return f"""WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
               FROM documents),
    x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    sig AS (SELECT doc_id,
           {sig_cols}
           FROM x GROUP BY doc_id)"""


def _cand_cte() -> str:
    """Banded candidate pairs: per band, an equi-join on that band's raw
    signature columns (no band-hash materialization — the composite key
    hashes inside the join)."""
    joins = []
    for b in range(_BANDS):
        cond = " AND ".join(
            f"a.h{i} = b.h{i}"
            for i in range(b * _ROWS_PER_BAND, (b + 1) * _ROWS_PER_BAND)
        )
        joins.append(
            f"    SELECT a.doc_id AS da, b.doc_id AS db FROM sig a "
            f"JOIN sig b ON {cond} AND a.doc_id < b.doc_id"
        )
    union = "\n    UNION\n".join(joins)
    return f"cand AS (\n{union}\n    )"


_AGREE = " + ".join(f"CAST(sa.h{i} = sb.h{i} AS INT)" for i in range(_N_HASHES))


def _minhash_oracle() -> str:
    return f"""
    {_sig_cte()},
    {_cand_cte()}
    SELECT c.da AS doc_a, c.db AS doc_b,
           ({_AGREE}) / 16.0 AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.da
    JOIN sig sb ON sb.doc_id = c.db
    ORDER BY doc_a, doc_b
    """


def corpus_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus token projection ``(doc_id, source, toks)`` over
    ``documents``. The four shared text artifacts (signatures, token
    sets, SimHash fingerprints, shingles) all derive from it, so each
    of their plans splits ``text`` once per document. A plain
    projection, not a memoized artifact: each build scans the corpus
    once either way, and a cached token copy would cost memory and a
    release path."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens("text").alias("toks")
    )


def _sig_df(docs: DataFrame) -> DataFrame:
    """MinHash(16) signature per doc of a ``(doc_id, text)`` frame."""
    return _sig_of_tokens(docs.select("doc_id", tokens("text").alias("toks")))


def _sig_of_tokens(toks: DataFrame) -> DataFrame:
    """MinHash(16) signature per doc of a ``(doc_id, toks)`` frame:
    explode distinct tokens, hash each token ONCE (md5), derive the
    16-function family arithmetically, MIN per function. One shuffle
    (groupBy doc_id).

    The family is PROJECTED before the groupBy rather than inlined into
    the 16 ``min(...)`` aggregate expressions: ProjectExec's codegen
    subexpression elimination computes the md5 once per row, while
    HashAggregate's update expressions get no CSE — inlining made the
    plan evaluate md5 32× per token (measured 0.66s vs 0.40s for this
    stage at sf0.1)."""
    tok = toks.select("doc_id", F.explode(F.array_distinct("toks")).alias("tok"))
    hashes = minhash_hashes(F.col("tok"), _N_HASHES)
    projected = tok.select(
        "doc_id", *[h.alias(f"x{i}") for i, h in enumerate(hashes)]
    )
    return projected.groupBy("doc_id").agg(
        *[F.min(f"x{i}").alias(f"h{i}") for i in range(_N_HASHES)]
    )


def _band_pairs(sig: DataFrame, extra_cols, right: DataFrame | None = None) -> DataFrame:
    """Banded LSH candidate pairs: per band, a self-equi-join of the
    signature table on that band's raw hash columns (Spark hashes the
    composite key inside the exchange — no band-digest column needed).
    ``right`` restricts the join's b-side to a signature SUBSET (same
    schema) — the incremental path (c10) probes with the delta on one
    side so the standing corpus is never self-joined; pairs still come
    out canonically oriented (``da < db``).

    ``extra_cols(a_prefixed, b_prefixed) -> list[Column]`` computes any
    pair-level columns INLINE from the two signature rows the join
    already co-located — e.g. the jaccard estimate. Computing it here
    instead of re-joining the pair list against ``sig`` twice removes
    two shuffles of the O(pairs) relation, which dominates on
    duplicate-heavy corpora (this fixture: 7.7 M pairs from 5 k docs).

    Cross-band dedup uses band exclusivity instead of ``distinct``: band
    ``b`` only emits pairs that did NOT match in any earlier band (a
    cheap residual predicate on columns the join already holds), so the
    union is disjoint by construction and the O(pairs) relation never
    shuffles at all — the pair stream goes straight to the consumer.
    """
    parts = []
    for b in range(_BANDS):
        conds = [
            " AND ".join(
                f"a.h{i} = b.h{i}"
                for i in range(k * _ROWS_PER_BAND, (k + 1) * _ROWS_PER_BAND)
            )
            for k in range(b + 1)
        ]
        # this band matches; no earlier band does; canonical orientation
        expr = (
            conds[b]
            + "".join(f" AND NOT ({c})" for c in conds[:b])
            + " AND a.doc_id < b.doc_id"
        )
        parts.append(
            sig.alias("a")
            .join((sig if right is None else right).alias("b"), F.expr(expr))
            .select(
                F.col("a.doc_id").alias("da"),
                F.col("b.doc_id").alias("db"),
                *extra_cols("a", "b", b),
            )
        )
    return reduce(DataFrame.union, parts)


def _agree_col(pa: str, pb: str, matched_band: int):
    """Number of agreeing minhashes between two prefixed signature rows.
    The pair came out of band ``matched_band``'s equi-join, so those
    ``_ROWS_PER_BAND`` hashes are equal by construction — start the count
    there and compare only the remaining hashes."""
    matched = set(
        range(matched_band * _ROWS_PER_BAND, (matched_band + 1) * _ROWS_PER_BAND)
    )
    rest = [i for i in range(_N_HASHES) if i not in matched]
    return reduce(
        lambda acc, i: acc + F.expr(f"CAST({pa}.h{i} = {pb}.h{i} AS INT)"),
        rest,
        F.lit(_ROWS_PER_BAND),
    )


# ---------------------------------------------------------------------------
# Session-shared dedup-pipeline artifacts
# ---------------------------------------------------------------------------
#: A production dedup pipeline computes its signature table and banded
#: candidate stream ONCE per corpus snapshot and checkpoints them; the
#: verify (c08), calibration (c14), source matrix (c19), containment
#: (c20), degree census (c21) and clustering (c07) stages are all
#: downstream readers of those artifacts. The session_artifact memo
#: (queries/registry.py) gives the query registry the same shape: one
#: persisted copy instead of a rebuild inside every query.


def _session_artifact(spark: SparkSession, sf_dir: str, kind: str, build):
    return session_artifact(spark, sf_dir, kind, lambda: build().persist())


def shared_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared MinHash(16) signature table (the pipeline's
    checkpointed signature artifact)."""
    return _session_artifact(
        spark, sf_dir, "sig",
        lambda: _sig_of_tokens(corpus_tokens(spark, sf_dir)),
    )


def _pairs_materialize_mode(spark: SparkSession) -> str:
    """How the candidate-stream artifact is materialized: ``local`` =
    ``localCheckpoint`` on a ``local``/``local[...]`` master
    (:func:`is_local_master`), where "executor loss" is process death
    and skipping the checkpoint write is strictly better; ``reliable``
    = ``checkpoint()`` to the SparkContext checkpoint dir with a
    MEMORY_AND_DISK persist on top on any cluster master, where a lost
    block recomputes by re-reading the checkpoint FILES — a retried
    task instead of a permanently failed query."""
    return "local" if is_local_master(spark.sparkContext.master) else "reliable"


def _ensure_checkpoint_dir(spark: SparkSession) -> None:
    """Set a SparkContext checkpoint dir if the host application has
    not: ``$SBP_CHECKPOINT_DIR``, which a real deployment points at
    durable shared storage — reliable checkpoints MUST be readable by
    every executor, so a driver-local default would fake the recovery
    the reliable regime exists for, and its absence is an error."""
    sc = spark.sparkContext
    if sc._jsc.sc().checkpointDir().isDefined():  # noqa: SLF001
        return
    path = os.environ.get("SBP_CHECKPOINT_DIR")
    if not path:
        raise RuntimeError(
            f"the reliable pairs regime on master {sc.master!r} needs a "
            "checkpoint dir every executor can read: set "
            "$SBP_CHECKPOINT_DIR or SparkContext.setCheckpointDir"
        )
    sc.setCheckpointDir(path)


def _materialize_lineage_free(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Materialize ``df`` as a lineage-free ``Scan ExistingRDD`` leaf
    (round 12: the artifact's 4-band union-of-self-joins lineage
    re-entered every consumer's analysis/optimization pass — 16-66
    lineage repetitions per plan, 0.4-12 s compile per query) under the
    regime :func:`_pairs_materialize_mode` selects."""
    if _pairs_materialize_mode(spark) == "local":
        return df.localCheckpoint(eager=True)
    from pyspark import StorageLevel

    _ensure_checkpoint_dir(spark)
    out = df.checkpoint(eager=True)
    # Warm consumers read MEMORY_AND_DISK blocks exactly like the local
    # regime; the persist layer is SAFE to evict/unpersist here because
    # recompute is a re-read of the checkpoint files, not a replay of
    # the truncated lineage.
    out.persist(StorageLevel.MEMORY_AND_DISK)
    return out


def shared_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared banded candidate stream ``(da, db, agree)`` —
    ``agree`` is the number of agreeing minhashes (0..16), from which
    consumers derive ``est_jaccard = agree / 16.0`` exactly (dyadic
    rational, bit-identical to computing it inline).

    Materialized lineage-free rather than ``persist()``-cached
    (round 12, guide §3.3 "materialise to truncate the plan"): the
    artifact's lineage is the 4-band union of signature self-joins, and
    a persist()-cached frame still carries that whole logical tree into
    every consumer's analysis/optimization pass — the 212-query plan
    census measured its consumers at 16-66 repetitions of the
    InMemoryRelation lineage per plan, and profile_queries attributed
    0.4-12 s of per-query compile time to it. Either materialization
    regime (see :func:`_pairs_materialize_mode`) collapses the artifact
    to a lineage-free ``Scan ExistingRDD`` leaf backed by
    MEMORY_AND_DISK blocks; on a cluster master the reliable regime
    additionally writes the partitions to the checkpoint dir, so losing
    an executor's blocks recomputes from files instead of permanently
    failing every in-flight consumer — the round-12 verdict's #1.
    :func:`release_session_artifacts` drops the blocks."""
    return session_artifact(
        spark, sf_dir, "pairs",
        lambda: _materialize_lineage_free(
            spark,
            _band_pairs(
                shared_sig(spark, sf_dir),
                lambda pa, pb, band: [
                    _agree_col(pa, pb, band).cast("int").alias("agree")
                ],
            ),
        ),
    )


def shared_pairs_count(spark: SparkSession, sf_dir: str) -> int:
    """Session-shared row count of the banded candidate stream — the
    input to the calibration-sample modulus derivation (c14/c26).
    Memoized for the same reason c18's probe regime is (round 12, the
    round-11 advisor's pattern): the count is a full action over the
    persisted O(pairs) artifact (~0.7 s on the sf0.1 stream), and
    re-running it on every frame CONSTRUCTION made every consumer's
    build pay it again. One count per (application, corpus) is the
    production shape — a pipeline records the candidate-stream
    cardinality once, next to the artifact itself."""
    return session_artifact(
        spark, sf_dir, "pairs_count",
        lambda: shared_pairs(spark, sf_dir).count(),
    )


def shared_toksets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared ``doc_id -> int64-hashed distinct-token set``.

    The exact set measures (c08/c14 jaccard, c20 containment) need only
    SIZES — |A|, |B|, |A∩B| — which any vocabulary-injective token
    mapping preserves, so the sets store ``xxhash64(token)`` instead of
    the token strings: fixed 8-byte elements make ``array_intersect``
    ~5x faster than on string arrays (measured 2.4 s vs 12 s for the
    7.7 M-pair stream at sf0.1) and shrink the persisted projection.
    Injectivity over the fixture vocabulary is pinned by
    tests/test_lsh_invariants.py (corpus-wide distinct tokens ==
    distinct hashes; a 64-bit family on a <=1e8-token vocabulary has
    <3e-4 collision probability — a trillion-token deployment would
    widen to two independent 64-bit hashes). The DuckDB oracles keep
    intersecting the raw STRING lists, so the hash compare
    cross-checks the mapping on every oracle run. For real corpora (no
    oracle cross-check, no fixture test), set
    ``SBP_VERIFY_TOKEN_HASH_INJECTIVITY=1``: the artifact build then
    runs one corpus-wide ``countDistinct(token) ==
    countDistinct(xxhash64(token))`` audit and raises on any
    collision — one extra aggregation per corpus snapshot, paid once
    at build, never per consumer."""

    def build() -> DataFrame:
        corpus = corpus_tokens(spark, sf_dir)
        if os.environ.get("SBP_VERIFY_TOKEN_HASH_INJECTIVITY") == "1":
            audit = (
                corpus.select(F.explode("toks").alias("tok"))
                .agg(
                    F.countDistinct("tok").alias("n_tok"),
                    F.countDistinct(F.xxhash64("tok")).alias("n_hash"),
                )
                .first()
            )
            if audit["n_tok"] != audit["n_hash"]:
                raise RuntimeError(
                    "shared_toksets: xxhash64 collided on this corpus "
                    f"vocabulary ({audit['n_tok']} distinct tokens -> "
                    f"{audit['n_hash']} distinct hashes); widen to the "
                    "two-hash mapping before trusting set-size measures"
                )
        return corpus.select(
            "doc_id",
            F.array_distinct(
                F.transform("toks", lambda t: F.xxhash64(t))
            ).alias("toks"),
        )

    return _session_artifact(spark, sf_dir, "toksets", build)


@query("c02_minhash_lsh_pairs", oracle=_minhash_oracle())
def c02_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(2 bands × 8) candidate pairs with estimated
    jaccard. The only joins are equi-joins on band signature columns —
    candidate generation is output-bound, never O(n²); at 100 TB the
    band join is an ordinary shuffle join with skew handled by AQE (a
    band bucket containing k docs costs k² only within that bucket —
    band width is the knob that bounds k). The estimate is computed
    inside the band join (both signatures are on the row), so the
    O(pairs) set shuffles exactly once — for the dedup across bands."""
    # The signature table feeds both sides of each band join and is tiny
    # relative to the corpus (docs × 16 bigints vs. the full text) —
    # the session-shared persisted copy IS the checkpoint a production
    # pipeline writes before the LSH stage, and every downstream dedup
    # stage (c07/c08/c14/c19/c20/c21) reads the same artifact.
    sig = shared_sig(spark, sf_dir)
    pairs = _band_pairs(
        sig,
        lambda pa, pb, band: [(_agree_col(pa, pb, band) / 16.0).alias("est_jaccard")],
    )
    return pairs.select(
        F.col("da").alias("doc_a"),
        F.col("db").alias("doc_b"),
        "est_jaccard",
        # No ORDER BY: candidate-pair output feeds a downstream verify/
        # cluster stage, and a global sort of an O(pairs) set is exactly
        # the kind of needless exchange that dies at 100 TB. The
        # correctness gate's value hash is order-insensitive.
    )


# ---------------------------------------------------------------------------
# c03 — SimHash fingerprints + nearest-neighbor hamming distance
# ---------------------------------------------------------------------------
_SIM_BITS = 32
#: Charikar-style hamming blocking: 4 blocks × 8 bits. Pigeonhole: any
#: pair within hamming distance ≤ 3 shares at least one whole block, so
#: block equi-joins find all such pairs exactly; more distant pairs are
#: found best-effort (they usually still share a block on near-dup
#: corpora). The bucket key is derived from the fingerprint itself, so
#: no data column (like a giant ``source``) can re-introduce an O(n²)
#: bucket — round-1 verdict item.
_SIM_BLOCKS = 4
_SIM_BLOCK_BITS = _SIM_BITS // _SIM_BLOCKS
_SIM_BLOCK_MASK = (1 << _SIM_BLOCK_BITS) - 1


def _sim_block_eq(j: int, shift_op: str) -> str:
    """Equality of block ``j`` of the two fingerprints; ``shift_op`` is
    ``'>>'`` (DuckDB) or ``'shiftright'`` rendered via format below."""
    off = j * _SIM_BLOCK_BITS
    if shift_op == ">>":
        return (
            f"((a.simhash >> {off}) & {_SIM_BLOCK_MASK}) = "
            f"((b.simhash >> {off}) & {_SIM_BLOCK_MASK})"
        )
    return (
        f"(shiftright(a.simhash, {off}) & {_SIM_BLOCK_MASK}) = "
        f"(shiftright(b.simhash, {off}) & {_SIM_BLOCK_MASK})"
    )


def _sim_cand_conds(shift_op: str) -> list[str]:
    """Per-block join conditions with block exclusivity (block j emits
    only pairs no earlier block matched) — disjoint union, no dedup."""
    conds = []
    for j in range(_SIM_BLOCKS):
        c = _sim_block_eq(j, shift_op) + "".join(
            f" AND NOT ({_sim_block_eq(k, shift_op)})" for k in range(j)
        )
        conds.append(f"{c} AND a.doc_id <> b.doc_id")
    return conds


def _simhash_fp_cte() -> str:
    """WITH-chain through ``fp (doc_id, simhash)`` — the oracle twin of
    the Spark fingerprint construction, shared by c03's neighbor stats
    and c23's bit-bias census."""
    bit_sums = ",\n           ".join(
        f"SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_SIM_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(_SIM_BITS)
    )
    return f"""
    WITH t AS (SELECT doc_id,
                      list_distinct(string_split(text, ' ')) AS toks
               FROM documents),
    x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv
          FROM x),
    s AS (SELECT doc_id,
           {bit_sums}
          FROM h GROUP BY doc_id),
    fp AS (SELECT doc_id, ({fp}) AS simhash FROM s)"""


def _simhash_oracle() -> str:
    cand_union = "\n    UNION ALL\n".join(
        f"    SELECT a.doc_id AS doc_id, a.simhash AS sh, b.simhash AS nb\n"
        f"    FROM fp a JOIN fp b ON {cond}"
        for cond in _sim_cand_conds(">>")
    )
    return f"""{_simhash_fp_cte()},
    cand AS (
{cand_union}
    )
    SELECT doc_id, ANY_VALUE(sh) AS simhash,
           CAST(MIN(bit_count(xor(sh, nb))) AS INTEGER) AS nn_hamming,
           CAST(SUM(CASE WHEN bit_count(xor(sh, nb)) <= 6
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_close
    FROM cand
    GROUP BY doc_id
    ORDER BY doc_id
    """


def shared_simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared persisted (doc_id, simhash) fingerprint table —
    the SimHash twin of ``shared_sig``: c03 reads it on both sides of
    each of its 4 block joins and c23's census reads it twice (total +
    bit explode), so the corpus tokenize+md5+bit-sum pass is a
    build-once pipeline checkpoint, not a per-consumer rebuild."""
    return _session_artifact(
        spark, sf_dir, "simhash_fp", lambda: _simhash_fp(spark, sf_dir)
    )


def _simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — the Spark twin of ``_simhash_fp_cte``: one
    explode + one doc_id groupBy, linear; shared by c03 and c23 via
    ``shared_simhash_fp``."""
    tok = corpus_tokens(spark, sf_dir).select(
        "doc_id", F.explode(F.array_distinct("toks")).alias("tok")
    )
    h = tok.withColumn("hv", hash60(F.col("tok")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright("hv", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(_SIM_BITS)
    ]
    s = h.groupBy("doc_id").agg(*bit_sums)
    fp_col = reduce(
        lambda acc, j: acc
        + F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(0),
        range(1, _SIM_BITS),
        F.when(F.col("s0") > 0, F.lit(1).cast("long")).otherwise(0),
    )
    return s.select("doc_id", fp_col.alias("simhash"))


@query("c03_simhash_neighbors", oracle=_simhash_oracle())
def c03_simhash_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document + neighbor stats (min hamming, count
    within ≤ 6) over hamming-block candidates.

    Candidate generation buckets on the FINGERPRINT's own 8-bit blocks
    (4 equi-joins with block exclusivity, like c02's bands): pigeonhole
    guarantees every pair within hamming ≤ 3 shares a block, near-dups
    beyond that are found when any block survives. Bucketing by a data
    column (round 1 used ``source``) re-introduces O(n²) whenever one
    bucket value dominates the corpus; a fingerprint-derived key cannot
    be skewed by the data distribution beyond true duplicate mass.
    Fingerprint construction is one explode + one groupBy — linear,
    shuffle on doc_id."""
    # fp feeds both sides of each of the 4 block joins — the session-
    # shared persisted fingerprint artifact, so the corpus
    # tokenize+hash pass runs once per corpus snapshot.
    fp = shared_simhash_fp(spark, sf_dir)
    parts = [
        fp.alias("a")
        .join(fp.alias("b"), F.expr(cond))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.simhash").alias("sh"),
            F.col("b.simhash").alias("nb"),
        )
        for cond in _sim_cand_conds("shiftright")
    ]
    cand = reduce(DataFrame.union, parts)
    ham = F.bit_count(F.col("sh").bitwiseXOR(F.col("nb")))
    return (
        cand.groupBy("doc_id")
        .agg(
            F.any_value("sh").alias("simhash"),
            F.min(ham).alias("nn_hamming"),
            F.sum(F.when(ham <= 6, 1).otherwise(0)).alias("n_close"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# c04 — n-gram (3-shingle) exact Jaccard pairs
# ---------------------------------------------------------------------------
#: Stop-shingle pruning: a shingle present in more than this many
#: documents (per source) is dropped from candidate generation. A k-doc
#: posting emits k(k-1)/2 pairs, so one boilerplate shingle ("terms of
#: service apply") with 10⁶ docs would emit 5·10¹¹ pairs at 100 TB — a
#: job-killer. Capping bounds every posting's expansion at K²/2 while
#: near-dup pairs keep colliding on their many RARE shingles; the
#: intersection count (and thus jaccard) is computed over surviving
#: shingles only — the standard, documented recall tradeoff.
_MAX_SHINGLE_DF = 64


def shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared exploded distinct-3-shingle stream ``(doc_id,
    source, g)`` — the one shingle definition (``functions/text.shingles``
    over the corpus tokens) behind c04's posting lists, c16's DF
    spectrum (which justifies c04's cap) and e17's novelty join, so the
    spectrum can never drift from the cost model it describes. Shingle
    GENERATION (higher-order transform/slice/concat — Catalyst
    interprets these) dominates every consumer's downstream work, so it
    is one persisted pass — the shingle table a production dedup
    pipeline materializes alongside its signatures. The tokens are a
    projected column, so ``text`` is split once per document, not once
    per shingle inside the lambda. Docs under 3 tokens emit no rows;
    consumers that must report them restore via a doc-panel left join
    (e17's move)."""
    return _session_artifact(
        spark, sf_dir, "shingles",
        lambda: corpus_tokens(spark, sf_dir).select(
            "doc_id",
            "source",
            F.explode(F.array_distinct(shingles(F.col("toks")))).alias("g"),
        ),
    )


@query(
    "c04_ngram_jaccard_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
               FROM documents),
    s AS (SELECT doc_id, source,
                 list_distinct(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                      ELSE list_transform(range(1, len(toks) - 1),
                                          i -> array_to_string(toks[i:i+2], ' '))
                      END) AS sh
          FROM t),
    sz AS (SELECT doc_id, len(sh) AS n FROM s),
    x0 AS (SELECT doc_id, source, unnest(sh) AS g FROM s),
    keep AS (SELECT source, g FROM x0 GROUP BY source, g
             HAVING COUNT(*) BETWEEN 2 AND {_MAX_SHINGLE_DF}),
    x AS (SELECT x0.* FROM x0 JOIN keep USING (source, g)),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
              FROM x a JOIN x b
                ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT inter.da AS doc_a, inter.db AS doc_b,
           floor((inter.i * 1.0 / (sa.n + sb.n - inter.i)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = inter.da
    JOIN sz sb ON sb.doc_id = inter.db
    WHERE inter.i * 1.0 / (sa.n + sb.n - inter.i) >= 0.01
    ORDER BY doc_a, doc_b
    """,
)
def c04_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard for same-source pairs via POSTING LISTS:
    group the exploded shingles by (source, shingle) into a sorted
    doc-id posting, expand each posting's within-list pairs, and count
    per pair — the intersection size. Versus the textbook self-join on
    (shingle, source) this shuffles the exploded shingle set ONCE (the
    groupBy) instead of three times (both join inputs + the pair
    aggregation), and never builds a join hash table; pair expansion is
    output-bound exactly like the join (a k-doc posting yields k(k-1)/2
    pairs either way). Union sizes come from per-doc set sizes, so no
    pairwise set materialization."""
    # The exploded shingle stream is the session-shared artifact; the
    # per-doc set size comes from a count over it (the shingles are
    # array_distinct'd, so rows per doc == set size) — only docs that
    # appear in a pair need a size, and pair members have shingles by
    # construction.
    x = shared_shingles(spark, sf_dir)
    sz = x.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    posts = (
        x.groupBy("source", "g")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(
            (F.size("ds") > 1) & (F.size("ds") <= _MAX_SHINGLE_DF)
        )  # stop-shingle pruning — see _MAX_SHINGLE_DF
    )
    pairs = posts.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (d, i) -> "
                "transform(slice(ds, i + 2, size(ds) - i - 1), "
                "d2 -> struct(d AS da, d2 AS db))))"
            )
        ).alias("p")
    ).select("p.da", "p.db")
    inter = pairs.groupBy("da", "db").agg(F.count(F.lit(1)).alias("i"))
    j = (
        inter.join(sz.alias("sa"), F.col("da") == F.col("sa.doc_id"))
        .join(sz.alias("sb"), F.col("db") == F.col("sb.doc_id"))
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            (F.col("i") * 1.0 / (F.col("sa.n") + F.col("sb.n") - F.col("i"))).alias("_j"),
        )
    )
    return (
        j.filter(F.col("_j") >= 0.01)
        .select("doc_a", "doc_b", pround("_j", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# c05 — embedding-cosine near-duplicates (sign-hyperplane LSH bands)
# ---------------------------------------------------------------------------
#: 2 bands × 4 sign bits. The bucket key is derived from the VECTOR
#: itself (sign of dims 1–4 / 5–8), never from a data column: bucketing
#: on ``label`` (round-2 version) re-created the dominant-bucket
#: quadratic whenever one label dominates the corpus — the same
#: anti-pattern as c03's round-1 ``source`` bucket. Sign-bit cells are
#: bounded by vector geometry; two bands give near-dups (which agree on
#: most signs) two chances to collide, band exclusivity keeps the union
#: disjoint (no distinct shuffle), exactly like c02's bands.
_EMB_BANDS = ((4, 0), (4, 4))  # (n_bits, dim offset) per band


@query(
    "c05_embedding_neardup",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                      (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
                       + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
                       + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END
                       + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS b0,
                      (CASE WHEN embedding[5] >= 0 THEN 1 ELSE 0 END
                       + CASE WHEN embedding[6] >= 0 THEN 2 ELSE 0 END
                       + CASE WHEN embedding[7] >= 0 THEN 4 ELSE 0 END
                       + CASE WHEN embedding[8] >= 0 THEN 8 ELSE 0 END) AS b1
               FROM embeddings),
    cand AS (
        SELECT a.vec_id AS va, b.vec_id AS vb, a.label AS lab,
               a.v AS av, b.v AS bv
        FROM e a JOIN e b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
        UNION ALL
        SELECT a.vec_id, b.vec_id, a.label, a.v, b.v
        FROM e a JOIN e b
          ON a.b1 = b.b1 AND a.b0 <> b.b0 AND a.vec_id < b.vec_id
    )
    SELECT va AS vec_a, vb AS vec_b, lab AS label,
           list_cosine_similarity(av, bv) AS cos_sim
    FROM cand
    WHERE list_cosine_similarity(av, bv) >= 0.35
    ORDER BY vec_a, vec_b
    """,
)
def c05_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection by embedding cosine over sign-hyperplane
    LSH bands (2 bands × 4 sign bits, band-exclusive disjoint union).
    The bucket join is the scale lever — per-cell quadratic only, and
    the cell key comes from the vector's own sign bits so no data-column
    skew (a dominant ``label``) can recreate O(n²); ``label`` is carried
    as an output column. Cosine is a codegen'd higher-order fold,
    bit-identical to the oracle's list_cosine_similarity (verified)."""
    from ..functions.vectors import as_double, cosine, sign_bucket

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        as_double(F.col("embedding")).alias("v"),
        *[
            sign_bucket(F.col("embedding"), bits, off).alias(f"b{i}")
            for i, (bits, off) in enumerate(_EMB_BANDS)
        ],
    )
    a, b = emb.alias("a"), emb.alias("b")
    cos = cosine(F.col("a.v"), F.col("b.v"))
    band_conds = [
        "a.b0 = b.b0 AND a.vec_id < b.vec_id",
        "a.b1 = b.b1 AND a.b0 <> b.b0 AND a.vec_id < b.vec_id",
    ]
    parts = [
        a.join(b, F.expr(cond)).select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            cos.alias("cos_sim"),
        )
        for cond in band_conds
    ]
    return (
        reduce(DataFrame.union, parts)
        .filter(F.col("cos_sim") >= 0.35)
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# c06 — mergeable HLL distinct sketches (Apache DataSketches built-ins)
# ---------------------------------------------------------------------------
@query("c06_hll_user_sketch")  # no oracle: sketch estimates are engine-specific
def c06_hll_user_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct users via Apache DataSketches HLL
    (``hll_sketch_agg`` → ``hll_sketch_estimate``), alongside the exact
    count for error inspection.

    Why a sketch when countDistinct exists: the sketch aggregate is
    MERGEABLE — partials combine associatively across partitions, days,
    or clusters (``hll_union_agg``), so a 100 TB rollup can pre-sketch
    per partition/day and union later without re-touching raw data,
    which exact distinct fundamentally cannot do. Estimates are
    engine-specific, so this registers rows-only (driver's weaker
    check); accuracy vs exact is asserted in tests/test_sketches.py.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
                "approx_users"
            ),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .orderBy("event_type")
    )


@query(
    "c11_quantile_sketch",
    # Continuous quantiles are 6dp-quantized (pround) on BOTH engines:
    # R-7 interpolation is the same definition, but Spark evaluates
    # lo + h*(hi-lo) while DuckDB evaluates (1-h)*lo + h*hi — last-ulp
    # divergence whenever the percentile position falls between
    # samples (first observed on the unicode degenerate fixture, where
    # 7 injected rows shifted p99 off a sample point). Discrete
    # quantiles are actual data values but quantize through the same
    # formula for uniformity — identical on both sides either way.
    oracle=f"""
    SELECT event_type,
           {pround_sql('quantile_disc(value, 0.5)', 6)}  AS approx_p50,
           {pround_sql('quantile_disc(value, 0.95)', 6)} AS approx_p95,
           {pround_sql('quantile_disc(value, 0.99)', 6)} AS approx_p99,
           {pround_sql('quantile_cont(value, 0.5)', 6)}  AS exact_p50,
           {pround_sql('quantile_cont(value, 0.95)', 6)} AS exact_p95,
           {pround_sql('quantile_cont(value, 0.99)', 6)} AS exact_p99,
           COUNT(value) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def c11_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type approximate quantiles (p50/p95/p99 of ``value``)
    via Spark's Greenwald-Khanna ``percentile_approx`` sketch, alongside
    the exact percentiles for error inspection.

    Why a sketch when exact percentile exists: the exact form needs the
    full sorted value set per group (memory ∝ group size — a 100 TB
    group cannot do this), while the GK sketch is bounded at
    O(accuracy) per group and its partials merge associatively across
    partitions — the same mergeability argument as c06's HLL. With
    accuracy=10000 the rank error is ≤ n/10000 per group.

    Oracle validity: in the EXACT regime (per-group n < accuracy/2 —
    true at the driver's sf0.01, n≈2000) the GK summary retains every
    sample regardless of partition/merge order and returns the smallest
    value whose rank covers p — exactly DuckDB ``quantile_disc``.
    Spark's exact ``percentile`` uses R-7 linear interpolation, the same
    definition as DuckDB ``quantile_cont``; bit-equality of both is
    pinned at sf0.001/0.01 in tests/test_sketches.py. Beyond the exact
    regime (sf≥0.1) the sketch estimates are legitimately approximate
    and only the rank-error bound holds."""
    ev = load_table(spark, sf_dir, "events")
    pa = F.expr("percentile_approx(value, array(0.5D, 0.95D, 0.99D), 10000)")
    px = F.expr("percentile(value, array(0.5D, 0.95D, 0.99D))")
    return (
        ev.groupBy("event_type")
        .agg(
            pround(pa[0], 6).alias("approx_p50"),
            pround(pa[1], 6).alias("approx_p95"),
            pround(pa[2], 6).alias("approx_p99"),
            pround(px[0], 6).alias("exact_p50"),
            pround(px[1], 6).alias("exact_p95"),
            pround(px[2], 6).alias("exact_p99"),
            # count("value"), not count(*): percentile/percentile_approx
            # skip NULLs, so n must be the sketch's own population.
            F.count("value").alias("n"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# c07 — duplicate clustering: connected components over the LSH graph
# ---------------------------------------------------------------------------
_CC_MIN_AGREE = 14  # est_jaccard >= 14/16: near-dup edges only


def _cc_oracle() -> str:
    # Same sig/cand chain as c02 (shared builders), recursive for the
    # label-propagation fixpoint.
    sig = _sig_cte().replace("WITH t AS", "WITH RECURSIVE t AS", 1)
    return f"""
    {sig},
    {_cand_cte()},
    near AS (
        SELECT c.da, c.db
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.da
        JOIN sig sb ON sb.doc_id = c.db
        WHERE ({_AGREE}) >= {_CC_MIN_AGREE}
    ),
    edges AS (SELECT da AS s, db AS d FROM near
              UNION ALL SELECT db, da FROM near),
    lab AS (
        SELECT doc_id AS node, doc_id AS lab FROM t
        UNION
        SELECT e.d, l.lab FROM lab l JOIN edges e ON e.s = l.node
        WHERE l.lab < e.d
    )
    SELECT node AS doc_id, MIN(lab) AS cluster_id
    FROM lab GROUP BY node
    ORDER BY doc_id
    """


@query("c07_dup_clusters", oracle=_cc_oracle())
def c07_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components of the near-duplicate
    graph (MinHash-LSH candidate pairs with est_jaccard >= 14/16),
    cluster_id = min doc_id in the component — the canonicalization step
    a dedup pipeline runs after candidate generation, as a distributed
    ITERATIVE algorithm.

    Spark side: min-label propagation — each round every node takes the
    min of its own and its neighbors' labels (one join + one groupBy per
    round), with ``localCheckpoint`` truncating the lineage so the plan
    doesn't grow with iterations; stops when a round changes nothing.
    Rounds = graph diameter, and LSH near-dup components are band-joined
    near-cliques (diameter ~2), so convergence is fast at any scale; the
    per-round cost is one shuffle of the (doc, label) table. The DuckDB
    oracle computes the same fixpoint with a recursive CTE — different
    mechanism, identical answer, which is exactly what an
    order-insensitive hash compare can certify.
    """
    docs = load_table(spark, sf_dir, "documents")
    near = (
        shared_pairs(spark, sf_dir)
        .filter(F.col("agree") >= _CC_MIN_AGREE)
        .select("da", "db")
    )
    edges = near.union(
        near.select(F.col("db").alias("da"), F.col("da").alias("db"))
    ).toDF("s", "d").localCheckpoint()

    labels = docs.select("doc_id", F.col("doc_id").alias("lab")).localCheckpoint()
    for _ in range(50):
        neighbor_min = (
            edges.join(labels, edges.s == labels.doc_id)
            .groupBy(F.col("d").alias("doc_id"))
            .agg(F.min("lab").alias("nlab"))
        )
        # The convergence flag rides on the SAME pass that builds the
        # new labels (a lazy localCheckpoint materialized by the count),
        # so each round costs exactly one action — round 2 ran a second
        # join+count against the old labels per round just to detect
        # convergence, doubling actions.
        staged = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))).alias(
                    "lab"
                ),
                F.coalesce(F.col("nlab") < F.col("lab"), F.lit(False)).alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = staged.filter("chg").count()
        labels = staged.select("doc_id", "lab")
        if changed == 0:
            break
    return labels.select("doc_id", F.col("lab").alias("cluster_id")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# c08 — candidate verification (exact jaccard on LSH candidates only)
# ---------------------------------------------------------------------------
def _verify_oracle() -> str:
    return f"""
    {_sig_cte()},
    {_cand_cte()},
    est AS (
        SELECT c.da, c.db, ({_AGREE}) / 16.0 AS est_jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.da
        JOIN sig sb ON sb.doc_id = c.db
    ),
    toksets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
                FROM documents)
    SELECT e.da AS doc_a, e.db AS doc_b, e.est_jaccard,
           floor((len(list_intersect(ta.toks, tb.toks)) * 1.0
                 / (len(ta.toks) + len(tb.toks)
                    - len(list_intersect(ta.toks, tb.toks)))) * 1000000.0 + 0.5) / 1000000.0
               AS exact_jaccard,
           floor((abs(e.est_jaccard
                     - len(list_intersect(ta.toks, tb.toks)) * 1.0
                       / (len(ta.toks) + len(tb.toks)
                          - len(list_intersect(ta.toks, tb.toks))))) * 1000000.0 + 0.5) / 1000000.0
               AS est_error
    FROM est e
    JOIN toksets ta ON ta.doc_id = e.da
    JOIN toksets tb ON tb.doc_id = e.db
    """


@query("c08_candidate_verify", oracle=_verify_oracle())
def c08_candidate_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pipeline verification stage: exact jaccard for the LSH
    CANDIDATE pairs only (never all pairs — that's the whole point of
    LSH), plus the estimate's absolute error.

    Scale: the expensive exact measure runs on the output-bound
    candidate set; token arrays arrive via two equi-joins keyed on
    doc_id (the pair stream's only shuffles), and
    ``array_intersect``/set-size arithmetic is per-row codegen. This is
    the stage a production pipeline uses to pick the dedup threshold —
    est_error quantifies how trustworthy the 16-hash estimate is.

    No ORDER BY: feeds a threshold decision, not a report; the
    correctness gate's value hash is order-insensitive."""
    # The candidate stream and the int64-hashed token-set projection are
    # the session-shared pipeline artifacts (see shared_pairs /
    # shared_toksets): c08 reads them instead of rebuilding — exact
    # jaccard needs only set SIZES, which the hashed sets preserve.
    est = shared_pairs(spark, sf_dir).select(
        "da", "db", (F.col("agree") / 16.0).alias("est_jaccard")
    )
    toksets = shared_toksets(spark, sf_dir)
    ta, tb = toksets.alias("ta"), toksets.alias("tb")
    inter = F.size(F.array_intersect(F.col("ta.toks"), F.col("tb.toks")))
    union = F.size(F.col("ta.toks")) + F.size(F.col("tb.toks")) - inter
    exact = inter * 1.0 / union
    return (
        est.join(ta, F.col("da") == F.col("ta.doc_id"))
        .join(tb, F.col("db") == F.col("tb.doc_id"))
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            "est_jaccard",
            pround(exact, 6).alias("exact_jaccard"),
            pround(F.abs(F.col("est_jaccard") - exact), 6).alias("est_error"),
        )
    )


# ---------------------------------------------------------------------------
# c10 — incremental near-dedup: new batch vs. existing corpus
# ---------------------------------------------------------------------------
#: Every 5th doc plays the "newly arrived batch"; the rest are the
#: standing corpus. A modulo split keeps the partition deterministic
#: and scale-factor-invariant on both engines.
_INC_BATCH_MOD = 5


def _incremental_oracle() -> str:
    return f"""
    {_sig_cte()},
    {_cand_cte()},
    edges AS (SELECT c.da, c.db FROM cand c
              JOIN sig sa ON sa.doc_id = c.da
              JOIN sig sb ON sb.doc_id = c.db
              WHERE ({_AGREE}) >= {_CC_MIN_AGREE}),
    nbr AS (
        SELECT db AS doc_id, da AS nbr FROM edges
        WHERE db % {_INC_BATCH_MOD} = 0
        UNION ALL
        SELECT da AS doc_id, db AS nbr FROM edges
        WHERE da % {_INC_BATCH_MOD} = 0 AND db % {_INC_BATCH_MOD} <> 0
    ),
    agg AS (SELECT doc_id,
                   MIN(CASE WHEN nbr % {_INC_BATCH_MOD} <> 0 THEN nbr END)
                       AS corpus_min,
                   MIN(CASE WHEN nbr % {_INC_BATCH_MOD} = 0 THEN nbr END)
                       AS batch_min
            FROM nbr GROUP BY doc_id)
    SELECT b.doc_id,
           CASE WHEN a.corpus_min IS NOT NULL THEN 'dup_of_corpus'
                WHEN a.batch_min IS NOT NULL THEN 'dup_in_batch'
                ELSE 'new' END AS status,
           a.corpus_min IS NOT NULL OR a.batch_min IS NOT NULL AS is_dup,
           COALESCE(a.corpus_min, a.batch_min) AS dup_of
    FROM (SELECT doc_id FROM documents WHERE doc_id % {_INC_BATCH_MOD} = 0) b
    LEFT JOIN agg a USING (doc_id)
    ORDER BY b.doc_id
    """


@query("c10_incremental_neardup", oracle=_incremental_oracle())
def c10_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: route each NEWLY ARRIVED document (the
    ``doc_id % 5 == 0`` batch) against the standing corpus via the
    MinHash/LSH band index, then against earlier docs of its own batch —
    the production shape for daily ingest, where the corpus was deduped
    yesterday and only the delta needs work.

    Statuses: ``dup_of_corpus`` (near-dup of a corpus doc — drop, keep
    corpus canonical), ``dup_in_batch`` (first seen in this batch but an
    earlier batch doc is the keeper), ``new``. Corpus hits take
    precedence; ``dup_of`` is the min-id keeper in that order.

    Scale design: the DELTA side feeds every band join — the standing
    corpus is never self-joined (its pairs produce no output here, and
    at 100 TB corpus×corpus candidates would dominate the work).
    Join 1 probes the full signature table against the batch side
    (yields corpus-smaller-id and earlier-batch neighbors); join 2
    probes batch against the larger-id corpus half. Both have the
    bounded delta on one side, so at scale they broadcast the delta and
    stream the corpus index — in production that index IS the persisted
    signature table c02 materializes, so incremental cost is
    O(delta + collisions), never a corpus rescan. The decision edge
    reuses c07's near-dup threshold (agree ≥ 14/16), so incremental and
    batch dedup agree on what a duplicate IS."""
    docs = load_table(spark, sf_dir, "documents")
    sig = shared_sig(spark, sf_dir)
    bmod = F.lit(_INC_BATCH_MOD)
    agree = lambda pa, pb, band: [_agree_col(pa, pb, band).alias("agree")]  # noqa: E731
    sig_batch = sig.filter(F.col("doc_id") % bmod == 0)
    sig_corpus = sig.filter(F.col("doc_id") % bmod != 0)
    # (any, batch) pairs, da < db: corpus-smaller + earlier-batch nbrs
    e1 = _band_pairs(sig, agree, right=sig_batch).filter(
        F.col("agree") >= _CC_MIN_AGREE
    )
    # (batch, corpus) pairs, da < db: corpus-larger nbrs
    e2 = _band_pairs(sig_batch, agree, right=sig_corpus).filter(
        F.col("agree") >= _CC_MIN_AGREE
    )
    nbr = (
        e1.select(F.col("db").alias("doc_id"), F.col("da").alias("nbr"))
        .unionAll(e2.select(F.col("da").alias("doc_id"), F.col("db").alias("nbr")))
    )
    agg = nbr.groupBy("doc_id").agg(
        F.min(F.when(F.col("nbr") % bmod != 0, F.col("nbr"))).alias("corpus_min"),
        F.min(F.when(F.col("nbr") % bmod == 0, F.col("nbr"))).alias("batch_min"),
    )
    batch = docs.filter(F.col("doc_id") % bmod == 0).select("doc_id")
    return (
        batch.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("corpus_min").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("batch_min").isNotNull(), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
            (
                F.col("corpus_min").isNotNull() | F.col("batch_min").isNotNull()
            ).alias("is_dup"),
            F.coalesce("corpus_min", "batch_min").alias("dup_of"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# c12 — count-min sketch heavy hitters (frequency estimation)
# ---------------------------------------------------------------------------
#: Sketch depth (independent hash rows) and width (buckets per row).
#: Collision error is bounded by E[overcount] <= total/width per row;
#: taking the MIN over depth rows drives the failure probability to
#: (1/e)^depth — the classic Cormode-Muthukrishnan guarantee.
_CMS_D = 4
_CMS_W = 512
#: Report keys whose ESTIMATED share of all events is >= 0.5 %.
_CMS_MIN_FRAC = 0.005


def cms_bucket(key, d):
    """The CMS cell hash — THE single definition shared by c12's batch
    sketch, f13's streaming sketch, and the crash-recovery proof
    (tests/test_streaming_pipeline.py), so a retune of the grid width
    or hash seed can never desynchronize them."""
    return F.pmod(
        hash60(F.concat(F.lit("cms"), d.cast("string"), F.lit(":"), key)),
        F.lit(_CMS_W),
    )


def _cms_depths():
    return F.array(*[F.lit(i) for i in range(_CMS_D)])


def cms_grid(events: DataFrame) -> DataFrame:
    """Raw event rows → the count-min cells ``(d, b, c)`` over
    ``user_id``: each row adds one to its cell in every depth row. A
    plain aggregate, so it runs on a batch or a streaming DataFrame."""
    return (
        events.select(F.col("user_id").cast("string").alias("k"))
        .select("k", F.explode(_cms_depths()).alias("d"))
        .select("d", cms_bucket(F.col("k"), F.col("d")).alias("b"))
        .groupBy("d", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def cms_heavy_hitters(cand: DataFrame, sketch: DataFrame) -> DataFrame:
    """Probe the candidate keys ``(k, true_n)`` against the sketch
    cells ``(d, b, c)``: a key's estimate is the MIN of its d cells, and
    it is reported as ``(user_id, true_n, est_n)`` when the estimate is
    at least ``_CMS_MIN_FRAC`` of all events."""
    tot = cand.agg(F.sum("true_n").alias("n"))
    est = (
        cand.select("k", F.explode(_cms_depths()).alias("d"))
        .withColumn("b", cms_bucket(F.col("k"), F.col("d")))
        .join(F.broadcast(sketch), ["d", "b"])
        .groupBy("k")
        .agg(F.min("c").alias("est_n"))
    )
    return (
        cand.join(est, "k")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("est_n") * 1.0 >= F.col("n") * F.lit(_CMS_MIN_FRAC))
        .select(
            F.col("k").cast("long").alias("user_id"),
            "true_n",
            "est_n",
        )
        .orderBy("user_id")
    )


@query(
    "c12_heavy_hitters_cms",
    oracle=f"""
    WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
    tot AS (SELECT COUNT(*) AS n FROM ev),
    depths AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS d),
    sk AS (SELECT d,
                  CAST(('0x' || substr(md5('cms' || CAST(d AS VARCHAR)
                                            || ':' || k), 1, 15)) AS BIGINT)
                      % {_CMS_W} AS b,
                  CAST(COUNT(*) AS BIGINT) AS c
           FROM ev CROSS JOIN depths
           GROUP BY 1, 2),
    cand AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS true_n FROM ev GROUP BY k),
    est AS (SELECT cand.k, MIN(sk.c) AS est_n
            FROM cand CROSS JOIN depths
            JOIN sk ON sk.d = depths.d
                   AND sk.b = CAST(('0x' || substr(
                           md5('cms' || CAST(depths.d AS VARCHAR)
                               || ':' || cand.k), 1, 15)) AS BIGINT)
                       % {_CMS_W}
            GROUP BY cand.k)
    SELECT CAST(cand.k AS BIGINT) AS user_id,
           cand.true_n,
           CAST(est.est_n AS BIGINT) AS est_n
    FROM cand JOIN est ON est.k = cand.k CROSS JOIN tot
    WHERE est.est_n * 1.0 >= tot.n * {_CMS_MIN_FRAC}
    ORDER BY user_id
    """,
)
def c12_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over ``events.user_id`` via a count-min sketch,
    reported next to the exact count (``est_n >= true_n`` always — CMS
    only ever overcounts on collisions).

    Why a sketch when groupBy().count() exists: the sketch is a FIXED
    d x w counter grid whose partials merge by cell-wise addition —
    per-partition/per-day sketches combine associatively without
    re-touching raw data, and frequency queries against the standing
    sketch never rescan the corpus. At 100 TB the sketch build is one
    map-side-combinable aggregate producing <= d*w rows total (the
    per-partition partial is a few KB), while exact counting of a
    high-cardinality key shuffles every distinct key. Hashes are the
    repo's portable md5 family (functions/hashing.py), so the DuckDB
    oracle reproduces every cell bit-for-bit.

    The candidate set probed against the sketch is the exact key set
    here (it doubles as the error-inspection baseline the oracle
    checks); a production deployment tracks candidates with a
    space-saving/sampled pass and probes only those — the sketch side
    (build, broadcast, min-over-rows probe) is identical.

    One scan: because the harness needs the exact per-key counts
    anyway, the sketch cells and the grand total both DERIVE from the
    persisted candidate table (sum of key counts per cell == count of
    raw rows per cell), so events is read exactly once. A sketch-only
    production build skips the key aggregate entirely and feeds raw
    rows straight into the d x w grid — same cells, no key shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(F.col("user_id").cast("string").alias("k"))
    cand = persist_tracked(
        keyed.groupBy("k").agg(F.count(F.lit(1)).alias("true_n"))
    )
    sketch = (
        cand.select("true_n", F.explode(_cms_depths()).alias("d"),
                    F.col("k").alias("sk"))
        .select("d", cms_bucket(F.col("sk"), F.col("d")).alias("b"), "true_n")
        .groupBy("d", "b")
        .agg(F.sum("true_n").alias("c"))
    )
    return cms_heavy_hitters(cand, sketch)


# ---------------------------------------------------------------------------
# c13 — Bloom-filter membership pre-screen for incremental dedup
# ---------------------------------------------------------------------------
#: Filter geometry: m bits, k hash functions. At the fixture's corpus
#: cardinality (~4.3k distinct opening-passage keys at sf0.1,
#: measured) m=65536, k=4 gives a theoretical false-positive rate
#: (1-e^{-kn/m})^k of ~0.3 %. The geometry must scale WITH corpus
#: cardinality: m ~ 10-15 bits per distinct key holds FP at the
#: ~0.1-1 % a pre-screen wants (at n=45k keys this m would already be
#: ~77 % FP — resize m, don't reuse it).
_BF_M = 65_536
_BF_K = 4
#: Delta batch = every 10th doc (c10's convention); the rest is corpus.
_BF_BATCH_MOD = 10
#: Membership key = the document's opening 8-token passage. The fixture
#: contains zero EXACT text duplicates at any SF (measured), so a
#: full-text key would make every verdict vacuously false; shared
#: openings are the realistic "seen this boilerplate before" signal,
#: and a full-text/content-hash key is a one-line swap.
_BF_PREFIX = 8


@query(
    "c13_bloom_prefilter",
    oracle=f"""
    WITH d AS (SELECT doc_id,
                      md5(array_to_string(string_split(text, ' ')[1:{_BF_PREFIX}],
                                          ' ')) AS th
               FROM documents),
    corpus AS (SELECT th FROM d WHERE doc_id % {_BF_BATCH_MOD} <> 0),
    delta AS (SELECT doc_id, th FROM d WHERE doc_id % {_BF_BATCH_MOD} = 0),
    bits AS (SELECT DISTINCT
                    CAST(('0x' || substr(md5('bf' || CAST(i.i AS VARCHAR)
                                             || ':' || corpus.th), 1, 15))
                         AS BIGINT) % {_BF_M} AS pos
             FROM corpus
             CROSS JOIN (SELECT unnest(generate_series(0, {_BF_K - 1}))
                         AS i) i),
    probe AS (SELECT delta.doc_id, delta.th, i.i,
                     CAST(('0x' || substr(md5('bf' || CAST(i.i AS VARCHAR)
                                              || ':' || delta.th), 1, 15))
                          AS BIGINT) % {_BF_M} AS pos
              FROM delta
              CROSS JOIN (SELECT unnest(generate_series(0, {_BF_K - 1}))
                          AS i) i),
    hits AS (SELECT probe.doc_id,
                    CAST(COUNT(bits.pos) AS BIGINT) AS n_set
             FROM probe LEFT JOIN bits ON bits.pos = probe.pos
             GROUP BY probe.doc_id),
    truth AS (SELECT delta.doc_id,
                     EXISTS (SELECT 1 FROM corpus c
                             WHERE c.th = delta.th) AS exact_dup
              FROM delta)
    SELECT hits.doc_id,
           hits.n_set = {_BF_K} AS bloom_hit,
           truth.exact_dup,
           (hits.n_set = {_BF_K} AND NOT truth.exact_dup)
               AS false_positive
    FROM hits JOIN truth ON truth.doc_id = hits.doc_id
    ORDER BY hits.doc_id
    """,
)
def c13_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-screen: the corpus's opening-passage
    hashes (first 8 tokens — see _BF_PREFIX) set k=4 bits each in an
    m=65536-bit filter; a delta batch is probed
    bits-first so only "probably seen" documents proceed to the exact
    (or LSH) dedup path. Output per delta doc: the bloom verdict, the
    exact ground truth, and the false-positive flag — never a false
    NEGATIVE (the Bloom guarantee, asserted in tests).

    Scale: the filter is the km-bounded DISTINCT of bit positions —
    built with one map-side-combinable aggregate, broadcast as <= m
    rows (a production build packs them into an m/8-byte bitmap; the
    set-bit relation IS that bitmap, mergeable across shards by
    union/OR). The delta probes it with a broadcast join — the corpus
    is touched once at build time and NEVER per delta, which is the
    point: at 100 TB the pre-screen turns per-batch dedup from
    delta x corpus work into delta x O(1)-broadcast work, with the
    expensive exact path reserved for the bloom-hit subset.

    Portable hashing: bit positions are the repo's md5 hash60 family
    (functions/hashing.py), so the DuckDB oracle reproduces the filter
    bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        # array_join, not concat_ws: concat_ws maps a NULL token array
        # to '' — a NULL-text document would then HASH-EQUAL an
        # empty-text document (false dup). array_join propagates the
        # NULL, matching the oracle's array_to_string(NULL) → NULL th
        # (NULL th never matches anything in either engine).
        F.md5(
            F.array_join(F.slice(tokens("text"), 1, _BF_PREFIX), " ")
        ).alias("th"),
    )
    corpus = docs.filter(F.col("doc_id") % _BF_BATCH_MOD != 0)
    delta = docs.filter(F.col("doc_id") % _BF_BATCH_MOD == 0)

    def pos(i: int, th) -> F.Column:
        return F.pmod(
            hash60(F.concat(F.lit(f"bf{i}:"), th)), F.lit(_BF_M)
        )

    bits = (
        corpus.select(
            F.explode(
                F.array(*[pos(i, F.col("th")) for i in range(_BF_K)])
            ).alias("pos")
        )
        .distinct()
    )
    probe = delta.select(
        "doc_id",
        "th",
        F.explode(
            F.array(*[pos(i, F.col("th")) for i in range(_BF_K)])
        ).alias("pos"),
    )
    hits = (
        probe.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("doc_id")
        .agg(F.count("hit").alias("n_set"))
    )
    truth = delta.join(
        corpus.select(F.col("th").alias("cth")).distinct(),
        F.col("th") == F.col("cth"),
        "left",
    ).select("doc_id", F.col("cth").isNotNull().alias("exact_dup"))
    bloom_hit = F.col("n_set") == _BF_K
    return (
        hits.join(truth, "doc_id")
        .select(
            "doc_id",
            bloom_hit.alias("bloom_hit"),
            "exact_dup",
            (bloom_hit & ~F.col("exact_dup")).alias("false_positive"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# c14 — MinHash estimator calibration (per-level error profile)
# ---------------------------------------------------------------------------
#: Pair-sampling modulus for the calibration measure: only candidate
#: pairs whose 60-bit md5 pair hash ≡ 0 (mod 16) get the exact-jaccard
#: treatment. Calibration is a STATISTICAL report — a 1/16 deterministic
#: sample bounds the expensive token-set joins at any corpus size while
#: every estimate level keeps a representative population; the modulus
#: is the accuracy/cost knob a production run tunes.
#: Floor of c14's deterministic pair-sample modulus (1/16 at the gate
#: SFs), and the sampled-pair budget that GROWS it: the modulus is the
#: smallest power of two >= candidate_pairs / _CAL_SAMPLE_TARGET (never
#: below the floor), derived with integer shift-and-compare from the
#: candidate-stream count on BOTH engines (the sign_bits_for
#: discipline), so the calibration sample — and therefore the exact
#: token-set measure, the expensive stage — stays ~bounded at any
#: corpus size. Round-9 10x scale check: the fixed 1/16 fraction made
#: c14 scale 48x on a 100x candidate stream; the derived modulus keeps
#: the sample <= ~500k pairs while leaving every gate-SF output
#: byte-identical (sf0.001/0.01/0.1 all derive 16).
_CAL_SAMPLE_MOD = 16
_CAL_SAMPLE_TARGET = 500_000


def _cal_sample_mod(n_pairs: int) -> int:
    mod = _CAL_SAMPLE_MOD
    while mod * _CAL_SAMPLE_TARGET < n_pairs and mod < (1 << 40):
        mod <<= 1
    return mod


def _cal_sample_mod_sql() -> str:
    """DuckDB twin of :func:`_cal_sample_mod` over the ``cand`` CTE —
    same integer shift-and-compare, same floor, so both engines derive
    the identical modulus from the same candidate count."""
    return (
        "COALESCE((SELECT MIN(CAST(1 AS BIGINT) << b) "
        "FROM range(4, 41) t(b) "
        f"WHERE (CAST(1 AS BIGINT) << b) * {_CAL_SAMPLE_TARGET} >= "
        "(SELECT COUNT(*) FROM cand)), CAST(1 AS BIGINT) << 40)"
    )


#: Carter-Wegman pair hash for c14's sample predicate:
#: h = ((da mod P)*C1 mod P + (db mod P)*C2 mod P) mod P with P the
#: Mersenne prime 2^31-1 — pairwise-uniform over (da, db), and every
#: intermediate product is < 2^62, so the arithmetic is EXACT int64 on
#: both engines (Spark wraps on overflow, DuckDB errors — neither is
#: reachable). Replaces the md5-of-concat pair hash (round 9, measured
#: at sf1.0): the sampling scan over the 782M-pair candidate stream
#: cost 35.8 s with per-pair md5 vs ~0.3 s for plain integer
#: predicates — the hash WAS the scan cost, and a calibration sample
#: needs pairwise uniformity, not cryptographic mixing.
_CAL_P = (1 << 31) - 1
_CAL_C1 = 1_103_515_245
_CAL_C2 = 747_796_405


def _pair_sample_hash():
    ha = F.pmod(F.pmod(F.col("da"), F.lit(_CAL_P)) * _CAL_C1, F.lit(_CAL_P))
    hb = F.pmod(F.pmod(F.col("db"), F.lit(_CAL_P)) * _CAL_C2, F.lit(_CAL_P))
    return F.pmod(ha + hb, F.lit(_CAL_P))


def _pair_sample_hash_sql(da: str = "e.da", db: str = "e.db") -> str:
    return (
        f"((({da} % {_CAL_P}) * {_CAL_C1} % {_CAL_P}) + "
        f"(({db} % {_CAL_P}) * {_CAL_C2} % {_CAL_P})) % {_CAL_P}"
    )


def _calibration_oracle() -> str:
    return f"""
    {_sig_cte()},
    {_cand_cte()},
    est0 AS (
        SELECT c.da, c.db, ({_AGREE}) / 16.0 AS est_jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.da
        JOIN sig sb ON sb.doc_id = c.db
    ),
    est AS (SELECT * FROM est0 e
            WHERE ({_pair_sample_hash_sql()}) % ({_cal_sample_mod_sql()}) = 0),
    toksets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
                FROM documents),
    iu AS (SELECT e.est_jaccard,
                  len(list_intersect(ta.toks, tb.toks)) AS i,
                  len(ta.toks) + len(tb.toks)
                      - len(list_intersect(ta.toks, tb.toks)) AS u
           FROM est e
           JOIN toksets ta ON ta.doc_id = e.da
           JOIN toksets tb ON tb.doc_id = e.db),
    per AS (SELECT est_jaccard,
                   floor((i * 1.0 / u) * 1000000.0 + 0.5) / 1000000.0
                       AS exact_r
            FROM iu),
    err AS (SELECT est_jaccard, exact_r,
                   floor(abs(est_jaccard - exact_r) * 1000000.0 + 0.5)
                       / 1000000.0 AS err_r
            FROM per)
    SELECT est_jaccard,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           floor((CAST(SUM(CAST(exact_r AS DECIMAL(25,6))) AS DOUBLE)
                  / COUNT(exact_r)) * 1000000.0 + 0.5) / 1000000.0
               AS avg_exact,
           floor((CAST(SUM(CAST(err_r AS DECIMAL(25,6))) AS DOUBLE)
                  / COUNT(err_r)) * 1000000.0 + 0.5) / 1000000.0
               AS avg_abs_err,
           MAX(err_r) AS max_abs_err
    FROM err
    GROUP BY est_jaccard
    ORDER BY est_jaccard
    """


@query("c14_minhash_calibration", oracle=_calibration_oracle())
def c14_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration report: c08's per-pair (estimate, exact)
    measurements aggregated per estimate LEVEL (the 16-hash estimate
    only takes values k/16) — pair count, mean exact jaccard, mean and
    max absolute error. This is the table an operator reads to pick
    the dedup threshold: it says, for every value the estimator can
    output, how far the truth sits on average and at worst.

    Scale: identical join shape to c08 (exact measure confined to the
    LSH candidate set; two doc_id equi-joins) but applied only to a
    DETERMINISTIC pair sample (Carter-Wegman integer pair hash — the
    filter runs on columns the band join already holds, BEFORE the
    token-set joins). Two round-9 scale fixes, both measured on the
    782M-pair sf1.0 candidate stream: (1) the sample MODULUS is
    derived from the candidate-stream count (smallest power of two
    holding the sample under ~500k pairs, floor 1/16 — see
    _cal_sample_mod; the oracle derives the identical value in SQL),
    so the expensive token-set stage is genuinely sample-bounded at
    any corpus size — the old FIXED 1/16 fraction scaled 48x on a
    100x candidate stream; (2) the sample predicate's per-pair md5
    was itself the scan cost at that size (35.8 s vs 0.3 s for integer
    predicates over the same persisted stream), so the hash is now
    exact int64 arithmetic (see _pair_sample_hash) — pairwise-uniform,
    which is what a calibration sample needs. The final aggregate is
    map-side-combinable over at most 17 groups, and per-pair values
    are 6dp-rounded BEFORE the decimal-sum average, so the report is
    bit-identical under any partitioning — mergeable across a 1000-
    executor fleet by construction."""
    # Candidate stream and hashed token sets are the session-shared
    # pipeline artifacts (shared_pairs / shared_toksets); the sample
    # filter runs on the persisted pair stream BEFORE the token-set
    # joins. The modulus count is the memoized artifact-cardinality
    # (shared_pairs_count — first toucher pays the build + one count).
    pairs = shared_pairs(spark, sf_dir)
    mod = _cal_sample_mod(shared_pairs_count(spark, sf_dir))
    est = pairs.select(
        "da", "db", (F.col("agree") / 16.0).alias("est_jaccard")
    ).filter(F.pmod(_pair_sample_hash(), F.lit(mod)) == 0)
    toksets = shared_toksets(spark, sf_dir)
    ta, tb = toksets.alias("ta"), toksets.alias("tb")
    inter = F.size(F.array_intersect(F.col("ta.toks"), F.col("tb.toks")))
    union = F.size(F.col("ta.toks")) + F.size(F.col("tb.toks")) - inter
    exact_r = pround(inter * 1.0 / union, 6)
    per = (
        est.join(ta, F.col("da") == F.col("ta.doc_id"))
        .join(tb, F.col("db") == F.col("tb.doc_id"))
        .select(
            "est_jaccard",
            exact_r.alias("exact_r"),
            pround(F.abs(F.col("est_jaccard") - exact_r), 6).alias("err_r"),
        )
    )
    dec = "decimal(25,6)"
    return (
        per.groupBy("est_jaccard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            pround(
                F.sum(F.col("exact_r").cast(dec)).cast("double")
                / F.count("exact_r"),
                6,
            ).alias("avg_exact"),
            pround(
                F.sum(F.col("err_r").cast(dec)).cast("double")
                / F.count("err_r"),
                6,
            ).alias("avg_abs_err"),
            F.max("err_r").alias("max_abs_err"),
        )
        .orderBy("est_jaccard")
    )


# ---------------------------------------------------------------------------
# c15 — band-bucket canonical selection (keep best quality per bucket)
# ---------------------------------------------------------------------------
def _band_bucket_cols(band: int) -> list[str]:
    lo = band * _ROWS_PER_BAND
    return [f"h{i}" for i in range(lo, lo + _ROWS_PER_BAND)]


def _canonical_oracle() -> str:
    from .textops import QUALITY_SCORE_CTE

    def bucket(band: int) -> str:
        cols = ", ".join(
            f"CAST({c} AS VARCHAR)" for c in _band_bucket_cols(band)
        )
        return (
            f"SELECT CAST({band} AS INT) AS band, "
            f"md5(concat_ws('|', {cols})) AS bucket_md5, doc_id FROM sig"
        )

    buckets = "\n    UNION ALL\n    ".join(bucket(b) for b in range(_BANDS))
    return f"""
    {_sig_cte()},
    {QUALITY_SCORE_CTE.strip()},
    b AS (
    {buckets}
    ),
    j AS (SELECT b.band, b.bucket_md5, b.doc_id, s.quality_score
          FROM b JOIN scored s ON s.doc_id = b.doc_id),
    r AS (SELECT band, bucket_md5, doc_id, quality_score,
                 ROW_NUMBER() OVER (PARTITION BY band, bucket_md5
                                    ORDER BY quality_score DESC, doc_id)
                     AS rn,
                 COUNT(*) OVER (PARTITION BY band, bucket_md5) AS n_docs
          FROM j)
    SELECT band, bucket_md5,
           CAST(n_docs AS BIGINT) AS n_docs,
           doc_id AS kept_doc_id,
           quality_score AS kept_quality,
           CAST(n_docs - 1 AS BIGINT) AS n_dropped
    FROM r WHERE rn = 1 AND n_docs >= 2
    ORDER BY band, bucket_md5
    """


@query("c15_band_canonical_keep_best", oracle=_canonical_oracle())
def c15_band_canonical_keep_best(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bucket-level canonical selection: within every LSH band bucket
    that collides (≥ 2 docs), keep the HIGHEST-QUALITY document
    (e02's score; doc_id tie-break) and count the suppressed replicas —
    the "keep best, not keep first" dedup policy, run as the cheap
    bucket-granular first pass before pairwise verification.

    Scale: signatures shuffle once per band on the band's raw hash
    columns (same key the LSH join uses); the keep-best choice is a
    single max(struct(quality, -doc_id)) aggregate — NO window, no
    per-bucket sort, mergeable map-side. Output is bounded by the
    number of colliding buckets, never pairs.

    Round 13: reads the session-shared signature artifact instead of
    rebuilding ``_sig_df`` inline — the one consumer the round-12
    artifact sweep missed (same rows by construction, pinned by
    tests/test_session_artifacts.py's rebuild-equality test); the
    corpus tokenize+md5+min pass was re-run on every invocation.
    Interleaved A/B at sf0.1 (bit-identical output asserted): warm
    noop 1.039 -> 0.849 s min-of-3."""
    from .textops import quality_score_col, quality_scored_docs

    docs = load_table(spark, sf_dir, "documents")
    sig = shared_sig(spark, sf_dir)
    scored = quality_scored_docs(docs).select(
        "doc_id", quality_score_col().alias("quality_score")
    )
    joined = sig.join(scored, "doc_id")
    stack_parts = []
    for b in range(_BANDS):
        cols = ", ".join(
            f"CAST({c} AS STRING)" for c in _band_bucket_cols(b)
        )
        stack_parts.append(f"CAST({b} AS INT), md5(concat_ws('|', {cols}))")
    stacked = joined.selectExpr(
        "doc_id",
        "quality_score",
        f"stack({_BANDS}, {', '.join(stack_parts)}) AS (band, bucket_md5)",
    )
    best = F.max(
        F.struct(
            F.col("quality_score").alias("q"),
            (-F.col("doc_id")).alias("negid"),
        )
    ).alias("best")
    return (
        stacked.groupBy("band", "bucket_md5")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"), best)
        .filter(F.col("n_docs") >= 2)
        .select(
            "band", "bucket_md5", "n_docs",
            (-F.col("best.negid")).alias("kept_doc_id"),
            F.col("best.q").alias("kept_quality"),
            (F.col("n_docs") - 1).alias("n_dropped"),
        )
        .orderBy("band", "bucket_md5")
    )


# ---------------------------------------------------------------------------
# c16 — shingle document-frequency spectrum (posting-list cost profile)
# ---------------------------------------------------------------------------
@query(
    "c16_shingle_df_spectrum",
    oracle="""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
               FROM documents),
    s AS (SELECT doc_id, source,
                 list_distinct(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                      ELSE list_transform(range(1, len(toks) - 1),
                                          i -> array_to_string(toks[i:i+2], ' '))
                      END) AS sh
          FROM t),
    x AS (SELECT doc_id, source, unnest(sh) AS g FROM s),
    d AS (SELECT source, g, CAST(COUNT(*) AS BIGINT) AS df
          FROM x GROUP BY source, g)
    SELECT source, df,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) * (df * (df - 1) / 2) AS BIGINT) AS pair_cost
    FROM d
    GROUP BY source, df
    ORDER BY source, df
    """,
)
def c16_shingle_df_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency spectrum of c04's 3-shingles, per source: for
    every DF level, how many shingles sit there and how many candidate
    pairs a posting of that length would expand to (df·(df−1)/2 each).
    This is the evidence table behind c04's ``_MAX_SHINGLE_DF`` cap —
    it shows the handful of stop-shingles at high DF dominating the
    quadratic pair cost, and is what an operator reads to re-tune the
    cap when the corpus shifts.

    Scale: the exploded shingle set shuffles once (the DF groupBy —
    same key c04 groups on), then a |DF-levels|-bounded second
    aggregate. Pure counting; no posting list is ever materialized."""
    x = shared_shingles(spark, sf_dir).select("source", "g")
    d = x.groupBy("source", "g").agg(F.count(F.lit(1)).alias("df"))
    return (
        d.groupBy("source", "df")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
        .select(
            "source",
            "df",
            "n_shingles",
            (F.col("n_shingles") * (F.col("df") * (F.col("df") - 1) / 2))
            .cast("long")
            .alias("pair_cost"),
        )
        .orderBy("source", "df")
    )


# ---------------------------------------------------------------------------
# c17 — cluster-level canonical selection (keep best quality per component)
# ---------------------------------------------------------------------------
def _cluster_canonical_oracle() -> str:
    from .textops import QUALITY_SCORE_CTE

    sig = _sig_cte().replace("WITH t AS", "WITH RECURSIVE t AS", 1)
    return f"""
    {sig},
    {_cand_cte()},
    near AS (
        SELECT c.da, c.db
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.da
        JOIN sig sb ON sb.doc_id = c.db
        WHERE ({_AGREE}) >= {_CC_MIN_AGREE}
    ),
    edges AS (SELECT da AS s, db AS d FROM near
              UNION ALL SELECT db, da FROM near),
    lab AS (
        SELECT doc_id AS node, doc_id AS lab FROM t
        UNION
        SELECT e.d, l.lab FROM lab l JOIN edges e ON e.s = l.node
        WHERE l.lab < e.d
    ),
    cl AS (SELECT node AS doc_id, MIN(lab) AS cluster_id
           FROM lab GROUP BY node),
    {QUALITY_SCORE_CTE.strip()},
    j AS (SELECT cl.doc_id, cl.cluster_id, s.quality_score
          FROM cl JOIN scored s ON s.doc_id = cl.doc_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                       ORDER BY quality_score DESC, doc_id)
                        AS rn,
                 COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
          FROM j)
    SELECT cluster_id,
           CAST(n_members AS BIGINT) AS n_members,
           doc_id AS kept_doc_id,
           quality_score AS kept_quality,
           CAST(n_members - 1 AS BIGINT) AS n_dropped
    FROM r WHERE rn = 1 AND n_members >= 2
    ORDER BY cluster_id
    """


@query("c17_cluster_canonical_keep_best", oracle=_cluster_canonical_oracle())
def c17_cluster_canonical_keep_best(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-level canonical selection: within every TRANSITIVE
    near-duplicate component (c07's connected components), keep the
    highest-quality member — the policy-complete dedup step. c15 is
    the cheap bucket-granular first pass; this is the exact final pass
    after the component fixpoint, so a chain a~b~c collapses to ONE
    survivor even when a and c never collided directly.

    Scale: the component labels come from c07's min-label propagation
    (one shuffle per round, diameter-bounded rounds); the keep-best is
    then a single max(struct(quality, -doc_id)) aggregate over the
    (doc, cluster) table — no window, no per-cluster sort. Output is
    bounded by the number of multi-member components."""
    from .textops import quality_score_col, quality_scored_docs

    clusters = c07_dup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    scored = quality_scored_docs(docs).select(
        "doc_id", quality_score_col().alias("quality_score")
    )
    best = F.max(
        F.struct(
            F.col("quality_score").alias("q"),
            (-F.col("doc_id")).alias("negid"),
        )
    ).alias("best")
    return (
        clusters.join(scored, "doc_id")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"), best)
        .filter(F.col("n_members") >= 2)
        .select(
            "cluster_id", "n_members",
            (-F.col("best.negid")).alias("kept_doc_id"),
            F.col("best.q").alias("kept_quality"),
            (F.col("n_members") - 1).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# c18 — blocked fuzzy matching (entity resolution / record linkage)
# ---------------------------------------------------------------------------
_FUZZY_MAX_EDIT = 3

#: ENFORCED emission bound (the c04 stop-shingle precedent): at most
#: this many matches are emitted per left record, best-first
#: (edit_dist ascending, then part_b — a deterministic total order on
#: both engines). The result is therefore ≤ N·|records| rows at ANY
#: scale — an ER pipeline consumes best-candidates-per-record anyway,
#: and on a dense corpus the uncapped pair set grows quadratically
#: (measured round 9: 390.7 M pairs at sf1.0). The Spark plan and the
#: registered oracle read the same constant, so they cannot
#: desynchronize.
_FUZZY_TOPN = 8


def _c18_blocked(part: DataFrame) -> DataFrame:
    """The composite-blocking-key projection both the trial plan and
    the real join build from — ONE definition so the regime probe
    below plans exactly the frame the query joins."""
    toks = tokens("p_name")
    return part.select(
        "p_partkey", "p_name",
        # F.get (not getItem): a single-token or empty name has no
        # second token — getItem errors under ANSI, get yields NULL,
        # and NULL-propagating concat then makes blk NULL, which the
        # equi-join null-rejects on both engines (the oracle's || does
        # the same; scripts/pair_census.py already filters NULL blk).
        F.concat(
            F.get(toks, 0), F.lit("|"), F.substring(F.get(toks, 1), 1, 1)
        ).alias("blk"),
    )


def _c18_trial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c18's blk equi-join WITHOUT the pinned probe exchange: the trial
    plan whose join pick (:func:`planner_broadcasts`) gates the probe
    key (agreement at the threshold edge pinned by
    tests/test_plans.py::test_c18_gate_agrees_with_planner_at_edge).
    If AQE turns the planned sort-merge join into a broadcast at
    runtime, the pinned blk exchange is still the join's own
    clustering, never a dead exchange."""
    p = _c18_blocked(load_table(spark, sf_dir, "part"))
    return p.alias("a").join(
        p.alias("b"),
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    )


def _c18_oracle(top_n: int) -> str:
    return f"""
    WITH p AS (SELECT p_partkey, p_name,
                      string_split(p_name, ' ')[1] || '|' ||
                      substr(string_split(p_name, ' ')[2], 1, 1) AS blk
               FROM part)
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM p a JOIN p b
      ON a.blk = b.blk AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_EDIT}
    QUALIFY ROW_NUMBER() OVER (PARTITION BY a.p_partkey ORDER BY levenshtein(a.p_name, b.p_name), b.p_partkey) <= {top_n}
    ORDER BY part_a, part_b
    """


@query("c18_blocked_fuzzy_match", oracle=_c18_oracle(_FUZZY_TOPN))
def c18_blocked_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage candidate matching: within-block pairs whose
    names are within edit distance 3 — the blocked fuzzy-join that
    powers entity resolution (product catalogs, author disambiguation,
    address matching). The COMPOSITE blocking key (first name token +
    first character of the second token — conjunctive blocking, the
    standard ER move) turns the quadratic all-pairs Levenshtein into an
    equi-join with bounded per-block quadratic cost — the LSH-band
    argument (c02) applied to string identity instead of set
    similarity. Like every blocking scheme, the key trades recall for
    containment: pairs whose second tokens start differently are never
    compared (measured on the fixture: 38,846 of the 46,619
    single-token-block matches survive, 7,682 of them genuinely fuzzy
    dist>0 pairs).

    Scale: the join shuffles on the block key only; the edit-distance
    predicate evaluates inside codegen on pairs the join already
    co-located. Measured on the fixture vocabulary the composite key
    caps blocks at 655 rows / 4.7 M candidates at sf0.1 (vs 2,572 rows
    / 25 M for the single-token key that kept this query gate-SF-only
    through round 6). At 100 TB the key sharpens the same way LSH
    bands do — add first-k-chars / phonetic codes per token to hold
    per-block population flat; edit distance is integer-exact on both
    engines, so the candidate set is hash-gated, not approximated.
    The probe repartition key is REGIME-GATED (round 11, found by the
    sf10 probe): primary key while the build side broadcasts
    (row-level balance + window-exchange elision), block key once the
    corpus passes the broadcast threshold (the SMJ rides the pinned
    exchange; the old unconditional primary-key repartition was a
    dead exchange there, and AQE's byte-based coalescing then folded
    the CPU-quadratic join stage to half the cores).

    Round-9 10x scale check (sf0.1 -> sf1.0, part names drawn from the
    fixture's FIXED name space, so matches densify quadratically): the
    UNCAPPED output grew 100.2x (3.90 M -> 390.7 M matched pairs)
    while wall time grew 63.8x (1.87 -> 119.6 s) — sub-linear in
    output, which is the floor for a query whose result IS the pair
    set. Round 10 added the ENFORCED emission bound (_FUZZY_TOPN
    best matches per left record, the production lever the round-9
    verdict asked for): the comparison work inside each block is
    unchanged (the bound gates EMISSION, not candidate generation —
    blocking-key sharpening remains the compute lever), but the
    result set is ≤ N·|records| at any scale, so downstream stages
    and the sink never see the quadratic pair regime. Measured at
    sf1.0 (round 10, quiet noop-write best-of-2 — the scale_check
    protocol): emission 390,651,200 -> 1,597,984 rows (244x) AND wall
    119.6 s (r9 uncapped) -> 105.2 s capped — the per-group top-N
    sort costs less than materializing the full pair set even into a
    noop sink, because the narrow-row window below keeps the sort
    payload minimal while the capped stream shrinks everything
    after it."""
    return _c18_frame(spark, sf_dir, _FUZZY_TOPN)


def _c18_frame(spark: SparkSession, sf_dir: str, top_n: int) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    p = _c18_blocked(part)
    # Regime-gated probe partitioning (round 11 — found by the sf10
    # probe, where the old always-by-primary-key repartition became a
    # DEAD exchange): the right key depends on which join the planner
    # will pick, read from the planner's own trial plan (round 12 —
    # see _c18_trial) and memoized per broadcast threshold.
    #
    # * BROADCAST regime (build side fits the threshold): partition
    #   the probe by PRIMARY KEY. Rows of every block spread evenly
    #   across all tasks (each probe row carries ~|block| comparisons
    #   of CPU against the broadcast side — row-level balance), and
    #   the partitioning alias-propagates to part_a so the emission
    #   cap's window plans with no exchange of its own (plan-pinned).
    # * SHUFFLE-JOIN regime (any corpus past the threshold): partition
    #   the probe by BLOCK KEY. The SMJ requires blk clustering, so
    #   this pinned exchange IS the join's exchange — the primary-key
    #   repartition would be immediately re-shuffled (measured at
    #   sf10: a dead exchange, after which AQE's byte-based coalescing
    #   folded the 47 B-Levenshtein-pair join stage to 15 tasks on 32
    #   cores: narrow rows look cheap to a byte-sizer). REPARTITION_BY_NUM
    #   pins the partition count against exactly that coalescing. The
    #   cap's window then adds one exchange, but only of the stream a
    #   PARTIAL WindowGroupLimit already bounded to ≤N rows per
    #   part_a per partition (plan-pinned). Blocks are atomic under
    #   any equi-join co-location, so per-task balance is only as
    #   good as the block-size census (scripts/pair_census.py) — a
    #   dense-block corpus needs blocking-key sharpening, not more
    #   partitions.
    # The partition count is pinned explicitly in both regimes; block
    # membership is key-functional, so the result set is
    # partitioning-invariant (perturb-sweep-verified).
    probe_key = (
        "p_partkey"
        if planner_broadcasts(spark, sf_dir, "c18_probe_regime", _c18_trial)
        else "blk"
    )
    a = p.repartition(
        spark.sparkContext.defaultParallelism, probe_key
    ).alias("a")
    b = p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    joined = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).filter(dist <= _FUZZY_MAX_EDIT)
    # Best-N per left record, computed over NARROW rows: the window's
    # per-partition sort runs on (part_a, part_b, edit_dist) only —
    # carrying both name strings through the sort of the (possibly
    # quadratic-dense) matched stream widens every sorted/spilled row
    # ~4x; the names re-attach to the ≤ N·|records| capped stream via
    # two broadcast dimension joins (quiet noop best-of-2 at sf1.0:
    # 105.2 s, vs 119.6 s for the UNCAPPED r9 shape — the narrow sort
    # is cheaper than materializing the full pair set). The window
    # itself adds no exchange (the join output is already hash
    # partitioned by a.p_partkey = part_a from the explicit probe-side
    # repartition), and Spark plants WindowGroupLimit, so each
    # partition keeps only its per-group top-N through the sort.
    narrow = joined.select(
        F.col("a.p_partkey").alias("part_a"),
        F.col("b.p_partkey").alias("part_b"),
        dist.cast("long").alias("edit_dist"),
    )
    w = Window.partitionBy("part_a").orderBy("edit_dist", "part_b")
    capped = (
        narrow.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .drop("rn")
    )
    na = part.select(
        F.col("p_partkey").alias("part_a"), F.col("p_name").alias("name_a")
    )
    nb = part.select(
        F.col("p_partkey").alias("part_b"), F.col("p_name").alias("name_b")
    )
    return (
        capped.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .select(
            "part_a", "part_b", "name_a", "name_b", "edit_dist"
        )
        .orderBy("part_a", "part_b")
    )


# ---------------------------------------------------------------------------
# c19 — cross-source duplicate matrix (which corpora overlap, and how much)
# ---------------------------------------------------------------------------
#: Minimum MinHash estimate for a candidate pair to count as a
#: duplicate in the matrix — 0.5 = 8 of 16 hashes agree.
_XSRC_EST_MIN = 0.5


def _xsrc_oracle() -> str:
    return f"""
    {_sig_cte()},
    {_cand_cte()},
    est AS (SELECT c.da, c.db, ({_AGREE}) / 16.0 AS est
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.da
            JOIN sig sb ON sb.doc_id = c.db),
    pe AS (SELECT LEAST(a.source, b.source) AS source_lo,
                  GREATEST(a.source, b.source) AS source_hi,
                  e.est
           FROM est e
           JOIN documents a ON a.doc_id = e.da
           JOIN documents b ON b.doc_id = e.db
           WHERE e.est >= {_XSRC_EST_MIN})
    SELECT source_lo, source_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {pround_sql('SUM(est) / COUNT(*)', 6)} AS avg_est
    FROM pe
    GROUP BY source_lo, source_hi
    ORDER BY source_lo, source_hi
    """


@query("c19_cross_source_dup_matrix", oracle=_xsrc_oracle())
def c19_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-overlap matrix: for every (unordered) pair of corpus
    sources, how many LSH candidate pairs estimate jaccard >= 0.5 and
    their mean estimate — the table that decides WHICH corpora need
    cross-deduplication before a training run (a src_a x src_b cell
    with thousands of pairs means those two crawls overlap; the
    diagonal measures within-source redundancy).

    Scale: the pair stream is c02's banded equi-join (never all
    pairs); the estimate threshold filters it to duplicate-grade pairs
    BEFORE the two doc_id->source equi-joins, and the final aggregate
    is bounded by |sources|² groups — map-side combinable. The mean
    estimate sums dyadic rationals (k/16 doubles, exactly
    representable), so it is order-exact under any partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    est = shared_pairs(spark, sf_dir).select(
        "da", "db", (F.col("agree") / 16.0).alias("est")
    ).filter(F.col("est") >= _XSRC_EST_MIN)
    src = docs.select("doc_id", "source")
    pe = (
        est.join(src.alias("qa"), F.col("da") == F.col("qa.doc_id"))
        .join(src.alias("qb"), F.col("db") == F.col("qb.doc_id"))
        .select(
            F.least(F.col("qa.source"), F.col("qb.source")).alias("source_lo"),
            F.greatest(F.col("qa.source"), F.col("qb.source")).alias("source_hi"),
            "est",
        )
    )
    return (
        pe.groupBy("source_lo", "source_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            pround(F.sum("est") / F.count(F.lit(1)), 6).alias("avg_est"),
        )
        .orderBy("source_lo", "source_hi")
    )


# ---------------------------------------------------------------------------
# c20 — containment pairs (subset-style duplicates jaccard under-scores)
# ---------------------------------------------------------------------------
#: Minimum one-sided containment |A∩B|/|A| for a candidate pair to be
#: reported — catches copy-paste-plus-expansion duplicates whose
#: symmetric jaccard is diluted by the longer document.
_CONT_MIN = 0.8

#: ENFORCED emission bound (the c04 stop-shingle precedent): at most
#: this many qualifying pairs are emitted per doc_a, strongest-first
#: (max one-sided containment descending, then doc_b — i*1.0/na is
#: the same IEEE double on both engines, so the order is total and
#: portable). The suppression decision downstream needs only the
#: strongest containments per document, and the uncapped set grows
#: quadratically on a dense corpus (measured round 9: 690 M pairs at
#: sf1.0); with the cap the result is ≤ N·|docs| at any scale. The
#: Spark plan and the registered oracle read the same constant.
_C20_TOPN = 8


def _containment_oracle(top_n: int) -> str:
    return f"""
    {_sig_cte()},
    {_cand_cte()},
    toksets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
                FROM documents),
    iu AS (SELECT c.da, c.db,
                  len(list_intersect(ta.toks, tb.toks)) AS i,
                  len(ta.toks) AS na, len(tb.toks) AS nb
           FROM cand c
           JOIN toksets ta ON ta.doc_id = c.da
           JOIN toksets tb ON tb.doc_id = c.db)
    SELECT da AS doc_a, db AS doc_b,
           CAST(na AS BIGINT) AS size_a, CAST(nb AS BIGINT) AS size_b,
           CAST(i AS BIGINT) AS n_common,
           {pround_sql('i * 1.0 / na', 6)} AS containment_ab,
           {pround_sql('i * 1.0 / nb', 6)} AS containment_ba
    FROM iu
    WHERE GREATEST(i * 1.0 / na, i * 1.0 / nb) >= {_CONT_MIN}
    QUALIFY ROW_NUMBER() OVER (PARTITION BY da ORDER BY GREATEST(i * 1.0 / na, i * 1.0 / nb) DESC, db) <= {top_n}
    """


@query("c20_containment_pairs", oracle=_containment_oracle(_C20_TOPN))
def c20_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric token-set containment for LSH candidate pairs:
    |A∩B|/|A| and |A∩B|/|B|, reported when either side is >= 0.8 —
    the measure that catches SUBSET duplication (document B embeds all
    of document A plus new material), which symmetric jaccard
    under-scores in proportion to the length gap. A dedup pipeline
    suppresses the contained side; c08's jaccard verify would let these
    pairs through.

    Scale: identical containment argument to c08 — the exact set
    measure runs ONLY on the banded candidate set (output-bound, never
    all pairs), token sets arrive via two doc_id equi-joins against a
    persisted projection, and the intersect/size arithmetic is per-row
    codegen. Ratios are 6dp-rounded on both engines. No ORDER BY
    (c08's precedent): the output feeds a suppression decision, the
    gate's value hash is order-insensitive, and a global sort of the
    O(candidates) pair stream would dwarf the measure itself on
    duplicate-heavy corpora.

    Shape note (measured, round 7): carrying the token arrays THROUGH
    the band self-join (c02's compute-inline trick, which removes both
    pair-stream re-joins) is 2.6x SLOWER here — 19.0 s vs 7.3 s at
    sf0.1 in an A/B session — because the ~60-element arrays widen
    every cached signature row scanned 4x (2 bands x 2 sides) and
    every band-join shuffle row, while the pair-stream re-joins move
    only (da, db) plus 16-byte keys. Inline-compute wins for the
    fixed-width agree-count (c02); projection-join wins for wide
    payloads. Round 8 cut the projection-join shape a further ~3x by
    (a) reading the session-shared persisted candidate stream instead
    of rebuilding it and (b) intersecting int64-hashed token sets
    instead of string arrays (see shared_toksets — sizes are all the
    containment ratios need): 7.3 s -> ~2.5 s at sf0.1.

    Round-9 10x scale check (sf0.1 -> sf1.0): the candidate stream
    grew 100.7x (7.76 M -> 782 M pairs — the fixture's 30-token
    vocabulary puts random-pair jaccard near 0.7, so band collisions
    densify quadratically) and the UNCAPPED output grew 101.7x
    (6.79 M -> 690 M pairs), while wall time grew 76.6x (2.43 ->
    186 s) — sub-linear in both, which is the floor for a query whose
    result IS the qualifying pair set. Round 10 added the ENFORCED
    emission bound (_C20_TOPN strongest containments per doc_a): the
    candidate-stream cost is unchanged (band width / _CONT_MIN remain
    the compute levers), but emission is ≤ N·|docs| at any scale, so
    downstream suppression and the sink never see the quadratic
    regime. The round-10 build paid a full re-shuffle of the ~690
    M-row qualifying stream for the top-N window (sf1.0 noop
    best-of-2: 238 s capped vs 186 s uncapped, +28%); round 11
    reordered the tokset joins (db-side first, da-side LAST) so the
    da join's own exchange satisfies the window's clustering and the
    cap costs only a LOCAL sort + WindowGroupLimit — no exchange,
    plan-pinned (tests/test_plans.py). Measured at sf1.0 (round 11,
    same-session best-of-2; the numbers and the r12/r13 re-measures
    are recorded in COVERAGE.md, OPTIMIZATION_r12.md and
    OPTIMIZATION_r13.md):
    reordered-capped 454 s vs round-10-capped 495 s with
    bit-identical emission (396,810 rows). Round 12 re-measured the
    cap's residual with a per-rep INTERLEAVED C,A,C,A protocol on an
    exclusive host (the r11 session's ambient load swung 2-4x):
    best-of-2 uncapped 460.0 s vs capped 469.0 s — **+2.0%**, inside
    rep noise (rep 1 ran the capped variant FASTER); the local sort
    of the qualifying stream is the remaining price. A NOOP
    sink is the only sink the cap loses to — any real
    write/downstream consumer of the uncapped pair set costs far
    more (round-10 count-protocol A/B: capped 345 s vs uncapped
    583 s end-to-end)."""
    return _c20_frame(spark, sf_dir, _C20_TOPN)


def _c20_frame(spark: SparkSession, sf_dir: str, top_n: int) -> DataFrame:
    cand = shared_pairs(spark, sf_dir).select("da", "db")
    toksets = shared_toksets(spark, sf_dir)
    ta, tb = toksets.alias("ta"), toksets.alias("tb")
    # Join ORDER is load-bearing (round 11, the round-10 verdict's #2):
    # the db-side tokset join runs FIRST and the da-side join LAST, so
    # when the joins are shuffle joins (any corpus too big to
    # broadcast) the final exchange is keyed by da — exactly the
    # clustering the emission-cap window below requires, so
    # EnsureRequirements elides the window's own exchange and the cap
    # costs one LOCAL sort instead of a third full-stream shuffle of
    # the qualifying pairs (the round-10 capped shape paid that
    # shuffle: measured 238 s vs 186 s uncapped at sf1.0 — see the
    # docstring for this round's A/B of the reordered shape).
    #
    # Project the intersection size ONCE per pair before the filter:
    # array_intersect over ~60-token sets is the per-pair unit cost,
    # and referencing it from both ratios plus the threshold predicate
    # across a filter/project boundary would evaluate it three times.
    iu = (
        cand.join(tb, F.col("db") == F.col("tb.doc_id"))
        .join(ta, F.col("da") == F.col("ta.doc_id"))
        .select(
            "da", "db",
            F.size(F.array_intersect(F.col("ta.toks"), F.col("tb.toks")))
            .alias("i"),
            F.size(F.col("ta.toks")).alias("na"),
            F.size(F.col("tb.toks")).alias("nb"),
        )
    )
    c_ab = F.col("i") * 1.0 / F.col("na")
    c_ba = F.col("i") * 1.0 / F.col("nb")
    # Strongest-N containments per doc_a over the QUALIFYING pairs only
    # (the >= _CONT_MIN filter runs first). NO new exchange: the
    # da-side tokset join above already clustered the stream by da (see
    # the join-order note), so this window plans as a local sort +
    # WindowGroupLimit on the join's own partitioning (plan-pinned by
    # tests/test_plans.py).
    w = Window.partitionBy("da").orderBy(F.greatest(c_ab, c_ba).desc(), "db")
    capped = (
        iu.filter(F.greatest(c_ab, c_ba) >= _CONT_MIN)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .drop("rn")
    )
    return capped.select(
        F.col("da").alias("doc_a"),
        F.col("db").alias("doc_b"),
        F.col("na").cast("long").alias("size_a"),
        F.col("nb").cast("long").alias("size_b"),
        F.col("i").cast("long").alias("n_common"),
        pround(c_ab, 6).alias("containment_ab"),
        pround(c_ba, 6).alias("containment_ba"),
    )


# ---------------------------------------------------------------------------
# c21 — candidate-graph degree profile (the dedup graph's skew census)
# ---------------------------------------------------------------------------
def _degree_oracle() -> str:
    return f"""
    {_sig_cte()},
    {_cand_cte()},
    ends AS (SELECT da AS doc_id FROM cand
             UNION ALL
             SELECT db AS doc_id FROM cand),
    deg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
            FROM ends GROUP BY doc_id),
    hist AS (SELECT CAST(length(bin(degree)) AS INT) AS log2_bucket,
                    CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(MAX(degree) AS BIGINT) AS max_degree,
                    CAST(SUM(degree) AS BIGINT) AS total_edge_ends
             FROM deg GROUP BY 1),
    zero AS (SELECT CAST(0 AS INT) AS log2_bucket,
                    CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(0 AS BIGINT) AS max_degree,
                    CAST(0 AS BIGINT) AS total_edge_ends
             FROM documents d
             WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.doc_id = d.doc_id)),
    u AS (SELECT * FROM hist UNION ALL SELECT * FROM zero)
    SELECT log2_bucket,
           CASE WHEN log2_bucket > 0
                THEN CAST(1 AS BIGINT) << (log2_bucket - 1)
                ELSE CAST(0 AS BIGINT) END AS bucket_lo,
           n_docs, max_degree, total_edge_ends
    FROM u WHERE n_docs > 0
    ORDER BY log2_bucket
    """


@query("c21_candidate_degree_profile", oracle=_degree_oracle())
def c21_candidate_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the c02 LSH candidate graph on power-of-two
    buckets (bucket b holds docs with 2^(b-1) <= degree < 2^b; bucket 0
    is the never-paired docs, counted via anti-join so the census is
    lossless over the whole corpus). This is the skew diagnosis for the
    dedup pipeline itself: a fat tail here means some band bucket is
    quadratic-heavy and the banding knobs (width, stop-shingle caps)
    need tightening BEFORE the verify/cluster stages run — the c16
    pair-cost spectrum aggregated to the per-document view.

    Scale: the pair stream is band-bounded (c02's argument) and read
    from the session-shared persisted candidate artifact (MEMORY_AND_
    DISK — the pipeline's checkpoint, spilling rather than failing when
    it outgrows memory); the degree census is one map-side-combinable
    count keyed by doc_id, and the histogram collapses to <= ~40
    buckets. The census's own shuffles are the doc_id groupBy and the
    metadata-sized histogram aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = shared_pairs(spark, sf_dir)
    # Each pair contributes both endpoints: explode the 2-element array
    # instead of a self-union, so the (cached) candidate stream is
    # scanned ONCE, not twice (round 12, guide §2.4 — plan audit showed
    # the union duplicating the whole pair-stream subtree).
    ends = pairs.select(
        F.explode(F.array(F.col("da"), F.col("db"))).alias("doc_id")
    )
    deg = persist_tracked(
        ends.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    hist = deg.groupBy(
        F.length(F.bin("degree")).cast("int").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("degree").cast("long").alias("max_degree"),
        F.sum("degree").cast("long").alias("total_edge_ends"),
    )
    zero = (
        docs.join(deg, "doc_id", "left_anti")
        .agg(
            F.lit(0).cast("int").alias("log2_bucket"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.lit(0).cast("long").alias("max_degree"),
            F.lit(0).cast("long").alias("total_edge_ends"),
        )
    )
    return (
        hist.unionAll(zero)
        .filter(F.col("n_docs") > 0)
        .select(
            "log2_bucket",
            F.when(
                F.col("log2_bucket") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), log2_bucket - 1)"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("bucket_lo"),
            "n_docs", "max_degree", "total_edge_ends",
        )
        .orderBy("log2_bucket")
    )


# ---------------------------------------------------------------------------
# c22 — exact-duplicate group-size histogram (where the redundant mass sits)
# ---------------------------------------------------------------------------
@query(
    "c22_dup_group_histogram",
    oracle="""
    WITH g AS (SELECT text, CAST(COUNT(*) AS BIGINT) AS group_size
               FROM documents GROUP BY text),
    b AS (SELECT CAST(length(bin(group_size)) AS INT) AS log2_bucket,
                 group_size
          FROM g)
    SELECT log2_bucket,
           CAST(1 AS BIGINT) << (log2_bucket - 1) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(group_size) AS BIGINT) AS n_docs,
           CAST(SUM(group_size) - COUNT(*) AS BIGINT) AS n_redundant
    FROM b
    GROUP BY log2_bucket
    ORDER BY log2_bucket
    """,
)
def c22_dup_group_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate group-size histogram on power-of-two buckets:
    for each size band, how many identical-content groups exist, how
    many documents they hold, and how many of those are redundant
    (group size minus the one canonical copy). The planning view on
    top of c01: bucket 1 is the unique long tail, the top buckets are
    the boilerplate explosions — and Σ n_redundant is exactly the doc
    count c01's canonicalization removes, which prices the dedup stage
    before anyone runs it (m06's reclaimable-bytes argument at the
    document level).

    Scale: one content-keyed count (grouped on the full text here for
    oracle parity; on a 128-bit digest in production, c01's note) then
    a metadata-sized histogram aggregate — ~40 buckets regardless of
    corpus size, both shuffles map-side combinable."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("text").agg(
        F.count(F.lit(1)).cast("long").alias("group_size")
    )
    return (
        g.groupBy(
            F.length(F.bin("group_size")).cast("int").alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("group_size").cast("long").alias("n_docs"),
            (F.sum("group_size") - F.count(F.lit(1))).cast("long")
            .alias("n_redundant"),
        )
        .select(
            "log2_bucket",
            F.expr("shiftleft(CAST(1 AS BIGINT), log2_bucket - 1)")
            .cast("long").alias("bucket_lo"),
            "n_groups", "n_docs", "n_redundant",
        )
        .orderBy("log2_bucket")
    )


# ---------------------------------------------------------------------------
# c23 — SimHash bit-bias census (fingerprint-health QA)
# ---------------------------------------------------------------------------
@query(
    "c23_simhash_bit_bias",
    oracle=f"""{_simhash_fp_cte()},
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM fp),
    b AS (SELECT CAST(g.bit AS INTEGER) AS bit,
                 CAST(SUM((fp.simhash >> g.bit) & 1) AS BIGINT) AS n_ones
          FROM fp CROSS JOIN range(0, {_SIM_BITS}) g(bit)
          GROUP BY g.bit)
    SELECT bit, n_ones,
           CAST(n_docs - n_ones AS BIGINT) AS n_zeros,
           floor((CAST(n_ones AS DOUBLE) / n_docs) * 1000000.0 + 0.5)
               / 1000000.0 AS ones_share,
           floor(abs(CAST(n_ones AS DOUBLE) / n_docs - 0.5)
                 * 1000000.0 + 0.5) / 1000000.0 AS bias
    FROM b, tot
    ORDER BY bit
    """,
)
def c23_simhash_bit_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint-health census: for each of the 32 bits, how
    many fingerprints set it, the ones-share, and the absolute bias
    from the ideal 0.5 — a biased bit carries less than one bit of
    hamming-distance resolution (always-1 or always-0 bits make
    DIFFERENT documents collide), so this is the screen that validates
    c03's hamming blocks actually discriminate, the c16/d17 QA move
    applied to the fingerprint itself.

    Scale: the fingerprint build is c03's shared linear pass (one
    explode + one doc_id groupBy); the census explodes each 64-bit
    word into 32 (bit, value) pairs AT the projection — constant 32x
    fan-out of |docs| rows, never data-dependent — and collapses
    map-side into a 32-cell integer aggregate with one broadcast
    scalar total. All integers until the two 6dp shares."""
    fp = shared_simhash_fp(spark, sf_dir)
    tot = fp.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    bits = fp.select(
        F.explode(F.sequence(F.lit(0), F.lit(_SIM_BITS - 1))).alias("bit"),
        "simhash",
    ).select(
        F.col("bit").cast("int").alias("bit"),
        F.expr("CAST(shiftright(simhash, bit) & 1 AS BIGINT)").alias("v"),
    )
    share = F.col("n_ones").cast("double") / F.col("n_docs")
    return (
        bits.groupBy("bit")
        .agg(F.sum("v").cast("long").alias("n_ones"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bit", "n_ones",
            (F.col("n_docs") - F.col("n_ones")).cast("long")
            .alias("n_zeros"),
            pround(share, 6).alias("ones_share"),
            pround(F.abs(share - 0.5), 6).alias("bias"),
        )
        .orderBy("bit")
    )

# ---------------------------------------------------------------------------
# c24 — duplicate label-conflict audit (one-row CI gate)
# ---------------------------------------------------------------------------
@query(
    "c24_dup_label_conflicts",
    oracle="""
    WITH g AS (SELECT md5(text) AS digest,
                      CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                      CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
               FROM documents GROUP BY digest)
    SELECT CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_groups,
           CAST(SUM(CASE WHEN n_docs > 1 THEN n_docs ELSE 0 END)
                AS BIGINT) AS n_docs_in_dups,
           CAST(SUM(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lang_conflicts,
           CAST(SUM(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_source_conflicts,
           CAST(MAX(n_langs) AS BIGINT) AS max_langs_per_group,
           CAST(MAX(n_sources) AS BIGINT) AS max_sources_per_group
    FROM g
    """,
)
def c24_dup_label_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row label-conflict audit over exact-duplicate groups: how
    many duplicate groups exist, how many carry CONFLICTING language
    labels (identical bytes cannot be two languages — a direct label
    error), and how many span multiple sources (legitimate syndication,
    but the reason c01's keep-one changes per-source budgets). This is
    the CI gate a curation pipeline asserts on before trusting c01's
    canonicalization and p01's per-language/per-source budgets; m06
    holds the per-group detail, this row is the alarm condition.

    Scale: one content-keyed groupBy (digest, never payload, moves)
    into per-group distinct-label counts, then ONE whole-table
    aggregate to the single audit row — both map-side combinable,
    output constant-size."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select(F.md5("text").alias("digest"), "lang", "source")
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
    )
    return g.agg(
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).cast("long")
        .alias("n_dup_groups"),
        F.sum(F.when(F.col("n_docs") > 1, F.col("n_docs")).otherwise(0))
        .cast("long").alias("n_docs_in_dups"),
        F.sum(F.when(F.col("n_langs") > 1, 1).otherwise(0)).cast("long")
        .alias("n_lang_conflicts"),
        F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0)).cast("long")
        .alias("n_source_conflicts"),
        F.max("n_langs").cast("long").alias("max_langs_per_group"),
        F.max("n_sources").cast("long").alias("max_sources_per_group"),
    )


# ---------------------------------------------------------------------------
# c25 — minhash function-family health census (row-stats QA)
# ---------------------------------------------------------------------------
def _c25_oracle() -> str:
    arms = "\n        UNION ALL\n".join(
        f"        SELECT {i} AS fn_idx, h{i} AS hv FROM sig"
        for i in range(_N_HASHES)
    )
    return f"""{_sig_cte()},
    u AS (
{arms}
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM sig),
    topv AS (SELECT fn_idx, CAST(MAX(c) AS BIGINT) AS top_value_count
             FROM (SELECT fn_idx, hv, COUNT(*) AS c FROM u
                   GROUP BY fn_idx, hv)
             GROUP BY fn_idx)
    SELECT u.fn_idx,
           CAST(COUNT(DISTINCT u.hv) AS BIGINT) AS n_distinct,
           CAST(MIN(u.hv) AS BIGINT) AS min_value,
           CAST(MAX(u.hv) AS BIGINT) AS max_value,
           MAX(t.top_value_count) AS top_value_count,
           floor((CAST(COUNT(DISTINCT u.hv) AS DOUBLE) / MAX(tot.n_docs))
                 * 1000000.0 + 0.5) / 1000000.0 AS distinct_ratio
    FROM u, tot JOIN topv t ON t.fn_idx = u.fn_idx
    GROUP BY u.fn_idx
    ORDER BY u.fn_idx
    """


@query("c25_minhash_fn_stats", oracle=_c25_oracle())
def c25_minhash_fn_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash function-family health census: for each of the 16 hash
    functions, the distinct signature values across the corpus, the
    value range, the heaviest single value's document count, and the
    distinct-to-docs ratio — a degenerate function (few distinct
    values, or one value absorbing a large doc mass) inflates c02's
    band-collision rate with FALSE candidates, so this is the screen
    that validates the family before trusting the LSH pair stream.
    Completes the sketch-health series: c23 audits simhash bits, d19
    PQ codes, d14 IVF cells — this audits the minhash rows themselves.

    Scale: signatures are c02's shared one-shuffle build; the census
    unpivots the 16 columns AT the projection (constant 16x fan-out of
    |docs| signature rows, never token-scaled) into ONE (fn, value)-
    keyed count (map-side combinable; bounded by distinct signature
    values), from which a 16-group rollup reads every statistic —
    n_distinct is the per-fn row count of that grouping, min/max over
    its keys equal min/max over the raw values, and the heavy-value
    probe is its max count. One unpivot scan + one shuffle (round 12;
    previously a second countDistinct path re-scanned and re-shuffled
    the same 16x stream — interleaved A/B 1.40 s → 0.95 s at sf0.1).
    All integers until the one 6dp ratio."""
    sig = shared_sig(spark, sf_dir)
    stack_expr = "stack({n}, {args}) AS (fn_idx, hv)".format(
        n=_N_HASHES,
        args=", ".join(
            f"CAST({i} AS BIGINT), h{i}" for i in range(_N_HASHES)
        ),
    )
    u = sig.select(F.expr(stack_expr))
    tot = sig.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    per_val = u.groupBy("fn_idx", "hv").agg(F.count(F.lit(1)).alias("c"))
    stats = per_val.groupBy("fn_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.min("hv").cast("long").alias("min_value"),
        F.max("hv").cast("long").alias("max_value"),
        F.max("c").cast("long").alias("top_value_count"),
    )
    return (
        stats.crossJoin(F.broadcast(tot))
        .select(
            "fn_idx", "n_distinct", "min_value", "max_value",
            "top_value_count",
            pround(
                F.col("n_distinct").cast("double") / F.col("n_docs"), 6
            ).alias("distinct_ratio"),
        )
        .orderBy("fn_idx")
    )


# ---------------------------------------------------------------------------
# c26 — LSH band-plan S-curve (the (bands, rows) knob-planning table)
# ---------------------------------------------------------------------------
#: Alternative (bands, rows-per-band) splits of the 16-hash signature.
#: The deployed config is 4x4 (c02); the curve evaluates every split
#: against the OBSERVED pair-similarity mass so re-banding is a table
#: read, not a guess.
_CURVE_CONFIGS = ((2, 8), (4, 4), (8, 2), (16, 1))


def _sq_chain(base: str, n: int) -> str:
    """``base`` raised to power-of-two ``n`` by textual repeated
    squaring — every step an exactly-specified IEEE multiply, and the
    SAME generated text feeds both engines, so the doubles match
    bit-for-bit (no libm ``pow``, whose rounding is engine-specific)."""
    expr, k = base, 1
    while k < n:
        expr = f"({expr} * {expr})"
        k *= 2
    return expr


def _curve_exprs(b: int, r: int) -> tuple[str, str]:
    """(capture6, miss6) expression strings over column ``exact_r`` for
    the S-curve P[caught] = 1 - (1 - s^r)^b at config (b, r)."""
    miss = _sq_chain(f"(1.0 - {_sq_chain('exact_r', r)})", b)
    from ..functions.aggregates import pround_sql

    return pround_sql(f"1.0 - {miss}", 6), pround_sql(miss, 6)


def _c26_oracle() -> str:
    arms = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({b} AS INT) AS n_bands,"
        f" CAST({r} AS INT) AS rows_per_band, exact_r,"
        f" {_curve_exprs(b, r)[0]} AS cap6,"
        f" {_curve_exprs(b, r)[1]} AS miss6 FROM per"
        for b, r in _CURVE_CONFIGS
    )
    return f"""
    {_sig_cte()},
    {_cand_cte()},
    sample AS (SELECT e.da, e.db FROM cand e
               WHERE ({_pair_sample_hash_sql()})
                     % ({_cal_sample_mod_sql()}) = 0),
    toksets AS (SELECT doc_id, list_distinct(string_split(text, ' '))
                    AS toks
                FROM documents),
    per AS (SELECT floor((len(list_intersect(ta.toks, tb.toks)) * 1.0
                          / (len(ta.toks) + len(tb.toks)
                             - len(list_intersect(ta.toks, tb.toks))))
                         * 1000000.0 + 0.5) / 1000000.0 AS exact_r
            FROM sample s
            JOIN toksets ta ON ta.doc_id = s.da
            JOIN toksets tb ON tb.doc_id = s.db),
    u AS (
    {arms}
    )
    SELECT n_bands, rows_per_band,
           LEAST(CAST(floor(exact_r * 10) AS INT), 9) AS jac_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           floor((CAST(SUM(CAST(cap6 AS DECIMAL(25,6))) AS DOUBLE)
                  / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0
               AS mean_capture,
           CAST(SUM(CAST(miss6 AS DECIMAL(25,6))) AS DOUBLE)
               AS expected_missed
    FROM u
    GROUP BY n_bands, rows_per_band, jac_decile
    ORDER BY n_bands, jac_decile
    """


@query("c26_lsh_band_plan_curve", oracle=_c26_oracle())
def c26_lsh_band_plan_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding S-curve evaluated on the corpus itself: for every
    split of the 16-hash signature into (bands × rows-per-band) —
    16×1, 8×2, 4×4 (deployed, c02), 2×8 — and every exact-jaccard
    decile of the calibration pair sample, the theoretical capture
    probability P[candidate] = 1 − (1 − s^r)^b averaged over the
    OBSERVED similarity mass, plus the expected number of sampled
    pairs each config would miss. c14 reports how far the estimator
    sits from truth; THIS table says what re-banding buys: how much
    of the corpus's actual similarity distribution each (b, r) knob
    would catch — the planner read before changing c02's band layout
    or c18's blocking keys. (The sample is conditioned on the deployed
    4×4 candidate stream — the standard planner frame when corpus-wide
    ground-truth pair similarity is unaffordable; c25's per-function
    health census guards the signature family itself.)

    Scale: rides the session-shared candidate stream and token sets
    (shared_pairs / shared_toksets — zero new corpus scans) and
    re-uses c14's DERIVED sample modulus (Carter-Wegman int64 pair
    hash, sample bounded ~500k at ANY corpus size), so the expensive
    exact-jaccard stage is sample-bounded; the 4-config fan-out
    multiplies the bounded SAMPLE (stack on ≤500k rows), never the
    corpus. The S-curve powers are TEXTUALLY GENERATED repeated-square
    multiplies evaluated identically on both engines (no libm pow);
    per-pair probabilities are 6dp floor-quantized, then accumulated
    as exact DECIMAL(25,6) into a ≤ 4·10-row report — bit-portable
    and mergeable across any partitioning."""
    pairs = shared_pairs(spark, sf_dir)
    mod = _cal_sample_mod(shared_pairs_count(spark, sf_dir))
    sample = pairs.select("da", "db").filter(
        F.pmod(_pair_sample_hash(), F.lit(mod)) == 0
    )
    toksets = shared_toksets(spark, sf_dir)
    ta, tb = toksets.alias("ta"), toksets.alias("tb")
    inter = F.size(F.array_intersect(F.col("ta.toks"), F.col("tb.toks")))
    union = F.size(F.col("ta.toks")) + F.size(F.col("tb.toks")) - inter
    per = (
        sample.join(ta, F.col("da") == F.col("ta.doc_id"))
        .join(tb, F.col("db") == F.col("tb.doc_id"))
        .select(pround(inter * 1.0 / union, 6).alias("exact_r"))
    )
    proj = per.select(
        "exact_r",
        *[
            F.expr(e).alias(f"{kind}_{b}_{r}")
            for b, r in _CURVE_CONFIGS
            for kind, e in zip(("cap", "miss"), _curve_exprs(b, r))
        ],
    )
    stack_args = ", ".join(
        f"CAST({b} AS INT), CAST({r} AS INT), cap_{b}_{r}, miss_{b}_{r}"
        for b, r in _CURVE_CONFIGS
    )
    u = proj.selectExpr(
        "LEAST(CAST(floor(exact_r * 10) AS INT), 9) AS jac_decile",
        f"stack({len(_CURVE_CONFIGS)}, {stack_args})"
        " AS (n_bands, rows_per_band, cap6, miss6)",
    )
    dec = "decimal(25,6)"
    return (
        u.groupBy("n_bands", "rows_per_band", "jac_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            pround(
                F.sum(F.col("cap6").cast(dec)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_capture"),
            F.sum(F.col("miss6").cast(dec)).cast("double")
            .alias("expected_missed"),
        )
        .orderBy("n_bands", "jac_decile")
    )


# ---------------------------------------------------------------------------
# c27 — dedup-rate threshold sweep (what τ does to corpus size)
# ---------------------------------------------------------------------------
#: Candidate thresholds in agreeing-minhash sixteenths: est_jaccard
#: t/16 for t = 8..16 (0.5 .. 1.0). The pipeline's deployed near-dup
#: gate is 14/16 (queries/pipeline.py greedy suppression).
_SWEEP_MIN_T = 8
_SWEEP_TS = tuple(range(_SWEEP_MIN_T, 17))


def _c27_oracle() -> str:
    removed_arms = ", ".join(
        f"CAST(SUM(CASE WHEN max_agree >= {t} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS rem_{t}"
        for t in _SWEEP_TS
    )
    pair_arms = ", ".join(
        f"CAST(SUM(CASE WHEN agree >= {t} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS prs_{t}"
        for t in _SWEEP_TS
    )
    arms = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({t} AS INT) AS threshold_16ths,"
        f" prs_{t} AS n_pairs, rem_{t} AS n_docs_removed"
        " FROM rh CROSS JOIN ph"
        for t in _SWEEP_TS
    )
    return f"""
    {_sig_cte()},
    {_cand_cte()},
    ag AS (SELECT c.da, c.db, ({_AGREE}) AS agree
           FROM cand c
           JOIN sig sa ON sa.doc_id = c.da
           JOIN sig sb ON sb.doc_id = c.db),
    mx AS (SELECT db, MAX(agree) AS max_agree FROM ag GROUP BY db),
    rh AS (SELECT {removed_arms} FROM mx),
    ph AS (SELECT {pair_arms} FROM ag),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    u AS (
    {arms}
    )
    SELECT threshold_16ths,
           floor((threshold_16ths / 16.0) * 1000000.0 + 0.5) / 1000000.0
               AS est_threshold,
           n_pairs, n_docs_removed,
           n_docs - n_docs_removed AS n_docs_kept,
           floor((CAST(n_docs - n_docs_removed AS DOUBLE) / n_docs)
                 * 1000000.0 + 0.5) / 1000000.0 AS kept_share
    FROM u CROSS JOIN tot
    ORDER BY threshold_16ths
    """


@query("c27_dedup_threshold_sweep", oracle=_c27_oracle())
def c27_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-rate threshold sweep: for every candidate near-dup gate
    t/16 (t = 8..16), the qualifying candidate-pair count, the exact
    number of documents the p-funnel's greedy min-id suppression RULE
    would remove at that gate when applied to the FULL-corpus candidate
    stream (a doc is removed iff it pairs at ≥ t with a smaller
    doc_id), surviving docs, and the kept share. Note the frame: the
    deployed funnel (queries/pipeline.py) runs near-dedup only AFTER
    its quality gate, language gate, and exact dedup, so at any t this
    sweep also counts exact duplicates and gate-rejected docs the
    funnel never reaches stage 4 with — n_docs_removed is an UPPER
    BOUND on the funnel's stage-4 removals, priced over the whole
    corpus — the corpus-size-vs-threshold curve read next to c26's
    capture probabilities and c14's estimator error before committing
    a τ: c26 says what a band plan CATCHES, c14 how far the estimate
    sits from truth, THIS says what the gate COSTS in corpus mass.

    Scale: one pass over the session-shared candidate stream
    (shared_pairs — zero new corpus scans): a per-victim MAX(agree)
    reduce (map-side combinable, ≤ |docs| rows) and a 16-cell agree
    histogram, each collapsed to ONE row carrying every ladder arm as
    conditional int64 sums (the p25 no-rescan discipline — the ladder
    never multiplies the pair stream); the 9-row table is assembled by
    stacking two one-row aggregates against a broadcast doc total.
    Every measure is exact integer arithmetic; the two ratios are
    dyadic/6dp-quantized — bit-portable under any partitioning."""
    pairs = shared_pairs(spark, sf_dir)
    # Tried and REVERTED (round 12): fusing the ladder into one per-db
    # grouping (max_agree + 9 conditional counts) so the pair totals
    # reduce the <= |docs|-row table instead of re-scanning pairs —
    # interleaved A/B at sf0.1 measured it ~45% SLOWER warm (0.8 s ->
    # 1.2 s): the global conditional aggregate over the CACHED pair
    # stream is map-side-total and nearly free, while widening the
    # per-victim groupBy's shuffle rows 10x costs real bytes (guide
    # §2.3 — the exchange, not the extra cached scan, is the price).
    mx = pairs.groupBy("db").agg(F.max("agree").alias("max_agree"))
    rh = mx.agg(
        *[
            F.sum((F.col("max_agree") >= t).cast("long")).cast("long")
            .alias(f"rem_{t}")
            for t in _SWEEP_TS
        ]
    )
    ph = pairs.agg(
        *[
            F.sum((F.col("agree") >= t).cast("long")).cast("long")
            .alias(f"prs_{t}")
            for t in _SWEEP_TS
        ]
    )
    tot = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    stack_args = ", ".join(
        f"CAST({t} AS INT), prs_{t}, rem_{t}" for t in _SWEEP_TS
    )
    u = (
        rh.crossJoin(F.broadcast(ph))
        .selectExpr(
            f"stack({len(_SWEEP_TS)}, {stack_args})"
            " AS (threshold_16ths, n_pairs, n_docs_removed)",
        )
    )
    return (
        u.crossJoin(F.broadcast(tot))
        .select(
            "threshold_16ths",
            pround(F.col("threshold_16ths") / 16.0, 6)
            .alias("est_threshold"),
            "n_pairs", "n_docs_removed",
            (F.col("n_docs") - F.col("n_docs_removed")).cast("long")
            .alias("n_docs_kept"),
            pround(
                (F.col("n_docs") - F.col("n_docs_removed")).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("kept_share"),
        )
        .orderBy("threshold_16ths")
    )
