"""Multimodal-column queries over fixture data (m-group).

The fixtures ship no media table, so the binary-column path is
exercised by treating document text as an opaque UTF-8 payload —
the same binary plumbing (encode → byte-level ops → typed metadata)
the operators/multimodal.py pipeline uses on synthesized media, which
is unit-tested separately (tests/test_multimodal.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.aggregates import pround
from ..functions.text import tokens
from ..sources.batch import load_table
from .registry import persist_tracked, query


@query(
    "m01_binary_payload_stats",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CAST(length(text) AS BIGINT) AS n_chars,
           md5(text) AS payload_md5,
           CAST(list_sum(list_transform(string_split(text, ''),
                                        c -> greatest(unicode(c), 0)))
                AS BIGINT)
               AS codepoint_sum
    FROM documents
    ORDER BY doc_id
    """,
)
def m01_binary_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload statistics: text → binary payload (encode), byte
    length vs char length, content hash, and a codepoint checksum via a
    higher-order fold — the metadata-promotion step of a multimodal
    ingest (bytes stay opaque; stats become typed columns)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
            F.length("text").cast("long").alias("n_chars"),
            F.md5("text").alias("payload_md5"),
            F.aggregate(
                F.split("text", ""),
                F.lit(0).cast("long"),
                lambda acc, c: acc + F.ascii(c),
            ).alias("codepoint_sum"),
        )
        .orderBy("doc_id")
    )


@query(
    "m02_payload_features_pandas",
    oracle="""
    WITH h AS (SELECT doc_id, text,
                      hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS n
               FROM documents),
    x AS (SELECT doc_id, text, n,
                 list_transform(
                     generate_series(1, n),
                     i -> CAST(('0x' || substr(hx, 2 * i - 1, 2))
                               AS INTEGER)) AS bl
          FROM h)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_bytes,
           substr(sha256(text), 1, 16) AS sha256_head,
           CASE WHEN n = 0 THEN 0.0
                ELSE list_sum(bl) * 1.0 / n END AS byte_mean,
           CAST(len(list_distinct(bl)) AS INTEGER) AS distinct_bytes
    FROM x
    ORDER BY doc_id
    """,
)
def m02_payload_features_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched (mapInPandas) byte-level feature extraction over
    binary payloads built from document text — the vectorized-Python
    decode path of the multimodal pipeline, and proof that even the
    pandas path is hash-gated: the DuckDB oracle reproduces every
    feature byte-for-byte (sha256 over the same UTF-8 bytes; byte mean
    and distinct count via hex-expansion of the encoded blob — exact
    integer sums, one identical double division)."""
    import hashlib
    from collections.abc import Iterator

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    schema = "doc_id bigint, n_bytes bigint, sha256_head string, byte_mean double, distinct_bytes int"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                if row.payload is None:
                    # NULL payload → every feature NULL (the oracle's
                    # encode(NULL)/sha256(NULL) behavior) — never a
                    # crash and never fake zero-features.
                    out.append((row.doc_id, None, None, None, None))
                    continue
                payload = bytes(row.payload)
                out.append(
                    (
                        row.doc_id,
                        len(payload),
                        hashlib.sha256(payload).hexdigest()[:16],
                        sum(payload) / len(payload) if payload else 0.0,
                        len(set(payload)),
                    )
                )
            frame = pd.DataFrame(
                out,
                columns=["doc_id", "n_bytes", "sha256_head", "byte_mean", "distinct_bytes"],
            )
            # Nullable dtypes so a None survives the Arrow handoff as a
            # typed null (plain object/float columns can't cast safely).
            frame["n_bytes"] = frame["n_bytes"].astype("Int64")
            frame["distinct_bytes"] = frame["distinct_bytes"].astype("Int32")
            yield frame

    return docs.mapInPandas(extract, schema).orderBy("doc_id")


@query(
    "m03_frame_sample_plan",
    oracle="""
    WITH v AS (SELECT doc_id AS media_id, n_chars AS duration_ms
               FROM documents WHERE doc_id % 5 = 0)
    SELECT media_id, duration_ms,
           unnest(range(0, CAST(duration_ms + 1 AS BIGINT), 100)) AS frame_ts_ms
    FROM v
    ORDER BY media_id, frame_ts_ms
    """,
)
def m03_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan (operators/multimodal.py sample_frames shape):
    one output row per sampled timestamp via sequence+explode — here
    driven by a deterministic fixture-derived duration (n_chars as
    milliseconds for every 5th document standing in for a video row) so
    the Spark-side explode arithmetic is oracle-checked; the per-frame
    decode is the stubbed codec step.

    Scale: explode of a bounded sequence is generator-based — it streams
    rows without materializing the frame list per video, and the
    sampled-frame count (duration/step) bounds output size by
    construction."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    return (
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.col("n_chars").alias("duration_ms"),
        )
        .select(
            "media_id",
            "duration_ms",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("duration_ms"), F.lit(100).cast("long"))
            ).alias("frame_ts_ms"),
        )
        .orderBy("media_id", "frame_ts_ms")
    )


@query(
    "m04_resize_plan",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id,
                      CASE WHEN doc_id % 3 = 0 THEN 'image'
                           WHEN doc_id % 3 = 1 THEN 'video'
                           ELSE 'audio' END AS kind,
                      CASE WHEN doc_id % 3 = 2 THEN NULL
                           ELSE CAST(160 + (doc_id * 7) % 1920 AS INTEGER)
                           END AS width,
                      CASE WHEN doc_id % 3 = 2 THEN NULL
                           ELSE CAST(90 + n_chars % 1080 AS INTEGER)
                           END AS height
               FROM documents),
    s AS (SELECT *,
                 least(1.0, 128 / CAST(greatest(width, height) AS DOUBLE))
                     AS scale
          FROM m)
    SELECT media_id, kind, width, height,
           CASE WHEN width IS NOT NULL
                THEN CAST(ceil(width * scale) AS INTEGER) END AS target_width,
           CASE WHEN height IS NOT NULL
                THEN CAST(ceil(height * scale) AS INTEGER) END AS target_height
    FROM s
    ORDER BY media_id
    """,
)
def m04_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning (the real ``operators/multimodal.resize_metadata``
    operator): aspect-preserving target dimensions under a 128-px cap,
    driven by deterministic fixture-derived metadata (every 3rd document
    stands in for image/video/audio; audio has no dimensions and must
    pass through as NULLs).

    Scale: pure column arithmetic over typed metadata — the payload
    bytes are never touched, so the scan prunes the heavy binary column
    (asserted for the operator in
    ``test_payload_pruned_for_metadata_only_plan``) and the plan is one
    codegen'd projection; the actual pixel resample happens later,
    batched, in the stubbed codec step."""
    from ..operators.multimodal import resize_metadata

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "video")
        .otherwise("audio")
        .alias("kind"),
        F.when(
            F.col("doc_id") % 3 != 2,
            (160 + (F.col("doc_id") * 7) % 1920).cast("int"),
        ).alias("width"),
        F.when(
            F.col("doc_id") % 3 != 2, (90 + F.col("n_chars") % 1080).cast("int")
        ).alias("height"),
    )
    return resize_metadata(media, max_dim=128).orderBy("media_id")


@query(
    "m05_crossmodal_join",
    oracle="""
    WITH d AS (SELECT doc_id, lang,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
    e AS (SELECT vec_id, label,
                 sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                              x -> x * x))) AS vnorm
          FROM embeddings)
    SELECT d.lang, e.label,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(e.vnorm AS DECIMAL(25,6))) AS DOUBLE) AS total_norm
    FROM d JOIN e ON e.vec_id = d.doc_id
    GROUP BY d.lang, e.label
    ORDER BY d.lang, e.label
    """,
)
def m05_crossmodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal alignment join: the text table and the embedding
    table co-keyed on document id, rolled up per (lang, label) with
    token totals and exact-decimal vector-norm totals — the join every
    multimodal training pipeline runs to marry captions/transcripts to
    their media embeddings.

    Scale: an equi-join of two co-keyed modality tables — written with
    the same key layout (bucketed/partitioned on id, the b30 machinery)
    it is exchange-free; here AQE picks the plan. The norm is a
    codegen'd higher-order fold (bit-identical to the oracle's linear
    list_sum, as d01 proves for cosine), and its SUM accumulates in
    decimal (dsum rule) so the rollup is partition-order-independent."""
    from ..functions.aggregates import dsum
    from ..functions.vectors import as_double, norm

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        norm(as_double(F.col("embedding"))).alias("vnorm"),
    )
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            dsum("vnorm", "total_norm"),
        )
        .orderBy("lang", "label")
    )


# ---------------------------------------------------------------------------
# m06 — binary payload dedup / storage-reclaim report
# ---------------------------------------------------------------------------
@query(
    "m06_payload_dedup",
    oracle="""
    WITH p AS (SELECT doc_id,
                      md5(text) AS payload_md5,
                      octet_length(encode(text)) AS n_bytes
               FROM documents),
    g AS (SELECT payload_md5,
                 CAST(COUNT(*) AS BIGINT) AS n_copies,
                 MIN(doc_id) AS canonical_id,
                 MIN(n_bytes) AS n_bytes,
                 array_to_string(list_sort(list(doc_id)), ',') AS replica_ids
          FROM p GROUP BY payload_md5)
    SELECT payload_md5, n_copies, n_copies > 1 AS is_duplicated,
           canonical_id,
           CAST((n_copies - 1) * n_bytes AS BIGINT) AS reclaimable_bytes,
           replica_ids
    FROM g
    ORDER BY payload_md5
    """,
)
def m06_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-level exact dedup over OPAQUE binary payloads: group by
    content hash of the bytes (never by the bytes themselves), emit one
    row per UNIQUE payload with the canonical keeper, the replica list,
    and the bytes a dedup pass would reclaim — the content-addressable-
    storage catalog a multimodal lake keeps over image/audio blobs,
    where c01-style full-value grouping is impossible (you cannot
    shuffle terabytes of payload bytes as a group key). Singleton
    payloads are KEPT in the report (is_duplicated = false,
    reclaimable = 0): the catalog is the dedup index itself, and — the
    verification point — the oracle gate then checks every digest and
    byte length even on a fixture slice that happens to contain no
    duplicates (at sf0.01 there are none; a duplicates-only report
    would be vacuously green there).

    Scale design: the payload column never moves — the scan projects
    the 128-bit digest and byte length, and everything downstream
    (one map-side-combinable groupBy on the digest) shuffles
    hash-sized rows only. collect_list is bounded by the
    duplicate-set size and made deterministic by sorting; at pathological
    replica counts the replica list would be capped (slice) the same way
    c04 caps posting lists.

    The replica list is emitted as a comma-joined STRING, sorted
    NUMERICALLY before the cast (array_join requires array<string>;
    casting first would sort '10' before '2'): the external driver
    canonicalizes results with a pandas column sort, and a raw
    array column is unhashable there (the round-5 m06 driver error) —
    scored queries must emit flat scalar columns only, enforced
    registry-wide by oracle_harness.assert_flat_output_schema."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id",
        F.md5(F.encode("text", "UTF-8")).alias("payload_md5"),
        F.octet_length(F.encode("text", "UTF-8")).cast("long")
        .alias("n_bytes"),
    )
    return (
        p.groupBy("payload_md5")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_id"),
            F.min("n_bytes").alias("n_bytes"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("replica_ids"),
        )
        .select(
            "payload_md5", "n_copies",
            (F.col("n_copies") > 1).alias("is_duplicated"),
            "canonical_id",
            ((F.col("n_copies") - 1) * F.col("n_bytes"))
            .alias("reclaimable_bytes"),
            "replica_ids",
        )
        .orderBy("payload_md5")
    )


@query(
    "m07_audio_chunk_plan",
    oracle="""
    WITH a AS (SELECT doc_id AS media_id,
                      CAST(n_chars * 160 AS BIGINT) AS n_samples
               FROM documents WHERE doc_id % 7 = 0),
    s AS (SELECT media_id, n_samples,
                 unnest(range(0, n_samples, 8000)) AS chunk_start
          FROM a)
    SELECT media_id, n_samples,
           CAST(chunk_start / 8000 AS BIGINT) AS chunk_id,
           chunk_start,
           CASE WHEN n_samples - chunk_start < 16000
                THEN n_samples - chunk_start ELSE 16000 END AS chunk_len
    FROM s
    ORDER BY media_id, chunk_id
    """,
)
def m07_audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking plan: one row per overlapping analysis window
    (1 s = 16000 samples at 16 kHz, 50% hop) over a fixture-derived
    sample count (every 7th document stands in for an audio asset,
    n_chars·160 samples ≈ 10 ms of audio per character) — the
    windowing arithmetic of a speech-feature pipeline, with the PCM
    decode itself the stubbed codec step (operators/multimodal.py).

    Unlike m03's non-overlapping frame grid, chunks OVERLAP (hop <
    window) and the tail chunk is TRUNCATED to the asset's end —
    both properties the downstream featurizer depends on and both
    oracle-checked. Scale: sequence+explode streams the chunk rows
    generator-style (never materializing a per-asset list), and output
    is bounded by total_samples/hop by construction."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 == 0
    )
    # Zero-length guard: an empty asset (n_samples = 0) must yield no
    # chunks — the oracle's range(0, 0, 8000) is naturally empty, but
    # Spark's sequence(0, -1, 8000) would throw, so filter first.
    audio = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") * 160).cast("long").alias("n_samples"),
    ).filter(F.col("n_samples") > 0)
    return (
        audio.select(
            "media_id",
            "n_samples",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.col("n_samples") - 1,
                    F.lit(8000).cast("long"),
                )
            ).alias("chunk_start"),
        )
        .select(
            "media_id",
            "n_samples",
            (F.col("chunk_start") / 8000).cast("long").alias("chunk_id"),
            "chunk_start",
            F.least(
                F.col("n_samples") - F.col("chunk_start"), F.lit(16000)
            ).cast("long").alias("chunk_len"),
        )
        .orderBy("media_id", "chunk_id")
    )


@query(
    "m08_image_tile_plan",
    oracle="""
    WITH im AS (SELECT doc_id AS media_id,
                       CAST(64 + doc_id % 193 AS BIGINT) AS width,
                       CAST(64 + (doc_id * 3) % 149 AS BIGINT) AS height
                FROM documents WHERE doc_id % 4 = 1),
    ty AS (SELECT media_id, width, height,
                  unnest(range(0, height, 32)) AS y
           FROM im),
    t AS (SELECT media_id, width, height, y,
                 unnest(range(0, width, 32)) AS x
          FROM ty)
    SELECT media_id, width, height,
           CAST(y / 32 AS BIGINT) AS tile_row,
           CAST(x / 32 AS BIGINT) AS tile_col,
           CASE WHEN width - x < 32 THEN width - x ELSE 32 END AS tile_w,
           CASE WHEN height - y < 32 THEN height - y ELSE 32 END AS tile_h
    FROM t
    ORDER BY media_id, tile_row, tile_col
    """,
)
def m08_image_tile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D image tiling plan: one row per 32x32 patch of each image
    (every 4th document stands in for an image asset with
    fixture-derived dimensions), edge tiles truncated to the image
    border — the patch grid a ViT-style featurizer consumes, with the
    pixel decode itself the stubbed codec step
    (operators/multimodal.py).

    The 2-D grid comes from two nested sequence+explode generators
    (rows, then columns) — still streaming, never materializing a
    per-image patch list; output is bounded by area/32^2 per image by
    construction. Extends m03 (1-D frame grid) and m07 (overlapping
    1-D windows) to the 2-D truncated-tile case."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 1
    )
    im = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(64) + F.col("doc_id") % 193).cast("long").alias("width"),
        (F.lit(64) + (F.col("doc_id") * 3) % 149).cast("long").alias("height"),
    )
    ty = im.select(
        "media_id", "width", "height",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.col("height") - 1,
                F.lit(32).cast("long"),
            )
        ).alias("y"),
    )
    t = ty.select(
        "media_id", "width", "height", "y",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.col("width") - 1,
                F.lit(32).cast("long"),
            )
        ).alias("x"),
    )
    return t.select(
        "media_id", "width", "height",
        (F.col("y") / 32).cast("long").alias("tile_row"),
        (F.col("x") / 32).cast("long").alias("tile_col"),
        F.least(F.col("width") - F.col("x"), F.lit(32))
        .cast("long").alias("tile_w"),
        F.least(F.col("height") - F.col("y"), F.lit(32))
        .cast("long").alias("tile_h"),
    ).orderBy("media_id", "tile_row", "tile_col")


@query(
    "m09_modality_manifest",
    oracle="""
    SELECT * FROM (
        SELECT 'audio' AS modality,
               CAST(COUNT(*) AS BIGINT) AS n_assets,
               CAST(SUM((n_chars * 160 + 7999) // 8000) AS BIGINT)
                   AS total_units
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT 'image',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(((64 + doc_id % 193 + 31) // 32)
                        * ((64 + (doc_id * 3) % 149 + 31) // 32))
                    AS BIGINT)
        FROM documents WHERE doc_id % 4 = 1
        UNION ALL
        SELECT 'video',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(n_chars // 100 + 1) AS BIGINT)
        FROM documents WHERE doc_id % 5 = 0
    )
    ORDER BY modality
    """,
)
def m09_modality_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal catalog manifest: per modality, the asset count and
    the TOTAL planned work units (video frames / audio chunks / image
    tiles) computed in CLOSED FORM from each asset's metadata — the
    capacity-planning rollup a pipeline runs before scheduling decode
    fleets, without generating a single per-unit row.

    The closed forms are the algebraic twins of the generator plans:
    frames = duration/100 + 1 (m03's inclusive grid), chunks =
    ceil(samples/8000) (m07's hop count), tiles = ceil(w/32)*ceil(h/32)
    (m08's grid) — and tests/test_round6_ops.py cross-checks each sum
    against the actual exploded row counts, so the manifest can never
    drift from the plans it budgets for.

    Scale: three scans of metadata columns (or one with a modality
    CASE), integer-only arithmetic, 3 output rows — no explode, no
    shuffle beyond the final 3-group aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    audio = docs.filter(F.col("doc_id") % 7 == 0).agg(
        F.lit("audio").alias("modality"),
        F.count(F.lit(1)).cast("long").alias("n_assets"),
        F.sum(F.expr("(n_chars * 160 + 7999) div 8000")).cast("long")
        .alias("total_units"),
    )
    image = docs.filter(F.col("doc_id") % 4 == 1).agg(
        F.lit("image").alias("modality"),
        F.count(F.lit(1)).cast("long").alias("n_assets"),
        F.sum(
            F.expr("((64 + doc_id % 193 + 31) div 32)"
                   " * ((64 + (doc_id * 3) % 149 + 31) div 32)")
        ).cast("long").alias("total_units"),
    )
    video = docs.filter(F.col("doc_id") % 5 == 0).agg(
        F.lit("video").alias("modality"),
        F.count(F.lit(1)).cast("long").alias("n_assets"),
        F.sum(F.expr("n_chars div 100 + 1")).cast("long")
        .alias("total_units"),
    )
    return audio.union(image).union(video).orderBy("modality")


# ---------------------------------------------------------------------------
# m10 — chunk-level payload dedup profile (CDC-lite storage analysis)
# ---------------------------------------------------------------------------
#: Fixed chunk width in bytes. Production content-defined chunking
#: (rolling-hash boundaries) resists insert-shift; the fixed-width
#: variant keeps the entire analysis in codegen'd SQL on both engines
#: while exercising the identical census/join dataflow.
_CHUNK_BYTES = 64


@query(
    "m10_chunk_dedup_profile",
    oracle=f"""
    WITH p AS (SELECT doc_id, text,
                      CAST(length(text) AS BIGINT) AS n_bytes,
                      CAST(CEIL(length(text) * 1.0 / {_CHUNK_BYTES}) AS BIGINT)
                          AS n_chunks
               FROM documents),
    ch AS (SELECT doc_id,
                  md5(substr(text, CAST(i * {_CHUNK_BYTES} + 1 AS INT),
                             {_CHUNK_BYTES})) AS digest
           FROM p, LATERAL unnest(range(0, n_chunks)) t(i)),
    census AS (SELECT digest, COUNT(DISTINCT doc_id) AS n_docs
               FROM ch GROUP BY digest),
    sh AS (SELECT ch.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
           FROM ch JOIN census ON census.digest = ch.digest
           WHERE census.n_docs > 1
           GROUP BY ch.doc_id)
    SELECT p.doc_id, p.n_bytes, p.n_chunks,
           CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared_chunks,
           floor((COALESCE(sh.n_shared, 0) * 1.0 / p.n_chunks)
                 * 1000000.0 + 0.5) / 1000000.0 AS shared_ratio
    FROM p LEFT JOIN sh ON sh.doc_id = p.doc_id
    ORDER BY p.doc_id
    """,
)
def m10_chunk_dedup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level storage dedup profile over opaque payloads: each
    payload split into fixed 64-byte chunks, each chunk digested, and
    per asset the count and share of chunks whose digest also occurs in
    ANOTHER asset — the content-addressable-store analysis (backup
    dedup, artifact registries, multimodal lakes) that m06's
    whole-payload catalog cannot see: two assets differing in one frame
    share every other chunk, and only chunk granularity reclaims them.

    Scale: payload bytes never pairwise-compare — the m07-style
    sequence+explode generator streams (asset, chunk-digest) rows, the
    digest census is one map-side-combinable aggregate, and sharing
    flows back through a digest-keyed equi-join bounded by the chunk
    stream, so cost is linear in corpus bytes / chunk width. The text
    column stands in for the binary payload exactly as in m06 (ASCII
    fixture: chars == bytes; production uses substring on the binary
    column with the same plan shape)."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id", "text",
        F.length("text").cast("long").alias("n_bytes"),
        F.ceil(F.length("text") * 1.0 / _CHUNK_BYTES).cast("long")
        .alias("n_chunks"),
    )
    ch = (
        p.select(
            "doc_id",
            F.explode(
                # n_chunks = 0 guard (empty payload): sequence(0, -1)
                # DESCENDS instead of being empty, silently minting two
                # bogus chunk indices; the oracle's range(0, 0) is
                # empty.
                F.when(
                    F.col("n_chunks") > 0,
                    F.sequence(F.lit(0), F.col("n_chunks") - 1),
                ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
            ).alias("i"),
            "text",
        )
        .select(
            "doc_id",
            F.md5(
                F.encode(
                    F.expr(
                        f"substring(text, CAST(i * {_CHUNK_BYTES} + 1 AS INT), "
                        f"{_CHUNK_BYTES})"
                    ),
                    "UTF-8",
                )
            ).alias("digest"),
        )
    )
    census = ch.groupBy("digest").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    sh = (
        ch.join(census.filter(F.col("n_docs") > 1), "digest")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        p.select("doc_id", "n_bytes", "n_chunks")
        .join(sh, "doc_id", "left")
        .select(
            "doc_id", "n_bytes", "n_chunks",
            F.coalesce("n_shared", F.lit(0)).cast("long")
            .alias("n_shared_chunks"),
            pround(
                F.try_divide(
                    F.coalesce("n_shared", F.lit(0)) * 1.0,
                    F.col("n_chunks"),
                ),
                6,
            ).alias("shared_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# m11 — magic-byte census (container-format sniffing over opaque payloads)
# ---------------------------------------------------------------------------
#: (hex-prefix, format) table for the classic container magics. The
#: fixture's UTF-8 payloads all sniff as 'unknown' — the when-chain is
#: exercised by tests/test_multimodal.py on synthesized media headers.
_MAGIC_TABLE: tuple[tuple[str, str], ...] = (
    ("FFD8FF", "jpeg"),
    ("89504E47", "png"),
    ("47494638", "gif"),
    ("52494646", "riff"),
    ("25504446", "pdf"),
    ("494433", "mp3"),
    ("4F676753", "ogg"),
    ("1A45DFA3", "matroska"),
)


def _sniff_case_sql(col: str) -> str:
    whens = "\n             ".join(
        f"WHEN {col} LIKE '{pfx}%' THEN '{fmt}'" for pfx, fmt in _MAGIC_TABLE
    )
    return f"CASE {whens}\n             ELSE 'unknown' END"


def _sniff_col(col):
    from functools import reduce as _reduce

    return _reduce(
        lambda acc, pf: F.when(col.startswith(pf[0]), pf[1]) if acc is None
        else acc.when(col.startswith(pf[0]), pf[1]),
        _MAGIC_TABLE,
        None,
    ).otherwise("unknown")


@query(
    "m11_magic_byte_census",
    oracle=f"""
    WITH p AS (SELECT doc_id,
                      upper(substr(hex(encode(text)), 1, 8)) AS magic_hex,
                      octet_length(encode(text)) AS n_bytes,
                      md5(text) AS digest
               FROM documents)
    SELECT magic_hex,
           {_sniff_case_sql('magic_hex')} AS sniffed_format,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_distinct_payloads
    FROM p
    GROUP BY magic_hex
    ORDER BY magic_hex
    """,
)
def m11_magic_byte_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte census: sniff every opaque payload's leading 4 bytes
    against the classic container magics (JPEG/PNG/GIF/RIFF/PDF/MP3/
    OGG/Matroska) and report, per observed prefix, the asset count,
    byte volume, and distinct-content count. This is the ingest
    validation step of a multimodal lake — it catches payloads whose
    bytes disagree with their declared modality (a "wav" that is really
    MP3, an image column full of HTML error pages) BEFORE any decoder
    runs. The fixture's UTF-8 text payloads legitimately sniff as
    'unknown'; the match chain itself is pinned on synthesized media
    headers in tests/test_multimodal.py.

    Scale: the magic prefix, byte length, and content digest are all
    projected AT THE SCAN — payload bytes never shuffle. What moves is
    an 8-hex-char key plus a digest per asset, and the census output is
    bounded by the number of distinct prefixes (vocabulary-sized, never
    corpus-sized)."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        F.upper(F.hex(F.substring(F.encode("text", "UTF-8"), 1, 4)))
        .alias("magic_hex"),
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        F.md5("text").alias("digest"),
    )
    return (
        p.groupBy("magic_hex")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assets"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.countDistinct("digest").cast("long").alias("n_distinct_payloads"),
        )
        .select(
            "magic_hex",
            _sniff_col(F.col("magic_hex")).alias("sniffed_format"),
            "n_assets", "total_bytes", "n_distinct_payloads",
        )
        .orderBy("magic_hex")
    )


# ---------------------------------------------------------------------------
# m12 — payload size-class histogram (storage-tier planning)
# ---------------------------------------------------------------------------
@query(
    "m12_payload_size_histogram",
    oracle="""
    WITH p AS (SELECT octet_length(encode(text)) AS n_bytes,
                      md5(text) AS digest
               FROM documents),
    b AS (SELECT CAST(length(bin(n_bytes)) AS INT) AS log2_bucket,
                 digest,
                 CAST(COUNT(*) AS BIGINT) AS n_copies,
                 CAST(MAX(n_bytes) AS BIGINT) AS bytes_one
          FROM p GROUP BY log2_bucket, digest)
    SELECT log2_bucket,
           CAST(1 AS BIGINT) << (log2_bucket - 1) AS bucket_lo,
           CAST(SUM(n_copies) AS BIGINT) AS n_payloads,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(n_copies * bytes_one) AS BIGINT) AS total_bytes,
           CAST(SUM(bytes_one) AS BIGINT) AS distinct_bytes,
           CAST(SUM(n_copies * bytes_one) - SUM(bytes_one) AS BIGINT)
               AS reclaimable_bytes
    FROM b
    GROUP BY log2_bucket
    ORDER BY log2_bucket
    """,
)
def m12_payload_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two payload size-class histogram with per-class dedup
    accounting: for every size bucket, how many assets land there, how
    many DISTINCT contents, and how many bytes exact dedup (m06) would
    reclaim. This is the storage-tier planning table — small objects
    want inline/coalesced storage, huge ones want chunked streaming
    (m10) — and the byte analog of p18's token-length histogram.

    Scale: byte length and content digest are projected AT THE SCAN —
    payload bytes never shuffle (the m06/m11 discipline). The bucket
    index is the BINARY LENGTH of the byte count (pure integer
    arithmetic, p18's move — no float log2 for engines to round
    differently at boundaries). Two linear map-side-combinable
    aggregates: (bucket, digest) to collapse copies, then the
    <=63-cell bucket census. All-integer output."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        F.md5("text").alias("digest"),
    )
    b = (
        p.select(
            F.length(F.bin("n_bytes")).cast("int").alias("log2_bucket"),
            "digest", "n_bytes",
        )
        .groupBy("log2_bucket", "digest")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.max("n_bytes").cast("long").alias("bytes_one"),
        )
    )
    return (
        b.groupBy("log2_bucket")
        .agg(
            F.sum("n_copies").cast("long").alias("n_payloads"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.col("n_copies") * F.col("bytes_one")).cast("long")
            .alias("total_bytes"),
            F.sum("bytes_one").cast("long").alias("distinct_bytes"),
        )
        .select(
            "log2_bucket",
            F.expr("shiftleft(CAST(1 AS BIGINT), log2_bucket - 1)")
            .cast("long").alias("bucket_lo"),
            "n_payloads", "n_distinct", "total_bytes", "distinct_bytes",
            (F.col("total_bytes") - F.col("distinct_bytes")).cast("long")
            .alias("reclaimable_bytes"),
        )
        .orderBy("log2_bucket")
    )


# ---------------------------------------------------------------------------
# m13 — rendezvous-hash replica placement plan (content-addressable store)
# ---------------------------------------------------------------------------
#: Storage nodes and replicas per payload. HRW (highest-random-weight)
#: hashing: payload p goes to the R nodes maximizing md5(digest||node)
#: — adding/removing a node moves only ~1/N of payloads (no ring
#: rebalance), and the placement is a pure function of the digest, so
#: any writer computes it independently.
_HRW_NODES = 8
_HRW_REPLICAS = 2


@query(
    "m13_hrw_placement_plan",
    oracle=f"""
    WITH p AS (SELECT md5(text) AS digest,
                      CAST(MAX(octet_length(encode(text))) AS BIGINT)
                          AS n_bytes
               FROM documents GROUP BY digest),
    w AS (SELECT p.digest, p.n_bytes, CAST(g.node AS BIGINT) AS node,
                 CAST(('0x' || substr(md5(p.digest || '#'
                                          || CAST(g.node AS VARCHAR)),
                                      1, 15)) AS BIGINT) AS weight
          FROM p CROSS JOIN range(0, {_HRW_NODES}) g(node)),
    r AS (SELECT digest, n_bytes, node,
                 CAST(ROW_NUMBER() OVER (PARTITION BY digest
                                    ORDER BY weight DESC, node) AS BIGINT)
                     AS replica_rank
          FROM w),
    a AS (SELECT * FROM r WHERE replica_rank <= {_HRW_REPLICAS}),
    tot AS (SELECT CAST(SUM(n_bytes) AS BIGINT) * {_HRW_REPLICAS}
                AS total_bytes
            FROM p)
    SELECT node, replica_rank,
           CAST(COUNT(*) AS BIGINT) AS n_payloads,
           CAST(SUM(n_bytes) AS BIGINT) AS node_bytes,
           floor((CAST(SUM(n_bytes) AS DOUBLE) * {_HRW_NODES}
                  * {_HRW_REPLICAS} / MAX(total_bytes))
                 * 1000000.0 + 0.5) / 1000000.0 AS balance_ratio
    FROM a, tot
    GROUP BY node, replica_rank
    ORDER BY node, replica_rank
    """,
)
def m13_hrw_placement_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash (HRW) replica placement for the deduplicated
    payload store: every DISTINCT payload is assigned to the R=2 of
    N=8 nodes maximizing md5(digest||node), and the plan reports each
    node's payload count, byte load, and balance ratio vs the even
    split — the placement layer under m06's content-addressable
    catalog (HRW moves only ~1/N of keys when the node set changes,
    and placement is a pure digest function, so any writer computes
    it independently — no coordination service).

    Scale: payloads collapse FIRST to distinct digests (the m06 move —
    placement keys are content, not rows); the node fan-out is a
    CONSTANT N per digest and the per-digest top-R window runs over
    exactly N rows (key-bounded, never corpus-wide); the report is a
    2·N-cell integer aggregate with one broadcast scalar. Weights are
    the md5 integer prefix — the portable-hash discipline (hash60),
    identical on both engines."""
    from ..functions.hashing import hash60

    docs = load_table(spark, sf_dir, "documents")
    p = (
        docs.select(
            F.md5("text").alias("digest"),
            F.octet_length(F.encode("text", "UTF-8")).cast("long")
            .alias("nb"),
        )
        .groupBy("digest")
        .agg(F.max("nb").cast("long").alias("n_bytes"))
    )
    w = p.select(
        "digest", "n_bytes",
        F.explode(
            F.sequence(F.lit(0).cast("long"),
                       F.lit(_HRW_NODES - 1).cast("long"))
        ).alias("node"),
    ).withColumn(
        "weight",
        hash60(F.concat(F.col("digest"), F.lit("#"),
                        F.col("node").cast("string"))),
    )
    win = Window.partitionBy("digest").orderBy(
        F.desc("weight"), F.asc("node")
    )
    a = (
        w.withColumn("replica_rank", F.row_number().over(win).cast("long"))
        .filter(F.col("replica_rank") <= _HRW_REPLICAS)
    )
    tot = p.agg(
        (F.sum("n_bytes") * _HRW_REPLICAS).cast("long").alias("total_bytes")
    )
    return (
        a.groupBy("node", "replica_rank")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_payloads"),
            F.sum("n_bytes").cast("long").alias("node_bytes"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "node", "replica_rank", "n_payloads", "node_bytes",
            pround(
                F.col("node_bytes").cast("double") * _HRW_NODES
                * _HRW_REPLICAS / F.col("total_bytes"),
                6,
            ).alias("balance_ratio"),
        )
        .orderBy("node", "replica_rank")
    )


# ---------------------------------------------------------------------------
# m14 — HRW node-loss rebalance audit (minimal-movement proof)
# ---------------------------------------------------------------------------
#: The node whose loss m14 simulates. HRW's operational promise is that
#: removing one node moves ONLY the replicas that lived on it (~R/N of
#: all replica slots) and every moved replica lands on the next-ranked
#: survivor — no ring re-shard, no coordination. m14 measures that
#: promise exactly against m13's live placement.
_HRW_LOST_NODE = 0


@query(
    "m14_hrw_rebalance_audit",
    oracle=f"""
    WITH p AS (SELECT md5(text) AS digest,
                      CAST(MAX(octet_length(encode(text))) AS BIGINT)
                          AS n_bytes
               FROM documents GROUP BY digest),
    w AS (SELECT p.digest, p.n_bytes, CAST(g.node AS BIGINT) AS node,
                 CAST(('0x' || substr(md5(p.digest || '#'
                                          || CAST(g.node AS VARCHAR)),
                                      1, 15)) AS BIGINT) AS weight
          FROM p CROSS JOIN range(0, {_HRW_NODES}) g(node)),
    before_r AS (SELECT digest, n_bytes, node,
                 ROW_NUMBER() OVER (PARTITION BY digest
                                    ORDER BY weight DESC, node) AS rn
          FROM w),
    before_a AS (SELECT digest, n_bytes, node FROM before_r
                 WHERE rn <= {_HRW_REPLICAS}),
    after_r AS (SELECT digest, n_bytes, node,
                 ROW_NUMBER() OVER (PARTITION BY digest
                                    ORDER BY weight DESC, node) AS rn
          FROM w WHERE node <> {_HRW_LOST_NODE}),
    after_a AS (SELECT digest, n_bytes, node FROM after_r
                WHERE rn <= {_HRW_REPLICAS}),
    m AS (SELECT COALESCE(b.digest, a.digest) AS digest,
                 COALESCE(b.node, a.node) AS node,
                 COALESCE(b.n_bytes, a.n_bytes) AS n_bytes,
                 CASE WHEN b.digest IS NOT NULL THEN 1 ELSE 0 END AS in_b,
                 CASE WHEN a.digest IS NOT NULL THEN 1 ELSE 0 END AS in_a
          FROM before_a b
          FULL OUTER JOIN after_a a
            ON a.digest = b.digest AND a.node = b.node)
    SELECT node,
           CAST(SUM(in_b) AS BIGINT) AS n_before,
           CAST(SUM(in_a) AS BIGINT) AS n_after,
           CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_inherited,
           CAST(SUM(in_b * n_bytes) AS BIGINT) AS bytes_before,
           CAST(SUM(in_a * n_bytes) AS BIGINT) AS bytes_after,
           CASE WHEN SUM(in_a) = 0 THEN 0.0
                ELSE floor((CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0
                                          THEN 1 ELSE 0 END) AS DOUBLE)
                            / SUM(in_a)) * 1000000.0 + 0.5) / 1000000.0
           END AS inherited_share
    FROM m GROUP BY node ORDER BY node
    """,
)
def m14_hrw_rebalance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HRW node-loss rebalance audit: simulate losing node 0 from
    m13's placement and report, per surviving node, its replica count
    and byte load BEFORE vs AFTER plus the count/share of INHERITED
    replicas (assignments it did not hold before) — the table an
    operator reads before decommissioning a storage node. HRW's
    minimal-movement property is verified by construction: node 0's
    row shows n_after = 0, every surviving node's pre-existing
    replicas stay put (rank order among survivors is unchanged when a
    competitor disappears), and Σ inherited equals exactly the replica
    slots node 0 held — ~R/N of all slots, not a ring re-shard.

    Scale: same frame as m13 — payloads collapse to DISTINCT digests
    first, the node fan-out is a CONSTANT N per digest, and BOTH
    rankings come out of ONE window pass over that fan-out (round-12
    optimization, guide §2.4): in the (weight DESC, node) order the
    before-rank is the running row count and the after-rank is the
    running count of SURVIVING nodes — deleting a competitor never
    reorders the survivors, which is exactly HRW's minimal-movement
    property, so the second ranking is a running conditional sum in
    the SAME frame, not a second window or a re-shuffle. The window
    rides the digest collapse's own hash partitioning (no exchange of
    its own), and the before/after comparison is a per-row flag pair —
    the round-11 shape's persisted fan-out, second window pass, and
    full-outer (digest, node) self-join (2 exchanges + 2 sorts of the
    R·|digests| streams) are gone. The report is an N-row integer
    aggregate. Weights are the md5-prefix integer (hash60), identical
    on both engines, so the simulated placement — not just the counts
    — is bit-portable."""
    from ..functions.hashing import hash60

    docs = load_table(spark, sf_dir, "documents")
    p = (
        docs.select(
            F.md5("text").alias("digest"),
            F.octet_length(F.encode("text", "UTF-8")).cast("long")
            .alias("nb"),
        )
        .groupBy("digest")
        .agg(F.max("nb").cast("long").alias("n_bytes"))
    )
    w = p.select(
        "digest", "n_bytes",
        F.explode(
            F.sequence(F.lit(0).cast("long"),
                       F.lit(_HRW_NODES - 1).cast("long"))
        ).alias("node"),
    ).withColumn(
        "weight",
        hash60(F.concat(F.col("digest"), F.lit("#"),
                        F.col("node").cast("string"))),
    )
    # ONE ordered pass per digest computes both rankings (see the
    # docstring's scale note): in the (weight DESC, node ASC) order —
    # a total order, node is unique within a digest — the running row
    # count IS row_number() (the before-rank), and the running count
    # of surviving rows IS the after-rank of every surviving row,
    # because removing the lost node's rows from the order does not
    # reorder the survivors. Equal frames, so Catalyst evaluates both
    # in a single Window operator riding the digest collapse's hash
    # partitioning.
    frame = (
        Window.partitionBy("digest")
        .orderBy(F.desc("weight"), F.asc("node"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = w.select(
        "digest", "node", "n_bytes",
        F.count(F.lit(1)).over(frame).alias("rn"),
        F.sum((F.col("node") != _HRW_LOST_NODE).cast("long"))
        .over(frame).alias("srn"),
    )
    # Flag pair per (digest, node) row; keep exactly the rows the old
    # full-outer join produced (in either placement) so the
    # degenerate-fixture row universe is unchanged — including the
    # NULL-digest subtlety: the join's ``b.digest IS NOT NULL`` /
    # ``a.digest IS NOT NULL`` flags are FALSE for a genuine
    # NULL-digest placement row (NULL keys never join), so those rows
    # exist in the group stream but count toward nothing. The oracle
    # encodes the same semantics; pinned by the hostile degenerate
    # sweep.
    qual_b = F.col("rn") <= _HRW_REPLICAS
    qual_a = (F.col("node") != _HRW_LOST_NODE) & (
        F.col("srn") <= _HRW_REPLICAS
    )
    nn = F.col("digest").isNotNull()
    m = ranked.filter(qual_b | qual_a).select(
        "node", "n_bytes",
        (qual_b & nn).cast("long").alias("in_b"),
        (qual_a & nn).cast("long").alias("in_a"),
    )
    inherited = ((F.col("in_a") == 1) & (F.col("in_b") == 0)).cast("long")
    return (
        m.groupBy("node")
        .agg(
            F.sum("in_b").cast("long").alias("n_before"),
            F.sum("in_a").cast("long").alias("n_after"),
            F.sum(inherited).cast("long").alias("n_inherited"),
            F.sum(F.col("in_b") * F.col("n_bytes")).cast("long")
            .alias("bytes_before"),
            F.sum(F.col("in_a") * F.col("n_bytes")).cast("long")
            .alias("bytes_after"),
        )
        .select(
            "node", "n_before", "n_after", "n_inherited",
            "bytes_before", "bytes_after",
            F.when(F.col("n_after") == 0, F.lit(0.0))
            .otherwise(
                pround(
                    F.col("n_inherited").cast("double") / F.col("n_after"),
                    6,
                )
            ).alias("inherited_share"),
        )
        .orderBy("node")
    )
