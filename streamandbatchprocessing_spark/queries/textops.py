"""Text-analysis queries over the ``documents`` fixture (BASELINE.json
north-star extension: token counting, quality scoring, corpus stats,
fingerprinting).

All expressions are JVM built-ins (split / higher-order filter / md5);
no Python touches the row path, so these scale exactly like any other
whole-stage-codegen'd projection. The multilingual language-ID
heuristic lives in ``functions/text.py``; e06 runs it as an
oracle-checked query against the fixture's ground-truth ``lang``
column (plus multilingual unit tests in tests/test_textops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash60, md5_prefix
from ..functions.text import (
    LANG_STOPWORDS,
    count_matching,
    distinct_tokens,
    langid_from_tokens,
    langid_scores,
    tokens,
)
from ..functions.aggregates import pround, pround_sql
from ..functions.windows import panel_window
from ..sources.batch import load_table
from .registry import persist_tracked, query

_STOPWORDS = ("the", "a")
#: SQL IN-list of the stopwords — interpolated into every oracle that
#: mirrors the Spark-side _STOPWORDS filter, so the two can never
#: desynchronize (the list exists exactly once).
_STOP_IN = ", ".join(f"'{w}'" for w in _STOPWORDS)


# ---------------------------------------------------------------------------
# e01 — token counting
# ---------------------------------------------------------------------------
@query(
    "e01_token_stats",
    oracle="""
    WITH t AS (SELECT doc_id, lang, source, text,
                      string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id, lang, source,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           floor((len(list_distinct(toks)) * 1.0 / len(toks)) * 1000000.0 + 0.5) / 1000000.0 AS ttr,
           CAST(length(text) AS BIGINT) AS n_chars_measured
    FROM t
    ORDER BY doc_id
    """,
)
def e01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts + type-token ratio per document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
            pround(F.size(F.array_distinct(toks)) * 1.0 / F.size(toks), 6).alias("ttr"),
            F.length("text").cast("long").alias("n_chars_measured"),
        )
        .orderBy("doc_id")
    )


def quality_scored_docs(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """Shared per-doc quality scoring base (e02's formula): rational
    arithmetic only — no exp/log transcendentals — so the score is
    bit-identical across engines and safe for hash-gated reuse (e02's
    report, p09's percentile gate). Returns doc_id [+ ``extra_cols``
    passed through], n_chars, n_tokens, stop_hits, avg_token_len."""
    toks = tokens("text")
    return docs.select(
        "doc_id",
        *extra_cols,
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        count_matching(toks, _STOPWORDS).cast("long").alias("stop_hits"),
    ).withColumn(
        "avg_token_len",
        pround((F.col("n_chars") - F.col("n_tokens") + 1) * 1.0 / F.col("n_tokens"), 6),
    )


def quality_score_col() -> F.Column:
    """The weighted quality score over quality_scored_docs columns,
    rounded to 6 dp (identical expression in every oracle using it)."""
    stop_ratio = F.col("stop_hits") * 1.0 / F.col("n_tokens")
    return pround(
        0.5 * stop_ratio
        + 0.3 * (F.least(F.col("n_tokens"), F.lit(60)) / 60.0)
        + 0.2 * (F.least(F.col("avg_token_len"), F.lit(8.0)) / 8.0),
        6,
    )


#: DuckDB CTE computing (doc_id, source, quality_score) — the oracle
#: twin of quality_scored_docs + quality_score_col, shared by e02/p09.
QUALITY_SCORE_CTE = f"""
    qt AS (SELECT doc_id, source, string_split(text, ' ') AS toks,
                  CAST(length(text) AS BIGINT) AS n_chars
           FROM documents),
    qm AS (SELECT doc_id, source, n_chars,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(len(list_filter(toks, t -> t IN ({_STOP_IN})))
                       AS BIGINT) AS stop_hits,
                  floor(((n_chars - len(toks) + 1) * 1.0 / len(toks)) * 1000000.0 + 0.5) / 1000000.0
                      AS avg_token_len
           FROM qt),
    scored AS (
        SELECT doc_id, source,
               floor((0.5 * (stop_hits * 1.0 / n_tokens)
                     + 0.3 * (CASE WHEN n_tokens > 60 THEN 60
                                   ELSE n_tokens END / 60.0)
                     + 0.2 * (CASE WHEN avg_token_len > 8 THEN 8
                                   ELSE avg_token_len END / 8.0)) * 1000000.0 + 0.5) / 1000000.0 AS quality_score
        FROM qm)
"""



# ---------------------------------------------------------------------------
# e02 — quality scoring
# ---------------------------------------------------------------------------
@query(
    "e02_quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                      CAST(length(text) AS BIGINT) AS n_chars
               FROM documents),
    m AS (SELECT doc_id, n_chars,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(toks, t -> t IN ({_STOP_IN}))) AS BIGINT)
                     AS stop_hits,
                 floor(((n_chars - len(toks) + 1) * 1.0 / len(toks)) * 1000000.0 + 0.5) / 1000000.0
                     AS avg_token_len
          FROM t)
    SELECT doc_id, n_tokens, stop_hits,
           floor((stop_hits * 1.0 / n_tokens) * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
           avg_token_len,
           floor((0.5 * (stop_hits * 1.0 / n_tokens)
                 + 0.3 * (CASE WHEN n_tokens > 60 THEN 60 ELSE n_tokens END / 60.0)
                 + 0.2 * (CASE WHEN avg_token_len > 8 THEN 8 ELSE avg_token_len END / 8.0)) * 1000000.0 + 0.5) / 1000000.0 AS quality_score,
           CASE WHEN n_tokens >= 30 AND stop_hits > 0 THEN 'good'
                WHEN n_tokens >= 15 THEN 'fair'
                ELSE 'poor' END AS quality_class
    FROM m
    ORDER BY doc_id
    """,
)
def e02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length, stopword ratio, mean token
    length → weighted score + class bucket (rational arithmetic only, so
    cross-engine deterministic; no exp/log transcendentals)."""
    docs = load_table(spark, sf_dir, "documents")
    base = quality_scored_docs(docs)
    stop_ratio = F.col("stop_hits") * 1.0 / F.col("n_tokens")
    return (
        base.select(
            "doc_id",
            "n_tokens",
            "stop_hits",
            pround(stop_ratio, 6).alias("stop_ratio"),
            "avg_token_len",
            pround(
                0.5 * stop_ratio
                + 0.3 * (F.least(F.col("n_tokens"), F.lit(60)) / 60.0)
                + 0.2 * (F.least(F.col("avg_token_len"), F.lit(8.0)) / 8.0),
                6,
            ).alias("quality_score"),
            F.when((F.col("n_tokens") >= 30) & (F.col("stop_hits") > 0), "good")
            .when(F.col("n_tokens") >= 15, "fair")
            .otherwise("poor")
            .alias("quality_class"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# e03 — per-language corpus statistics (incl. exploded-vocab distinct)
# ---------------------------------------------------------------------------
@query(
    "e03_corpus_stats",
    oracle="""
    WITH t AS (SELECT doc_id, lang, n_chars,
                      string_split(text, ' ') AS toks FROM documents),
    x AS (SELECT lang, unnest(toks) AS tok FROM t),
    v AS (SELECT lang, COUNT(DISTINCT tok) AS vocab_size FROM x GROUP BY lang),
    s AS (SELECT lang,
                 COUNT(*) AS n_docs,
                 CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
                 CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avg_tokens,
                 CAST(SUM(n_chars) AS BIGINT) AS total_chars
          FROM t GROUP BY lang)
    SELECT s.lang, s.n_docs, s.total_tokens, s.avg_tokens, s.total_chars,
           v.vocab_size
    FROM s JOIN v ON s.lang = v.lang
    ORDER BY s.lang
    """,
)
def e03_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus rollup: doc/token/char totals + vocabulary
    size via explode→countDistinct. Integer sums are exact, so no
    decimal detour is needed."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    t = docs.select("doc_id", "lang", "n_chars", toks.alias("toks"))
    vocab = (
        t.select("lang", F.explode("toks").alias("tok"))
        .groupBy("lang")
        .agg(F.countDistinct("tok").alias("vocab_size"))
    )
    stats = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("total_tokens"),
        (F.sum(F.size("toks")).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )
    return stats.join(vocab, "lang").select(
        "lang", "n_docs", "total_tokens", "avg_tokens", "total_chars", "vocab_size"
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# e04 — document fingerprinting
# ---------------------------------------------------------------------------
@query(
    "e04_fingerprints",
    oracle="""
    WITH t AS (SELECT doc_id, text,
                      list_distinct(string_split(text, ' ')) AS toks
               FROM documents),
    x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    mh AS (SELECT doc_id, MIN(substr(md5('fp:' || tok), 1, 12)) AS minhash_token
           FROM x GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(('0x' || substr(md5(t.text), 1, 15)) AS BIGINT) AS content_hash60,
           substr(md5(t.text), 1, 8) AS md5_head,
           mh.minhash_token
    FROM t JOIN mh ON t.doc_id = mh.doc_id
    ORDER BY t.doc_id
    """,
)
def e04_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: whole-text 60-bit hash, md5 head, and a
    1-permutation token MinHash — the building blocks the dedup family
    composes. All md5-derived, hence engine-portable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = distinct_tokens("text")
    per_tok = docs.select("doc_id", F.explode(toks).alias("tok"))
    mh = per_tok.groupBy("doc_id").agg(
        F.min(md5_prefix(F.col("tok"), seed="fp:")).alias("minhash_token")
    )
    fp = docs.select(
        "doc_id",
        hash60(F.col("text")).alias("content_hash60"),
        F.substring(F.md5("text"), 1, 8).alias("md5_head"),
    )
    return fp.join(mh, "doc_id").select(
        "doc_id", "content_hash60", "md5_head", "minhash_token"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# e05 — BPE-ish regex tokenization counts
# ---------------------------------------------------------------------------
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "e05_bpe_token_counts",
    oracle=f"""
    WITH m AS (SELECT doc_id,
                      regexp_extract_all(lower(text), '{_BPE_RE}') AS pieces,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
               FROM documents)
    SELECT doc_id,
           CAST(len(pieces) AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_filter(pieces, p -> p ~ '^[a-z]+$')) AS BIGINT)
               AS n_word_pieces,
           CAST(len(list_filter(pieces, p -> p ~ '^[0-9]+$')) AS BIGINT)
               AS n_number_pieces,
           n_ws_tokens,
           floor((len(pieces) * 1.0 / n_ws_tokens) * 1000000.0 + 0.5) / 1000000.0 AS pieces_per_word
    FROM m
    ORDER BY doc_id
    """,
)
def e05_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pretokenizer counts: letter runs / digit runs /
    punctuation singletons (the lookahead-free core of the GPT-2
    pretokenizer regex — only constructs RE2 and Java regex share, so
    Spark and the DuckDB oracle tokenize identically). pieces_per_word
    is the token-fertility estimate a training-data pipeline budgets
    context length with.

    Scale: regexp_extract_all is a codegen'd JVM expression — one
    projection pass, no Python, no shuffle before the (optional)
    aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_RE), 0)
    m = docs.select(
        "doc_id",
        pieces.alias("pieces"),
        F.size(tokens("text")).cast("long").alias("n_ws_tokens"),
    )
    is_word = "x -> x rlike '^[a-z]+$'"
    is_num = "x -> x rlike '^[0-9]+$'"
    return (
        m.select(
            "doc_id",
            F.size("pieces").cast("long").alias("n_bpe_tokens"),
            F.expr(f"CAST(size(filter(pieces, {is_word})) AS LONG)").alias(
                "n_word_pieces"
            ),
            F.expr(f"CAST(size(filter(pieces, {is_num})) AS LONG)").alias(
                "n_number_pieces"
            ),
            "n_ws_tokens",
            pround(F.size("pieces") * 1.0 / F.col("n_ws_tokens"), 6).alias(
                "pieces_per_word"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# e06 — language identification (stopword-hit argmax) vs ground truth
# ---------------------------------------------------------------------------
def _langid_oracle() -> str:
    langs = list(LANG_STOPWORDS)
    score_cols = ",\n           ".join(
        "CAST(len(list_filter(toks, x -> x IN ({words}))) AS BIGINT) AS s_{lang}".format(
            words=", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]), lang=lang
        )
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    # Same tie order as functions.text.langid: first language in table
    # order wins among equals; zero hits → 'und'. NULL text scores
    # NULL everywhere — that is 'und' too (the Spark when-chain's
    # fall-through), never the last language via CASE's NULL→ELSE.
    case = "CASE WHEN best = 0 OR best IS NULL THEN 'und' " + " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs[:-1]
    ) + f" ELSE '{langs[-1]}' END"
    return f"""
    WITH t AS (SELECT lang, string_split(lower(text), ' ') AS toks
               FROM documents),
    s AS (SELECT lang,
           {score_cols}
          FROM t),
    p AS (SELECT lang, {best} AS best, s_{', s_'.join(langs)} FROM s),
    l AS (SELECT lang, best, {case} AS predicted FROM p)
    SELECT lang, predicted,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(best) AS BIGINT) AS total_hits
    FROM l
    GROUP BY lang, predicted
    ORDER BY lang, predicted
    """


@query("e06_language_id", oracle=_langid_oracle())
def e06_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion grid: run the n-gram/stopword argmax
    heuristic (``functions/text.py langid``) over every document and
    compare against the fixture's ground-truth ``lang`` column —
    (truth, predicted) doc counts plus total stopword hits.

    Scale: the scorer is a fixed set of higher-order-filter counts and
    a when-chain — one codegen'd projection pass, then a tiny
    (|langs|²-bounded) aggregation; no shuffle before the groupBy. The
    same shape serves corpus-level language filtering at 100 TB, where
    langid gates which documents enter a training mix."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenization feeds both the argmax and the hit totals — the
    # oracle splits on a single space, so predicted/best must come from
    # the same token multiset (a regex-split argmax next to a
    # space-split score diverges on tabs/newlines/double spaces).
    toks = tokens(F.lower("text"))
    best = F.greatest(*langid_scores(toks).values())
    scored = docs.select(
        "lang",
        langid_from_tokens(toks).alias("predicted"),
        best.cast("long").alias("best"),
    )
    return (
        scored.groupBy("lang", "predicted")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("best").alias("total_hits"),
        )
        .orderBy("lang", "predicted")
    )


# ---------------------------------------------------------------------------
# e07 — repetition metrics (Gopher-style quality filters)
# ---------------------------------------------------------------------------
#: Gopher's repetition rules (Rae et al. 2021, table A1): a document is
#: low-quality when the most frequent n-gram covers too much of it or
#: when too many tokens are repeats. Thresholds below mirror the paper's
#: 2-gram fraction cut (0.20); the duplicate-token cut is set for this
#: corpus's short docs.
_TOP_BIGRAM_MAX_FRAC = 0.20
_DUP_TOKEN_MAX_FRAC = 0.50


@query(
    "e07_repetition_metrics",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    b AS (SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 floor((1 - len(list_distinct(toks)) * 1.0 / len(toks)) * 1000000.0 + 0.5) / 1000000.0
                     AS dup_token_frac,
                 list_transform(range(1, len(toks)),
                                i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
          FROM t WHERE len(toks) >= 2),
    x AS (SELECT doc_id, n_tokens, dup_token_frac, unnest(bigrams) AS g
          FROM b),
    c AS (SELECT doc_id, n_tokens, dup_token_frac, g, COUNT(*) AS c
          FROM x GROUP BY doc_id, n_tokens, dup_token_frac, g),
    p AS (SELECT doc_id, n_tokens, dup_token_frac,
                 CAST(SUM(c) AS BIGINT) AS n_bigrams,
                 CAST(MAX(c) AS BIGINT) AS top_bigram_n
          FROM c GROUP BY doc_id, n_tokens, dup_token_frac)
    SELECT doc_id, n_tokens, dup_token_frac, n_bigrams, top_bigram_n,
           floor((top_bigram_n * 1.0 / n_bigrams) * 1000000.0 + 0.5) / 1000000.0 AS top_bigram_frac,
           (top_bigram_n * 1.0 / n_bigrams > {_TOP_BIGRAM_MAX_FRAC}
            OR dup_token_frac > {_DUP_TOKEN_MAX_FRAC}) AS repetitive
    FROM p
    ORDER BY doc_id
    """,
)
def e07_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics: duplicate-token fraction and the
    share of bigram slots taken by the single most frequent bigram —
    the Gopher-style repetition quality filters a training-data mix
    gates on before anything expensive runs.

    Scale: bigrams are built by a codegen'd index transform (no Python),
    then ONE explode feeds groupBy(doc_id, bigram) → groupBy(doc_id) —
    two linear shuffles, never a per-doc quadratic: the all-in-array
    alternative (count each distinct bigram by filtering the array)
    is O(len²) per document and dies on long documents. Reference has
    no text ops; family justified by SURVEY §2-ext (training-data
    pipeline)."""
    docs = load_table(spark, sf_dir, "documents")
    # Project the token array ONCE before consuming it: inlined, the
    # split() re-executes inside every element_at of the bigram lambda
    # (~2·len splits per doc — measured 5.1 s vs 0.5 s at sf0.1, the
    # round-2 no-CSE gotcha in by-index HOF form).
    toks = F.col("toks")
    base = docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        pround(
            F.lit(1) - F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks), 6
        ).alias("dup_token_frac"),
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        ).alias("bigrams"),
    ).filter(F.col("n_tokens") >= 2)
    per_bigram = (
        # explode_outer, deliberately: plain explode plants an implicit
        # size(bigrams)>0 filter that pushdown rewrites into the SCAN
        # with the whole bigram transform inlined — re-tokenizing every
        # row twice (measured 3.7 s → 0.9 s at sf0.1). Outer explode
        # generates no such filter; bigrams are never empty here because
        # n_tokens >= 2 already gates the row.
        base.select(
            "doc_id", "n_tokens", "dup_token_frac",
            F.explode_outer("bigrams").alias("g"),
        )
        .groupBy("doc_id", "n_tokens", "dup_token_frac", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = per_bigram.groupBy("doc_id", "n_tokens", "dup_token_frac").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.max("c").cast("long").alias("top_bigram_n"),
    )
    frac = F.col("top_bigram_n") * F.lit(1.0) / F.col("n_bigrams")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "n_bigrams",
        "top_bigram_n",
        pround(frac, 6).alias("top_bigram_frac"),
        (
            (frac > _TOP_BIGRAM_MAX_FRAC)
            | (F.col("dup_token_frac") > _DUP_TOKEN_MAX_FRAC)
        ).alias("repetitive"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# e08 — TF-IDF top terms per source (corpus vocabulary profile)
# ---------------------------------------------------------------------------
#: Smoothed IDF (sklearn's formula): ln((N + 1) / (df + 1)) + 1. Scores
#: are ranked AFTER rounding to 6 decimals so an engine's last-ulp ln()
#: difference cannot reorder the ranking.
_TFIDF_TOPN = 5


@query(
    "e08_tfidf_terms",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
               FROM documents),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM t
           GROUP BY term),
    tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf FROM t
           GROUP BY source, term),
    scored AS (SELECT tf.source, tf.term, tf.tf, df.df,
                      floor((tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0)) * 1000000.0 + 0.5) / 1000000.0 AS score
               FROM tf JOIN df ON df.term = tf.term CROSS JOIN n)
    SELECT source, term, tf, df, score, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY score DESC, term) AS rank
          FROM scored)
    WHERE rank <= {_TFIDF_TOPN}
    ORDER BY source, rank
    """,
)
def e08_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF profile: the ``_TFIDF_TOPN`` most source-distinctive terms
    per source (term frequency within the source × smoothed inverse
    document frequency across the corpus) — the classic vocabulary
    fingerprint a corpus audit runs per data source.

    Scale: two linear aggregations over the exploded token stream (tf
    keyed by (source, term), df keyed by term — each one shuffle with
    map-side partial aggregation), joined on term; the corpus size N is
    a broadcast scalar (W1 pattern), never a recomputation. The top-k
    window partitions by source, so no global sort touches the full
    vocabulary. Ranking compares floor((score) * 1000000.0 + 0.5) / 1000000.0 — engine-identical —
    not raw ln() doubles."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.explode(tokens("text")).alias("term")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df = t.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    tf = t.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "term",
            "tf",
            F.col("df").cast("long").alias("df"),
            pround(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0))
                        / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _TFIDF_TOPN)
        .orderBy("source", "rank")
    )


# ---------------------------------------------------------------------------
# e09 — stride-overlapped chunking plan (context-window chunk prep)
# ---------------------------------------------------------------------------
#: 64-token chunks advancing by 32 (50% overlap) — the standard chunking
#: recipe for retrieval corpora and long-doc pretraining. A doc of n
#: tokens yields 1 + max(0, ceil((n - 64) / 32)) chunks; the integer
#: form (n - 33) // 32 avoids any float in the chunk count.
_CHUNK = 64
_CHUNK_STRIDE = 32


@query(
    "e09_chunk_plan",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
    n AS (SELECT doc_id, n_tokens,
                 1 + GREATEST(0, (n_tokens - {_CHUNK + 1 - _CHUNK_STRIDE})
                                 // {_CHUNK_STRIDE}) AS nc
          FROM t),
    c AS (SELECT doc_id, n_tokens, CAST(i AS BIGINT) AS chunk_id
          FROM n, UNNEST(range(nc)) AS u(i))
    SELECT doc_id, chunk_id,
           CAST(chunk_id * {_CHUNK_STRIDE} AS BIGINT) AS start_token,
           CAST(LEAST({_CHUNK},
                      n_tokens - chunk_id * {_CHUNK_STRIDE}) AS BIGINT)
               AS chunk_tokens
    FROM c
    ORDER BY doc_id, chunk_id
    """,
)
def e09_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking plan: every (doc, chunk) with its token offset and
    length under 64-token windows advancing by 32.

    Scale: pure codegen — the chunk index list is a ``sequence()``
    materialized per row and exploded, so the output is produced in one
    scan with no shuffle at all (the ORDER BY is presentation only;
    a writer would partition by doc range instead). All arithmetic is
    integer; the chunk count uses floor division, not float ceil."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    ).select(
        "doc_id",
        "n_tokens",
        (
            F.lit(1)
            + F.greatest(
                F.lit(0).cast("long"),
                F.expr(
                    f"(n_tokens - {_CHUNK + 1 - _CHUNK_STRIDE}) "
                    f"div {_CHUNK_STRIDE}"
                ),
            )
        ).alias("nc"),
    )
    return (
        n.select(
            "doc_id",
            "n_tokens",
            F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            (F.col("chunk_id") * _CHUNK_STRIDE).cast("long").alias("start_token"),
            F.least(
                F.lit(_CHUNK).cast("long"),
                F.col("n_tokens") - F.col("chunk_id") * _CHUNK_STRIDE,
            ).alias("chunk_tokens"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# e10 — PII detection + redaction scrub
# ---------------------------------------------------------------------------
def _e10_oracle() -> str:
    from ..functions.pii import oracle_pii_count, oracle_scrub

    return f"""
    SELECT event_id, event_type,
           {oracle_pii_count('props', 'email')} AS n_email,
           {oracle_pii_count('props', 'phone')} AS n_phone,
           {oracle_pii_count('props', 'ipv4')} AS n_ipv4,
           {oracle_pii_count('props', 'number')} AS n_number,
           {oracle_scrub('props')} AS props_redacted
    FROM events
    ORDER BY event_id
    """


@query("e10_pii_scrub", oracle=_e10_oracle())
def e10_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: per-class match counts (emails, phones, IPv4,
    bare numeric ids) plus the redacted text, over the events ``props``
    payloads — the standard pre-tokenization corpus scrub.

    The fixture payloads only exercise the numeric-id class; the
    email/phone/IPv4 patterns are pinned by synthetic-row unit tests
    (tests/test_pii.py), same policy as the multimodal codec stub.

    Scale: a pure regexp projection — one scan, zero shuffles (the
    ORDER BY is presentation only; a production scrub writes back
    partition-preserving). Patterns are boundary-anchored with bounded
    quantifiers so both Java regex and RE2 run them in linear time —
    no catastrophic backtracking at 100 TB. Counts are taken after
    masking earlier classes, so each span is attributed to exactly one
    class and the redacted text is reproducible from the counts."""
    from ..functions.pii import pii_count, scrub

    ev = load_table(spark, sf_dir, "events")
    p = F.col("props")
    return ev.select(
        "event_id",
        "event_type",
        pii_count(p, "email").alias("n_email"),
        pii_count(p, "phone").alias("n_phone"),
        pii_count(p, "ipv4").alias("n_ipv4"),
        pii_count(p, "number").alias("n_number"),
        scrub(p).alias("props_redacted"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# e11 — DSIR hashed-n-gram importance weights (data selection)
# ---------------------------------------------------------------------------
#: Hashed-feature bucket count. DSIR (Xie et al. 2023, arXiv:2302.03169)
#: hashes n-grams into a fixed bucket space so the target/raw language
#: models are two B-sized count vectors — mergeable, broadcastable, and
#: independent of vocabulary size. 128 keeps the bucket table literal-
#: small here; production uses 10k+ and nothing else changes.
_DSIR_B = 128


@query(
    "e11_dsir_importance",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang,
                         unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    tb AS (SELECT doc_id, lang,
                  CAST('0x' || substr(md5('dsir:' || tok), 1, 15) AS BIGINT)
                      % {_DSIR_B} AS b
           FROM toks),
    cnt AS (SELECT b,
                   CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS ct,
                   CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS cr
            FROM tb GROUP BY b),
    tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
                   CAST(SUM(cr) AS BIGINT) AS nr FROM cnt),
    grid AS (SELECT unnest(generate_series(0, {_DSIR_B - 1})) AS b),
    lr AS (SELECT grid.b,
                  CAST(floor((ln(((COALESCE(cnt.ct, 0) + 1.0)
                                 * (tot.nr + {_DSIR_B}.0))
                                / ((COALESCE(cnt.cr, 0) + 1.0)
                                   * (tot.nt + {_DSIR_B}.0)))) * 1000000.0 + 0.5) / 1000000.0
                       AS DECIMAL(18,6)) AS lr6
           FROM grid LEFT JOIN cnt ON cnt.b = grid.b CROSS JOIN tot)
    SELECT tb.doc_id,
           ANY_VALUE(tb.lang) AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(lr.lr6) AS DOUBLE) AS dsir_logw
    FROM tb JOIN lr ON lr.b = tb.b
    GROUP BY tb.doc_id
    ORDER BY tb.doc_id
    """,
)
def e11_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169):
    score every document by how much more likely its hashed-unigram
    stream is under the TARGET distribution (here: the ``lang='en'``
    slice) than under the raw distribution — the standard
    data-selection signal for matching a pretraining mix to a target
    domain. Weight = Σ_tokens ln(p_target(bucket)/p_raw(bucket)) with
    add-one smoothing over ``_DSIR_B`` hashed buckets.

    Scale design: one exploded-token pass builds BOTH B-sized count
    vectors (conditional aggregation, map-side combinable to ≤B rows);
    the per-bucket log ratios are computed once on the B-row table,
    QUANTIZED to DECIMAL(18,6) (ln is the engine-portable e08 pattern;
    quantization makes the per-doc Σ order-independent, the dsum
    discipline), and BROADCAST back onto the token stream — the corpus
    is never shuffled except the map-side-combinable per-doc sum. The
    md5-derived bucket hash is the portable hash60 (production swaps
    xxhash64 1:1)."""
    docs = load_table(spark, sf_dir, "documents")
    tb = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("tok")
    ).select(
        "doc_id", "lang",
        F.pmod(
            hash60(F.concat(F.lit("dsir:"), F.col("tok"))), F.lit(_DSIR_B)
        ).alias("b"),
    )
    cnt = tb.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long").alias("ct"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0))
        .cast("long").alias("cr"),
    )
    tot = cnt.agg(
        F.sum("ct").cast("long").alias("nt"),
        F.sum("cr").cast("long").alias("nr"),
    )
    grid = spark.range(_DSIR_B).select(F.col("id").alias("b"))
    lr = (
        grid.join(cnt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            pround(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                        * (F.col("nr") + F.lit(float(_DSIR_B)))
                    )
                    / (
                        (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1.0))
                        * (F.col("nt") + F.lit(float(_DSIR_B)))
                    )
                ),
                6,
            ).cast("decimal(18,6)").alias("lr6"),
        )
    )
    return (
        tb.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("lang")).alias("lang"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr6").cast("double").alias("dsir_logw"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# e12 — cross-document passage dedup (exact, passage granularity)
# ---------------------------------------------------------------------------
#: Non-overlapping passage width. Document-level dedup (c01/c02) misses
#: the common pathology of distinct pages sharing boilerplate passages
#: (headers, license blocks, templated paragraphs); passage-granular
#: hashing catches it exactly — the cheap first stage of the
#: suffix-array substring dedup in Lee et al. 2021 (arXiv:2107.06499).
_PSG_W = 32


@query(
    "e12_passage_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    n AS (SELECT doc_id, toks,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 (len(toks) + {_PSG_W - 1}) // {_PSG_W} AS np
          FROM t),
    p AS (SELECT doc_id,
                 substr(md5('psg:' || array_to_string(
                     list_slice(toks, i * {_PSG_W} + 1,
                                LEAST((i + 1) * {_PSG_W},
                                      CAST(n_tokens AS INTEGER))), ' ')),
                        1, 16) AS pkey
          FROM n, UNNEST(range(np)) AS u(i)),
    k AS (SELECT pkey, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY pkey)
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_passages,
           CAST(SUM(CASE WHEN k.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_passages,
           floor((SUM(CASE WHEN k.nd >= 2 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0 AS shared_frac
    FROM p JOIN k ON k.pkey = p.pkey
    GROUP BY p.doc_id
    ORDER BY p.doc_id
    """,
)
def e12_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document passage-level exact dedup: hash every
    non-overlapping ``_PSG_W``-token passage (portable md5 prefix,
    the c01-at-passage-granularity canonicalization) and report, per
    document, how many of its passages also occur verbatim in at least
    one OTHER document.

    Scale design: passages are produced in the scan projection
    (sequence+explode like e09 — no shuffle to build them); the key
    census and the per-doc rollup are two map-side-combinable
    aggregations plus one equi-join on the passage key. The join is
    key-vs-key (both sides ≤ one row per passage) — never doc×doc.
    Skew note: a pathological passage shared by millions of docs still
    joins 1:1 per occurrence (the census is pre-aggregated), so no key
    explodes the join output beyond its own occurrence count."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id",
        tokens("text").alias("toks"),
    ).select(
        "doc_id",
        "toks",
        F.expr(f"(size(toks) + {_PSG_W - 1}) div {_PSG_W}").alias("np"),
    )
    p = n.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("np") - 1)).alias("i"),
        "toks",
    ).select(
        "doc_id",
        md5_prefix(
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("i") * _PSG_W + 1, _PSG_W)
            ),
            seed="psg:",
            length=16,
        ).alias("pkey"),
    )
    k = p.groupBy("pkey").agg(F.countDistinct("doc_id").alias("nd"))
    return (
        p.join(k, "pkey")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).cast("long")
            .alias("n_shared_passages"),
        )
        .select(
            "doc_id", "n_passages", "n_shared_passages",
            pround(
                F.col("n_shared_passages") * 1.0 / F.col("n_passages"), 6
            ).alias("shared_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# e13 — bigram language-model scoring (perplexity-style quality filter)
# ---------------------------------------------------------------------------
@query(
    "e13_bigram_lm_scores",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tok AS (SELECT unnest(toks) AS w FROM t),
    uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS uc FROM tok GROUP BY w),
    v AS (SELECT COUNT(*) AS v FROM uc),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i + 1]))
                      AS g
           FROM t WHERE len(toks) >= 2),
    bc AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS bc FROM bg GROUP BY g),
    lm AS (SELECT bc.g,
                  CAST({pround_sql('ln((bc.bc + 1.0) / (uc.uc + v.v))', 6)}
                       AS DECIMAL(18,6)) AS lp6
           FROM bc JOIN uc ON uc.w = split_part(bc.g, ' ', 1) CROSS JOIN v)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           {pround_sql('CAST(SUM(lm.lp6) AS DOUBLE) / COUNT(*)', 6)}
               AS avg_logprob
    FROM bg JOIN lm ON lm.g = bg.g
    GROUP BY bg.doc_id
    ORDER BY bg.doc_id
    """,
)
def e13_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram log-probability under an add-one
    smoothed corpus LM — the CCNet/Gopher "perplexity filter" shape
    (docs far below the corpus-typical score are boilerplate or noise;
    far above, likely duplicated templates).

    Scale: two linear map-side-combinable aggregates build the LM
    (unigram + bigram counts — the same shuffles a WordCount costs),
    the per-bigram score is computed ONCE per distinct bigram on the
    vocabulary-sized LM table (bc ⋈ uc on the bigram's first token,
    corpus size as a broadcast scalar), and the document stream joins
    that scored table exactly once on the bigram key. Nothing quadratic,
    no per-doc recomputation of ln(); AQE broadcasts the LM when it
    fits and falls back to a shuffle join (with skew split) when a
    100 TB vocabulary doesn't.

    Determinism: each bigram's log-prob is quantized to DECIMAL(18,6)
    via the portable floor formula (e11's pattern) BEFORE the per-doc
    sum, so the aggregate is exact decimal addition — partition-order
    independent and engine-identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("toks"))
    toks = F.col("toks")
    uni = (
        t.select(F.explode_outer("toks").alias("w"))
        # explode_outer emits one NULL row per NULL-text doc; the
        # oracle's unnest emits nothing there. NULL is not a token —
        # drop it or the vocabulary size v (the smoothing denominator)
        # shifts every bigram's log-prob.
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("uc"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    bg = (
        t.filter(F.size(toks) >= 2)
        .select(
            "doc_id",
            # explode_outer: plain explode plants a size()>0 filter that
            # pushdown inlines into the scan, re-tokenizing every row
            # (the e07 gotcha); n_tokens >= 2 already gates the row.
            F.explode_outer(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.concat(
                        F.element_at(toks, i),
                        F.lit(" "),
                        F.element_at(toks, i + 1),
                    ),
                )
            ).alias("g"),
        )
    )
    bc = bg.groupBy("g").agg(F.count(F.lit(1)).alias("bc"))
    lm = (
        bc.withColumn("w1", F.substring_index("g", " ", 1))
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "g",
            pround(
                F.log((F.col("bc") + F.lit(1.0)) / (F.col("uc") + F.col("v"))),
                6,
            ).cast("decimal(18,6)").alias("lp6"),
        )
    )
    return (
        bg.join(lm, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum("lp6").cast("double") / F.count(F.lit(1))).alias("_avg"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            pround(F.col("_avg"), 6).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# e14 — per-document token entropy (distributional quality signal)
# ---------------------------------------------------------------------------
@query(
    "e14_token_entropy",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents),
    c AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
    p AS (SELECT doc_id, c,
                 CAST({pround_sql('c * ln(c)', 6)}
                      AS DECIMAL(18,6)) AS clc
          FROM c),
    a AS (SELECT doc_id,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct,
                 SUM(clc) AS s
          FROM p GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_distinct,
           {pround_sql('ln(n_tokens) - CAST(s AS DOUBLE) / n_tokens', 6)}
               AS entropy
    FROM a
    ORDER BY doc_id
    """,
)
def e14_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution — the
    distributional quality signal that separates natural prose
    (moderate entropy) from keyword-stuffed spam (high) and template/
    repetition pathologies (low); complements e07's surface repetition
    ratios with an information-theoretic one.

    Algebra: H = ln(n) - (Σ c·ln c)/n over per-doc token counts, so the
    corpus-wide work is ONE (doc, token) count aggregate (map-side
    combinable) and a per-doc rollup — two linear shuffles, no
    vocabulary join at all. Each term's c·ln c is quantized to
    DECIMAL(18,6) via the portable floor formula before the sum
    (partition-order independent, engine-identical); ln(c) of an
    integer count is the same double on both engines (e08/e13
    precedent).
    """
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = cnt.select(
        "doc_id",
        "c",
        pround(F.col("c") * F.log("c"), 6).cast("decimal(18,6)").alias("clc"),
    )
    agg = per.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("clc").alias("s"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        pround(
            F.log("n_tokens") - F.col("s").cast("double") / F.col("n_tokens"),
            6,
        ).alias("entropy"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# e16 — vocabulary head profile (Zipf top-k with cumulative mass)
# ---------------------------------------------------------------------------
_ZIPF_TOPK = 50


@query(
    "e16_zipf_head_profile",
    oracle=f"""
    WITH x AS (SELECT unnest(string_split(text, ' ')) AS tok
               FROM documents),
    c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM x GROUP BY tok),
    t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM c),
    r AS (SELECT tok, freq,
                 ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank
          FROM c),
    h AS (SELECT * FROM r WHERE rank <= {_ZIPF_TOPK}),
    cum AS (SELECT rank, tok, freq,
                   SUM(freq) OVER (ORDER BY rank
                                   ROWS UNBOUNDED PRECEDING) AS cum_freq
            FROM h)
    SELECT CAST(cum.rank AS BIGINT) AS rank, cum.tok AS token, cum.freq,
           floor((cum.freq * 1.0 / t.total) * 1000000.0 + 0.5) / 1000000.0
               AS share,
           floor((cum.cum_freq * 1.0 / t.total) * 1000000.0 + 0.5)
               / 1000000.0 AS cum_share
    FROM cum CROSS JOIN t
    ORDER BY rank
    """,
)
def e16_zipf_head_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head profile: the top-50 corpus tokens with their
    frequency, corpus share, and cumulative mass — the Zipf head a
    pipeline inspects to pick stopword lists, tokenizer merges, and
    DF caps (c16's spectrum aggregated by level; this names the actual
    offenders).

    Scale: token counts are one map-side-combinable aggregate; the
    top-k plans as TakeOrderedAndProject (per-partition heads, driver
    merge — no global sort); rank/cum-share windows run AFTER the
    LIMIT on a 50-row relation (the b33/d03 bounded-panel pattern, so
    the unpartitioned window is provably metadata-sized); the grand
    total arrives as a broadcast scalar. Cumulative mass accumulates
    exact integers before one rounded division."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    total = counts.agg(F.sum("freq").cast("long").alias("total"))
    head = counts.orderBy(F.desc("freq"), F.asc("token")).limit(_ZIPF_TOPK)
    # The rank/cumulative windows run on the LIMIT-capped head only;
    # panel_window makes that single-bucket choice explicit so the
    # "No Partition Defined for Window" warning class stays grep-clean.
    w = panel_window("token", F.desc("freq"), F.asc("token"))
    return (
        head.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_freq",
            F.sum("freq").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "token",
            "freq",
            pround(F.col("freq") * 1.0 / F.col("total"), 6).alias("share"),
            pround(F.col("cum_freq") * 1.0 / F.col("total"), 6)
            .alias("cum_share"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# e17 — trigram novelty (how much of each doc is unique to it)
# ---------------------------------------------------------------------------
@query(
    "e17_trigram_novelty",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    s AS (SELECT doc_id,
                 list_distinct(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                      ELSE list_transform(range(1, len(toks) - 1),
                                          i -> array_to_string(toks[i:i+2], ' '))
                      END) AS sh
          FROM t),
    sz AS (SELECT doc_id, CAST(COALESCE(len(sh), 0) AS BIGINT)
               AS n_shingles FROM s),
    x AS (SELECT doc_id, unnest(sh) AS g FROM s),
    d AS (SELECT g, COUNT(*) AS df FROM x GROUP BY g),
    nov AS (SELECT x.doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
            FROM x JOIN d ON d.g = x.g WHERE d.df = 1 GROUP BY x.doc_id)
    SELECT sz.doc_id, sz.n_shingles,
           CAST(COALESCE(nov.n_novel, 0) AS BIGINT) AS n_novel,
           CASE WHEN sz.n_shingles = 0 THEN 0.0
                ELSE {pround_sql('COALESCE(nov.n_novel, 0) * 1.0'
                                 ' / sz.n_shingles', 6)} END AS novelty
    FROM sz LEFT JOIN nov ON nov.doc_id = sz.doc_id
    ORDER BY sz.doc_id
    """,
)
def e17_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a document's distinct word
    trigrams that occur in NO other document (corpus df = 1) — the
    inverse of boilerplate. Training-mix curation upweights high-
    novelty documents and drops near-zero ones (pure template text);
    the same table is the corpus-level "how much unique content did
    this crawl add" measure.

    Scale: two linear shuffles of the exploded shingle stream (the
    global df count, then the df=1 join back) plus one per-doc
    aggregate — no pairwise anything; df counting is map-side
    combinable and the df=1 filter prunes the join's probe output to
    the novel tail. Same shingle stream as c04/c16
    (``dedup.shared_shingles``), so the novelty report and the dedup
    cost model describe the same objects."""
    from .dedup import shared_shingles

    docs = load_table(spark, sf_dir, "documents")
    # Shingle GENERATION (higher-order transform/slice/concat — Catalyst
    # interprets these, ~8 s/pass at sf0.1) dominates everything
    # downstream, and three consumers in THIS query need the exploded
    # stream (per-doc sizes, the global df count, the df=1 join back) —
    # plus c04/c16 read the same stream in the same session. It is the
    # session-shared shingle artifact (dedup.shared_shingles).
    x = shared_shingles(spark, sf_dir).select("doc_id", "g")
    # The shingles are array_distinct'd, so per-doc rows of x ARE the
    # distinct shingles — size == count. Docs under 3 tokens emit no
    # rows; the left join from the doc panel restores them with 0.
    sz = docs.select("doc_id").join(
        x.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles")
        ),
        "doc_id", "left",
    ).select(
        "doc_id",
        F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
    )
    df = x.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    nov = (
        x.join(df.filter(F.col("df") == 1), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    joined = sz.join(nov, "doc_id", "left").select(
        "doc_id", "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
    )
    return joined.select(
        "doc_id", "n_shingles", "n_novel",
        F.when(F.col("n_shingles") == 0, F.lit(0.0))
        .otherwise(pround(F.col("n_novel") * 1.0 / F.col("n_shingles"), 6))
        .alias("novelty"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# e18 — rules-based quality gate (Gopher-style boolean filter report)
# ---------------------------------------------------------------------------
_RULE_MIN_WORDS = 20
_RULE_MAX_WORDS = 100_000
_RULE_MIN_MWL = 3.0
_RULE_MAX_MWL = 10.0
_RULE_MIN_STOPWORDS = 2
_EN_STOPWORDS = LANG_STOPWORDS["en"]


@query(
    "e18_quality_rules",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    m AS (SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 list_aggregate(list_transform(toks, w -> length(w)), 'sum')
                     AS sum_len,
                 CAST(list_aggregate(list_transform(toks, w -> length(w)),
                                     'max') AS BIGINT) AS max_word_len,
                 CAST(len(list_filter(toks, w -> w IN
                     ({', '.join("'" + w + "'" for w in _EN_STOPWORDS)})))
                     AS BIGINT) AS n_stopwords
          FROM t),
    r AS (SELECT doc_id, n_words,
                 {pround_sql('sum_len * 1.0 / n_words', 6)} AS mean_word_len,
                 max_word_len, n_stopwords
          FROM m)
    SELECT doc_id, n_words, mean_word_len, max_word_len, n_stopwords,
           (n_words BETWEEN {_RULE_MIN_WORDS} AND {_RULE_MAX_WORDS})
               AS ok_words,
           (mean_word_len BETWEEN {_RULE_MIN_MWL} AND {_RULE_MAX_MWL})
               AS ok_word_len,
           (n_stopwords >= {_RULE_MIN_STOPWORDS}) AS ok_stopwords,
           ((n_words BETWEEN {_RULE_MIN_WORDS} AND {_RULE_MAX_WORDS})
            AND (mean_word_len BETWEEN {_RULE_MIN_MWL} AND {_RULE_MAX_MWL})
            AND n_stopwords >= {_RULE_MIN_STOPWORDS}) AS keep
    FROM r
    ORDER BY doc_id
    """,
)
def e18_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rules-based quality gate (the Gopher/C4 filter family as a
    REPORT, complementing e02's scalar score): per document, the raw
    measurements (word count, mean/max word length, English-stopword
    hits) plus each rule's boolean outcome and the conjunctive keep
    flag. Shipping the per-rule booleans — not just the verdict — is
    what lets a curation run answer "which rule is rejecting my
    corpus" without recomputing anything.

    Scale: one linear scan; every measurement is a codegen'd
    higher-order fold over the token array (no explode, no shuffle at
    all until the final sort), integers and one 6dp-rounded division,
    so the gate runs at scan speed on any corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    lens = F.transform(toks, lambda w: F.length(w))
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(lens, F.lit(0), lambda a, x: a + x)
    mwl = pround(sum_len * 1.0 / n_words, 6)
    max_wl = F.array_max(lens).cast("long")
    n_stop = F.size(
        F.filter(toks, lambda w: w.isin(*_EN_STOPWORDS))
    ).cast("long")
    m = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        max_wl.alias("max_word_len"),
        n_stop.alias("n_stopwords"),
    )
    ok_words = F.col("n_words").between(_RULE_MIN_WORDS, _RULE_MAX_WORDS)
    ok_mwl = F.col("mean_word_len").between(_RULE_MIN_MWL, _RULE_MAX_MWL)
    ok_stop = F.col("n_stopwords") >= _RULE_MIN_STOPWORDS
    return m.select(
        "doc_id", "n_words", "mean_word_len", "max_word_len", "n_stopwords",
        ok_words.alias("ok_words"),
        ok_mwl.alias("ok_word_len"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_mwl & ok_stop).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# e19 — collocation lift (PMI-ordered bigram associations, log-free)
# ---------------------------------------------------------------------------
_COLL_MIN_COUNT = 5
_COLL_TOPK = 50


@query(
    "e19_collocation_lift",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    u AS (SELECT unnest(toks) AS w FROM t),
    uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM u GROUP BY w),
    n AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_tokens FROM uc),
    bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
           FROM t, LATERAL unnest(range(1, len(toks))) r(i)),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cab
           FROM bg GROUP BY w1, w2),
    b AS (SELECT CAST(SUM(cab) AS BIGINT) AS n_bigrams FROM bc),
    lift AS (SELECT bc.w1, bc.w2, bc.cab, ua.cw AS c1, ub.cw AS c2,
                    floor((bc.cab * 1.0 * n.n_tokens * n.n_tokens
                           / (b.n_bigrams * 1.0 * ua.cw * ub.cw))
                          * 1000000.0 + 0.5) / 1000000.0 AS lift
             FROM bc
             JOIN uc ua ON ua.w = bc.w1
             JOIN uc ub ON ub.w = bc.w2
             CROSS JOIN n CROSS JOIN b
             WHERE bc.cab >= {_COLL_MIN_COUNT})
    SELECT w1, w2, cab AS n_pair, c1 AS n_w1, c2 AS n_w2, lift
    FROM lift
    ORDER BY lift DESC, w1, w2
    LIMIT {_COLL_TOPK}
    """,
)
def e19_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by LIFT — p(w1,w2) / (p(w1)·p(w2)), the
    monotone transform of PMI with the logarithm removed: the ordering
    is identical, but every score is a ratio of exact int64 products
    (c_ab·N² / (B·c_a·c_b)) divided once — no transcendental for
    engines to disagree on (contrast e13's decimal-quantized ln). The
    table names the corpus's multi-word units (the "new york" problem)
    for tokenizer vocab decisions and boilerplate detection.

    Scale: two linear WordCount shuffles (unigrams, adjacent bigrams)
    + two broadcast scalar totals; the min-count filter prunes the
    long tail BEFORE the unigram joins, and the final TakeOrdered
    keeps only the 50-row head — no global sort of the bigram
    space."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    t = docs.select("doc_id", toks.alias("toks"))
    u = t.select(F.explode("toks").alias("w"))
    uc = u.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cw"))
    n = uc.agg(F.sum("cw").cast("long").alias("n_tokens"))
    bg = t.select(
        F.explode(
            # size<2 guard: sequence(1, 0) DESCENDS ([1, 0]) instead of
            # being empty, so a single-token doc would index toks[1]
            # out of bounds (ANSI error). The oracle's range(1, len) is
            # empty there.
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN "
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i - 1] AS w1, toks[i] AS w2)) "
                "ELSE array() END"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bc = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
        .filter(F.col("cab") >= _COLL_MIN_COUNT)
    )
    b = bg.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"))
    ua = uc.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    ub = uc.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    lift = (
        bc.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(b))
        .select(
            "w1", "w2",
            F.col("cab").alias("n_pair"),
            F.col("c1").alias("n_w1"),
            F.col("c2").alias("n_w2"),
            pround(
                F.col("cab") * 1.0 * F.col("n_tokens") * F.col("n_tokens")
                / (F.col("n_bigrams") * 1.0 * F.col("c1") * F.col("c2")),
                6,
            ).alias("lift"),
        )
    )
    return lift.orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2")).limit(
        _COLL_TOPK
    )


# ---------------------------------------------------------------------------
# e20 — character-class composition profile (per-source morphology census)
# ---------------------------------------------------------------------------
@query(
    "e20_charclass_profile",
    oracle=f"""
    WITH d AS (SELECT source,
                      CAST(length(text) AS BIGINT) AS n,
                      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                           AS BIGINT) AS n_alpha,
                      CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                           AS BIGINT) AS n_digit,
                      CAST(length(regexp_replace(text, '[^ ]', '', 'g'))
                           AS BIGINT) AS n_space
               FROM documents),
    s AS (SELECT source,
                 CAST(SUM(n) AS BIGINT) AS total_chars,
                 CAST(SUM(n_alpha) AS BIGINT) AS alpha_chars,
                 CAST(SUM(n_digit) AS BIGINT) AS digit_chars,
                 CAST(SUM(n_space) AS BIGINT) AS space_chars
          FROM d GROUP BY source)
    SELECT source, total_chars, alpha_chars, digit_chars, space_chars,
           total_chars - alpha_chars - digit_chars - space_chars
               AS other_chars,
           {pround_sql('alpha_chars * 1.0 / total_chars', 6)} AS alpha_ratio,
           {pround_sql('space_chars * 1.0 / total_chars', 6)} AS space_ratio
    FROM s
    ORDER BY source
    """,
)
def e20_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class composition: exact alpha / digit /
    space / other character totals with alpha and space ratios — the
    cheap morphology census that separates prose from tables, code,
    and OCR noise before any tokenizer runs (a C4/Gopher-adjacent
    screen: prose holds a stable ~5:1 alpha:space band; markup and
    numeric dumps fall far outside it).

    Scale: each class count is a codegen'd regexp_replace+length over
    the document — linear, no explode, no Python — and the rollup is
    one map-side-combinable |sources|-row aggregate. Integer sums are
    exact; the two ratios are 6dp-rounded after one double division.
    The class regexes are shared verbatim with the RE2-compatible
    oracle (anchored character classes only)."""
    docs = load_table(spark, sf_dir, "documents")
    cls = docs.select(
        "source",
        F.length("text").cast("long").alias("n"),
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("long")
        .alias("n_alpha"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("long")
        .alias("n_digit"),
        F.length(F.regexp_replace("text", "[^ ]", "")).cast("long")
        .alias("n_space"),
    )
    s = cls.groupBy("source").agg(
        F.sum("n").cast("long").alias("total_chars"),
        F.sum("n_alpha").cast("long").alias("alpha_chars"),
        F.sum("n_digit").cast("long").alias("digit_chars"),
        F.sum("n_space").cast("long").alias("space_chars"),
    )
    return s.select(
        "source", "total_chars", "alpha_chars", "digit_chars", "space_chars",
        (
            F.col("total_chars") - F.col("alpha_chars")
            - F.col("digit_chars") - F.col("space_chars")
        ).alias("other_chars"),
        pround(F.col("alpha_chars") * 1.0 / F.col("total_chars"), 6)
        .alias("alpha_ratio"),
        pround(F.col("space_chars") * 1.0 / F.col("total_chars"), 6)
        .alias("space_ratio"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# e21 — per-source language purity (label-noise screen)
# ---------------------------------------------------------------------------
@query(
    "e21_source_language_purity",
    oracle="""
    WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM documents GROUP BY source, lang),
    w AS (SELECT source, lang, cnt,
                 SUM(cnt) OVER (PARTITION BY source) AS n,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY cnt DESC, lang DESC) AS rn
          FROM c),
    t AS (SELECT source, lang, cnt, n, rn,
                 CAST(floor((-1.0 * (CAST(cnt AS DOUBLE) / n)
                             * ln(CAST(cnt AS DOUBLE) / n))
                            * 1000000000.0 + 0.5) AS BIGINT) AS t9
          FROM w)
    -- dominant language via the same-partition window rather than a
    -- self-join on source: an equi-join silently DROPS the NULL-source
    -- group that GROUP BY keeps, losing a row the engine reports.
    SELECT t.source,
           CAST(MAX(t.n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           MAX(CASE WHEN rn = 1 THEN lang END) AS top_lang,
           floor((CAST(MAX(CASE WHEN rn = 1 THEN cnt END) AS DOUBLE)
                  / MAX(t.n))
                 * 1000000.0 + 0.5) / 1000000.0 AS top_share,
           floor((CAST(SUM(t.t9) AS DOUBLE) / 1000000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS lang_entropy
    FROM t
    GROUP BY t.source
    ORDER BY t.source
    """,
)
def e21_source_language_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language composition: document count, distinct
    languages, the dominant language and its share, and the Shannon
    entropy (nats) of the source's language distribution — the
    label-noise screen a multilingual mix owner reads next to e06's
    langid confusion: a source claiming to be monolingual with
    entropy >> 0 has mislabeled documents, and p01's per-source
    budgets assume the labels.

    Scale: one linear scan into a |sources|x|langs|-bounded cell
    census; everything after runs on that metadata-sized panel — the
    per-source total is a panel window, the dominant language a
    deterministic struct-max (count then lang, matching the oracle's
    ROW_NUMBER tie-break), and each entropy term quantizes to int64
    NANO-units after one ln() on an identical double (the p15/e13
    libm precedent), so the per-source sum is exact integer
    arithmetic — partition order cannot move it."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.partitionBy("source")
    t = cells.withColumn("n", F.sum("cnt").over(w)).withColumn(
        "t9",
        F.expr(
            "CAST(floor((-1.0 * (CAST(cnt AS DOUBLE) / n)"
            " * ln(CAST(cnt AS DOUBLE) / n))"
            " * 1000000000.0 + 0.5) AS BIGINT)"
        ),
    )
    return (
        t.groupBy("source")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            F.max(F.struct(F.col("cnt"), F.col("lang"))).alias("top"),
            F.sum("t9").cast("long").alias("s9"),
        )
        .select(
            "source", "n_docs", "n_langs",
            F.col("top.lang").alias("top_lang"),
            pround(
                F.col("top.cnt").cast("double") / F.col("n_docs"), 6
            ).alias("top_share"),
            pround(F.col("s9").cast("double") / 1000000000.0, 6)
            .alias("lang_entropy"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# e22 — vocabulary growth curve (Heaps-law profile)
# ---------------------------------------------------------------------------
@query(
    "e22_vocab_growth_curve",
    oracle="""
    WITH x AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
                   AS tok
               FROM documents),
    f AS (SELECT tok, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM x
          GROUP BY tok),
    b AS (SELECT CAST(length(bin(first_doc + 1)) AS INT) AS log2_bucket,
                 CAST(COUNT(*) AS BIGINT) AS new_types
          FROM f GROUP BY log2_bucket),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM x),
    c AS (SELECT log2_bucket,
                 (CAST(1 AS BIGINT) << log2_bucket) - 1 AS docs_prefix_hi,
                 new_types,
                 CAST(SUM(new_types) OVER (ORDER BY log2_bucket)
                      AS BIGINT) AS vocab_size
          FROM b)
    SELECT c.log2_bucket, c.docs_prefix_hi, c.new_types, c.vocab_size,
           floor((CAST(c.vocab_size AS DOUBLE) / t.n_tokens)
                 * 1000000.0 + 0.5) / 1000000.0 AS type_token_ratio_bound
    FROM c, t
    ORDER BY c.log2_bucket
    """,
)
def e22_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: how many DISTINCT token types the
    corpus has accumulated after each power-of-two doc-id prefix — the
    curve that sizes tokenizer vocabularies and predicts how much new
    vocabulary another 10x of data buys (sub-linear growth is the
    Heaps regime; linear growth means unbounded noise tokens, a
    quality smell).

    Scale: the naive per-prefix countDistinct is K scans (or one
    K-fold Expand); instead each TYPE reduces to its FIRST-occurrence
    doc (one token-keyed min aggregate — the token stream's natural
    shuffle), the curve is the cumulative histogram of first
    occurrences over a <=~40-cell integer-bucket panel (p18's
    binary-length move, no float log boundary), and the panel window
    (panel_window on the bounded buckets) does the running sum. One
    corpus scan, one linear shuffle, constant-size output."""
    from ..functions.windows import panel_window

    docs = load_table(spark, sf_dir, "documents")
    x = docs.select(
        "doc_id",
        F.explode(distinct_tokens("text")).alias("tok"),
    )
    x = persist_tracked(x)
    f = x.groupBy("tok").agg(F.min("doc_id").cast("long").alias("first_doc"))
    b = (
        f.select(
            F.length(F.bin(F.col("first_doc") + 1)).cast("int")
            .alias("log2_bucket")
        )
        .groupBy("log2_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("new_types"))
    )
    tot = x.agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    w = panel_window("log2_bucket", F.asc("log2_bucket"))
    c = b.withColumn(
        "vocab_size", F.sum("new_types").over(w).cast("long")
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "log2_bucket",
            F.expr("shiftleft(CAST(1 AS BIGINT), log2_bucket) - 1")
            .cast("long").alias("docs_prefix_hi"),
            "new_types", "vocab_size",
            pround(
                F.col("vocab_size").cast("double") / F.col("n_tokens"), 6
            ).alias("type_token_ratio_bound"),
        )
        .orderBy("log2_bucket")
    )


# ---------------------------------------------------------------------------
# e23 — per-token burstiness (variance-to-mean ratio, Church–Gale)
# ---------------------------------------------------------------------------
@query(
    "e23_token_burstiness",
    oracle="""
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents),
    pc AS (SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS c
           FROM t GROUP BY tok, doc_id),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_total
            FROM documents),
    s AS (SELECT tok,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(c) AS BIGINT) AS total_count,
                 CAST(SUM(c * c) AS BIGINT) AS sumsq
          FROM pc GROUP BY tok)
    SELECT tok, n_docs, total_count,
           floor((CAST(n_docs AS DOUBLE) / n_docs_total)
                 * 1000000.0 + 0.5) / 1000000.0 AS doc_share,
           floor((CAST(total_count AS DOUBLE) / n_docs)
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_per_doc,
           floor(((CAST(sumsq AS DOUBLE) / n_docs
                   - (CAST(total_count AS DOUBLE) / n_docs)
                     * (CAST(total_count AS DOUBLE) / n_docs))
                  / (CAST(total_count AS DOUBLE) / n_docs))
                 * 1000000.0 + 0.5) / 1000000.0 AS burstiness
    FROM s, tot
    ORDER BY tok
    """,
)
def e23_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token burstiness census (Church–Gale variance-to-mean ratio
    of within-document counts, among documents CONTAINING the token):
    document frequency, corpus count, doc-coverage share, mean per-doc
    count, and VMR. Function words recur evenly (VMR near 1, Poisson);
    content words clump (VMR ≫ 1) — the statistic that INDUCES a
    stopword list from the corpus itself instead of importing one,
    feeding e06's language-ID stopword sets and e18's quality rules,
    and flagging boilerplate tokens (huge doc_share AND high VMR) that
    e07's within-doc repetition metrics cannot see across documents.

    Scale: one explode (linear in tokens) into a (doc_id, token)
    count — map-side combinable, the same first shuffle every
    bag-of-words pass pays — then a collapse to |vocabulary| rows
    where ALL moments are exact int64 sums (count, Σc, Σc²); the
    variance arrives algebraically (Σc²/n − mean²) from one pass, no
    second scan, no per-token variance window. Doubles appear only in
    the final |vocab|-row projection as exactly-specified IEEE
    divisions/multiplies in textually identical order on both engines,
    then 6dp floor-quantized (pround), so the report is bit-portable
    and mergeable across any partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    pc = (
        docs.select(
            "doc_id", F.explode(tokens("text")).alias("tok")
        )
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs_total"))
    s = pc.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("c").cast("long").alias("total_count"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sumsq"),
    )
    mean = F.col("total_count").cast("double") / F.col("n_docs")
    ex2 = F.col("sumsq").cast("double") / F.col("n_docs")
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "tok", "n_docs", "total_count",
            pround(
                F.col("n_docs").cast("double") / F.col("n_docs_total"), 6
            ).alias("doc_share"),
            pround(mean, 6).alias("mean_per_doc"),
            pround((ex2 - mean * mean) / mean, 6).alias("burstiness"),
        )
        .orderBy("tok")
    )


# ---------------------------------------------------------------------------
# e24 — pairwise source vocabulary divergence (Jensen–Shannon matrix)
# ---------------------------------------------------------------------------
#: Per-(source pair, token) JSD contribution in nats over unigram
#: distributions pa, pb: ½·pa·ln(2pa/(pa+pb)) + ½·pb·ln(2pb/(pa+pb)),
#: zero-probability arms dropped (their limit is 0). The string feeds
#: BOTH engines verbatim (the c26 textual-identity discipline), so the
#: single ln() evaluates on identical doubles; each term is quantized
#: to int64 NANO-units (e21's entropy discipline) before the exact
#: integer sum.
_JSD_TERM9 = (
    "CAST(floor(("
    "(CASE WHEN pa > 0 THEN pa * ln(2.0 * pa / (pa + pb)) ELSE 0.0 END"
    " + CASE WHEN pb > 0 THEN pb * ln(2.0 * pb / (pa + pb)) ELSE 0.0 END)"
    " * 0.5) * 1000000000.0 + 0.5) AS BIGINT)"
)

#: Grid-support cap: the dense |sources|×|vocab| grid (and the
#: broadcast vocabulary that seeds it) is restricted to the top-K
#: tokens by TOTAL corpus count, deterministic tie-break on the token
#: itself — the e08/e16 head discipline, now ENFORCED here rather than
#: assumed upstream, so the driver-side broadcast and the pair fan-out
#: are bounded at any corpus size. Probability denominators stay
#: full-corpus (per-source token totals), so head-token probabilities
#: are exact; only sub-head-rank tail mass leaves the divergence sum.
#: The Spark plan and the registered oracle read the same constant, so
#: they can never desynchronize. 65536 is far above the test fixtures'
#: vocabulary, so gate-SF outputs are cap-invariant; tests pin the
#: capped behavior directly at small K.
_E24_VOCAB_K = 65536


def _e24_oracle(vocab_k: int) -> str:
    return f"""
    WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
               FROM documents),
    c AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM t GROUP BY source, tok),
    n AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n
          FROM c GROUP BY source),
    v AS (SELECT tok FROM (SELECT tok, SUM(cnt) AS tot FROM c GROUP BY tok)
          ORDER BY tot DESC, tok LIMIT {vocab_k}),
    g AS (SELECT s.source, s.n, v.tok, COALESCE(c.cnt, 0) AS cnt
          FROM n s CROSS JOIN v
          LEFT JOIN c ON c.source = s.source AND c.tok = v.tok),
    p AS (SELECT a.source AS source_a, b.source AS source_b,
                 CASE WHEN a.cnt + b.cnt > 0 THEN 1 ELSE 0 END AS in_union,
                 CAST(a.cnt AS DOUBLE) / a.n AS pa,
                 CAST(b.cnt AS DOUBLE) / b.n AS pb
          FROM g a JOIN g b
            ON a.tok = b.tok AND a.source < b.source),
    terms AS (SELECT source_a, source_b, in_union,
                     {_JSD_TERM9} AS t9
              FROM p)
    SELECT source_a, source_b,
           CAST(SUM(in_union) AS BIGINT) AS n_union_tokens,
           floor((CAST(SUM(t9) AS DOUBLE) / 1000000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS jsd_nats
    FROM terms
    GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """


@query("e24_source_vocab_jsd", oracle=_e24_oracle(_E24_VOCAB_K))
def e24_source_vocab_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source vocabulary divergence: the Jensen–Shannon
    divergence (nats) between every two sources' unigram distributions,
    with the union-vocabulary size per pair — the source-affinity
    matrix that tells a mix planner which corpora are near-duplicates
    in DISTRIBUTION (merge or down-weight: c19 finds literal cross-
    source duplicates, this finds statistical redundancy with no
    shared byte), which are complementary, and how far a new crawl
    sits from everything already in the mix. JSD over KL because it is
    symmetric, bounded by ln 2, and defined even where supports
    differ — exactly the new-source case KL blows up on (p15's
    absolute-continuity filter is the KL workaround; JSD needs none).

    Scale: ONE exploded scan collapses map-side to (source, token)
    counts — the same first shuffle as e23 — and everything after is
    METADATA-SIZED: the dense |sources|×|vocab| grid (COALESCE(0)
    restores absent cells so union support is exact), the
    token-keyed pair fan-out (|sources|²·|vocab| bounded rows), and
    the |sources|²-cell report. The grid support is ENFORCED bounded:
    the vocabulary is the top-``_E24_VOCAB_K`` tokens by total corpus
    count (deterministic tie-break on the token, mirrored verbatim in
    the oracle), so the broadcast build side and the pair fan-out are
    capped at ANY corpus size while probability denominators stay
    full-corpus-exact — truncation drops only sub-head-rank tail mass
    from the sum, the e08/e16 head discipline. Each pair term is ONE
    ln() on identical doubles via a shared expression string, NANO-
    unit int64 quantization before the exact sum (e21's entropy
    discipline), so the matrix is bit-portable and mergeable."""
    return _e24_frame(spark, sf_dir, _E24_VOCAB_K)


def _e24_frame(
    spark: SparkSession, sf_dir: str, vocab_k: int
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select(
            "source", F.explode(tokens("text")).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    c = persist_tracked(c)
    n = c.groupBy("source").agg(F.sum("cnt").cast("long").alias("n"))
    # TakeOrdered head-K, never a full sort: the vocabulary support is
    # the corpus's top-K tokens by total count, tie-broken on the
    # token so the set is identical on both engines.
    v = (
        c.groupBy("tok").agg(F.sum("cnt").cast("long").alias("tot"))
        .orderBy(F.col("tot").desc(), "tok").limit(vocab_k)
        .select("tok")
    )
    g = (
        n.crossJoin(F.broadcast(v))
        .join(c, ["source", "tok"], "left")
        .select(
            "source", "n", "tok",
            F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("cnt"),
        )
    )
    # Pair generation WITHOUT the grid self-join (round-12
    # optimization, guide §2.3/§2.4): the round-11 shape computed the
    # whole grid subtree TWICE (once per join side) and sort-merge-
    # joined them on tok — two exchanges plus a duplicated grid build.
    # The grid is dense (exactly one row per (source, tok)), so one
    # groupBy(tok) collapses each token to its |sources|-bounded
    # source panel (an enum — never corpus-scaled) and a codegen'd
    # nested transform emits the i<j pairs map-side, the g33 basket
    # discipline: ONE grid build, ONE bounded exchange, no join.
    # sort_array orders each panel by source (struct ordering, source
    # is unique per token), so pair orientation is source_a < source_b
    # by construction; the NULL guards reproduce the old join
    # predicate's null-rejection (tok = tok_b AND source_a < source_b
    # both reject NULLs) exactly.
    per_tok = (
        g.filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("source", "cnt", "n"))
            ).alias("ss")
        )
    )
    pair = per_tok.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) ->"
                " transform(slice(ss, i + 2, size(ss) - i - 1),"
                " y -> struct(x.source AS source_a, y.source AS source_b,"
                " x.cnt AS cnt_a, x.n AS n_a,"
                " y.cnt AS cnt_b, y.n AS n_b))))"
            )
        ).alias("p")
    ).select("p.*")
    p = pair.filter(
        F.col("source_a").isNotNull() & F.col("source_b").isNotNull()
    ).select(
        "source_a", "source_b",
        ((F.col("cnt_a") + F.col("cnt_b")) > 0).cast("long")
        .alias("in_union"),
        (F.col("cnt_a").cast("double") / F.col("n_a")).alias("pa"),
        (F.col("cnt_b").cast("double") / F.col("n_b")).alias("pb"),
    )
    terms = p.select(
        "source_a", "source_b", "in_union",
        F.expr(_JSD_TERM9).alias("t9"),
    )
    return (
        terms.groupBy("source_a", "source_b")
        .agg(
            F.sum("in_union").cast("long").alias("n_union_tokens"),
            pround(
                F.sum("t9").cast("double") / 1000000000.0, 6
            ).alias("jsd_nats"),
        )
        .orderBy("source_a", "source_b")
    )
