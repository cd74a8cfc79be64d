"""Unit tests for the text Column builders — in particular the
language-ID heuristic on real multilingual samples (the fixture corpus
is synthetic word salad, so the oracle queries exercise corpus stats
and THESE tests exercise the heuristic itself)."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from streamandbatchprocessing_spark.functions.text import (
    distinct_tokens,
    langid,
    shingles,
    tokens,
)

SAMPLES = [
    ("the cat sat on the mat and it was happy", "en"),
    ("der hund ist nicht mit der katze und den kindern", "de"),
    ("le chat est dans la maison et les enfants pour toujours", "fr"),
    ("el perro es un animal que vive con la familia", "es"),
    ("我 是 一个 学生 他 有 不 少 的 书", "zh"),
    ("zzz qqq xxx www", "und"),  # no stopword hits anywhere
]


def test_langid_multilingual(spark):
    df = spark.createDataFrame(SAMPLES, ["text", "expected"]).withColumn(
        "got", langid(F.col("text"))
    )
    rows = df.collect()
    assert all(r.got == r.expected for r in rows), [
        (r.text[:25], r.expected, r.got) for r in rows if r.got != r.expected
    ]


def test_langid_is_jvm_only(spark):
    df = spark.createDataFrame(SAMPLES, ["text", "expected"]).select(
        langid(F.col("text")).alias("lang")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "EvalPython" not in plan


def test_shingles_and_boundaries(spark):
    # works directly on an expression (no named-column restriction)
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["text"]).select(
        shingles(tokens(F.col("text")), 3).alias("sh")
    )
    got = [r.sh for r in df.collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == []  # shorter than n → empty, not error


def test_distinct_tokens(spark):
    df = spark.createDataFrame([("a b a c b",)], ["text"]).select(
        distinct_tokens(F.col("text")).alias("d")
    )
    assert sorted(df.collect()[0].d) == ["a", "b", "c"]


def test_e06_consistent_on_messy_whitespace(spark, tmp_path):
    """predicted/best/oracle must agree on tabs, newlines, and runs of
    spaces — round-2 advice: a regex-split argmax next to a space-split
    score diverged on exactly these inputs. All three now share the
    single-space tokenization."""
    import duckdb
    import pandas as pd

    from streamandbatchprocessing_spark.queries.textops import (
        _langid_oracle,
        e06_language_id,
    )

    rows = [
        (0, "the\tcat and  the dog", "en", "web", 20),   # tab + double space
        (1, "der hund\nist nicht da", "de", "web", 20),  # newline
        (2, "le chat   est la", "fr", "web", 16),        # triple space
        (3, "plain the and of text", "en", "web", 21),
    ]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet", index=False)

    got = {
        (r["lang"], r["predicted"]): (r["n_docs"], r["total_hits"])
        for r in e06_language_id(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    want = {
        (lang, pred): (n, hits)
        for lang, pred, n, hits in con.sql(_langid_oracle()).fetchall()
    }
    assert got == want


# ``split(<expr>, " ")`` / ``split(text, ' ')`` in Python or Spark SQL
# text, <expr> nesting calls two deep; ``string_split`` (the DuckDB oracles) has no word boundary
# before ``split`` and does not match.
_SINGLE_SPACE_SPLIT = re.compile(
    r"""\bsplit\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*?,\s*(["']) \1\s*\)"""
)


def test_single_space_split_only_in_the_tokenizer():
    """functions/text.tokens is the one corpus tokenizer: no other
    module splits on a single space inline."""
    pkg = Path(tokens.__code__.co_filename).resolve().parents[1]
    offenders = [
        f"{path.relative_to(pkg)}: {m.group(0)}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "text.py" or path.parent.name != "functions"
        for m in _SINGLE_SPACE_SPLIT.finditer(path.read_text())
    ]
    assert not offenders, "\n".join(offenders)
    # the pattern itself catches both spellings
    assert _SINGLE_SPACE_SPLIT.search('F.split(F.lower(F.col("text")), " ")')
    assert _SINGLE_SPACE_SPLIT.search("size(split(\n  text, ' ')) < 3")
    assert not _SINGLE_SPACE_SPLIT.search("string_split(text, ' ')")
