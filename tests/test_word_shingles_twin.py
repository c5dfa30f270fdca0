"""Bit-equality proof for the Arrow ``word_shingles`` kernel against the
pure-expression form it replaced (kept here as the oracle): same rows,
same per-doc first-occurrence order, over the real corpus AND
adversarial strings (empty tokens, trailing spaces, unicode where
Java/Arrow lowercasing differs — handled by keeping lower() in the JVM)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from logistics_data_pipeline_project_spark.operators.dedup import word_shingles
from logistics_data_pipeline_project_spark.operators.scale import fan_out
from logistics_data_pipeline_project_spark.operators.text import sliding_concat_sql

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def _expr_shingles(df, text_col, id_col, n):
    """The pure-expression form: split, then array_distinct over a
    transform of the window starts."""
    toks = fan_out(df).select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), " ").alias("__t")
    ).filter(F.size("__t") >= n)
    return toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(0, size(__t)-{n}),"
                f" i -> {sliding_concat_sql('__t', 'i', n)}))"
            )
        ).alias("shingle"),
    )


def _both(df, text_col, id_col, n):
    a = word_shingles(df, text_col, id_col, n=n).collect()
    e = _expr_shingles(df, text_col, id_col, n).collect()
    return [tuple(r) for r in a], [tuple(r) for r in e]


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_twin_equal_on_corpus(spark, n):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    a, e = _both(docs, "text", "doc_id", n)
    assert sorted(a) == sorted(e)
    # order equality per doc (first occurrence): group rows by id and
    # compare sequences
    from collections import defaultdict

    ga, ge = defaultdict(list), defaultdict(list)
    for i, s in a:
        ga[i].append(s)
    for i, s in e:
        ge[i].append(s)
    assert ga == ge


def test_twin_equal_adversarial(spark):
    cases = [
        (0, "a  b c"),          # empty token from double space
        (1, " lead"),           # leading space -> empty first token
        (2, "trail "),          # trailing space -> empty last token
        (3, ""),                # empty string -> one empty token
        (4, "  "),              # only empties
        (5, "one two"),         # shorter than n
        (6, "HeLLo WoRLD HeLLo WoRLD HeLLo"),  # repeats -> distinct
        (7, "İstanbul ŞİŞ kebap İstanbul ŞİŞ"),  # Java-vs-Arrow lower
        (8, "ΣΙΣΥΦΟΣ ΚΑΙ Η ΠΕΤΡΑ ΤΟΥ ΣΙΣΥΦΟΣ"),  # final sigma
        (9, None),              # null text -> no shingles
        (10, "x y z x y z x y z"),
        (11, "tab\tis one token here right"),
    ]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    for n in (1, 2, 3):
        a, e = _both(df, "text", "doc_id", n)
        assert a == e, f"n={n}"


def test_twin_equal_string_ids(spark):
    df = spark.createDataFrame(
        [("src-a", "p q r p q r"), ("src-b", "p q r s")],
        "source string, text string",
    )
    a, e = _both(df, "text", "source", 3)
    assert a == e
