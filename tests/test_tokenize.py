"""Normalizer/tokenizer vectors ported from the reference's fuzzy tests
(/root/reference/src/fuzzy.rs:183-287 artifact classes; FIXTURES.md §3)
plus normalizer equivalence (Python == pandas) and tokenizer
equivalence (Python == Spark expression on normalized text)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from semantic_pdf_search_engine_spark.functions.normalize import (
    normalize_py,
    normalize_series,
)
from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py, tokens_expr

ARTIFACT_VECTORS = [
    ("infor-\nmation", "information"),  # hyphenated line break
    ("the  quick   brown  fox", "the quick brown fox"),  # multi-space
    ("compre­hensive", "comprehensive"),  # soft hyphen
    ("zero​width", "zerowidth"),  # zero-width space
    ("“quoted text”", '"quoted text"'),  # curly quotes
    ("well—known", "well-known"),  # em dash
    ("nb sp", "nb sp"),  # NBSP
    ("eﬃcient ﬁne ﬂow", "efficient fine flow"),  # ligatures
    ("mœurs æon", "moeurs aeon"),  # œ/æ
]


@pytest.mark.parametrize("raw,expected", ARTIFACT_VECTORS)
def test_normalize_py(raw, expected):
    assert normalize_py(raw) == expected


def test_normalize_pandas_matches_py():
    raws = [r for r, _ in ARTIFACT_VECTORS]
    got = normalize_series(pd.Series(raws)).tolist()
    assert got == [normalize_py(r) for r in raws]


def test_tokenize_basic():
    assert tokenize_py("Infor-\nmation RETRIEVAL, 2 terms!") == [
        "information",
        "retrieval",
        "2",
        "terms",
    ]
    assert tokenize_py("") == []
    assert tokenize_py(None) == []
    assert tokenize_py("   \n\t ") == []


def test_tokens_expr_matches_py(spark):
    texts = [r for r, _ in ARTIFACT_VECTORS] + ["Hello, World! 123", ""]
    df = spark.createDataFrame([(normalize_py(t),) for t in texts], "t string")
    got = [r["toks"] for r in df.select(tokens_expr(F.col("t")).alias("toks")).collect()]
    assert got == [tokenize_py(t) for t in texts]
