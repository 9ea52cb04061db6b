"""Tokenizer parity: all engine implementations (pure-Python oracle,
JVM built-in expression, the Arrow kernels' batch loop, DuckDB oracle
SQL) must produce identical token streams (SURVEY.md §2.8 canonical
semantics)."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from inverted_index_and_search_spark.tokenizer import (
    tokenize_py,
    tokens_col,
    tokens_sql_duckdb,
)

EDGE_CASES = [
    "Hello, World! foo_bar 42x",
    "def f(x):\n  return x+1  # comment",
    "a\\b c\\\\d path\\to\\file",          # backslashes (DF-variant bug territory)
    "__init__ _ __ snake_case_name",
    "A:B:C d:e:f",                          # colon docIDs (reference reducer guard)
    "",
    "   \t\n  ",
    "MiXeD CaSe UPPER lower 123abc abc123",
    "naïve café résumé",                    # accented letters are kept
    "price=42; x+=1; y*=2",
]


def test_py_matches_reference_semantics():
    # exact re-implementation of RDD_inverted_index_search.py:199-202
    import re

    for s in EDGE_CASES:
        ref = re.sub(r"[^\w\s]|_", " ", s.lower()).split()
        assert tokenize_py(s) == ref, s


def test_builtin_matches_py(spark, corpus_pdf):
    texts = EDGE_CASES + corpus_pdf["content"].head(20).tolist()
    df = spark.createDataFrame(pd.DataFrame({"content": texts}))
    got = [r[0] or [] for r in df.select(tokens_col(F.col("content"))).collect()]
    want = [tokenize_py(t) for t in texts]
    assert got == want


def test_duckdb_sql_matches_py(corpus_pdf):
    texts = EDGE_CASES + corpus_pdf["content"].head(10).tolist()
    frag = tokens_sql_duckdb("?")
    for t in texts:
        got = duckdb.execute(f"select {frag}", [t]).fetchone()[0]
        assert got == tokenize_py(t), t[:60]


# --------------------------------------------------- property (hypothesis)

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from inverted_index_and_search_spark.tokenizer import _PY_TOKEN  # noqa: E402


@given(st.text(max_size=500))
@settings(max_examples=500, deadline=None)
def test_findall_form_equals_strip_split_form(text):
    """The single-pass findall([^\\W_]+) tokenizer used by the Arrow
    kernels is token-identical to the canonical strip+split oracle on
    arbitrary unicode input."""
    assert _PY_TOKEN.findall(text.lower()) == tokenize_py(text)


@given(st.text(max_size=500))
@settings(max_examples=500, deadline=None)
def test_batch_fast_path_equals_oracle(text):
    """tokenize_batch (the r6 ASCII translate+split fast path with the
    Unicode regex fallback — the shared Arrow-kernel hot loop) is
    token-identical to the oracle on arbitrary unicode input, and
    null-tolerant."""
    from inverted_index_and_search_spark.tokenizer import tokenize_batch

    assert tokenize_batch([text, None]) == [tokenize_py(text), []]
