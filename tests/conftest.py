"""Shared fixtures: one SparkSession per test run, a small deterministic
corpus, and the pure-Python oracle index built on the same rows."""

from __future__ import annotations

import itertools

import pytest

from inverted_index_and_search_spark import oracle
from inverted_index_and_search_spark.corpus import corpus_pandas
from inverted_index_and_search_spark.session import get_spark

N_DOCS_SMALL = 60
SEED = 42

TESTDATA = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]",
                  conf={"spark.sql.shuffle.partitions": "8",
                        "spark.driver.memory": "8g"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf():
    pdf = corpus_pandas(N_DOCS_SMALL, seed=SEED)
    # engine doc_id = dense rank over (repo, path, commit) asc
    pdf = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    return pdf


@pytest.fixture(scope="session")
def docs_df(spark, corpus_pdf):
    df = spark.createDataFrame(
        corpus_pdf[["doc_id", "repo", "path", "commit", "lang", "content"]]
    )
    df.cache().count()
    return df


@pytest.fixture(scope="session")
def oracle_idx(corpus_pdf):
    return oracle.build_index(
        list(zip(corpus_pdf["doc_id"].tolist(), corpus_pdf["content"].tolist()))
    )


#: the fixture query set (FIXTURES.md §2): hot keywords, unique
#: identifiers, hot+rare combos, absent terms, uppercase input
QUERY_SET: list[list[str]] = [
    ["def"],
    ["return", "if"],
    ["def", "return", "if", "int"],
    ["var_3_0"],
    ["def", "var_5_0"],
    ["zzzqqqxx"],               # absent -> empty (short-circuit)
    ["def", "zzzqqqxx"],        # one absent -> empty
    ["DEF", "Return"],          # query-side lowercasing
    ["g0x17"],                  # genome-doc unique token
    ["self", "class", "import"],
]


_JOB_GROUPS = itertools.count()


def spark_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted by a job group
    of its own in the status tracker."""
    sc = spark.sparkContext
    group = f"tests-jobs-{next(_JOB_GROUPS)}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    # the status store fills from the async listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
