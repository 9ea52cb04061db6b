"""Trigram substring/regex search (operators/grep.py): the
candidates-then-verify path must equal a brute-force scan on every
query, and the regex literal extraction must be sound (required
literals only).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from inverted_index_and_search_spark.operators import grep

NEEDLES = [
    "def ",            # hot
    "var_3_0",         # identifier with underscores
    "return",          # hot word
    "))",              # len<3 -> full-scan fallback (len 2)
    "zzznothere",      # absent
    "if (",            # punctuation + space
]

PATTERNS = [
    r"var_[0-9]+_0",       # literal run "var_" (len>=3)
    r"def [a-z]+_[0-9]+",  # literal "def "
    r"(foo|bar)baz",       # alternation -> no top-level literal
    r"return|yield",       # alternation at top -> no prefilter
]


@pytest.fixture(scope="module")
def tidx(docs_df):
    return grep.build_trigram_index(docs_df)


def brute_substr(corpus_pdf, needle):
    return sorted(
        int(r.doc_id) for r in corpus_pdf.itertuples()
        if needle in r.content)


def brute_regex(corpus_pdf, pattern):
    rx = re.compile(pattern)
    return sorted(
        int(r.doc_id) for r in corpus_pdf.itertuples()
        if rx.search(r.content))


def test_grams_udf_matches_py(spark, docs_df, corpus_pdf):
    got = {r["doc_id"]: r["g"] for r in docs_df.select(
        "doc_id", grep.grams_pandas_udf(F.col("content")).alias("g"))
        .collect()}
    for r in corpus_pdf.itertuples():
        assert sorted(got[int(r.doc_id)]) == sorted(
            grep.grams_py(r.content)), r.doc_id


def test_substring_search_equals_scan(spark, docs_df, corpus_pdf, tidx):
    for needle in NEEDLES:
        got = sorted(r["doc_id"] for r in grep.substring_search(
            tidx, docs_df, needle).collect())
        assert got == brute_substr(corpus_pdf, needle), needle


def test_substring_counts(spark, docs_df, corpus_pdf, tidx):
    rows = grep.substring_search(tidx, docs_df, "def ",
                                 count_occurrences=True).collect()
    got = {r["doc_id"]: r["n_hits"] for r in rows}
    for r in corpus_pdf.itertuples():
        want = r.content.count("def ")
        if want:
            assert got[int(r.doc_id)] == want


def test_rarest_gram_prefilter_still_exact(spark, docs_df, corpus_pdf, tidx):
    # force the selection path with a tiny gram budget
    needle = "return new_table"
    got = sorted(r["doc_id"] for r in grep.substring_search(
        tidx, docs_df, needle, max_grams=2).collect())
    assert got == brute_substr(corpus_pdf, needle)


def test_regex_search_equals_scan(spark, docs_df, corpus_pdf, tidx):
    for pattern in PATTERNS:
        got = sorted(r["doc_id"] for r in grep.regex_search(
            tidx, docs_df, pattern).collect())
        assert got == brute_regex(corpus_pdf, pattern), pattern


def test_required_literals_sound():
    assert grep.required_literals(r"var_[0-9]+_0") == ["var_"]
    assert grep.required_literals(r"def [a-z]+_[0-9]+") == ["def "]
    # alternation: nothing is required
    assert grep.required_literals(r"return|yield") == []
    # NOT_LITERAL must not leak
    assert grep.required_literals(r"[^a]bcdef") == ["bcdef"]
    # a+ requires at least one 'abc' when quantifier min >= 1
    assert grep.required_literals(r"(?:abc)+") == ["abc"]
    assert grep.required_literals(r"(?:abc)*") == []
    # escaped specials are literals
    assert grep.required_literals(r"foo\.bar") == ["foo.bar"]


def test_roundtrip_persist(spark, docs_df, corpus_pdf, tmp_path, tidx):
    out = str(tmp_path / "tri")
    grep.write_trigram_index(tidx, out)
    back = grep.read_trigram_index(spark, out)
    assert back.n_buckets == tidx.n_buckets
    got = sorted(r["doc_id"] for r in grep.substring_search(
        back, docs_df, "var_3_0").collect())
    assert got == brute_substr(corpus_pdf, "var_3_0")


def test_matching_lines_equals_python_grep(spark, docs_df, corpus_pdf, tidx):
    needle = "var_3_0"
    got = sorted(
        (r["doc_id"], r["line_no"], r["line"])
        for r in grep.matching_lines(tidx, docs_df, needle).collect())
    want = sorted(
        (int(r.doc_id), i + 1, ln)
        for r in corpus_pdf.itertuples()
        for i, ln in enumerate(r.content.split("\n"))
        if needle in ln)
    assert got == want and got


CI_ROWS = [
    (0, "GetFileName calls OpenFile\nreturn FILE_NAME"),
    (1, "getfilename lower only"),
    (2, "no match here at all"),
    (3, "mixed GETFILENAME CAPS"),
]


@pytest.fixture(scope="module")
def ci_docs(spark):
    df = spark.createDataFrame(CI_ROWS, "doc_id long, content string")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def ci_tidx(ci_docs):
    return grep.build_trigram_index(ci_docs, case_insensitive=True)


def test_case_insensitive_substring(spark, ci_docs, ci_tidx):
    got = sorted(r["doc_id"] for r in grep.substring_search(
        ci_tidx, ci_docs, "GetFileName", fold_case=True).collect())
    assert got == [0, 1, 3]
    # same index still answers case-SENSITIVE queries exactly (folded
    # gram prefilter is sound; verification stays verbatim)
    got = sorted(r["doc_id"] for r in grep.substring_search(
        ci_tidx, ci_docs, "GetFileName", fold_case=False).collect())
    assert got == [0]


def test_fold_case_requires_ci_index(spark, docs_df, tidx):
    with pytest.raises(ValueError, match="case-insensitive"):
        grep.substring_search(tidx, docs_df, "def ", fold_case=True)


def test_ci_index_regex_prefilter_sound(spark, ci_docs, ci_tidx):
    # required literal "OpenFile" folds to lower grams on the CI index
    got = sorted(r["doc_id"] for r in grep.regex_search(
        ci_tidx, ci_docs, r"OpenFile").collect())
    assert got == [0]


def test_ci_roundtrip_meta(spark, ci_docs, tmp_path, ci_tidx):
    out = str(tmp_path / "ci")
    grep.write_trigram_index(ci_tidx, out)
    back = grep.read_trigram_index(spark, out)
    assert back.case_insensitive is True
    got = sorted(r["doc_id"] for r in grep.substring_search(
        back, ci_docs, "file_name", fold_case=True).collect())
    assert got == [0]


def test_cli_grep_build_and_search(spark, tmp_path, capsys):
    from inverted_index_and_search_spark import cli

    docs = "/root/testdata/sf0.001/documents.parquet"
    idx = str(tmp_path / "tri_cli")
    cli.main(["grep-build", "--input", docs, "--content-col", "text",
              "--output", idx])
    assert "trigram index written" in capsys.readouterr().out

    cli.main(["grep", "merge part", "--index", idx, "--docs", docs,
              "--content-col", "text"])
    ids = [ln for ln in capsys.readouterr().out.splitlines()
           if ln.strip().isdigit()]
    import duckdb
    want = [str(r[0]) for r in duckdb.execute(
        f"SELECT doc_id FROM '{docs}' WHERE contains(text, 'merge part') "
        "ORDER BY doc_id").fetchall()]
    assert ids == want and ids

    cli.main(["grep", "zzzznothere", "--index", idx, "--docs", docs,
              "--content-col", "text"])
    assert "No matches found." in capsys.readouterr().out

    cli.main(["grep", r"key [a-z]+ sort", "--regex", "--index", idx,
              "--docs", docs, "--content-col", "text"])
    rids = [ln for ln in capsys.readouterr().out.splitlines()
            if ln.strip().isdigit()]
    rwant = [str(r[0]) for r in duckdb.execute(
        f"SELECT doc_id FROM '{docs}' "
        "WHERE regexp_matches(text, 'key [a-z]+ sort') "
        "ORDER BY doc_id").fetchall()]
    assert rids == rwant and rids


def test_cli_grep_regex_ignore_case(spark, ci_docs, tmp_path, capsys):
    from inverted_index_and_search_spark import cli

    src = str(tmp_path / "cidocs.parquet")
    ci_docs.write.parquet(src)
    idx = str(tmp_path / "tri_ci_cli")
    cli.main(["grep-build", "--input", src, "--output", idx,
              "--ignore-case"])
    capsys.readouterr()
    # (?i)-wrapped regex over the CI index: matches all case variants
    cli.main(["grep", r"getfilename", "--regex", "--ignore-case",
              "--index", idx, "--docs", src])
    ids = {int(ln) for ln in capsys.readouterr().out.splitlines()
           if ln.strip().isdigit()}
    assert ids == {0, 1, 3}
    # without --ignore-case the same pattern is case-sensitive
    cli.main(["grep", r"getfilename", "--regex", "--index", idx,
              "--docs", src])
    ids = {int(ln) for ln in capsys.readouterr().out.splitlines()
           if ln.strip().isdigit()}
    assert ids == {1}


def test_grep_composes_with_filtered_bm25(spark, docs_df, corpus_pdf, tidx):
    """Zoekt-style composition: substring prefilter -> ranked BM25 via
    the existing doc_filter surface (no new operator needed)."""
    from inverted_index_and_search_spark.operators import index_build as ib
    from inverted_index_and_search_spark.operators import query as q

    idx = ib.build_index(docs_df)
    match = grep.substring_search(tidx, docs_df, "def ")
    rows = q.bm25_topk(idx, ["return", "def"], k=5,
                       doc_filter=match).collect()
    allowed = set(brute_substr(corpus_pdf, "def "))
    assert rows and all(r["doc_id"] in allowed for r in rows)


def test_cli_grep_lines_and_count(spark, tmp_path, capsys):
    from inverted_index_and_search_spark import cli

    docs = "/root/testdata/sf0.001/documents.parquet"
    idx = str(tmp_path / "tri_cli2")
    cli.main(["grep-build", "--input", docs, "--content-col", "text",
              "--output", idx])
    capsys.readouterr()
    cli.main(["grep", "merge part", "--index", idx, "--docs", docs,
              "--content-col", "text", "--count"])
    out = [ln for ln in capsys.readouterr().out.splitlines() if "\t" in ln]
    assert out and all(int(ln.split("\t")[1]) >= 1 for ln in out)

    cli.main(["grep", "merge part", "--index", idx, "--docs", docs,
              "--content-col", "text", "--lines"])
    lns = [ln for ln in capsys.readouterr().out.splitlines()
           if ln.count(":") >= 2]
    assert lns and all("merge part" in ln.split(":", 2)[2] for ln in lns)


@pytest.fixture(scope="module")
def ctidx(docs_df):
    # a zero threshold would flag ~every gram hot on the tiny fixture —
    # force a mixed layout instead: two known-hot grams sharded, the
    # rest single-row
    hot = docs_df.sparkSession.createDataFrame(
        [("def",), ("ret",)], "gram string")
    return grep.build_trigram_segments(docs_df, hot=hot)


def test_compressed_equals_flat(spark, docs_df, corpus_pdf, tidx, ctidx):
    for needle in NEEDLES:
        got = sorted(r["doc_id"] for r in grep.substring_search(
            ctidx, docs_df, needle).collect())
        assert got == brute_substr(corpus_pdf, needle), needle
    for pattern in PATTERNS:
        got = sorted(r["doc_id"] for r in grep.regex_search(
            ctidx, docs_df, pattern).collect())
        assert got == brute_regex(corpus_pdf, pattern), pattern


def test_compressed_hot_gram_sharded(spark, ctidx):
    shards = {r["gram"]: r["n"] for r in ctidx.grams
              .groupBy("gram").agg(F.countDistinct("shard").alias("n"))
              .where(F.col("gram").isin(["def", "ret"])).collect()}
    assert shards["def"] > 1 and shards["ret"] > 1
    # decode round-trips exactly to the flat postings for a hot gram
    flat = grep.build_trigram_index(spark.createDataFrame(
        [(0, "xdefy def"), (1, "def")], "doc_id long, content string"))
    comp = grep.build_trigram_segments(
        spark.createDataFrame(
            [(0, "xdefy def"), (1, "def")], "doc_id long, content string"),
        hot=spark.createDataFrame([("def",)], "gram string"))
    want = sorted((r["gram"], r["doc_id"]) for r in flat.grams
                  .select("gram", "doc_id").collect())
    got = sorted((r["gram"], r["doc_id"]) for r in
                 grep.decode_gram_postings(comp.grams).collect())
    assert got == want


def test_compressed_roundtrip_and_cli(spark, docs_df, corpus_pdf,
                                      tmp_path, capsys):
    from inverted_index_and_search_spark import cli

    docs = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "tri_comp")
    cli.main(["grep-build", "--input", docs, "--content-col", "text",
              "--output", out, "--compressed"])
    assert "compressed=True" in capsys.readouterr().out
    back = grep.read_trigram_index(spark, out)
    assert back.compressed is True
    cli.main(["grep", "merge part", "--index", out, "--docs", docs,
              "--content-col", "text"])
    ids = [ln for ln in capsys.readouterr().out.splitlines()
           if ln.strip().isdigit()]
    import duckdb
    want = [str(r[0]) for r in duckdb.execute(
        f"SELECT doc_id FROM '{docs}' WHERE contains(text, 'merge part') "
        "ORDER BY doc_id").fetchall()]
    assert ids == want and ids


def test_trigram_lsm_ingest_delete_compact(spark, docs_df, corpus_pdf,
                                           tmp_path):
    """LSM lifecycle: chunked ingest -> live == batch; tombstone kills
    earlier ingests; re-ingest brings the doc back; re-delivery without
    a delete upserts; compaction (flat AND compressed) answers
    identically after physical purge."""
    chunks = str(tmp_path / "tri_chunks")
    docs = docs_df.select("doc_id", "content")
    for i in range(3):
        (docs.filter((F.col("doc_id") % 3) == i)
         .coalesce(1).write.mode("append").parquet(chunks))
    out = str(tmp_path / "tri_lsm")
    writer = grep.ingest_trigram_stream(spark, chunks, out)

    needle = "var_3_0"
    want = brute_substr(corpus_pdf, needle)
    assert want, "fixture needle must match"
    live = writer.live_index(spark)
    got = sorted(r["doc_id"] for r in grep.substring_search(
        live, docs_df, needle).collect())
    assert got == want

    # tombstone the first matching doc: gone from the live view
    victim = want[0]
    writer.delete_docs(spark, [victim])
    got = sorted(r["doc_id"] for r in grep.substring_search(
        writer.live_index(spark), docs_df, needle).collect())
    assert got == [d for d in want if d != victim]

    # re-ingest after the tombstone brings the doc back
    writer.process_batch(docs.where(F.col("doc_id") == victim), 4)
    got = sorted(r["doc_id"] for r in grep.substring_search(
        writer.live_index(spark), docs_df, needle).collect())
    assert got == want

    # re-delivery WITHOUT a delete is an upsert: the earlier version's
    # rows are superseded, so the live view stays unique per (gram, doc)
    # and an index written from it answers the same
    writer.process_batch(docs.where(F.col("doc_id") == want[-1]), 5)
    assert writer.next_batch_id() == 6
    live = writer.live_index(spark)
    got = sorted(r["doc_id"] for r in grep.substring_search(
        live, docs_df, needle).collect())
    assert got == want
    dest = str(tmp_path / "tri_live_written")
    grep.write_trigram_index(live, dest)
    got = sorted(r["doc_id"] for r in grep.substring_search(
        grep.read_trigram_index(spark, dest), docs_df, needle).collect())
    assert got == want

    # compaction, both layouts
    for compressed in (False, True):
        dest = str(tmp_path / f"tri_compacted_{compressed}")
        writer.compact(spark, dest, compressed=compressed)
        back = grep.read_trigram_index(spark, dest)
        assert back.compressed is compressed
        got = sorted(r["doc_id"] for r in grep.substring_search(
            back, docs_df, needle).collect())
        assert got == want
        if not compressed:
            # one row per (gram, doc) after the re-ingest and re-delivery
            n = back.grams.groupBy("gram", "doc_id").count() \
                .where(F.col("count") > 1).count()
            assert n == 0


def test_grep_server_matches_scan(spark, docs_df, corpus_pdf, tidx, ctidx):
    """Warm server == distributed path on every fixture needle/regex,
    over BOTH layouts; repeat queries answer from cache (no new jobs —
    asserted indirectly by the LRU dicts being populated)."""
    for t in (tidx, ctidx):
        server = grep.GrepServer(t, docs_df)
        for needle in NEEDLES:
            got = server.substring(needle)
            assert got == brute_substr(corpus_pdf, needle), needle
            assert got == server.substring(needle)  # warm repeat
        for pattern in PATTERNS:
            got = server.regex(pattern)
            assert got == brute_regex(corpus_pdf, pattern), pattern
        assert server._grams and server._content


def test_grep_server_counts_and_ci(spark, ci_docs, ci_tidx, docs_df,
                                   corpus_pdf, tidx):
    server = grep.GrepServer(tidx, docs_df)
    got = dict(server.substring("def ", count_occurrences=True))
    for r in corpus_pdf.itertuples():
        want = r.content.count("def ")
        if want:
            assert got[int(r.doc_id)] == want
    ci_server = grep.GrepServer(ci_tidx, ci_docs)
    assert ci_server.substring("GetFileName", fold_case=True) == [0, 1, 3]
    with pytest.raises(ValueError, match="case-insensitive"):
        server.substring("x", fold_case=True)


def test_grep_server_long_needle_rarest_selection(spark, docs_df,
                                                  corpus_pdf, tidx):
    """A needle with more grams than max_grams selects the RAREST via
    the stats table BEFORE fetching — stop-gram arrays never enter the
    cache — and stays exact; an absent gram short-circuits without a
    posting fetch."""
    server = grep.GrepServer(tidx, docs_df)
    needle = "return new_table"          # 15 grams > max_grams=2
    got = server.substring(needle, max_grams=2)
    assert got == brute_substr(corpus_pdf, needle)
    fetched = set(server._grams)
    assert len(fetched) <= 2             # only the 2 selected grams
    assert server.substring("zzqqwwxxyzzt") == []   # 10 grams, all absent
    # the absent needle's grams were refuted via stats, never fetched
    assert set(server._grams) == fetched


def test_grep_server_lru_bounds(spark, docs_df, corpus_pdf, tidx):
    server = grep.GrepServer(tidx, docs_df, max_grams_cached=4,
                             max_docs_cached=3)
    for needle in ["def ", "return", "var_3_0"]:
        assert server.substring(needle) == brute_substr(corpus_pdf, needle)
    # correctness survives eviction: re-ask the first needle
    assert server.substring("def ") == brute_substr(corpus_pdf, "def ")
    # residency is bounded by cap + the in-flight query's own set (the
    # same transient-overage contract as QueryServer's term cache)
    assert len(server._grams) <= 4 + len(grep.grams_py("def "))
    assert len(server._content) <= 3 + len(brute_substr(corpus_pdf, "def "))


def test_bucket_pruning_plan(spark, docs_df, tmp_path, tidx):
    """Persisted layout: the candidates scan must prune gram_bucket
    partitions (driver-side hash, no hash job) and push gram IN."""
    out = str(tmp_path / "tri_plan")
    grep.write_trigram_index(tidx, out)
    back = grep.read_trigram_index(spark, out)
    plan = grep.substring_search(
        back, docs_df, "var_3_0")._jdf.queryExecution().executedPlan().toString()
    assert "gram_bucket" in plan
    # partition filters appear as PartitionFilters on the scan node
    assert "PartitionFilters" in plan or "dynamicpruning" not in plan.lower()


def test_required_literals_ignorecase():
    # global (?i): literals are case-insensitive, so a case-SENSITIVE
    # gram index has no sound prefilter -> full-scan fallback ([])
    assert grep.required_literals(r"(?i)FooBarBaz") == []
    # a folded-gram (case-insensitive) index CAN use them — the caller
    # folds them against the lower() grams
    assert grep.required_literals(
        r"(?i)FooBarBaz", fold_case_index=True) == ["FooBarBaz"]
    # scoped groups parse as SUBPATTERN ops and already contribute
    # nothing (conservative walk)
    assert grep.required_literals(r"(?i:Foo)barbaz") == ["barbaz"]


def test_regex_ignorecase_soundness(spark, ci_docs, ci_tidx):
    """(?i) patterns must find every casing on BOTH index flavors —
    the r4-advice prefilter-soundness hole (grep.py required_literals
    ignored the global flag and pruned other casings away)."""
    want = [0, 1, 3]
    cs_tidx = grep.build_trigram_index(ci_docs)
    got = sorted(r["doc_id"] for r in grep.regex_search(
        cs_tidx, ci_docs, r"(?i)GetFileName").collect())
    assert got == want
    got = sorted(r["doc_id"] for r in grep.regex_search(
        ci_tidx, ci_docs, r"(?i)GetFileName").collect())
    assert got == want
    assert grep.GrepServer(cs_tidx, ci_docs).regex(r"(?i)GetFileName") == want
    assert grep.GrepServer(ci_tidx, ci_docs).regex(r"(?i)GetFileName") == want


def test_null_content_tolerated(spark):
    """A null content row must not crash the gram build (r4 advice:
    len(None) raised TypeError inside the pandas UDF)."""
    df = spark.createDataFrame([(0, "abcdef"), (1, None)],
                               "doc_id long, content string")
    t = grep.build_trigram_index(df)
    got = sorted(r["doc_id"] for r in grep.substring_search(
        t, df, "abc").collect())
    assert got == [0]


def test_grep_server_bounded_verify_stop_gram(spark, docs_df, corpus_pdf,
                                              tidx):
    """A hot needle whose candidate set exceeds max_docs_cached must
    verify DISTRIBUTED: driver content residency stays <= cap and
    results still equal the brute scan (r4 What's-wrong #1)."""
    server = grep.GrepServer(tidx, docs_df, max_docs_cached=5)
    needle = "return"                      # hot: candidates >> 5
    assert len(brute_substr(corpus_pdf, needle)) > 5
    got = server.substring(needle)
    assert got == brute_substr(corpus_pdf, needle)
    assert len(server._content) <= 5
    got_n = dict(server.substring(needle, count_occurrences=True))
    for r in corpus_pdf.itertuples():
        want = r.content.count(needle)
        if want:
            assert got_n[int(r.doc_id)] == want
    got_rx = server.regex(r"return")
    assert got_rx == brute_regex(corpus_pdf, r"return")
    assert len(server._content) <= 5


def test_grep_server_java_only_regex_no_crash(spark, ci_docs):
    """Java-only syntax Python re cannot parse must route to the rlike
    path instead of raising (r4 advice: \\p{Lu} crashed the REPL)."""
    cs = grep.build_trigram_index(ci_docs)
    server = grep.GrepServer(cs, ci_docs)
    assert server.regex(r"GetFile\p{Lu}ame") == [0]


def test_grep_server_hot_gram_routes_distributed(spark, docs_df,
                                                 corpus_pdf, tidx):
    """A short needle whose EVERY gram is hot (df > max_gram_df_warm —
    so rarest-gram selection cannot help) must route the whole query to
    the distributed path: no gram array ever enters the warm cache,
    results stay exact (closes the residual r4-class driver-residency
    hole for short stop-gram needles)."""
    needle = "return"
    dfs = {r["gram"]: r["df"] for r in tidx.stats.where(
        grep.F.col("gram").isin(grep.grams_py(needle))).collect()}
    assert min(dfs.values()) > 3     # precondition: all grams hot
    server = grep.GrepServer(tidx, docs_df, max_gram_df_warm=3)
    assert server.substring(needle) == brute_substr(corpus_pdf, needle)
    assert not server._grams         # nothing was fetched warm
    got_n = dict(server.substring(needle, count_occurrences=True))
    want = {int(r.doc_id): r.content.count(needle)
            for r in corpus_pdf.itertuples() if needle in r.content}
    assert got_n == want
    assert server.regex(r"return") == brute_regex(corpus_pdf, r"return")
    assert not server._grams and not server._content
