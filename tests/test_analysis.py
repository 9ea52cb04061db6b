"""Analyzer pipeline: S-stemmer cross-implementation byte parity
(python / JVM expression / DuckDB SQL), stopword filtering, analyzed
index builds (both tf kernels: the standard tokenizer's Arrow loop and
the code tokenizer's JVM chain), meta.json persistence, and the CLI
query-side twin."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from inverted_index_and_search_spark import cli
from inverted_index_and_search_spark.analysis import (
    Analyzer,
    s_stem_py,
    s_stem_sql_duckdb,
)
from inverted_index_and_search_spark.operators import index_build as ib
from inverted_index_and_search_spark.operators import query as q

STEM_CASES = {
    # rule 1: ies -> y, with the eies/aies exceptions
    "queries": "query", "stories": "story", "flies": "fly",
    "eies": "eies", "aies": "aies", "monaies": "monaies",
    # rule 2: es -> e, with aes/ees/oes exceptions
    "tables": "table", "caches": "cache", "classes": "classe",
    "trees": "trees", "goes": "goes", "aes": "aes",
    # rule 3: s -> '', with us/ss exceptions
    "joins": "join", "columns": "column",
    "bus": "bus", "miss": "miss", "class": "class",
    # never stem <= 2 chars; no-ops
    "is": "is", "as": "as", "a": "a", "merge": "merge", "": "",
    "var_3_0": "var_3_0",
}


def test_s_stem_python_cases():
    for w, want in STEM_CASES.items():
        assert s_stem_py(w) == want, w


def test_s_stem_jvm_matches_python(spark):
    from pyspark.sql import functions as F

    from inverted_index_and_search_spark.analysis import s_stem_col

    words = sorted(STEM_CASES)
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r["w"]: r["s"]
           for r in df.select("w", s_stem_col(F.col("w")).alias("s")).collect()}
    assert got == {w: s_stem_py(w) for w in words}


def test_s_stem_duckdb_matches_python():
    con = duckdb.connect()
    for w in STEM_CASES:
        got = con.execute(
            f"SELECT {s_stem_sql_duckdb('t')} FROM (SELECT ? AS t)",
            [w]).fetchone()[0]
        assert got == s_stem_py(w), w


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="abcdefgiosuy_", min_size=0, max_size=8))
def test_s_stem_duckdb_property(word):
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {s_stem_sql_duckdb('t')} FROM (SELECT ? AS t)",
        [word]).fetchone()[0]
    assert (got or "") == s_stem_py(word)


def test_analyzer_identity_and_order():
    a = Analyzer.make(["the", "a"], stem=True)
    assert not a.is_identity and Analyzer().is_identity
    # stopwords filter BEFORE stemming (Lucene chain order): "as" stays
    # (not in list), "a" dropped before the stemmer could touch it
    assert a.analyze_py(["the", "queries", "a", "joins"]) == \
        ["query", "join"]
    assert a.analyze_terms(["THE", "Queries"]) == ["query"]


@pytest.mark.parametrize("tokenizer", ["standard", "code"],
                         ids=["arrow", "jvm"])
def test_analyzed_build_matches_python_oracle(spark, docs_df, corpus_pdf,
                                              tokenizer):
    """Both tf kernels under an analyzer (the standard tokenizer builds
    with the Arrow loop, the code tokenizer with the JVM chain) ==
    pure-python tokenize -> analyze -> count, exactly (terms, tfs, and
    doc lengths)."""
    from collections import Counter

    from inverted_index_and_search_spark.tokenizer import tokenizer_py

    tokenize = tokenizer_py(tokenizer)
    ana = Analyzer.make(["def", "return"], stem=True)
    idx = ib.build_index(docs_df, analyzer=ana, tokenizer=tokenizer)
    got = {(r["term"], r["doc_id"], r["tf"]) for r in idx.tf.collect()}
    want = set()
    for doc_id, content in zip(corpus_pdf["doc_id"], corpus_pdf["content"]):
        for t, c in Counter(ana.analyze_py(tokenize(content))).items():
            want.add((t, int(doc_id), c))
    assert got == want
    # doc length counts post-analysis tokens, in the doc table and on
    # every kernel row
    want_dl = {int(d): len(ana.analyze_py(tokenize(c)))
               for d, c in zip(corpus_pdf["doc_id"], corpus_pdf["content"])}
    dls = {r["doc_id"]: r["dl"] for r in idx.doc_stats.collect()}
    assert dls == want_dl
    assert {(r["doc_id"], r["dl"]) for r in idx.tf.collect()} == \
        {(d, n) for d, n in want_dl.items() if n}


def test_analyzer_roundtrips_through_meta(spark, docs_df, tmp_path):
    ana = Analyzer.make(["def"], stem=True)
    idx = ib.build_index(docs_df, analyzer=ana)
    out = str(tmp_path / "anaidx")
    ib.write_index(idx, out)
    rt = ib.read_index(spark, out)
    assert rt.analyzer == ana
    # plain index -> no analyzer key
    out2 = str(tmp_path / "plainidx")
    ib.write_index(ib.build_index(docs_df), out2)
    assert ib.read_index(spark, out2).analyzer is None


def test_duckdb_analyzed_tokens_match_engine(spark, docs_df, corpus_pdf):
    """Analyzer.tokens_sql_duckdb is the oracle twin of the analyzed
    engine tokenization (same shape the driver compare would use)."""
    ana = Analyzer.make(["def", "if"], stem=True)
    con = duckdb.connect()
    con.register("docs", corpus_pdf[["doc_id", "content"]])
    rows = con.execute(
        f"SELECT doc_id, {ana.tokens_sql_duckdb('content')} AS toks "
        "FROM docs").fetchall()
    from inverted_index_and_search_spark.tokenizer import tokenize_py

    for doc_id, toks in rows:
        assert toks == ana.analyze_py(tokenize_py(
            corpus_pdf.set_index("doc_id")["content"][doc_id]))


def test_cli_analyzed_build_and_search(spark, tmp_path, capsys):
    """build --stopwords --stem persists the analyzer; search auto-stems
    query terms ('tables' hits docs containing 'table'), stopword
    queries come back empty."""
    docs = "/root/testdata/sf0.001/documents.parquet"
    idx_dir = str(tmp_path / "anacli")
    stop = tmp_path / "stop.txt"
    stop.write_text("the\na\n")
    cli.main(["build", "--input", docs, "--content-col", "text",
              "--output", idx_dir, "--stopwords", str(stop), "--stem"])
    capsys.readouterr()
    idx = ib.read_index(spark, idx_dir)
    assert idx.analyzer is not None and idx.analyzer.stem

    # plural query term stems onto the indexed vocabulary
    cli.main(["search", "--index", idx_dir, "--bm25", "--topk", "3",
              "--query", "tables queries"])
    got = [ln for ln in capsys.readouterr().out.splitlines() if "\t" in ln]
    want = q.bm25_topk(idx, ["table", "query"], k=3).collect()
    assert [int(ln.split("\t")[0]) for ln in got] == \
        [r["doc_id"] for r in want]

    # a pure-stopword query is analyzed to nothing
    cli.main(["search", "--index", idx_dir, "--query", "the a"])
    assert "No matches found." in capsys.readouterr().out

    # the indexed vocabulary contains no stopwords
    terms = {r["term"] for r in idx.postings.select("term").collect()}
    assert "the" not in terms and "a" not in terms


ANA_ROWS = [
    (0, "the quick brown fox jumps the fences"),
    (1, "a quick fox"),
    (2, "quick the fox runs"),          # stopword gap renumbers away
    (3, "slow foxes sleep"),
]


@pytest.fixture(scope="module")
def ana_docs(spark):
    df = spark.createDataFrame(ANA_ROWS, "doc_id long, content string")
    df.cache().count()
    return df


def test_analyzed_positional_phrase_renumbered(spark, ana_docs):
    """Positions are POST-analysis: removing 'the'/'a' makes
    [quick, fox] consecutive in every doc that had a stopword between
    them — the analyzed phrase matches across removed stopwords, and
    the stemmed phrase ('foxes' -> 'foxe'? no: 'fox'+'es' stems to
    'foxe'... the S-stemmer maps 'foxes' -> 'foxe') stays
    engine-oracle-consistent because BOTH sides stem identically."""
    from inverted_index_and_search_spark.operators.positional import (
        build_positional_index, phrase_match)

    ana = Analyzer.make(["the", "a"], stem=False)
    idx = build_positional_index(ana_docs, analyzer=ana)
    got = sorted(r["doc_id"] for r in
                 phrase_match(idx, ["quick", "fox"]).collect())
    assert got == [1, 2]  # doc 2 only matches because 'the' renumbered

    # unanalyzed twin: doc 2's 'quick the fox' is NOT consecutive
    plain = build_positional_index(ana_docs)
    got = sorted(r["doc_id"] for r in
                 phrase_match(plain, ["quick", "fox"]).collect())
    assert got == [1]


def test_analyzed_positional_paths_agree(spark, docs_df, corpus_pdf):
    """The positions entry point under an analyzer, for both tokenizers
    (Arrow loop / JVM chain) == the python oracle: post-analysis
    (renumbered) offsets per (term, doc)."""
    from inverted_index_and_search_spark.operators.positional import (
        term_doc_positions_arrow)
    from inverted_index_and_search_spark.tokenizer import tokenizer_py

    ana = Analyzer.make(["def", "return"], stem=True)
    for tokenizer in ("standard", "code"):
        tokenize = tokenizer_py(tokenizer)
        got = {(r["term"], r["doc_id"], r["tf"], tuple(r["positions"]),
                r["dl"])
               for r in term_doc_positions_arrow(
                   docs_df, analyzer=ana, tokenizer=tokenizer).collect()}
        want = set()
        for doc_id, content in zip(corpus_pdf["doc_id"],
                                   corpus_pdf["content"]):
            toks = ana.analyze_py(tokenize(content))
            offs: dict[str, list[int]] = {}
            for i, t in enumerate(toks):
                offs.setdefault(t, []).append(i)
            want |= {(t, int(doc_id), len(p), tuple(p), len(toks))
                     for t, p in offs.items()}
        assert got == want and got, tokenizer
        assert not any(t in ("def", "return") for t, *_ in got)


def test_cli_analyzed_segments_build_and_search(spark, tmp_path, capsys):
    """Segments + analyzer: stats.json persists the config and the
    warm QueryServer analyzes query terms (stemmed plural hits)."""
    from inverted_index_and_search_spark.operators import segments as seg

    docs = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "anaseg")
    stop = tmp_path / "stop.txt"
    stop.write_text("the\na\n")
    cli.main(["build", "--input", docs, "--content-col", "text",
              "--output", out, "--format", "segments",
              "--stopwords", str(stop), "--stem"])
    capsys.readouterr()
    back = seg.read_segment_index(spark, out)
    assert back.analyzer is not None and back.analyzer.stem
    assert "the" in back.analyzer.stopwords

    cli.main(["search", "--index", out, "--index-format", "segments",
              "--bm25", "--topk", "3", "--query", "tables queries"])
    got = [ln for ln in capsys.readouterr().out.splitlines() if "\t" in ln]
    assert got  # stemmed terms hit the analyzed vocabulary
    cli.main(["search", "--index", out, "--index-format", "segments",
              "--query", "the a"])
    assert "No matches found." in capsys.readouterr().out


def test_analyzed_snippets_score_and_mark(spark, ana_docs):
    """bm25_snippets on an analyzed index: plural query terms stem onto
    the stemmed vocabulary and the re-analyzed window marks them."""
    from inverted_index_and_search_spark.operators.snippets import (
        bm25_snippets,
    )

    ana = Analyzer.make(["the", "a"], stem=True)
    idx = ib.build_index(ana_docs, analyzer=ana)
    # query 'runs' stems to 'run' = doc 2's indexed form; the raw term
    # would miss the stemmed vocabulary entirely
    rows = bm25_snippets(idx, ana_docs, ["runs"], k=4, width=3,
                         mark=("[", "]")).collect()
    assert [r["doc_id"] for r in rows] == [2]
    assert "[run]" in rows[0]["snippet"]


def test_cli_analyzed_fielded_build(spark, tmp_path, capsys):
    from inverted_index_and_search_spark.corpus import corpus_pandas

    pdf = corpus_pandas(20, seed=42).reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    src = str(tmp_path / "fdocs.parquet")
    spark.createDataFrame(
        pdf[["doc_id", "path", "content"]]).write.parquet(src)
    out = str(tmp_path / "anafield")
    stop = tmp_path / "stop.txt"
    stop.write_text("def\nreturn\n")
    cli.main(["build", "--input", src, "--output", out,
              "--field", "path:3", "--field", "content:1",
              "--stopwords", str(stop)])
    capsys.readouterr()
    idx = ib.read_index(spark, out)
    assert idx.analyzer is not None
    terms = {r["term"] for r in idx.postings.select("term").collect()}
    assert "def" not in terms and "return" not in terms and terms


# ------------------------------------------- per-language dispatch (r5)

def test_lang_analyzer_dispatch_parity(spark, docs_df, corpus_pdf):
    """JVM CASE dispatch == pure-python row dispatch over the fixture
    corpus (which carries a lang column)."""
    from inverted_index_and_search_spark import analysis as an
    from inverted_index_and_search_spark.tokenizer import tokenize_py

    la = an.LangAnalyzer.make()
    jvm = sorted(tuple(r) for r in an.lang_tf(
        docs_df, la).collect())
    assert jvm
    # python oracle twin
    from collections import Counter
    want = []
    for r in corpus_pdf.itertuples():
        c = Counter(la.analyze_py(tokenize_py(r.content), r.lang))
        want.extend((t, int(r.doc_id), n) for t, n in c.items())
    assert jvm == sorted(want)


def test_lang_analyzer_semantics():
    """Stopwords drop per the row's language; stemming is English-only
    (documented design: the S-stemmer is an English plural stemmer)."""
    from inverted_index_and_search_spark import analysis as an

    la = an.LangAnalyzer.make({"en": ("the",), "de": ("der",)},
                              stem_langs=("en",))
    assert la.analyze_py(["the", "tables", "der"], "en") == ["table", "der"]
    assert la.analyze_py(["the", "tables", "der"], "de") == ["the", "tables"]
    # unknown lang -> identity default
    assert la.analyze_py(["the", "tables"], "xx") == ["the", "tables"]


def test_lang_analyzer_duckdb_twin(spark, docs_df, corpus_pdf):
    import duckdb

    from inverted_index_and_search_spark import analysis as an

    la = an.LangAnalyzer.make()
    con = duckdb.connect()
    con.register("d", corpus_pdf[["doc_id", "lang", "content"]])
    sql = la.tokens_sql_duckdb("content", "lang")
    drows = sorted(tuple(r) for r in con.execute(f"""
        SELECT term, doc_id::BIGINT, count(*)::INT
        FROM (SELECT doc_id, unnest({sql}) AS term FROM d)
        GROUP BY term, doc_id""").fetchall())
    jvm = sorted(tuple(r) for r in an.lang_tf(docs_df, la).collect())
    assert drows == jvm
