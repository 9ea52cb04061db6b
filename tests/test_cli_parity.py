"""Cross-layout parity of the search CLI: one corpus built three ways
(plain, --stem --stopwords, --tokenizer code), each written as parquet
and as segments, must answer every mode both layouts serve with the
same stdout and exit code. Also: batch mode rejects the modes it
cannot run instead of silently answering another one."""

from __future__ import annotations

import pytest

from inverted_index_and_search_spark import cli
from tests.conftest import TESTDATA

DOCS = f"{TESTDATA}/documents.parquet"

#: variant -> (build flags, ranked/boolean query, phrase query); the
#: queries exercise the variant's normalisation (stopword + plurals,
#: camelCase split)
VARIANTS = {
    "plain": ([], "table query", "table hash"),
    "analyzed": (["--stem", "--stopwords", "{stop}"],
                 "the tables queries", "tables hash"),
    "code": (["--tokenizer", "code"], "tableQuery", "tableHash"),
}

_EXPR = '("table hash" OR merge) AND NOT stream'
_SNIP = ["--snippets", "6", "--docs-parquet", DOCS,
         "--docs-content-col", "text", "--topk", "3"]

#: case -> (search flags, query: "q" / "phrase" placeholders or text)
CASES = {
    "boolean": ([], "q"),
    "bm25": (["--bm25", "--topk", "5"], "q"),
    "rank-qld": (["--rank", "qld", "--topk", "5"], "q"),
    "rank-tfidf": (["--rank", "tfidf", "--topk", "5"], "q"),
    "phrase": (["--phrase"], "phrase"),
    "phrase-bm25": (["--phrase", "--bm25", "--topk", "5"], "phrase"),
    "prefix": (["--prefix"], "tab"),
    "fuzzy": (["--fuzzy", "1"], "tble"),
    "suggest": (["--suggest", "1"], "tble"),
    "complete": (["--complete", "--topk", "5"], "ta"),
    "snippets": (_SNIP, "q"),
    "expr": (["--expr"], _EXPR),
    "expr-bm25": (["--expr", "--bm25", "--topk", "5"], _EXPR),
    # precedence: --snippets outranks --prefix on every layout
    "snippets-over-prefix": (_SNIP + ["--prefix"], "tab"),
}


@pytest.fixture(scope="module")
def builds(spark, tmp_path_factory):
    """variant -> (parquet dir, segments dir), positional builds."""
    root = tmp_path_factory.mktemp("parity")
    stop = root / "stop.txt"
    stop.write_text("the\na\n", encoding="utf-8")
    out = {}
    for name, (flags, _q, _p) in VARIANTS.items():
        flags = [f.format(stop=stop) for f in flags]
        dirs = (str(root / f"{name}-pq"), str(root / f"{name}-seg"))
        for d, fmt in zip(dirs, ("parquet", "segments")):
            cli.main(["build", "--input", DOCS, "--content-col", "text",
                      "--positional", "--format", fmt, "--output", d,
                      *flags])
        out[name] = dirs
    return out


def _search(capsys, argv: list[str]) -> tuple[int, str, str]:
    """(exit code, stdout, stderr) of one CLI call."""
    capsys.readouterr()
    try:
        cli.main(argv)
        code = 0
    except SystemExit as e:
        code = e.code
    return code, *capsys.readouterr()


#: an --expr line skips normalisation and precedence is a property of
#: the flags, so those cases run on the plain build only
_PLAIN_ONLY = {"expr", "expr-bm25", "snippets-over-prefix"}


@pytest.mark.parametrize("variant,case", [
    (v, c) for v in VARIANTS for c in CASES
    if v == "plain" or c not in _PLAIN_ONLY])
def test_cli_layouts_answer_alike(builds, capsys, variant, case):
    flags, query = CASES[case]
    _flags, text, phrase = VARIANTS[variant]
    query = {"q": text, "phrase": phrase}.get(query, query)
    pq, sg = builds[variant]
    want = _search(capsys, ["search", "--index", pq, *flags,
                            "--query", query])[:2]
    got = _search(capsys, ["search", "--index", sg, "--index-format",
                           "segments", *flags, "--query", query])[:2]
    assert got == want
    assert want[0] == 0 and want[1].strip()


_BATCH_UNSERVED = {
    "rank-qld": ["--rank", "qld"],
    "rank-tfidf": ["--rank", "tfidf"],
    "complete": ["--complete"],
    "snippets": ["--snippets", "6", "--docs-parquet", DOCS],
    "suggest": ["--suggest", "1"],
    "prf": ["--prf"],
    "prefix": ["--prefix"],
    "expr": ["--expr"],
}


@pytest.mark.parametrize("case", list(_BATCH_UNSERVED))
def test_cli_batch_rejects_unserved_modes(builds, tmp_path, capsys, case):
    """--queries-file serves boolean, --bm25 and --phrase only; any
    other mode exits 2 instead of printing conjunctive BM25 rows."""
    qf = tmp_path / "queries.txt"
    qf.write_text("table query\n", encoding="utf-8")
    code, out, err = _search(capsys, [
        "search", "--index", builds["plain"][1], "--index-format",
        "segments", "--queries-file", str(qf), *_BATCH_UNSERVED[case]])
    assert code == 2 and out == ""
    assert "--queries-file batch mode" in err


def test_cli_batch_rank_bm25_means_bm25(builds, tmp_path, capsys):
    """`--rank bm25` selects the same --bm25 mode in batch mode as it
    does interactively: disjunctive BM25, not the conjunctive default."""
    qf = tmp_path / "queries.txt"
    qf.write_text("table query\nmerge zzznotaterm\n", encoding="utf-8")
    argv = ["search", "--index", builds["plain"][1], "--index-format",
            "segments", "--queries-file", str(qf), "--topk", "3"]
    bm25 = _search(capsys, argv + ["--bm25"])
    assert _search(capsys, argv + ["--rank", "bm25"]) == bm25
    assert bm25[0] == 0 and "\n1\t1\t" in "\n" + bm25[1]
    assert _search(capsys, argv)[1] != bm25[1]


@pytest.mark.parametrize("variant", list(VARIANTS))
def test_cli_batch_normalises_like_one_shot(builds, tmp_path, capsys,
                                            variant):
    """A --queries-file line goes through the build's tokenizer and
    analyzer like a one-shot query: its --bm25 rows equal the one-shot
    --bm25 --topk rows."""
    text = VARIANTS[variant][1]
    qf = tmp_path / "queries.txt"
    qf.write_text(f"{text}\n", encoding="utf-8")
    argv = ["search", "--index", builds[variant][1], "--index-format",
            "segments", "--bm25", "--topk", "5"]
    code, one, _ = _search(capsys, argv + ["--query", text])
    bcode, batch, _ = _search(capsys, argv + ["--queries-file", str(qf)])
    assert code == bcode == 0 and one.strip()
    assert [ln.split("\t")[2:] for ln in batch.splitlines()] == \
        [ln.split("\t") for ln in one.splitlines()]
