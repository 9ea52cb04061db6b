"""Query-expression language vs a pure-Python set-algebra oracle."""

from __future__ import annotations

import pytest

from inverted_index_and_search_spark.operators import positional as pos
from inverted_index_and_search_spark.operators import search_expr as se
from inverted_index_and_search_spark.tokenizer import tokenize_py

EXPRS = [
    "def",
    "def return",                      # implicit AND (reference parity)
    "def AND return",
    "def OR var_3_0",
    "def AND NOT var_3_0",
    "(def OR var_3_0) AND return",
    "def AND (return OR if) AND NOT var_5_0",
    '"def trait"',
    '"def trait" OR var_3_0',
    '"def trait" AND NOT var_3_0',
    "zzzqqqxx OR def",
    "zzzqqqxx AND def",
    "def NEAR/3 return",
    "def NEAR/0 return",
    "def NEAR/2 def",                  # same term: two distinct occurrences
    "(def NEAR/3 trait) OR var_3_0",
    "def NEAR/5 return AND NOT var_3_0",
    "zzzqqqxx NEAR/4 def",
    # wildcard / fuzzy atoms (round 4)
    "def*",
    "de* AND return",
    "var_3_0 OR retur~1",
    "retrn~",                          # bare ~ means distance 1
    "def* AND NOT var_3_0",
    "zzzqqqxx*",
    "xx~2 OR def",
    '(de* OR "def trait") AND NOT var_5_0',
]

BAD = [
    "",               # empty
    "NOT def",        # top-level complement
    "def AND",        # dangling operator
    "(def",           # missing paren
    'def "unclosed',  # unbalanced quote
    "NOT def OR x",   # NOT under OR
    "NOT a AND NOT b",  # pure-negation AND
    "OR def",         # operator needs operands
    '""',             # empty phrase
    "NEAR/3 def",     # proximity needs a left operand
    "def NEAR/3",     # ... and a right one
    '"a b" NEAR/2 c',  # NEAR joins plain terms only
    "a NEAR/2 (b OR c)",
    "a NEAR/1 b NEAR/2 c",  # no chaining
    "*",              # bare star
    "*def",           # leading wildcard (cannot use the dictionary)
    "d*f",            # infix wildcard
    "a*b*",           # multiple stars
    "def~3",          # fuzzy distance capped at 2
    "~",              # bare tilde
    "def~x",          # non-numeric distance
    "a* NEAR/2 b",    # NEAR joins plain terms only
]


def _oracle_docsets(corpus_pdf):
    toks = {int(d): tokenize_py(c)
            for d, c in zip(corpus_pdf["doc_id"], corpus_pdf["content"])}
    return toks


def _oracle_lev(a: str, b: str) -> int:
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                     prev + (ca != cb))
    return dp[-1]


def oracle_eval(toks: dict[int, list[str]], node) -> set[int]:
    if isinstance(node, se.Boosted):
        return oracle_eval(toks, node.child)
    if isinstance(node, se.Term):
        return {d for d, ts in toks.items() if node.term in ts}
    if isinstance(node, se.PrefixAtom):
        return {d for d, ts in toks.items()
                if any(t.startswith(node.prefix) for t in ts)}
    if isinstance(node, se.FuzzyAtom):
        return {d for d, ts in toks.items()
                if any(_oracle_lev(t, node.term) <= node.dist
                       for t in set(ts))}
    if isinstance(node, se.Phrase):
        k = len(node.words)
        want = list(node.words)
        return {d for d, ts in toks.items()
                if any(ts[i:i + k] == want for i in range(len(ts) - k + 1))}
    if isinstance(node, se.Near):
        a, b, w = node.term_a, node.term_b, node.window
        out = set()
        for d, ts in toks.items():
            pa = [i for i, t in enumerate(ts) if t == a]
            pb = [j for j, t in enumerate(ts) if t == b]
            if any(abs(i - j) <= w and (a != b or i != j)
                   for i in pa for j in pb):
                out.add(d)
        return out
    if isinstance(node, se.Or):
        out: set[int] = set()
        for p in node.parts:
            out |= oracle_eval(toks, p)
        return out
    if isinstance(node, se.And):
        pos_sets = [oracle_eval(toks, p) for p in node.parts
                    if not isinstance(p, se.Not)]
        out = set.intersection(*pos_sets)
        for p in node.parts:
            if isinstance(p, se.Not):
                out -= oracle_eval(toks, p.child)
        return out
    raise AssertionError(node)


@pytest.fixture(scope="module")
def pidx(docs_df):
    idx = pos.build_positional_index(docs_df)
    idx.postings.cache().count()
    return idx


@pytest.mark.parametrize("expr", EXPRS)
def test_expr_matches_set_oracle(pidx, corpus_pdf, expr):
    toks = _oracle_docsets(corpus_pdf)
    want = sorted(oracle_eval(toks, se.parse(expr)))
    got = [int(r["doc_id"]) for r in se.search_expr(pidx, expr).collect()]
    assert got == want, expr


@pytest.mark.parametrize("expr", BAD)
def test_bad_exprs_rejected(expr):
    with pytest.raises(se.ExprError):
        se.parse(expr)


def test_plain_terms_equal_reference_and(pidx, oracle_idx):
    """A bare term list behaves exactly like the reference's AND REPL."""
    from inverted_index_and_search_spark import oracle as orc
    got = [int(r["doc_id"])
           for r in se.search_expr(pidx, "def return if").collect()]
    assert got == orc.boolean_and(oracle_idx, ["def", "return", "if"])


def test_keyword_case_sensitivity(pidx, corpus_pdf):
    """Lowercase 'and'/'or'/'not' are search terms, not operators."""
    node = se.parse("def and")
    assert node == se.And((se.Term("def"), se.Term("and")))


def test_expr_terms_collects_positive_leaves():
    node = se.parse('("a b" OR c) AND d AND NOT e')
    assert se.expr_terms(node) == ["a", "b", "c", "d"]


def test_phrase_atom_uses_canonical_tokenizer(pidx):
    """Quoted phrases tokenize like documents do: '"new-york times"'
    queries the token sequence (new, york, times), never the impossible
    literal token 'new-york' (ADVICE r02)."""
    assert se.parse('"new-york times"') == se.Phrase(("new", "york", "times"))
    assert se.parse('"Def,Return"') == se.Phrase(("def", "return"))
    # equivalent spellings produce identical results end to end
    a = [r["doc_id"] for r in se.search_expr(pidx, '"def return"').collect()]
    b = [r["doc_id"] for r in se.search_expr(pidx, '"def,return"').collect()]
    assert a == b and a


# ---------------------------------------------------------------- property

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_VOCAB = ["def", "return", "if", "trait", "var", "int", "zzzqqqxx"]


@st.composite
def _asts(draw, depth: int = 0):
    """Random valid AST under the parser's scale-safety constraints:
    NOT only as an AND-ed branch beside a positive one."""
    opts = ["term", "phrase"]
    if depth < 3:
        opts += ["and", "or"]
    kind = draw(st.sampled_from(opts))
    if kind == "term":
        return se.Term(draw(st.sampled_from(_VOCAB)))
    if kind == "phrase":
        n = draw(st.integers(1, 3))
        return se.Phrase(tuple(draw(st.sampled_from(_VOCAB))
                               for _ in range(n)))
    if kind == "or":
        n = draw(st.integers(2, 3))
        return se.Or(tuple(draw(_asts(depth + 1)) for _ in range(n)))
    n = draw(st.integers(2, 3))
    parts = [draw(_asts(depth + 1)) for _ in range(n)]
    if draw(st.booleans()):
        parts.append(se.Not(draw(_asts(depth + 1))))
    return se.And(tuple(parts))


def _render(node) -> str:
    if isinstance(node, se.Term):
        return node.term
    if isinstance(node, se.Phrase):
        return '"' + " ".join(node.words) + '"'
    if isinstance(node, se.Near):
        return f"({node.term_a} NEAR/{node.window} {node.term_b})"
    if isinstance(node, se.Not):
        return "NOT (" + _render(node.child) + ")"
    op = " OR " if isinstance(node, se.Or) else " AND "
    return "(" + op.join(_render(p) for p in node.parts) + ")"


def test_near_parses_and_roundtrips():
    assert se.parse("def NEAR/3 return") == se.Near("def", "return", 3)
    assert se.parse("DEF NEAR/3 Return") == se.Near("def", "return", 3)
    node = se.parse("(def NEAR/2 trait) OR x AND NOT y")
    assert se.parse(_render(node)) == node
    # lowercase near/3 is a search term, not an operator (keyword policy)
    assert se.parse("def near/3 return") == se.And(
        (se.Term("def"), se.Term("near/3"), se.Term("return")))


def test_near_matches_terms_within_window(pidx):
    for a, b, w in [("def", "return", 3), ("def", "def", 2),
                    ("def", "zzzqqqxx", 4)]:
        want = [int(r["doc_id"])
                for r in pos.terms_within_window(pidx, a, b, w).collect()]
        got = [int(r["doc_id"])
               for r in se.search_expr(pidx, f"{a} NEAR/{w} {b}").collect()]
        assert got == want, (a, b, w)


@settings(max_examples=300, deadline=None)
@given(_asts())
def test_parser_roundtrip_property(ast):
    assert se.parse(_render(ast)) == ast


@settings(max_examples=8, deadline=None)
@given(_asts(), st.randoms())
def test_random_exprs_match_oracle(pidx, corpus_pdf, ast, _r):
    toks = _oracle_docsets(corpus_pdf)
    want = sorted(oracle_eval(toks, ast))
    got = [int(r["doc_id"])
           for r in se.eval_expr(pidx, ast).orderBy("doc_id").collect()]
    assert got == want, _render(ast)


def test_search_expr_ranked_oracle(pidx, corpus_pdf, oracle_idx):
    from inverted_index_and_search_spark import oracle as orc

    expr = "def AND (return OR if) AND NOT var_5_0"
    node = se.parse(expr)
    toks = _oracle_docsets(corpus_pdf)
    matched = oracle_eval(toks, node)
    terms = se.expr_terms(node)
    want = sorted(((d, orc.bm25_score(oracle_idx, d, terms))
                   for d in matched), key=lambda x: (-x[1], x[0]))[:10]
    got = [(int(r["doc_id"]), r["score"])
           for r in se.search_expr_ranked(pidx, expr, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) < 1e-6


def test_search_expr_ranked_disjunction_equals_bm25(pidx):
    from inverted_index_and_search_spark.operators.query import bm25_topk

    want = bm25_topk(pidx, ["def", "var_3_0"], k=10).collect()
    got = se.search_expr_ranked(pidx, "def OR var_3_0", k=10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == \
           [(r["doc_id"], round(r["score"], 9)) for r in want]


def test_search_expr_ranked_phrase_filter(pidx, corpus_pdf, oracle_idx):
    """Phrase atom filters the match set; scoring uses the words."""
    from inverted_index_and_search_spark import oracle as orc

    expr = '"def trait" AND return'
    node = se.parse(expr)
    toks = _oracle_docsets(corpus_pdf)
    matched = oracle_eval(toks, node)
    assert matched, "fixture must match"
    terms = se.expr_terms(node)
    want = sorted(((d, orc.bm25_score(oracle_idx, d, terms))
                   for d in matched), key=lambda x: (-x[1], x[0]))[:10]
    got = [(int(r["doc_id"]), r["score"])
           for r in se.search_expr_ranked(pidx, expr, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]


def test_double_negation_collapses():
    assert se.parse("def AND NOT NOT trait") == se.And(
        (se.Term("def"), se.Term("trait")))
    # triple negation == single NOT
    assert se.parse("def AND NOT NOT NOT trait") == se.And(
        (se.Term("def"), se.Not(se.Term("trait"))))


# ------------------------------------------------- metadata field atoms

def _field_oracle(corpus_pdf, atom) -> set[int]:
    """Pandas twin of field_cond: verbatim string compare on the
    column's string form; prefix='' means non-null."""
    col = corpus_pdf[atom.field]
    notnull = col.notna()
    s = col.astype(str)
    m = s.str.startswith(atom.value) if atom.prefix else (s == atom.value)
    return set(corpus_pdf.loc[m & notnull, "doc_id"].astype(int))


def test_field_atom_parses():
    assert se.parse("lang:scala") == se.FieldAtom("lang", "scala")
    assert se.parse("path:src/dir1*") == se.FieldAtom(
        "path", "src/dir1", prefix=True)
    assert se.parse("lang:*") == se.FieldAtom("lang", "", prefix=True)
    # field name folds, value stays verbatim (metadata is not tokenized)
    assert se.parse("Lang:Scala") == se.FieldAtom("lang", "Scala")
    assert se.parse("def AND lang:python") == se.And(
        (se.Term("def"), se.FieldAtom("lang", "python")))
    # '/' in the value is fine (repo:org0/repo0 is one atom)
    assert se.parse("repo:org0/repo0") == se.FieldAtom("repo", "org0/repo0")


@pytest.mark.parametrize("expr", [
    "lang:",          # value required (use lang:* for non-null)
    "lang:d*e",       # * only valid trailing
    "9lang:x",        # field must be an identifier
    ":x",             # empty field
])
def test_bad_field_atoms_rejected(expr):
    with pytest.raises(se.ExprError):
        se.parse(expr)


@pytest.mark.parametrize("expr", [
    "lang:scala",
    "def AND lang:scala",
    "lang:python OR lang:c",
    "def AND NOT lang:markdown",
    "path:src/dir1* AND return",
    "lang:* AND def",
    '"def trait" AND lang:scala',
])
def test_field_exprs_match_oracle(pidx, docs_df, corpus_pdf, expr):
    toks = _oracle_docsets(corpus_pdf)

    def field_aware_eval(node):
        if isinstance(node, se.FieldAtom):
            return _field_oracle(corpus_pdf, node)
        if isinstance(node, se.Or):
            out = set()
            for p in node.parts:
                out |= field_aware_eval(p)
            return out
        if isinstance(node, se.And):
            pos_sets = [field_aware_eval(p) for p in node.parts
                        if not isinstance(p, se.Not)]
            out = set.intersection(*pos_sets)
            for p in node.parts:
                if isinstance(p, se.Not):
                    out -= field_aware_eval(p.child)
            return out
        return oracle_eval(toks, node)

    want = sorted(field_aware_eval(se.parse(expr)))
    assert want, f"fixture must match something: {expr}"
    got = [int(r["doc_id"])
           for r in se.search_expr(pidx, expr, meta=docs_df).collect()]
    assert got == want, expr


def test_field_atom_is_filter_only_in_ranked(pidx, docs_df, corpus_pdf,
                                             oracle_idx):
    """Scores are the plain-term scores; the field atom only restricts."""
    from inverted_index_and_search_spark import oracle as orc

    expr = "def AND lang:scala"
    node = se.parse(expr)
    assert se.expr_terms(node) == ["def"]  # field atom contributes none
    toks = _oracle_docsets(corpus_pdf)
    matched = (oracle_eval(toks, se.Term("def"))
               & _field_oracle(corpus_pdf, se.FieldAtom("lang", "scala")))
    assert matched, "fixture must match"
    want = sorted(((d, orc.bm25_score(oracle_idx, d, ["def"]))
                   for d in matched), key=lambda x: (-x[1], x[0]))[:10]
    got = [(int(r["doc_id"]), r["score"])
           for r in se.search_expr_ranked(pidx, expr, k=10,
                                          meta=docs_df).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) < 1e-6


def test_field_atom_without_meta_raises(pidx):
    with pytest.raises(se.ExprError, match="metadata relation"):
        se.search_expr(pidx, "def AND lang:scala").collect()


def test_unknown_field_raises(pidx, docs_df):
    with pytest.raises(se.ExprError, match="unknown field"):
        se.search_expr(pidx, "nosuchfield:x", meta=docs_df).collect()


# ------------------------------------------------------------ clause boosts

def test_boost_parses_and_matching_unchanged(pidx, corpus_pdf):
    """term^2 / "phrase"^2 parse to Boosted and match exactly like the
    unboosted expression (boolean mode ignores boosts, as Lucene)."""
    node = se.parse('def^2 AND (return OR "def trait"^1.5)')
    assert isinstance(node, se.And)
    toks = _oracle_docsets(corpus_pdf)
    plain = se.parse('def AND (return OR "def trait")')
    assert oracle_eval(toks, node) == oracle_eval(toks, plain)
    got = [r["doc_id"] for r in se.search_expr(pidx, 
           'def^2 AND (return OR "def trait"^1.5)').collect()]
    want = [r["doc_id"] for r in se.search_expr(pidx,
            'def AND (return OR "def trait")').collect()]
    assert got == want


def test_boost_weights_ranked_scores(pidx, oracle_idx, corpus_pdf):
    """Ranked mode: a boosted term's BM25 contribution scales by the
    weight — verified against the pure-python weighted scorer."""
    expr = "def^2.5 OR var_3_0"
    node = se.parse(expr)
    assert se.expr_boosts(node) == {"def": 2.5}
    toks = _oracle_docsets(corpus_pdf)
    matched = oracle_eval(toks, node)

    def wscore(d):
        out = 0.0
        for t, w in (("def", 2.5), ("var_3_0", 1.0)):
            tf = oracle_idx.postings.get(t, {}).get(d, 0)
            if tf:
                dl = oracle_idx.dl[d]
                out += (w * oracle_idx.idf(t) * tf * 2.2
                        / (tf + 1.2 * (1 - 0.75 + 0.75 * dl
                                       / oracle_idx.avgdl)))
        return out

    want = sorted(((d, wscore(d)) for d in matched),
                  key=lambda x: (-x[1], x[0]))[:10]
    got = [(r["doc_id"], r["score"])
           for r in se.search_expr_ranked(pidx, expr, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) < 1e-6
    # and the boost actually changes the ranking vs unboosted when the
    # fixture has docs where the two terms trade off
    unb = [(r["doc_id"], r["score"])
           for r in se.search_expr_ranked(pidx, "def OR var_3_0",
                                          k=10).collect()]
    assert got != unb


def test_boost_server_path_matches_dataframe(pidx, docs_df, oracle_idx):
    """Warm QueryServer ranked eval applies the same clause boosts."""
    from inverted_index_and_search_spark.operators import index_build as ib
    from inverted_index_and_search_spark.operators import segments as seg

    tdp = pos.term_doc_positions_arrow(docs_df)
    sidx = seg.build_segment_index(tdp, oracle_idx.n_docs,
                                   oracle_idx.avgdl)
    server = seg.QueryServer(sidx)
    for expr in ("def^2.5 OR var_3_0", 'def AND "def trait"^3'):
        want = [(r["doc_id"], round(r["score"], 6))
                for r in se.search_expr_ranked(pidx, expr, k=10).collect()]
        got = [(d, round(s, 6)) for d, s in
               server.search_expr_ranked(expr, k=10)]
        assert [d for d, _ in got] == [d for d, _ in want], expr
        for (_, a), (_, b) in zip(got, want):
            assert abs(a - b) < 1e-6


def test_boost_errors():
    for bad in ("de*^2", "tble~1^2", "lang:de^2", "a^2^3", "^2", "def^"):
        with pytest.raises(se.ExprError):
            se.parse(bad)
