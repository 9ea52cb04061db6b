"""Analyzer pipeline: index-time stopword removal + S-stemming.

The reference tokenizes and indexes every token verbatim; every
production engine runs an ANALYZER between tokenization and indexing
(Lucene's ``Analyzer`` chain: tokenizer -> token filters). This module
adds the two classic, fully-deterministic filters on top of the
canonical tokenizer (tokenizer.py):

- **Stopword removal**: drop tokens in a user-supplied list (exact
  match, post-lowercasing — the tokenizer already lowercases).
- **S-stemmer** (Harman, "How effective is suffixing?", JASIS 1991):
  the conservative English plural stemmer — first matching rule wins:

      1. -ies -> -y     unless the word ends -eies or -aies
      2. -es  -> -e     unless the word ends -aes, -ees or -oes
      3. -s   ->        unless the word ends -us or -ss
      (words of length <= 2 are never stemmed)

  Chosen over Porter because its three rules express exactly as JVM
  CASE/endswith chains (whole-stage codegen, no UDF) AND as the same
  SQL in DuckDB — the analyzer stays byte-identical across the engine,
  the Arrow path, and the correctness oracle, which a 60-rule stemmer
  would make fragile.

The SAME analyzer must run at query time or query terms no longer
match the index vocabulary — :func:`analyze_terms` is the query-side
twin (CLI wires it to every term-based flag when ``--stopwords`` /
``--stem`` are given).

The three implementations (Python — the oracle, also run inside the
standard tokenizer's Arrow tf kernels —, JVM expression, DuckDB SQL)
are cross-tested for byte parity in tests/test_analysis.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F


def s_stem_py(term: str) -> str:
    """Pure-Python Harman S-stemmer (the oracle implementation)."""
    if len(term) <= 2:
        return term
    if term.endswith("ies"):
        if term.endswith(("eies", "aies")):
            return term
        return term[:-3] + "y"
    if term.endswith("es"):
        if term.endswith(("aes", "ees", "oes")):
            return term
        return term[:-1]
    if term.endswith("s"):
        if term.endswith(("us", "ss")):
            return term
        return term[:-1]
    return term


def s_stem_col(c: Column) -> Column:
    """JVM-expression S-stemmer over a string column (codegen'd CASE
    chain — no UDF; order mirrors s_stem_py exactly)."""
    return _stem_lambda(c)


def s_stem_sql_duckdb(expr: str) -> str:
    """DuckDB CASE fragment computing the same S-stem of ``expr``."""
    return f"""CASE
  WHEN length({expr}) <= 2 THEN {expr}
  WHEN {expr} LIKE '%eies' OR {expr} LIKE '%aies' THEN {expr}
  WHEN {expr} LIKE '%ies' THEN substr({expr}, 1, length({expr}) - 3) || 'y'
  WHEN {expr} LIKE '%aes' OR {expr} LIKE '%ees' OR {expr} LIKE '%oes'
    THEN {expr}
  WHEN {expr} LIKE '%es' THEN substr({expr}, 1, length({expr}) - 1)
  WHEN {expr} LIKE '%us' OR {expr} LIKE '%ss' THEN {expr}
  WHEN {expr} LIKE '%s' THEN substr({expr}, 1, length({expr}) - 1)
  ELSE {expr} END"""


@dataclass(frozen=True)
class Analyzer:
    """Immutable analyzer config: ``stopwords`` (lowercased exact
    matches to drop) and ``stem`` (apply the S-stemmer). The default
    config is the identity — existing call sites are unaffected."""

    stopwords: frozenset[str] = field(default_factory=frozenset)
    stem: bool = False

    @classmethod
    def make(cls, stopwords=None, stem: bool = False) -> "Analyzer":
        return cls(frozenset(w.lower() for w in (stopwords or ())), stem)

    @property
    def is_identity(self) -> bool:
        return not self.stopwords and not self.stem

    # ---- python (oracle + Arrow batch + query-side twin)

    def analyze_py(self, tokens: list[str]) -> list[str]:
        """Filter+stem a token list (order preserved — positional
        indexes use post-analysis positions, the Lucene convention)."""
        if self.is_identity:
            return tokens
        out = tokens
        if self.stopwords:
            out = [t for t in out if t not in self.stopwords]
        if self.stem:
            out = [s_stem_py(t) for t in out]
        return out

    def analyze_terms(self, terms: list[str]) -> list[str]:
        """Query-side twin: analyze a user's query terms with the same
        config the index was built with."""
        return self.analyze_py([t.lower() for t in terms])

    # ---- JVM expression (token-array column)

    def analyze_tokens_col(self, tok: Column) -> Column:
        """array<string> -> array<string>: F.filter (stoplist literal)
        then F.transform (stem CASE chain) — pure Catalyst, codegen'd."""
        out = tok
        if self.stopwords:
            stops = F.array(*[F.lit(w) for w in sorted(self.stopwords)])
            out = F.filter(out, lambda t: ~F.array_contains(stops, t))
        if self.stem:
            out = F.transform(out, _stem_lambda)
        return out

    # ---- DuckDB SQL (oracle)

    def tokens_sql_duckdb(self, text_expr: str) -> str:
        """Analyzed twin of tokenizer.tokens_sql_duckdb."""
        from inverted_index_and_search_spark.tokenizer import (
            tokens_sql_duckdb,
        )

        sql = tokens_sql_duckdb(text_expr)
        if self.stopwords:
            lits = ", ".join(f"'{w}'" for w in sorted(self.stopwords))
            sql = f"list_filter({sql}, t -> t NOT IN ({lits}))"
        if self.stem:
            sql = f"list_transform({sql}, t -> {s_stem_sql_duckdb('t')})"
        return sql


IDENTITY = Analyzer()


#: tiny per-language function-word sets (the highest-frequency words of
#: the classic public stopword lists) — the DEFAULT dispatch table for
#: :class:`LangAnalyzer`; real corpora supply their own fuller lists
DEFAULT_LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "des", "un"),
    "es": ("el", "la", "los", "de", "y", "un"),
    "zh": (),
}


@dataclass(frozen=True)
class LangAnalyzer:
    """Per-LANGUAGE analyzer dispatch: stopword sets keyed by the
    corpus ``lang`` column, applied row-wise. The S-stemmer applies
    only to ``stem_langs`` — it is an ENGLISH plural stemmer (Harman
    1991) and is deliberately never applied to other languages. Rows
    whose lang has no table entry get ``default`` (identity unless
    overridden). Same parity obligations as :class:`Analyzer`: JVM CASE
    dispatch over the per-lang filter chains (the build path,
    :func:`lang_tf`), python row dispatch (the oracle), DuckDB CASE
    twin — byte parity asserted in tests/test_analysis.py."""

    analyzers: tuple[tuple[str, Analyzer], ...]
    default: Analyzer = IDENTITY

    @classmethod
    def make(cls, stopwords_by_lang: dict | None = None,
             stem_langs=("en",),
             default: "Analyzer" = None) -> "LangAnalyzer":
        table = (DEFAULT_LANG_STOPWORDS if stopwords_by_lang is None
                 else stopwords_by_lang)
        stems = frozenset(stem_langs)
        pairs = tuple(sorted(
            (lang, Analyzer.make(words, stem=lang in stems))
            for lang, words in table.items()))
        return cls(pairs, default if default is not None else IDENTITY)

    def analyzer_for(self, lang: str | None) -> Analyzer:
        for lg, an in self.analyzers:
            if lg == lang:
                return an
        return self.default

    # ---- python (oracle)

    def analyze_py(self, tokens: list[str], lang: str | None) -> list[str]:
        return self.analyzer_for(lang).analyze_py(tokens)

    # ---- JVM expression (token-array column + lang column)

    def analyze_tokens_col(self, tok: Column, lang_col: Column) -> Column:
        """CASE over the tiny closed lang set, each branch the lang's
        own filter/stem chain — still pure Catalyst, codegen'd, zero
        exchanges added."""
        out = (tok if self.default.is_identity
               else self.default.analyze_tokens_col(tok))
        for lg, an in self.analyzers:
            out = F.when(lang_col == F.lit(lg),
                         an.analyze_tokens_col(tok)).otherwise(out)
        return out

    # ---- DuckDB SQL (oracle)

    def tokens_sql_duckdb(self, text_expr: str, lang_expr: str) -> str:
        base = self.default.tokens_sql_duckdb(text_expr)
        whens = "".join(
            f"\n  WHEN {lang_expr} = '{lg}' "
            f"THEN {an.tokens_sql_duckdb(text_expr)}"
            for lg, an in self.analyzers)
        return f"CASE{whens}\n  ELSE {base} END"


def lang_tf(docs, la: LangAnalyzer, *, content_col: str = "content",
            id_col: str = "doc_id", lang_col: str = "lang",
            tokenizer: str = "standard"):
    """(term, doc_id, tf) with per-row language analysis — the JVM
    build path (tokenize -> CASE-dispatched filter chain -> explode ->
    two-level hash agg; no UDF, no extra exchange vs the plain
    build)."""
    from inverted_index_and_search_spark.tokenizer import tokenizer_col

    tok = la.analyze_tokens_col(
        tokenizer_col(tokenizer)(F.col(content_col)), F.col(lang_col))
    return (docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(tok).alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count("*").cast("int").alias("tf")))


def _stem_lambda(t: Column) -> Column:
    """Element-level S-stem for F.transform (expression-only)."""
    return (
        F.when(F.length(t) <= 2, t)
        .when(t.endswith("eies") | t.endswith("aies"), t)
        .when(t.endswith("ies"),
              F.concat(t.substr(F.lit(1), F.length(t) - 3), F.lit("y")))
        .when(t.endswith("aes") | t.endswith("ees") | t.endswith("oes"), t)
        .when(t.endswith("es"), t.substr(F.lit(1), F.length(t) - 1))
        .when(t.endswith("us") | t.endswith("ss"), t)
        .when(t.endswith("s"), t.substr(F.lit(1), F.length(t) - 1))
        .otherwise(t)
    )
