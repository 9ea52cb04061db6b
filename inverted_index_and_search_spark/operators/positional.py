"""Positional index + phrase / proximity queries.

The reference indexes only (term, doc, tf) — its query side cannot
answer phrase queries at all (``search-query.py:53-73`` intersects doc
sets, losing word order). A full-text engine at corpus scale needs
exact-phrase and proximity retrieval, so the positional layout is a
first-class index variant here:

    postings: array<struct<doc_id:long, tf:int, positions:array<int>>>

``positions`` is the sorted list of 0-based token offsets of the term
in the doc (canonical tokenizer semantics, tokenizer.py). The struct is
a strict superset of the non-positional layout, so every existing query
operator (boolean AND/OR, BM25, text sinks) runs unchanged on a
positional index — they read only ``doc_id``/``tf`` fields.

Phrase evaluation is pure DataFrame algebra — no UDF in the match path:
for phrase [t0 .. t_{k-1}], shift term i's positions by -i and
intersect the k arrays per doc (`array_intersect`); the surviving
values are the phrase start offsets, their count the phrase tf. This is
the classic positional-intersection algorithm (Manning, Raghavan &
Schütze, *Introduction to Information Retrieval* §2.4.2) expressed as
Catalyst array expressions.

Scale notes:
- positions add O(cf) ints per term vs O(df) for tf-only — the standard
  positional-index overhead (~2-4x index size); delta+varint compression
  of positions composes with kernels/codec just like doc_id gaps.
- per-query touched data stays the query terms' postings only: the
  phrase path reuses the same bucket-pruned, `term IN (...)`-pushed scan
  as boolean/BM25 queries (query._query_postings).
- the k-way join is on doc_id with k small (phrase length); every side
  is one term's pruned postings. Skewed (stop-)words in phrases hit the
  same hot-term sharding/bucket guards as the tf index.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inverted_index_and_search_spark.operators import index_build as ib
from inverted_index_and_search_spark.operators.index_build import (
    DEFAULT_BUCKETS,
    Index,
    _arrow_kernel,
    _explode_bound,
    doc_stats,
)
from inverted_index_and_search_spark.operators.query import (
    K1,
    B,
    _query_postings,
)
__all__ = [
    "term_doc_positions",
    "term_doc_positions_arrow",
    "positional_postings",
    "build_positional_index",
    "phrase_match",
    "phrase_bm25_topk",
    "terms_within_window",
    "near_doc_ids",
    "norm_phrase",
]


def term_doc_positions(docs: DataFrame, *, content_col: str = "content",
                       id_col: str = "doc_id",
                       tokenizer: str = "standard",
                       analyzer=None) -> DataFrame:
    """(term, doc_id, tf, positions, dl) — pure-JVM path.

    posexplode assigns each token its 0-based offset; the group-by
    collects offsets per (term, doc). sort_array gives canonical
    ascending position order regardless of partitioning; dl (fixed by
    doc_id) rides the grouping key.
    ``tokenizer`` selects term semantics ("standard" | "code");
    ``analyzer`` applies stopword/stem filters BEFORE offset
    assignment, so positions are POST-analysis (renumbered, the
    convention documented on Analyzer.analyze_py): a phrase query
    analyzed with the same config matches across removed stopwords.
    """
    from inverted_index_and_search_spark.tokenizer import tokenizer_col

    arr = tokenizer_col(tokenizer)(F.col(content_col))
    if analyzer is not None and not analyzer.is_identity:
        arr = analyzer.analyze_tokens_col(arr)
    tok = _explode_bound(docs.select(F.col(id_col).alias("doc_id"),
                                     arr.alias("_toks")),
                         F.posexplode_outer, "pos", "term")
    return tok.groupBy("term", "doc_id", "dl").agg(
        F.count("*").cast("int").alias("tf"),
        F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias("positions"),
    ).select("term", "doc_id", "tf", "positions", "dl")


def term_doc_positions_arrow(docs: DataFrame, *, content_col: str = "content",
                             id_col: str = "doc_id",
                             tokenizer: str = "standard",
                             analyzer=None) -> DataFrame:
    """(term, doc_id, tf, positions, dl) — THE positions entry point of
    every builder, one kernel per tokenizer (the positional analogue of
    index_build.term_doc_tf_arrow; the name stays because the frozen
    bench script calls it). ``dl`` is the doc's analyzed token count.

    ``tokenizer="standard"`` collects positions inside an Arrow batch
    loop — in-mapper combining with positions: no JVM token explode, no
    (term, doc_id) pre-shuffle; the loop emits already-unique rows.
    ``tokenizer="code"`` runs the JVM :func:`term_doc_positions`, which
    measured faster than one Python `regex` pass per document.
    """
    if tokenizer == "code":
        return term_doc_positions(docs, content_col=content_col,
                                  id_col=id_col, tokenizer=tokenizer,
                                  analyzer=analyzer)
    return _arrow_kernel(docs, content_col, id_col, analyzer, positions=True)


def positional_postings(tdp: DataFrame, *,
                        n_buckets: int = DEFAULT_BUCKETS,
                        hot: DataFrame | None = None) -> DataFrame:
    """(term, term_bucket, df, cf, postings) with positional structs,
    postings sorted by doc_id asc. Same shape contract as
    index_build.postings, but over the SHARDED finish of
    :func:`index_build.group_postings`: positions multiply a hot term's
    payload ~avg-tf-fold over the tf-only layout (a stop-word-class
    term at 10^6 docs is tens of millions of ints), so the terms in
    ``hot`` stay split across rows, each carrying the term-level
    df/cf; query operators explode ``postings`` and read df off the
    row, so results are identical (tested). ``hot=None``: one row per
    term."""
    post = F.struct(F.col("doc_id"), F.col("tf"), F.col("positions"))
    return ib.bucketed_postings(
        ib.group_postings(tdp, post, hot, sharded=True), n_buckets)


def build_positional_index(docs: DataFrame, *, content_col: str = "content",
                           id_col: str = "doc_id",
                           n_buckets: int = DEFAULT_BUCKETS,
                           shard_hot_terms: bool = False,
                           tokenizer: str = "standard",
                           analyzer=None) -> Index:
    """Positional :class:`Index` — a strict superset of the tf-only
    layout: boolean/BM25/text-sink operators work on it unchanged, and
    the phrase/proximity operators below require it.

    ``shard_hot_terms=True`` detects skewed terms from a ~1% document
    sample (index_build.hot_terms_from_docs) and splits their
    positional postings across rows (see :func:`positional_postings`)
    — REQUIRED at corpus scale where a stop-word-class term's single
    merged row would be hundreds of MB; query results are identical
    either way (tested). ``Index.sharded`` is set only when that set is
    non-empty, so the common build skips the sinks' shard merge."""
    tdp = term_doc_positions_arrow(docs, content_col=content_col,
                                   id_col=id_col, tokenizer=tokenizer,
                                   analyzer=analyzer)
    hot = (ib.probe_hot(ib.hot_terms_from_docs(
        docs, content_col=content_col, id_col=id_col, tokenizer=tokenizer,
        analyzer=analyzer)) if shard_hot_terms else None)
    return Index(
        postings=positional_postings(tdp, n_buckets=n_buckets, hot=hot),
        doc_stats=doc_stats(docs, tdp, content_col=content_col, id_col=id_col),
        tf=tdp,
        n_buckets=n_buckets,
        sharded=hot is not None,
        tokenizer=tokenizer,
        analyzer=analyzer,
    )


def norm_phrase(phrase: list[str]) -> list[str]:
    """Canonical phrase form: each element is run through the canonical
    tokenizer (lowercase + split on non-letter/digit), order and
    duplicates kept. A phrase element with punctuation ("new-york")
    expands to its token sequence ("new", "york") — the literal token
    'new-york' can never exist in the index, so matching on it would
    silently return nothing."""
    from inverted_index_and_search_spark.tokenizer import tokenize_py

    return [w for t in phrase for w in tokenize_py(t)]


_norm_phrase = norm_phrase


def _occurrence_positions(index: Index, norm: list[str]) -> list[DataFrame]:
    """One DF per phrase slot i: (doc_id, adj_i) where adj_i is term i's
    position list shifted by -i, so a phrase occurrence starting at s
    contributes s to every slot's adjusted array."""
    qp = _query_postings(index, sorted(set(norm)))
    rows = qp.select("term", F.explode("postings").alias("p")).select(
        "term",
        F.col("p.doc_id").alias("doc_id"),
        F.col("p.positions").alias("positions"),
    )
    def shifted_by(i: int):
        # one-arg lambda: F.transform dispatches on arity — a two-arg
        # lambda would receive the ELEMENT INDEX as its second argument
        lit = F.lit(i)
        return lambda x: x - lit

    out = []
    for i, t in enumerate(norm):
        out.append(
            rows.filter(F.col("term") == t).select(
                "doc_id",
                F.transform("positions", shifted_by(i)).alias(f"adj_{i}"),
            )
        )
    return out


def _phrase_starts(index: Index, norm: list[str]) -> DataFrame:
    """(doc_id, phrase_tf) for docs containing the exact phrase —
    k-way inner join on doc_id, then array_intersect of the shifted
    position arrays. Missing terms short-circuit via the inner join."""
    parts = _occurrence_positions(index, norm)
    joined = reduce(lambda a, b: a.join(b, "doc_id"), parts)
    starts: Column = F.col("adj_0")
    for i in range(1, len(norm)):
        starts = F.array_intersect(starts, F.col(f"adj_{i}"))
    return (
        joined.select("doc_id", F.size(starts).alias("phrase_tf"))
        .filter(F.col("phrase_tf") > 0)
    )


def phrase_match(index: Index, phrase: list[str]) -> DataFrame:
    """(doc_id, phrase_tf) — docs containing the exact token phrase,
    sorted by doc_id asc. phrase_tf counts start offsets (overlapping
    occurrences all count: "a a" occurs twice in "a a a")."""
    norm = _norm_phrase(phrase)
    spark = index.postings.sparkSession
    if not norm:
        return spark.createDataFrame([], "doc_id long, phrase_tf int")
    return _phrase_starts(index, norm).orderBy("doc_id")


def phrase_bm25_topk(index: Index, phrase: list[str], k: int = 10) -> DataFrame:
    """(doc_id, score) — BM25 top-k treating the exact phrase as one
    pseudo-term: tf = phrase_tf, df = number of docs containing the
    phrase (same k1/b/IDF as query.bm25_topk, so single-word phrases
    are score-identical to the ordinary path).

    df is computed as a driver-side ``count()`` of the materialized
    match relation and injected as a literal — the matched set (docs
    containing the full phrase, already k-way intersected) is computed
    once and scored fully parallel; round 2 used an unpartitioned
    window COUNT instead, which funneled the whole match list through
    one task. ``localCheckpoint(eager=True)`` (not ``persist``)
    materializes it: the backing blocks are released by the
    ContextCleaner once the result DataFrame is dropped, so repeated
    phrase queries in a long-lived session don't accumulate pinned
    cache entries.
    """
    norm = _norm_phrase(phrase)
    spark = index.postings.sparkSession
    if not norm:
        return spark.createDataFrame([], "doc_id long, score double")
    n_docs, avgdl = index.collection_stats()
    matched = _phrase_starts(index, norm).localCheckpoint(eager=True)
    phrase_df = matched.count()
    if phrase_df == 0:
        return spark.createDataFrame([], "doc_id long, score double")
    dl = F.broadcast(index.doc_stats.select("doc_id", "dl"))
    # idf still evaluates IN-PLAN (JVM log, same engine as every other
    # score path) — only df became a constant
    idf = F.log(1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    return (
        matched.withColumn("df", F.lit(float(phrase_df)))
        .join(dl, "doc_id")
        .select(
            "doc_id",
            (idf * (F.col("phrase_tf") * (K1 + 1.0))
             / (F.col("phrase_tf")
                + K1 * (1.0 - B + B * F.col("dl") / avgdl))).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def near_doc_ids(index: Index, term_a: str, term_b: str,
                 window: int) -> DataFrame:
    """UNSORTED (doc_id) proximity doc set — the composable core of
    :func:`terms_within_window` and of the query language's ``NEAR/k``
    operator (whose enclosing joins would destroy an embedded sort).
    Semantics documented on :func:`terms_within_window`."""
    a, b = term_a.lower(), term_b.lower()
    qp = _query_postings(index, sorted({a, b}))
    rows = qp.select("term", F.explode("postings").alias("p")).select(
        "term", F.col("p.doc_id").alias("doc_id"),
        F.col("p.positions").alias("positions"))
    pa = rows.filter(F.col("term") == a).select("doc_id", F.col("positions").alias("pa"))
    pb = rows.filter(F.col("term") == b).select("doc_id", F.col("positions").alias("pb"))
    w = F.lit(window)
    if a == b:
        near = F.exists("pa", lambda x: F.exists(
            "pb", lambda y: (F.abs(x - y) <= w) & (x != y)))
    else:
        near = F.exists("pa", lambda x: F.exists(
            "pb", lambda y: F.abs(x - y) <= w))
    return pa.join(pb, "doc_id").filter(near).select("doc_id")


def terms_within_window(index: Index, term_a: str, term_b: str,
                        window: int) -> DataFrame:
    """(doc_id) — docs where ``term_a`` and ``term_b`` occur within
    ``window`` token offsets of each other (|pos_a - pos_b| <= window),
    sorted by doc_id asc. Proximity via nested array `exists` over the
    two terms' position lists — per-doc cost |Pa|*|Pb| with both lists
    bounded by the doc's term frequency (short for non-stop-words; a
    sorted two-pointer kernel is the upgrade path if a stop-word pair
    ever matters; the segment path, segments.near_docs, already uses
    searchsorted).

    Same-term queries (``term_a == term_b``) require two DISTINCT
    occurrences within the window — a position trivially satisfies
    |x - x| <= w against itself, which would otherwise return every
    doc containing the term once."""
    return near_doc_ids(index, term_a, term_b, window).orderBy("doc_id")
