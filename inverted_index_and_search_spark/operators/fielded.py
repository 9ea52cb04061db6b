"""Fielded (BM25F) indexing: weighted multi-field term frequencies.

The reference indexes exactly one text stream per document
(``spark/inverted_index_search.py:102-126`` reads whole files); real
corpora are FIELDED — a code-search document has ``path`` and
``content``, a web document ``title`` and ``body`` — and a hit in a
short, high-signal field should outrank the same hit buried in the
body. BM25F (Robertson & Zaragoza, "The Probabilistic Relevance
Framework: BM25 and Beyond", 2009, §3.3; Lucene's
``BM25FQuery``/field boosts) handles this by summing PER-FIELD term
frequencies under field weights BEFORE the BM25 saturation:

    wtf(t, d)  = sum_f  w_f * tf_f(t, d)
    wdl(d)     = sum_f  w_f * dl_f(d)
    score      = sum_t idf(df_t) * wtf*(k1+1) / (wtf + k1*(1-b+b*wdl/avgwdl))

which is EXACTLY ordinary BM25 evaluated over a virtual corpus whose
tf column is the weighted double ``wtf``. The engine exploits that:
:func:`build_fielded_index` emits the standard bucketed postings
layout (term-hash partitioning, hot-term salting, dictionary — all
shared code paths) with ``tf: double``, and the unmodified
``query.bm25_topk`` / boolean / suggestion operators run on it as-is.

Scale shape: one tokenize pass per field (map-side, JVM regex), a
UNION feeding ONE (term, doc_id) hash aggregation — fields do not add
shuffles, they widen the map stage; doc stats ride the same tf pass.
The fielded layout is parquet/in-memory only (the compressed segment
codec packs integer tf; weighted tf is fractional by design).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inverted_index_and_search_spark.operators.index_build import (
    DEFAULT_BUCKETS,
    Index,
    hot_terms,
    postings,
)
__all__ = ["fielded_tf", "fielded_doc_stats", "build_fielded_index"]


def fielded_tf(docs: DataFrame, fields: dict[str, float], *,
               id_col: str = "doc_id",
               tokenizer: str = "standard",
               analyzer=None) -> DataFrame:
    """(term, doc_id, tf: double) — weighted term frequency summed
    across fields: ``tf = sum_f w_f * tf_f``. One hash aggregation
    over the per-field token unions; null field values contribute
    nothing (empty token array). ``analyzer`` applies stopword/stem
    filters per field between tokenize and count (weighted dl follows
    from the tf pass, so length norms see post-analysis lengths)."""
    from inverted_index_and_search_spark.tokenizer import tokenizer_col

    tok_col = tokenizer_col(tokenizer)
    parts = []
    for col, weight in sorted(fields.items()):
        toks = tok_col(F.coalesce(F.col(col), F.lit("")))
        if analyzer is not None and not analyzer.is_identity:
            toks = analyzer.analyze_tokens_col(toks)
        parts.append(docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(toks).alias("term"),
            F.lit(float(weight)).alias("w"),
        ))
    union = reduce(lambda a, b: a.unionByName(b), parts)
    return (union.groupBy("term", "doc_id")
            .agg(F.sum("w").cast("double").alias("tf")))


def fielded_doc_stats(docs: DataFrame, tf: DataFrame, fields: dict[str, float],
                      *, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, dl: double, content_sha256) — weighted doc length from
    the tf pass (``sum_t wtf = sum_f w_f * dl_f``, no re-tokenize);
    the sha256 invariant covers the concatenated fields (US-separator
    joined, sorted field order — deterministic and collision-safe
    against field-boundary shuffling)."""
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dl"))
    joined = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c), F.lit(""))
                  for c in sorted(fields)])
    sha = docs.select(F.col(id_col).alias("doc_id"),
                      F.sha2(joined, 256).alias("content_sha256"))
    return sha.join(dl, "doc_id", "left").fillna({"dl": 0.0})


def build_fielded_index(docs: DataFrame, fields: dict[str, float], *,
                        id_col: str = "doc_id",
                        n_buckets: int = DEFAULT_BUCKETS,
                        salt_hot_terms: bool = False,
                        tokenizer: str = "standard",
                        analyzer=None) -> Index:
    """Standard bucketed Index over the weighted-field virtual corpus.

    Every downstream operator that reads ``postings[].tf`` / ``df`` /
    ``doc_stats.dl`` arithmetically — BM25 top-k (now scoring BM25F),
    boolean/phrase-free queries, facets, suggestions — works unchanged;
    ``tf``/``cf``/``dl`` are double instead of int/long.
    """
    tf = fielded_tf(docs, fields, id_col=id_col, tokenizer=tokenizer,
                    analyzer=analyzer)
    post = postings(tf, n_buckets=n_buckets,
                    hot=hot_terms(tf) if salt_hot_terms else None)
    ds = fielded_doc_stats(docs, tf, fields, id_col=id_col)
    return Index(postings=post, doc_stats=ds, tf=tf, n_buckets=n_buckets,
                 tokenizer=tokenizer, analyzer=analyzer)
