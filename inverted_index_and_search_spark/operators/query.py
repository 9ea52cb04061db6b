"""Query evaluation: boolean AND (reference parity) + BM25 top-k.

Reference semantics being matched (``search-query.py:53-73``):
query terms are lowercased (L54); a term absent from the index
short-circuits to an empty result (L61-62); the boolean result is the
sorted intersection of the terms' doc sets (L69-73).

North-rule additions: BM25 ranking (k1=1.2, b=0.75, Lucene-style
non-negative IDF), deterministic tie-break (score desc, doc_id asc),
LIMIT k. This DataFrame path scores via exploded postings + a broadcast
doc-stats join; the compressed-segment/WAND path lives in
``operators.wand`` and must be rank-identical to this one.

Scale notes: the per-query touched data is only the postings rows of
the query's terms — with the bucketed layout the scan prunes to
``term_bucket IN (buckets(terms))`` parquet partitions, then a
row-group-level ``term IN (...)`` pushed filter. Doc-stats join is an
explicit ``F.broadcast`` (dl table is ~16 bytes/doc; at 10^12 docs one
would instead pre-join dl into the postings at build time — noted in
segments.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inverted_index_and_search_spark.operators.index_build import Index

K1 = 1.2
B = 0.75


def _norm_terms(terms: list[str]) -> list[str]:
    """Lowercase + dedup + sort — canonical query form (matches oracle)."""
    return sorted({t.lower() for t in terms})


def _query_postings(index: Index, norm: list[str]) -> DataFrame:
    """Postings rows for the query's terms, with bucket pruning when the
    postings DF carries term_bucket (persisted layout).

    Bucket values are computed with the INDEX's own n_buckets (persisted
    in meta.json and restored by read_index) — a wrong modulus here
    would silently prune away matching postings."""
    from inverted_index_and_search_spark.kernels.xxhash import term_bucket

    p = index.postings
    if "term_bucket" in p.columns:
        # Partition-pruned scan: the terms' buckets are computed
        # DRIVER-SIDE with the pure-Python xxhash64 twin (property-
        # tested equal to the JVM expression) — no per-query Spark job
        # just to evaluate hashes — then `term_bucket IN (...)` becomes
        # parquet directory pruning on the persisted layout.
        bvals = sorted({term_bucket(t, index.n_buckets) for t in norm})
        p = p.filter(F.col("term_bucket").isin(bvals))
    return p.filter(F.col("term").isin(norm))


def index_has_inline_dl(index: Index) -> bool:
    """True when the postings layout carries dl inside each posting
    struct (build_index(inline_dl=True)) — scorers then need no
    doc_stats join at all."""
    elem = index.postings.schema["postings"].dataType.elementType
    return any(f.name == "dl" for f in elem.fields)


def exploded_with_dl(index: Index, qp: DataFrame, cols: list) -> DataFrame:
    """(cols..., doc_id, tf, dl) — the shared scorer base: the pruned
    postings rows exploded and each hit's doc length attached. With an
    inline-dl layout dl reads straight off the posting struct, so the
    scoring plan contains NO join (plan-gated — the DataFrame path's
    answer to the corpus-sized doc_stats broadcast at warehouse
    scale); otherwise the classic broadcast doc_stats join."""
    ex = qp.select(*cols, F.explode("postings").alias("p"))
    keep = [c for c in ex.columns if c != "p"]
    if index_has_inline_dl(index):
        return ex.select(*keep, F.col("p.doc_id").alias("doc_id"),
                         F.col("p.tf").alias("tf"),
                         F.col("p.dl").alias("dl"))
    out = ex.select(*keep, F.col("p.doc_id").alias("doc_id"),
                    F.col("p.tf").alias("tf"))
    dl = F.broadcast(index.doc_stats.select("doc_id", "dl"))
    return out.join(dl, "doc_id")


def boolean_and(index: Index, terms: list[str]) -> DataFrame:
    """All docs containing every query term — (doc_id) sorted asc.

    Declarative intersection: explode the ≤k terms' postings, count
    distinct matched terms per doc, keep docs matching all k. The
    missing-term short-circuit falls out of the count: if any term has
    no postings row, no doc can reach n_matched == k.
    """
    norm = _norm_terms(terms)
    spark = index.postings.sparkSession
    if not norm:
        return spark.createDataFrame([], "doc_id long")
    qp = _query_postings(index, norm)
    exploded = qp.select("term", F.explode("postings").alias("p")).select(
        "term", F.col("p.doc_id").alias("doc_id")
    )
    # count(*) == count(distinct term): the exploded relation is unique
    # per (term, doc) by construction on every layout (one posting
    # struct per doc; sharded layouts split a term's postings by doc
    # hash, so a doc appears in exactly one shard row; the LSM live view
    # keeps one version per doc, streaming/lsm.py). Dropping the
    # distinct removes the extra aggregation layer it would insert.
    return (
        exploded.groupBy("doc_id")
        .agg(F.count("*").alias("n_matched"))
        .filter(F.col("n_matched") == len(norm))
        .select("doc_id")
        .orderBy("doc_id")
    )


def boolean_or(index: Index, terms: list[str]) -> DataFrame:
    """All docs containing at least one query term — (doc_id) sorted asc.

    Disjunctive companion to :func:`boolean_and` (the reference's query
    tool is AND-only, ``search-query.py:69-71``; OR completes the
    boolean surface). Same pruned scan: only the query terms' postings
    are touched, distinct-on-doc_id after the explode.
    """
    norm = _norm_terms(terms)
    spark = index.postings.sparkSession
    if not norm:
        return spark.createDataFrame([], "doc_id long")
    qp = _query_postings(index, norm)
    return (
        qp.select(F.explode("postings").alias("p"))
        .select(F.col("p.doc_id").alias("doc_id"))
        .distinct()
        .orderBy("doc_id")
    )


def boolean_and_not(index: Index, include: list[str],
                    exclude: list[str]) -> DataFrame:
    """Docs containing every ``include`` term and none of the
    ``exclude`` terms — (doc_id) sorted asc.

    NOT is evaluated as a left-anti join against the exclude terms'
    doc set: touched data is still only the query's terms' postings
    (never a corpus scan — negation against the full corpus would not
    be scale-safe and is intentionally not offered).
    """
    base = boolean_and(index, include)
    norm_ex = _norm_terms(exclude)
    if not norm_ex:
        return base
    ex = (
        _query_postings(index, norm_ex)
        .select(F.explode("postings").alias("p"))
        .select(F.col("p.doc_id").alias("doc_id"))
    )
    return base.join(ex, "doc_id", "left_anti").orderBy("doc_id")


def _atom_matched_terms(index: Index, cond) -> list[str] | None:
    """Matched terms for a dictionary predicate via the SORTED
    dictionary side table (range-partitioned, so parquet min/max file
    pruning applies to term-range predicates — unlike the hash-bucketed
    main layout). Returns None — caller falls back to the direct
    dictionary-column scan — when there is no dictionary or the match
    list is too large for a useful IN literal (MAX_DICT_TERMS)."""
    from inverted_index_and_search_spark.operators.index_build import (
        MAX_DICT_TERMS,
        dictionary_terms,
    )

    if index.dictionary is None:
        return None
    terms = dictionary_terms(index.dictionary, cond)
    return None if len(terms) > MAX_DICT_TERMS else terms


def _atom_matched_docs(index: Index, cond) -> DataFrame:
    """UNSORTED distinct (doc_id) of docs containing ANY term matching
    ``cond`` — the shared core of :func:`prefix_docs` /
    :func:`fuzzy_docs` and of the query language's wildcard/fuzzy
    atoms (whose enclosing joins would destroy an embedded sort).
    Dictionary-first; the fallback is the direct — narrow, pushed —
    scan of the postings layout's term column."""
    terms = _atom_matched_terms(index, cond)
    if terms is not None:
        if not terms:
            spark = index.postings.sparkSession
            return spark.createDataFrame([], "doc_id long")
        matched = _query_postings(index, terms)
    else:
        matched = index.postings.filter(cond)
    return (matched.select(F.explode("postings").alias("p"))
            .select(F.col("p.doc_id").alias("doc_id"))
            .distinct())


def prefix_docs(index: Index, prefix: str) -> DataFrame:
    """(doc_id) — docs containing ANY term starting with ``prefix``
    (Lucene PrefixQuery semantics), sorted asc.

    With a persisted index the SORTED dictionary side table resolves
    the matching terms first (term-range file pruning; the pushed
    StartsWith skips whole dictionary files via parquet min/max stats)
    and the postings fetch then bucket-prunes like any term query. The
    fallback — an in-memory index, or a prefix matching more than
    MAX_DICT_TERMS terms — is the direct dictionary-column scan: full
    but narrow, StringStartsWith still pushed (plan-gated)."""
    p = prefix.lower()
    spark = index.postings.sparkSession
    if not p:
        return spark.createDataFrame([], "doc_id long")
    return _atom_matched_docs(index, F.col("term").startswith(p)) \
        .orderBy("doc_id")


def _fuzzy_cond(t: str, max_dist: int):
    """Length band (a pushable range filter — edit distance can never
    beat the length difference) + levenshtein."""
    return ((F.length("term") >= len(t) - max_dist)
            & (F.length("term") <= len(t) + max_dist)
            & (F.levenshtein(F.col("term"), F.lit(t)) <= max_dist))


def fuzzy_docs(index: Index, term: str, max_dist: int = 1) -> DataFrame:
    """(doc_id) — docs containing any term within Levenshtein distance
    ``max_dist`` of ``term`` (Lucene FuzzyQuery semantics), sorted asc.

    Same dictionary-first strategy as :func:`prefix_docs` (the length
    band prunes dictionary files; levenshtein evaluates only inside
    it); fallback is the direct length-band + levenshtein scan of the
    postings layout's term column."""
    t = term.lower()
    spark = index.postings.sparkSession
    if not t:
        return spark.createDataFrame([], "doc_id long")
    return _atom_matched_docs(index, _fuzzy_cond(t, max_dist)) \
        .orderBy("doc_id")


def suggest_terms(index: Index, term: str, *, max_dist: int = 2,
                  k: int = 5) -> DataFrame:
    """(term, dist, cf) — "did you mean" spell correction: the ``k``
    dictionary terms closest to ``term`` by Levenshtein distance,
    ranked dist asc, then collection frequency desc (the standard
    noisy-channel ordering — among equally-close candidates the one
    users type most often wins), then term asc for determinism.

    The reference has no suggestion surface (its missing-term path just
    returns an empty doc set, search-query.py:61-62); this is the
    Lucene ``DirectSpellChecker`` shape re-expressed declaratively.
    A distance-0 row means the term exists — callers typically suggest
    only when it is absent or rare (see cli.py ``--suggest``).

    Scale shape: candidate generation is a DICTIONARY scan, never a
    postings scan — the sorted side table prunes via the pushed length
    band (edit distance can never beat the length difference), the
    fallback reads only the narrow term/cf columns of the postings
    layout. Ranking is TakeOrderedAndProject (k tiny); sharded layouts
    re-merge per-term cf first. No join touches posting payloads."""
    t = term.lower()
    spark = index.postings.sparkSession
    empty = "term string, dist int, cf long"
    if not t:
        return spark.createDataFrame([], empty)
    cond = _fuzzy_cond(t, max_dist)
    terms = _atom_matched_terms(index, cond)
    if terms is not None:
        if not terms:
            return spark.createDataFrame([], empty)
        cand = _query_postings(index, terms).select("term", "cf")
    else:
        cand = index.postings.filter(cond).select("term", "cf")
    if index.sharded:
        # shard rows replicate TERM-LEVEL cf (totals joined back at
        # build time, positional.py) — collapse, don't sum
        cand = cand.groupBy("term").agg(F.max("cf").alias("cf"))
    return (
        cand.select(
            "term",
            F.levenshtein(F.col("term"), F.lit(t)).cast("int").alias("dist"),
            F.col("cf").cast("long").alias("cf"),
        )
        .orderBy(F.col("dist").asc(), F.col("cf").desc(),
                 F.col("term").asc())
        .limit(k)
    )


def complete_terms(index: Index, prefix: str, *, k: int = 10) -> DataFrame:
    """(term, cf) — query autocomplete: the ``k`` most frequent
    dictionary terms extending ``prefix`` (Lucene suggester shape,
    popularity-ranked), cf desc then term asc.

    Same dictionary-first candidate generation as :func:`prefix_docs`
    (pushed StartsWith, sorted-side-table file pruning on persisted
    layouts; postings payloads never read) + TakeOrderedAndProject."""
    p = prefix.lower()
    spark = index.postings.sparkSession
    if not p:
        return spark.createDataFrame([], "term string, cf long")
    cond = F.col("term").startswith(p)
    terms = _atom_matched_terms(index, cond)
    if terms is not None:
        if not terms:
            return spark.createDataFrame([], "term string, cf long")
        cand = _query_postings(index, terms).select("term", "cf")
    else:
        cand = index.postings.filter(cond).select("term", "cf")
    if index.sharded:
        # shard rows replicate term-level cf — collapse, don't sum
        cand = cand.groupBy("term").agg(F.max("cf").alias("cf"))
    return (cand.select("term", F.col("cf").cast("long").alias("cf"))
            .orderBy(F.col("cf").desc(), F.col("term").asc())
            .limit(k))


def index_stats(index: Index, *, top: int = 10) -> dict:
    """Summary statistics of an index — the `stats` CLI surface:
    ``{n_docs, avgdl, n_terms, n_postings, n_tokens, top_terms}`` where
    n_postings = sum(df) (posting-list entries), n_tokens = sum(cf)
    (token occurrences) and top_terms = [(term, cf)] cf desc.

    One narrow aggregation job over (term, df, cf) — postings payloads
    stay unread — plus the memoized doc-stats aggregate; the top-k is
    TakeOrderedAndProject. Sharded layouts (a term split across rows)
    re-merge term stats first."""
    n_docs, avgdl = index.collection_stats()
    stats = index.postings.select("term", "df", "cf")
    if index.sharded:
        # shard rows replicate term-level df/cf — collapse, don't sum
        stats = stats.groupBy("term").agg(F.max("df").alias("df"),
                                          F.max("cf").alias("cf"))
    agg = stats.agg(
        F.count("*").alias("n_terms"),
        F.sum("df").alias("n_postings"),
        F.sum("cf").alias("n_tokens"),
    ).collect()[0]
    top_rows = (stats.orderBy(F.col("cf").desc(), F.col("term").asc())
                .limit(top).collect())
    return {
        "n_docs": int(n_docs),
        "avgdl": float(avgdl),
        "n_terms": int(agg["n_terms"] or 0),
        "n_postings": int(agg["n_postings"] or 0),
        "n_tokens": int(agg["n_tokens"] or 0),
        "top_terms": [(r["term"], int(r["cf"])) for r in top_rows],
    }


def top_terms_per_doc(index: Index, k: int = 3) -> DataFrame:
    """(doc_id, term, tfidf, rank) — each doc's top-k terms by TF-IDF
    (tf * ln((N+1)/(df+1)), smoothed non-negative), rank 1..k ordered
    tfidf desc then term asc (deterministic ties).

    The per-doc keyword extractor of the training-data pipeline (doc
    summarization / routing features). One shuffle: postings explode ->
    per-doc window rank; df rides on the postings row, N is a scalar,
    so no second pass and no join.
    """
    from pyspark.sql import Window

    n_docs, _ = index.collection_stats()
    exploded = index.postings.select(
        "term", "df", F.explode("postings").alias("p")
    ).select(
        "term",
        F.col("p.doc_id").alias("doc_id"),
        (F.col("p.tf")
         * F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0))
         ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc())
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def forward_doc_rows(index: Index, doc_ids: list[int]) -> DataFrame | None:
    """(doc_id, term, tf, df) rows of the given docs from the FORWARD
    layout, partition-pruned via driver-side bucket hashes — or None
    when the index carries no forward layout (callers fall back to the
    postings-relation scan). The doc_bucket IN literal prunes parquet
    partitions; doc_id pushes as a row-group filter."""
    if index.forward is None:
        return None
    from inverted_index_and_search_spark.kernels.xxhash import doc_bucket

    ids = [int(d) for d in doc_ids]
    bvals = sorted({doc_bucket(d, index.n_buckets) for d in ids})
    return (index.forward
            .where(F.col("doc_bucket").isin(bvals)
                   & F.col("doc_id").isin(ids))
            .select("doc_id", "term", "tf", "df"))


def doc_profile(index: Index, doc_id: int, n_docs: int) -> DataFrame:
    """(term, tfidf) of ONE doc, tfidf desc / term asc — the shared
    profile stage of :func:`more_like_this` (and the access-path fork:
    forward point lookup when available, postings scan otherwise)."""
    fwd = forward_doc_rows(index, [doc_id])
    if fwd is not None:
        base = fwd.select("term", "df", F.col("tf"))
    else:
        base = (index.postings.select(
            "term", "df", F.explode("postings").alias("p"))
            .where(F.col("p.doc_id") == int(doc_id))
            .select("term", "df", F.col("p.tf").alias("tf")))
    return (base.select(
        "term",
        (F.col("tf")
         * F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0))
         ).alias("tfidf"))
        .orderBy(F.col("tfidf").desc(), F.col("term").asc()))


def more_like_this(index: Index, doc_id: int, *, k_terms: int = 10,
                   k: int = 10) -> DataFrame:
    """(doc_id, score) — Lucene-MoreLikeThis similar-document search:
    the source doc's top ``k_terms`` TF-IDF terms (exactly
    :func:`top_terms_per_doc`'s ranking: tf * ln((N+1)/(df+1)), ties
    broken term asc) become a disjunctive BM25 query; the source doc is
    excluded from the result, score desc then doc_id asc.

    Two bounded stages: (1) the source doc's term profile — top-k_terms
    collected driver-side (<= k_terms rows, bounded); (2) the ordinary
    pruned BM25 scorer over those terms with a source-doc anti-filter
    BEFORE the top-k. Stage 1 uses the doc-bucketed FORWARD layout when
    the index carries one (:func:`index_build.write_forward_index`):
    the doc's bucket is computed driver-side (kernels.xxhash twin) and
    the fetch prunes to ONE parquet partition — a point lookup, plan-
    gated in tests/test_plans.py. Without a forward layout it falls
    back to the postings-relation scan (the inverted layout's
    documented doc->terms limitation); the scorer stage is unchanged
    either way."""
    n_docs, _ = index.collection_stats()
    terms = [r["term"] for r in
             doc_profile(index, int(doc_id), n_docs)
             .limit(int(k_terms)).collect()]
    spark = index.postings.sparkSession
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return (
        bm25_scores(index, terms)
        .where(F.col("doc_id") != int(doc_id))
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(int(k)))


def related_terms(index: Index, term: str, k: int = 10, *,
                  min_co: int = 2) -> DataFrame:
    """(term, co_df, pmi) — the seed term's top-k associated terms by
    pointwise mutual information over document co-occurrence:

        pmi(t, u) = ln( N * df(t,u) / (df(t) * df(u)) )

    (Church & Hanks 1990's word-association ratio at the document
    level — the "related searches" / thesaurus-mining primitive.)
    ``min_co`` floors the co-document count: PMI famously explodes for
    rare accidental pairs (a 1-in-N co-occurrence of two singletons
    maxes the ratio), so production association miners threshold
    support first.

    The co-occurrence pass: the seed's pruned postings expand to a
    doc-id set; with a FORWARD layout the seed docs' (term, df) rows
    are fetched from it — flat narrow rows, no postings-array explode,
    and partition-PRUNED via driver-side bucket hashes whenever the
    seed's doc list fits a pushable IN literal (<= MAX_DICT_TERMS ids;
    hotter seeds fall back to a broadcast semi-join over the flat
    forward rows, still explode-free). Without a forward layout the
    full postings explode + semi-join runs — the inverted layout's
    documented doc->terms limitation. The seed's df rides in as a
    1-row broadcast cross join. Ties: pmi desc, co_df desc, term asc,
    all on round(6) values."""
    from inverted_index_and_search_spark.operators.index_build import (
        MAX_DICT_TERMS,
    )

    norm = _norm_terms([term])
    spark = index.postings.sparkSession
    if not norm:
        return spark.createDataFrame(
            [], "term string, co_df long, pmi double")
    seed = norm[0]
    n_docs, _ = index.collection_stats()
    sp = _query_postings(index, [seed])
    seed_docs = (sp.select(F.explode("postings").alias("p"))
                 .select(F.col("p.doc_id").alias("doc_id")))
    seed_df = sp.agg(F.max("df").alias("seed_df"))
    base = None
    if index.forward is not None:
        ids = [r["doc_id"] for r in
               seed_docs.limit(MAX_DICT_TERMS + 1).collect()]
        if 0 < len(ids) <= MAX_DICT_TERMS:
            base = forward_doc_rows(index, ids).select(
                "term", "df", "doc_id")
        else:
            base = (index.forward.select("term", "df", "doc_id")
                    .join(seed_docs, "doc_id", "left_semi"))
    if base is None:
        base = (index.postings.select(
            "term", "df", F.explode("postings").alias("p"))
            .select("term", "df", F.col("p.doc_id").alias("doc_id"))
            .join(seed_docs, "doc_id", "left_semi"))
    co = (
        base
        .where(F.col("term") != seed)
        .groupBy("term")
        .agg(F.count("*").alias("co_df"), F.max("df").alias("df_u"))
        .where(F.col("co_df") >= int(min_co))
        .crossJoin(F.broadcast(seed_df)))
    scored = co.select(
        "term", F.col("co_df").cast("long").alias("co_df"),
        F.round(F.log(F.lit(float(n_docs)) * F.col("co_df")
                      / (F.col("seed_df") * F.col("df_u"))), 6)
        .alias("pmi"))
    return (scored.orderBy(F.col("pmi").desc(), F.col("co_df").desc(),
                           F.col("term").asc())
            .limit(int(k)))


def bm25_topk(
    index: Index,
    terms: list[str],
    k: int = 10,
    *,
    conjunctive: bool = False,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, score) — BM25 top-k, score desc then doc_id asc.

    Disjunctive by default (standard BM25); ``conjunctive=True`` scores
    only docs containing all terms (the missing-term short-circuit of
    search-query.py:61-62 falls out of the n_matched == k filter).
    Scores are float64 and match the pure-Python oracle to 1e-6: IDF is
    computed in-plan from each postings row's df column with the exact
    ``ln(1 + (N - df + .5)/(df + .5))`` formulation — one Spark job per
    query, no driver-side stats collect.

    ``doc_filter``: optional (doc_id) relation restricting the RESULT
    set (faceted/metadata search — e.g. ``docs.where(lang = 'py')
    .select('doc_id')``): a left-semi join applied to the scored
    relation before the top-k, so ranking touches only the query
    terms' postings plus the filter relation. IDF/df stay CORPUS-wide
    (standard filtered-search semantics — the filter narrows results,
    it does not re-weight terms)."""
    norm = _norm_terms(terms)
    spark = index.postings.sparkSession
    if not norm:
        return spark.createDataFrame([], "doc_id long, score double")
    scored = bm25_scores(index, norm)
    if conjunctive:
        scored = scored.filter(F.col("n_matched") == len(norm))
    if doc_filter is not None:
        scored = scored.join(doc_filter.select("doc_id"), "doc_id",
                             "left_semi")
    return (
        scored.select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def bm25_scores(index: Index, norm: list[str]) -> DataFrame:
    """(doc_id, score, n_matched) — the UNSORTED disjunctive BM25
    relation for a normalized term list: every doc matching at least
    one term, its summed score, and how many query terms it matched.
    The composable core of :func:`bm25_topk` and of ranked expression
    search (search_expr.search_expr_ranked), which filter/sort/limit it.
    """
    n_docs, avgdl = index.collection_stats()
    qp = _query_postings(index, norm)

    # IDF in-plan from the postings rows' own df column (same float64
    # ops as math.log in the oracle: ln(1 + (N - df + .5)/(df + .5))) —
    # no per-query driver collect; one job end-to-end.
    idf_col = F.log(
        1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )

    base = exploded_with_dl(index, qp,
                            [F.col("term"), idf_col.alias("idf")])
    return (
        base
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (K1 + 1.0))
            / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / avgdl)),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("term_score").alias("score"),
            # unique per (term, doc) by layout construction (see
            # boolean_and) — count(*) avoids the distinct-agg rewrite
            F.count("*").alias("n_matched"),
        )
    )
