"""Hybrid (lexical + dense) retrieval: the standard task-targeted
corpus-curation shape -- BM25 rankings over the text surface fused with
cosine-ANN rankings over the embedding surface by reciprocal-rank
fusion (Cormack/Clarke/Buettcher, SIGIR 2009).

Why this composition exists as a first-class operator: a curation
pipeline selecting corpus slices for a target task runs exactly this
sparse+dense ensemble -- the lexical leg catches exact-term matches
dense embeddings smear out, the dense leg catches paraphrases sharing
no tokens, and RRF combines them without score calibration (ranks are
scale-free).  Every piece ships separately (``textops.bm25_topk``,
``similarity.rrf_fuse``, the k1/k2 ANN rankings); this module is the
composition, plus the named-query dense ranking the ANN entries (which
rank ``vec_id < n_queries``) do not expose.

The two surfaces share one id space: a document's ``doc_id`` is its
embedding's ``vec_id`` (the driver tables are built that way), so a
fused (query, doc_id) ranking is meaningful.

Scale shape (the 100-TB audit bar): the lexical leg is bm25_topk's one
corpus pass over the term union with map-side WindowGroupLimit
pre-pruning; the dense leg broadcasts the handful of named query
vectors and streams the corpus through one narrow cosine pass (the k1
posture -- the corpus is never shuffled; swap in the LSH/IVF rankings
for probe-bounded candidates at billion-vector scale, rrf_fuse accepts
any rank table); the fusion itself touches only the k-bounded rank
tables -- tiny regardless of corpus size.

Reference analogue: the score-and-slice segment-share queries
(REF:349-361) rank by one derived signal; hybrid retrieval is the
multi-signal version a training-data pipeline needs.  Driver-gated as
the tv1 ``dense`` + ``dense_ivf`` + ``hybrid`` legs
(registry/sampling_pipeline.py) with the dense cosine rankings (brute
AND IVF-probed) and the fused rank all oracled (the fusion on raw
micro sums) in the DuckDB oracle; direct unit tests in
tests/test_hybrid.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.localrel import inline_rows
from .similarity import RRF_K, normalized_with_bucket, rrf_fuse
from .textops import BM25_TOPK_QUERIES

#: The fixed named-query set of the driver-gated tv1 ``hybrid`` leg:
#: each retrieval query carries BOTH a term set (the bm25_topk queries,
#: ONE definition -- lexical surface) and a seed vector id (dense
#: surface; the seed document's embedding, "more like this").  Shared
#: by the DataFrame leg and the DuckDB oracle.
HYBRID_QUERY_VECS: dict[str, int] = {
    "q_dedup": 0,
    "q_scan": 1,
    "q_sort": 2,
}
# explicit raise, not a bare assert: the one-definition guard must
# survive `python -O` (asserts are stripped under optimized bytecode)
if set(HYBRID_QUERY_VECS) != set(BM25_TOPK_QUERIES):
    raise AssertionError(
        "HYBRID_QUERY_VECS must name exactly the BM25_TOPK_QUERIES query "
        f"set: {sorted(HYBRID_QUERY_VECS)} != {sorted(BM25_TOPK_QUERIES)}"
    )

#: top-k depth of each leg AND of the fused ranking in the driver leg
HYBRID_K = 10


def dense_topk(
    embeddings: DataFrame,
    query_vecs: dict[str, int] | None = None,
    k: int = HYBRID_K,
    method: str = "brute",
    n_probe: int = 3,
) -> DataFrame:
    """Exact cosine top-``k`` for NAMED seed vectors: (query, doc_id,
    cosine, rank).  The k1 brute-force posture generalized from
    ``vec_id < n_queries`` to an explicit name->seed map: the tiny
    (query, vec_id) relation broadcast-joins onto the pre-normalized
    corpus to pick up each seed's unit vector, then streams the corpus
    through one dot-product pass; ranking is a per-query window over
    k-boundable groups (WindowGroupLimit pre-prunes map-side).

    The seed itself is EXCLUDED from its own ranking (a "more like
    this" query trivially retrieves its seed at cosine 1.0 -- rank
    budget wasted on the one document the caller already has).  A seed
    id that is NULL-embedded or zero-norm has no unit vector and
    produces NO rows for its query (the normalize-stage drop policy,
    operators/similarity.py) -- callers fusing legs degrade to the
    surviving legs, which the DuckDB oracle mirrors via the same inner
    join against the normalized relation.

    ``method='ivf'`` is the billion-vector scale path: each seed probes
    its ``n_probe`` nearest of the
    :func:`..operators.similarity.default_centroids` index centroids
    and scores ONLY those cells' members -- the corpus-side assignment
    is :func:`..operators.similarity.assign_to_centroids` (one narrow
    max_by pass, the SAME cell table semantic admission persists), and
    candidate generation becomes a cent_id equi-join scanning
    ~n_probe/n_centroids of the corpus.  Returned cosines stay exact
    for the scored candidates; recall vs ``method='brute'`` is
    pytest-gated (tests/test_hybrid.py).  The brute leg stays the
    driver-oracled surface.
    """
    if query_vecs is None:
        query_vecs = HYBRID_QUERY_VECS
    if not query_vecs:
        raise ValueError("dense_topk needs at least one named seed vector")
    if method not in ("brute", "ivf"):
        raise ValueError(f"dense_topk: unknown method {method!r}")
    spark = embeddings.sparkSession
    # JVM literal, not createDataFrame (functions/localrel.py): the
    # named-seed map rides inside tv1's dense legs' jobs
    qmap = inline_rows(
        spark, ("query", "vec_id"), sorted(query_vecs.items())
    )
    from ..functions.vectors import dot

    if method == "ivf":
        from .similarity import assign_to_centroids, default_centroids
        from ..functions.vectors import cosine

        cents = default_centroids(embeddings)
        assigned = assign_to_centroids(embeddings, cents)
        # the seeds' unit vectors come from the assignment table itself
        # (ONE corpus pass feeds corpus side AND seed pickup -- a
        # separate normalize scan for 3 seed rows would double the
        # corpus reads); a dropped (NULL/zero-norm) seed has no
        # assignment row, so its query degrades to zero rows here too
        queries = (
            F.broadcast(qmap)
            .join(assigned, "vec_id")
            .select(
                "query",
                F.col("vec_id").alias("__seed"),
                F.col("emb_n").alias("q_emb"),
            )
        )
        pw = Window.partitionBy("query").orderBy(
            F.col("cent_sim").desc(), F.col("cent_id").asc()
        )
        probes = (
            queries.crossJoin(F.broadcast(cents))
            .select(
                "query",
                "__seed",
                "q_emb",
                "cent_id",
                F.round(cosine("q_emb", "cent_emb"), 6).alias("cent_sim"),
            )
            # NULL probe sims filtered BEFORE the rank election:
            # a directionless (NULL-element / zero-norm) centroid must
            # never be probed via engine NULL-ordering defaults -- the
            # assign_to_centroids guard applied to the query side
            .filter(F.col("cent_sim").isNotNull())
            .withColumn("crank", F.row_number().over(pw))
            .filter(F.col("crank") <= n_probe)
            .select("query", "__seed", "q_emb", "cent_id")
        )
        scored = (
            F.broadcast(probes)
            .join(assigned, "cent_id")
            .filter(F.col("vec_id") != F.col("__seed"))
            .select(
                "query",
                F.col("vec_id").alias("doc_id"),
                F.round(dot("q_emb", "emb_n"), 6).alias("cosine"),
            )
            .distinct()
        )
    else:
        normed = normalized_with_bucket(embeddings).select("vec_id", "emb_n")
        queries = (
            F.broadcast(qmap)
            .join(normed, "vec_id")
            .select(
                "query",
                F.col("vec_id").alias("__seed"),
                F.col("emb_n").alias("q_emb"),
            )
        )
        corpus = normed.select(
            F.col("vec_id").alias("doc_id"), F.col("emb_n").alias("c_emb")
        )
        scored = (
            F.broadcast(queries)
            .crossJoin(corpus)
            .filter(F.col("doc_id") != F.col("__seed"))
            .select(
                "query",
                "doc_id",
                F.round(dot("q_emb", "c_emb"), 6).alias("cosine"),
            )
        )
    w = Window.partitionBy("query").orderBy(
        F.col("cosine").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query", "doc_id", "cosine", "rank")
    )


def hybrid_topk(
    lexical: DataFrame,
    dense: DataFrame,
    k: int = HYBRID_K,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Hybrid retrieval: per named query, the RRF fusion of a lexical
    and a dense rank table -- (query, doc_id, rrf_score, rank), fused
    top-``k`` per query.

    ``lexical`` is a :func:`textops.bm25_topk` ranking and ``dense`` a
    :func:`dense_topk` ranking (or any (query, doc_id, rank) table --
    a billion-vector deployment passes its IVF/LSH rankings); the tv1
    leg feeds both already checkpointed.  Extra columns (scores, tags)
    are ignored by the fusion, which reads only (query, doc_id, rank).

    Exactness: fusion arithmetic is :func:`similarity.rrf_fuse`'s
    BIGINT micro-unit contract -- the fused rank orders on the raw
    integer sum with a doc_id tie-break, so both engines produce the
    identical row set; ``rrf_score`` is the micro sum / 1e6.

    A document retrieved by BOTH legs outranks single-leg documents at
    comparable ranks (two contributions), which is the hybrid
    consensus effect the ensemble exists for; a query whose seed
    vector was dropped (NULL/zero-norm) or whose terms match nothing
    degrades to the surviving leg's ranking.
    """
    ranked = lexical.select("query", "doc_id", "rank").unionByName(
        dense.select("query", "doc_id", "rank")
    )
    return rrf_fuse(
        ranked, k=k, rrf_k=rrf_k, group_col="query", id_col="doc_id"
    ).select("query", "doc_id", "rrf_score", "rank")
