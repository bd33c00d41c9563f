"""Similarity search over the ``embeddings`` table (array<float> column).

Two paths:
* brute-force cosine top-k -- the exactness baseline; O(Q x N) but fully
  vectorised JVM-side (zip_with/aggregate fold, no UDF) and the query side
  is broadcast, so it scales linearly in N with no shuffle of the corpus.
* sign-bucket LSH top-k -- the 100-TB path: candidates restricted to the
  query's sign-pattern bucket (coordinate-hyperplane LSH), turning the
  cross product into an equi-join Catalyst executes as a hash join.

Determinism: similarities are rounded before ranking and ties broken by
vec_id, so results (and the DuckDB oracle) are stable across engines.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine, sign_bucket


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


#: standard RRF damping constant (Cormack/Clarke/Buettcher, SIGIR 2009)
RRF_K = 60

#: BIGINT micro-unit scale for RRF contributions -- ONE definition that
#: the k2/tv1 DuckDB oracles interpolate (the bm25_constants
#: repr-roundtrip discipline), so changing the scale can never
#: desynchronize the DataFrame operator and the oracle.
RRF_MICRO = 1_000_000


def rrf_fuse(
    ranked: DataFrame,
    k: int = 5,
    rrf_k: int = RRF_K,
    group_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of several rankings into one: the standard
    ensemble-retrieval combiner (Cormack et al., SIGIR 2009) -- feed it
    the UNION of per-method rank tables (any tag/score columns are
    ignored; only (group, id, rank) matters) and each row contributes
    ``1/(rrf_k + rank)``; ids missing from a method simply contribute
    nothing.  Returns the fused per-group top-``k``:
    (group, id, rrf_score, rank).

    Cross-engine exactness: each contribution is floored to BIGINT
    micro-units (``floor(1e6/(rrf_k+rank))`` -- rank and rrf_k are
    integers, so both engines compute the identical double before the
    floor), the per-(group, id) sum is exact integer arithmetic, the
    fused rank orders on the RAW micro sum (ties by id), and
    ``rrf_score`` is the micro sum divided by 1e6 -- the same integer
    in, the same double out.  The micro SCALE is deliberately not a
    parameter: :data:`RRF_MICRO` is the cross-engine contract the
    k2/tv1 DuckDB oracles interpolate, so only ``rrf_k`` (which those
    oracles also interpolate from :data:`RRF_K`) is caller-tunable
    here.

    Scale: the input rank tables are k-bounded per group by
    construction, so everything here is tiny regardless of corpus size
    -- one hash aggregate over |methods|*k rows per group and a window
    whose rank filter plans as WindowGroupLimit.
    """
    contrib = F.floor(
        F.lit(float(RRF_MICRO))
        / (F.lit(float(int(rrf_k))) + F.col(rank_col).cast("double"))
    ).cast("long")
    fused = (
        ranked.select(group_col, id_col, contrib.alias("__rrf_c"))
        .groupBy(group_col, id_col)
        .agg(F.sum("__rrf_c").alias("__rrf_micro"))
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("__rrf_micro").desc(), F.col(id_col).asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            group_col,
            id_col,
            (
                F.col("__rrf_micro").cast("double") / F.lit(float(RRF_MICRO))
            ).alias("rrf_score"),
            "rank",
        )
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame, k: int = 5, n_queries: int = 8
) -> DataFrame:
    """Exact top-k cosine neighbours for the first ``n_queries`` vectors.

    The query set (vec_id < n_queries) is tiny -> broadcast; the corpus side
    streams through map tasks computing the fold-based cosine; ranking is a
    per-query window over k-bounded groups.
    """
    from ..functions.vectors import dot

    normed = normalized_with_bucket(embeddings)
    queries = normed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb_n").alias("q_emb")
    )
    corpus = normed.select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb_n").alias("c_emb")
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot("q_emb", "c_emb"), 6).alias("cosine"),
        )
    )
    return _ranked_topk(scored, k)


#: semi-hard band width (cosine units) for contrastive_mining -- ONE
#: definition feeding the DataFrame leg and the DuckDB oracle (the
#: bm25_constants repr-roundtrip discipline)
MINING_MARGIN = 0.3


def contrastive_mining(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 8,
    margin: float = MINING_MARGIN,
    *,
    index: IVFIndex | None = None,
    n_probe: int = 3,
    tag_suffix: str = "",
) -> DataFrame:
    """Triplet mining over a labeled embedding corpus -- the selection
    stage of contrastive/metric-learning training data: (op, query_id,
    neighbor_id, cosine, rank), three tagged legs per anchor (the first
    ``n_queries`` vectors, the k1 convention):

    * ``op='hard_neg'``: the k highest-cosine DIFFERENT-label
      candidates -- the "batch hard" negatives of Hermans et al. 2017
      (In Defense of the Triplet Loss, arXiv:1703.07737): the
      impostors the model most confuses with the anchor.
    * ``op='hard_pos'``: the single LOWEST-cosine same-label candidate
      -- the batch-hard positive, the in-class example the model most
      needs pulled in.
    * ``op='semi_hard'``: different-label candidates in the band
      ``[hard_pos_cosine - margin, hard_pos_cosine)`` -- the semi-hard
      negatives of Schroff et al. 2015 (FaceNet, CVPR): farther than
      the positive but within the margin, the regime that trains
      stably where hardest-only mining collapses.  Anchored at the
      batch-hard positive (the Hermans batch-hard framing of the
      FaceNet band); top-k by cosine, possibly EMPTY for an anchor
      whose negatives all sit outside the band -- that is information
      ("this anchor has no semi-hard work left"), not a bug.

    NULL-label policy (explicit, the mix_domains convention): labels
    are the supervision, so an anchor with a NULL label mines nothing
    and NULL-label candidates join no leg -- silently treating NULL as
    its own class would mine "negatives" from unlabeled data.
    NULL/zero-norm embeddings are dropped by the shared normalization
    rule (no direction -> neither anchor nor candidate).

    Scale shape (brute): identical to :func:`cosine_topk_bruteforce` --
    the anchor set broadcasts, the corpus streams through map-side dot
    products, ranking windows on the k-bounded per-anchor groups, and
    the ``pcos`` band anchor is an n_queries-row broadcast.  The corpus
    is never shuffled; at deployment the anchor set is the micro-batch
    of new training examples, the corpus the candidate pool.  This is
    right ONLY while the anchor set is bounded: with every document as
    an anchor the scored relation is |anchors| x |corpus| -- the
    quadratic object itself -- and "scaling" it by raising n_queries
    (or a bigger cut for the shared pass, see below) just grows that
    object.  Full-corpus-anchor mining goes through ``index=``.

    ``index=`` (the routed variant): a precomputed
    :func:`ivf_assign` artifact routes each anchor to its ``n_probe``
    nearest centroid cells (the :func:`cosine_topk_ivf` probe spelling
    verbatim) and mines only those cells' members -- candidate
    generation is an equi-join on cent_id scanning ~n_probe/n_centroids
    of the corpus per anchor, so total work is ~|anchors| x |corpus| x
    n_probe/n_centroids with NO broadcast of the full scored relation.
    Semantics shift exactly as IVF search shifts: all three legs mine
    the hardest examples AMONG THE PROBED CELLS.  hard_neg recall vs
    the brute leg is pytest-gated (the k2 ivf-vs-knn gate pattern);
    hard_pos is the least-similar IN-CELL positive -- the usual
    deployment framing (FaceNet mines within the mini-batch/cell, not
    globally), since the globally-easiest positive usually lives in a
    far cell by definition.  ``tag_suffix`` tags the emitted op names
    (the k1 entry stacks brute + routed legs as ``*_ivf``).

    All legs value-hash against the DuckDB oracle (exact cosines
    rounded to 6, ties to the lowest neighbor_id), gated through the k1
    registry entry."""
    from ..functions.vectors import dot

    normed = _normalized_cols(embeddings, extra_cols=("label",))
    queries = normed.filter(
        (F.col("vec_id") < n_queries) & F.col("label").isNotNull()
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("emb_n").alias("q_emb"),
    )
    corpus = normed.filter(F.col("label").isNotNull()).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.col("emb_n").alias("c_emb"),
    )
    if index is None:
        scored = (
            F.broadcast(queries)
            .crossJoin(corpus)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "q_label",
                "neighbor_id",
                "n_label",
                F.round(dot("q_emb", "c_emb"), 6).alias("cosine"),
            )
        )
    else:
        if n_probe < 1:
            raise ValueError(f"n_probe must be >= 1, got {n_probe}")
        # anchor routing probes with the RAW embeddings against
        # index.cents -- the cosine_topk_ivf spelling verbatim, so
        # mining and search route a given query to the SAME cells.
        # Probes are ranked per-anchor BEFORE the label join (ranking
        # is per-partition, so unlabeled anchors dropping later cannot
        # change any other anchor's cells).
        qcand = (
            embeddings.select("vec_id", "embedding")
            .filter(F.col("vec_id") < n_queries)
            .crossJoin(F.broadcast(index.cents))
            .select(
                F.col("vec_id").alias("query_id"),
                "cent_id",
                F.round(cosine("embedding", "cent_emb"), 6).alias(
                    "cent_sim"
                ),
            )
        )
        w_probe = Window.partitionBy("query_id").orderBy(
            F.col("cent_sim").desc(), F.col("cent_id").asc()
        )
        probes = (
            qcand.withColumn("crank", F.row_number().over(w_probe))
            .filter(F.col("crank") <= n_probe)
            .select("query_id", "cent_id")
        )
        routed_q = probes.join(queries, "query_id")
        cand = index.assigned.select(
            F.col("vec_id").alias("neighbor_id"), "cent_id"
        ).join(corpus, "neighbor_id")
        scored = (
            F.broadcast(routed_q)
            .join(cand, "cent_id")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "q_label",
                "neighbor_id",
                "n_label",
                F.round(dot("q_emb", "c_emb"), 6).alias("cosine"),
            )
            .distinct()
        )
    # ONE scoring pass for all four consumers (hard_neg, hard_pos,
    # semi's neg side, semi's pcos anchor), cut with a LAZY
    # localCheckpoint: it materializes inside the caller's first action
    # and belongs to the returned plan alone, so a second call rescores
    # instead of reusing a session cache entry, which a persist() would
    # leave behind (nothing can unpersist after the caller's action).
    # The cut gives up persist()'s lineage fallback on executor loss; on
    # the local[N] deployment an executor loss is a driver loss, the
    # trade every other shared artifact in the package already makes.
    # MEASURED at sf0.1 (4 warm reps each way, shared by persist()):
    # 1.3-1.9 s shared vs 1.6-1.8 s recomputed -- a wash locally (the
    # branches run as concurrent stages of one job, the a10 hh lesson),
    # kept because at deployment scale the corpus scoring pass is the
    # dominant cost and paying it once is the right default.  MEMORY
    # SHAPE: the cut pins
    # |queries| x |corpus| scored rows on the brute path -- fine for a
    # bounded anchor set, the quadratic object itself at full-corpus
    # anchors.  The answer there is the routed ``index=`` variant
    # (cell-bounded scored relation), never a bigger cut.
    scored = scored.localCheckpoint(eager=False)
    neg = scored.filter(F.col("q_label") != F.col("n_label"))
    pos = scored.filter(F.col("q_label") == F.col("n_label"))
    w_desc = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    w_asc = Window.partitionBy("query_id").orderBy(
        F.col("cosine").asc(), F.col("neighbor_id").asc()
    )
    hard_neg = neg.withColumn("rank", F.row_number().over(w_desc)).filter(
        F.col("rank") <= k
    )
    hard_pos = pos.withColumn("rank", F.row_number().over(w_asc)).filter(
        F.col("rank") <= 1
    )
    pcos = hard_pos.select("query_id", F.col("cosine").alias("pcos"))
    semi = (
        neg.join(F.broadcast(pcos), "query_id")
        .filter(
            (F.col("cosine") < F.col("pcos"))
            & (F.col("cosine") >= F.col("pcos") - F.lit(float(margin)))
        )
        .withColumn("rank", F.row_number().over(w_desc))
        .filter(F.col("rank") <= k)
    )

    def leg(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.lit(tag + tag_suffix).alias("op"),
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )

    return (
        leg(hard_neg, "hard_neg")
        .unionByName(leg(hard_pos, "hard_pos"))
        .unionByName(leg(semi, "semi_hard"))
    )


def cosine_topk_lsh(
    embeddings: DataFrame, k: int = 5, n_queries: int = 8, n_bits: int = 4
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign-pattern bucket.

    Equi-join on the bucket key replaces the cross join; recall vs the
    brute-force baseline is measured in tests (property: every returned
    neighbour's cosine matches the exact cosine; recall reported, not 1.0).
    """
    from ..functions.vectors import dot

    with_bucket = normalized_with_bucket(embeddings, n_bits)
    queries = with_bucket.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb_n").alias("q_emb"),
        "bucket",
    )
    corpus = with_bucket.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb_n").alias("c_emb"),
        "bucket",
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot("q_emb", "c_emb"), 6).alias("cosine"),
        )
    )
    return _ranked_topk(scored, k)


def normalized_with_bucket(embeddings: DataFrame, n_bits: int = 4) -> DataFrame:
    """(vec_id, emb_n, bucket): unit-normalized vectors + sign-LSH bucket.

    PERF: norms are computed once per VECTOR here so pair scoring is a
    single dot-product fold, instead of dot + two norms per PAIR (3x the
    folds, recomputed across every candidate).  Two projections so the
    norm is a materialized attribute when the divide-lambda reads it (the
    multiply-referenced-expression trap, see functions/text.py).

    NULL and zero-norm vectors are DROPPED here (``nrm > 0``: NULL norm
    fails the predicate too): they have no direction, so they can be
    neither queries nor candidates in cosine space.  Letting them flow
    through with NULL cosines would rely on nulls-last ranking --
    invisible until a bucket had fewer than k valid candidates, and a
    posture DuckDB cannot mirror (its list_dot_product raises on the
    NULL-element lists the normalize-by-zero produces, see
    tests/test_adversarial_corpus.py).
    """
    return _normalized_cols(embeddings, with_bucket=True, n_bits=n_bits)


def _normalized_cols(
    embeddings: DataFrame,
    extra_cols: tuple = (),
    with_bucket: bool = False,
    n_bits: int = 4,
) -> DataFrame:
    """THE normalization projection (one definition, so contrastive_mining
    cannot copy it): the zero-norm/NULL drop rule, the two-projection
    norm materialization, and the nullif multiply-referenced-expression
    workaround live HERE and only here.  ``extra_cols`` carry payload
    columns (e.g. ``label``) through; ``with_bucket`` adds the sign-LSH
    bucket for the callers that route on it."""
    from ..functions.vectors import as_double_array, l2_norm

    step1 = embeddings.select(
        "vec_id",
        *extra_cols,
        as_double_array("embedding").alias("emb"),
        l2_norm("embedding").alias("nrm"),
        *(
            [sign_bucket("embedding", n_bits).alias("bucket")]
            if with_bucket
            else []
        ),
    ).filter(F.col("nrm") > 0)
    return step1.select(
        "vec_id",
        *extra_cols,
        F.transform(
            "emb", lambda x: x / F.nullif(F.col("nrm"), F.lit(0.0))
        ).alias("emb_n"),
        *(["bucket"] if with_bucket else []),
    )


def _bucket_scored_pairs(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    threshold: float,
    n_bits: int,
    self_join: bool,
    broadcast_right: bool = False,
) -> DataFrame:
    """The ONE sign-LSH pair-scoring pipeline (normalize -> bucket
    equi-join -> exact unit-vector dot -> round(6) -> threshold filter),
    shared by the self-join dedup and the cross-corpus decontamination so
    rounding/threshold/zero-norm-NULL semantics can never diverge (the
    dedup module shares _jaccard_verified the same way).  Self-join dedups
    with ``left_id < right_id``; the two-table form may broadcast the
    right (probe) side when the caller knows it is small, keeping the
    corpus unshuffled -- a broadcast HINT overrides AQE's size check, so
    it must stay opt-in rather than unconditional."""
    from ..functions.vectors import dot

    a = normalized_with_bucket(left, n_bits).select(
        F.col("vec_id").alias(left_id), F.col("emb_n").alias("_emb_a"), "bucket"
    )
    b = normalized_with_bucket(right, n_bits).select(
        F.col("vec_id").alias(right_id), F.col("emb_n").alias("_emb_b"), "bucket"
    )
    joined = a.join(F.broadcast(b) if broadcast_right else b, "bucket")
    if self_join:
        joined = joined.filter(F.col(left_id) < F.col(right_id))
    return joined.select(
        left_id, right_id, F.round(dot("_emb_a", "_emb_b"), 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def pairwise_above(
    embeddings: DataFrame, threshold: float = 0.95, n_bits: int = 4
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup use-case).

    Bucketed self-join (sign LSH) of pre-normalized vectors, then exact
    cosine (= dot of unit vectors) filter -- the embedding analog of
    MinHash LSH + Jaccard verify.  Zero-norm vectors yield NULL cosines
    and drop out, matching the unnormalized nullif semantics.
    """
    return _bucket_scored_pairs(
        embeddings, embeddings, "id_a", "id_b", threshold, n_bits, self_join=True
    )


def cross_corpus_near_pairs(
    corpus: DataFrame,
    probes: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 4,
    broadcast_probes: bool = True,
) -> DataFrame:
    """Embedding-space decontamination: near-duplicate pairs ACROSS two
    embedding tables (does any training vector sit next to an eval/benchmark
    vector?) -- the embedding-modality counterpart of
    ``dedup.cross_corpus_minhash_pairs``.

    Same sign-LSH bucketing as :func:`pairwise_above`, but the bucket join
    is corpus x probes instead of a self-join, and BOTH ids survive (no
    ``id_a < id_b`` dedup -- the tables are distinct).  Returns
    (corpus_id, probe_id, cosine) with cosine >= threshold.

    Scale: the probe side (benchmarks) is tiny next to the training corpus
    -- with ``broadcast_probes=True`` (default) it broadcasts, so the
    corpus is never shuffled.  For a LARGE probe table pass
    ``broadcast_probes=False``: the hint would override AQE's size check
    and attempt a driver-side broadcast (OOM / broadcast-limit failure),
    whereas without it the plan degrades to a shuffled equi-join on the
    bucket -- never an all-pairs product either way.  Recall follows the
    single-table LSH recall measured in tests (wider buckets = fewer bits
    -> higher recall, more candidates).
    """
    return _bucket_scored_pairs(
        corpus,
        probes,
        "corpus_id",
        "probe_id",
        threshold,
        n_bits,
        self_join=False,
        broadcast_right=broadcast_probes,
    )


def vector_mean_by_key(
    df: DataFrame, key_col: str, vec_col: str = "v"
) -> DataFrame:
    """Element-wise mean vector per key: (key_col, centroid array<double>).

    posexplode -> avg by (key, position) -> sorted re-assembly.  The
    shuffle carries O(rows x dim) scalar rows on (key, pos), combined
    map-side by partial aggregation -- the distributed shape for centroid
    computation (no per-key array buffering on one executor).
    """
    exploded = df.select(
        key_col, F.posexplode(vec_col).alias("pos", "x")
    )
    means = exploded.groupBy(key_col, "pos").agg(F.avg("x").alias("m"))
    return means.groupBy(key_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("centroid")
    )


def _kmeans_training_table(
    embeddings: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """(vid, v, vn): the :func:`kmeans_train` training projection --
    raw double array + unit-normalized form, computed ONCE per vector.
    Split out so the persist-hygiene test can rebuild the identical
    plan and ask the cache manager (structural lookup) whether a failed
    training run left it cached."""
    from ..functions.vectors import as_double_array, l2_norm

    return (
        embeddings.select(
            F.col(id_col).alias("vid"), as_double_array(vec_col).alias("v")
        )
        .withColumn("_nrm", l2_norm("v"))
        .select(
            "vid",
            "v",
            F.transform(
                "v", lambda x: x / F.nullif(F.col("_nrm"), F.lit(0.0))
            ).alias("vn"),
        )
    )


#: kmeans_train: training inputs at or below this many rows are
#: collected to the driver and Lloyd runs locally (same arithmetic, same
#: results -- see _lloyd_local); larger inputs keep the distributed loop.
#: Rationale (guide §1.2: fix the distributed algorithm first): the
#: distributed loop is n_iter SEQUENTIAL Spark jobs (each a broadcast
#: cross join + aggregate + checkpoint) whose per-job scheduling cost
#: dwarfs the arithmetic on a bounded training sample -- and the FAISS
#: posture this operator documents is train-on-a-bounded-sample anyway,
#: so at ANY corpus scale the training input is driver-sized by contract.
#: Scale-adaptive by construction: the threshold is on the actual row
#: count, and oversized inputs fall back to the distributed loop
#: unchanged (tests set it to 0 to force that loop).
KMEANS_DRIVER_MAX_ROWS = 8192


def _jround(x: float | None, scale: int) -> float | None:
    """Spark's F.round on DOUBLE, exactly: BigDecimal.valueOf(d) parses
    Double.toString (the shortest decimal representation == Python
    ``repr``), then setScale(scale, HALF_UP).  NaN/inf pass through.

    The quantize runs under a context sized to the value:
    the default 28-digit context raises InvalidOperation once the
    result needs more digits (|x| >= ~1e22 at scale 6), where Java's
    BigDecimal.setScale is unbounded -- a large-magnitude corpus must
    round, not crash."""
    import decimal
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if x is None:
        return None
    x = float(x)
    if math.isnan(x) or math.isinf(x):
        return x
    d = Decimal(repr(x))
    with decimal.localcontext() as ctx:
        # result digits <= integer digits (adjusted()+1) + scale; +4 slack
        ctx.prec = max(28, d.adjusted() + 1 + max(scale, 0) + 4)
        return float(
            d.quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP)
        )


def _vid_key(vid) -> tuple:
    """Sort key replicating Spark's ASC NULLS FIRST on the training id
    NULL ids sort BEFORE every value -- the distributed
    loop's orderBy("vid", ...) default -- and all NULL ids tie (callers
    break the tie on the next key, exactly where Spark does).  The old
    ``(vid is None, vid)`` spelling sorted NULLs LAST and broke the
    driver/distributed parity contract on NULL-id corpora."""
    return (0, 0) if vid is None else (1, vid)


def _dbl_key(x: float | None) -> tuple:
    """Sort key replicating Spark's DOUBLE ordering inside array/struct
    comparisons: NULL first, NaN greater than every non-NaN."""
    import math

    if x is None:
        return (0, 0.0)
    if math.isnan(x):
        return (2, 0.0)
    return (1, x)


def _arr_key(v: list) -> tuple:
    """Spark array<double> ordering: element-wise, shorter-prefix first
    (Python tuple comparison semantics match exactly)."""
    return tuple(_dbl_key(x) for x in v)


def _seq_norm(v) -> float:
    """sqrt of the strict left fold of squares -- l2_norm's exact IEEE
    add sequence (np.add.accumulate is defined sequential, so the fold
    matches aggregate(sq, 0.0, acc + x): 0.0 + x0 == x0 exactly)."""
    import math

    import numpy as np

    if len(v) == 0:
        return 0.0
    a = np.asarray(v, dtype=np.float64)
    return math.sqrt(float(np.add.accumulate(a * a)[-1]))


def _lloyd_local(
    rows: list[tuple],
    n_centroids: int,
    n_iter: int,
    quantize: int | None,
    reseed_dead: bool,
) -> tuple[list[tuple[int, list]], dict[str, list[int]]]:
    """Driver-local replay of kmeans_train's distributed Lloyd loop,
    bit-for-bit: the quantization barrier (and the round(sim, 9) before
    every election) already had to make the loop engine-exact for the
    DuckDB oracle's unrolled replay, so a third engine reproducing the
    same IEEE operation sequence produces the same doubles.  Every
    fractional step mirrors the distributed spelling term for term:

    * vn = v / nullif(l2_norm(v), 0) with the strict left-fold norm;
      NULL vectors / NULL elements / zero norms drop out of training
      exactly as the sim-NULL filter drops them distributed.
    * election per vid = max_by over (round(dot(vn, cn), 9), -cent_id,
      v) with Spark's double ordering (NaN greatest, NULLS first in
      array keys) -- duplicate ids elect ONE deterministic row.
    * means per cluster position in vid order; the engines' summation
      orders differ at the last ulp at most, which the per-iteration
      quantize barrier absorbs -- the same argument the oracle replay
      rests on (parity is pytest-gated both quantized and not,
      tests/test_kmeans_local.py).
    * empty clusters carry their centroid; reseed_dead pairs dead slots
      with the furthest assigned points by rank, exactly the
      TakeOrdered + rank-join spelling.

    Returns ``(cents, report)`` with cents as (cent_id, cent_emb) rows.
    """
    import numpy as np

    report: dict[str, list[int]] = {"dead_cells": [], "reseeds": []}

    # (vid, v, vn): the _kmeans_training_table projection, locally
    data = []
    for vid, v in rows:
        if v is None:
            data.append((vid, None, None))
            continue
        v = [None if x is None else float(x) for x in v]
        if any(x is None for x in v):
            # l2_norm folds NULL -> NULL norm -> vn all-NULL -> sim NULL
            data.append((vid, v, None))
            continue
        nrm = _seq_norm(v)
        if nrm == 0.0:
            data.append((vid, v, None))  # nullif(nrm, 0) -> all-NULL vn
            continue
        data.append((vid, v, np.asarray(v, dtype=np.float64) / nrm))

    # init: non-NULL vectors ordered by (vid, v), first n_centroids
    pool = sorted(
        ((vid, v) for vid, v, _vn in data if v is not None),
        key=lambda t: (_vid_key(t[0]), _arr_key(t[1])),
    )[:n_centroids]
    cents: list[tuple[int, list]] = [
        (i + 1, list(v)) for i, (_vid, v) in enumerate(pool)
    ]

    for _ in range(n_iter):
        # normalized centroids; NULL-element / zero-norm ones can never
        # be elected (their sims are NULL distributed)
        usable = []
        for cid, ce in cents:
            if any(x is None for x in ce):
                continue
            nrm = _seq_norm(ce)
            if nrm == 0.0:
                continue
            usable.append((cid, np.asarray(ce, dtype=np.float64) / nrm))

        live = [(vid, v, vn) for vid, v, vn in data if vn is not None]
        elected: dict = {}  # vid -> (full_key, cid, v, sim)
        if live and usable:
            V = np.stack([vn for _, _, vn in live])
            sims = np.empty((len(live), len(usable)))
            for j, (_cid, c) in enumerate(usable):
                # dot = strict left fold of the products (zip_with + aggregate)
                sims[:, j] = np.add.accumulate(V * c, axis=1)[:, -1]
            for i, (vid, v, _vn) in enumerate(live):
                best = None
                for j, (cid, _c) in enumerate(usable):
                    sim = _jround(float(sims[i, j]), 9)
                    key = (_dbl_key(sim), -cid)
                    if best is None or key > best[0]:
                        best = (key, sim, cid)
                _key, sim, cid = best
                full = (_dbl_key(sim), -cid, _arr_key(v))
                cur = elected.get(vid)
                if cur is None or full > cur[0]:
                    elected[vid] = (full, cid, v, sim)

        # element-wise means per cluster, summed in vid order (ragged
        # member dims honored: avg by (key, pos) only sees rows that
        # HAVE the position)
        groups: dict[int, list] = {}
        for vid in sorted(elected, key=_vid_key):
            _full, cid, v, _sim = elected[vid]
            groups.setdefault(cid, []).append(v)
        means: dict[int, list] = {}
        for cid, vs in groups.items():
            dim = max(len(v) for v in vs)
            out = []
            for p in range(dim):
                vals = [v[p] for v in vs if len(v) > p]
                acc = 0.0
                for x in vals:
                    acc = acc + x
                out.append(acc / len(vals))
            means[cid] = out

        nxt: dict[int, list] = {}
        for cid, ce in cents:
            m = means.get(cid)
            out = m if m is not None else ce  # coalesce(centroid, cent_emb)
            if quantize is not None:
                out = [
                    None if x is None else _jround(x, quantize) for x in out
                ]
            nxt[cid] = out

        n_live = len(means)
        report["dead_cells"].append(n_centroids - n_live)
        n_reseeded = 0
        if reseed_dead and n_live < n_centroids:
            dead = sorted(cid for cid, _ in cents if cid not in means)
            far = sorted(
                elected.items(),
                key=lambda t: (_dbl_key(t[1][3]), _vid_key(t[0])),
            )[:n_centroids]
            for slot, (_vid, info) in zip(dead, far):
                v = info[2]
                nxt[slot] = (
                    v
                    if quantize is None
                    else [None if x is None else _jround(x, quantize) for x in v]
                )
                n_reseeded += 1
        report["reseeds"].append(n_reseeded)
        cents = [(cid, nxt[cid]) for cid, _ in cents]

    return cents, report


def kmeans_train(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quantize: int | None = None,
    reseed_dead: bool = False,
    return_report: bool = False,
) -> DataFrame | tuple[DataFrame, dict[str, list[int]]]:
    """Spherical k-means (Lloyd) on DataFrames: (cent_id, cent_emb).

    Trains the centroids :func:`cosine_topk_ivf` probes, replacing its
    fixed seed slice.  Deterministic init (the ``n_centroids`` smallest
    ids); per iteration: broadcast the tiny centroid set, assign every
    vector to its max-cosine centroid (narrow pass, corpus never
    shuffled), recompute element-wise means per cluster
    (:func:`vector_mean_by_key`).  Cosine ranking is invariant to centroid
    norm, so plain means implement the spherical variant.  Empty clusters
    keep their previous centroid.  The centroid frame is tiny, so each
    iteration ends in an eager ``localCheckpoint`` to cut the growing
    lineage (recomputable-on-loss is irrelevant at n_centroids rows).

    ``quantize`` rounds every centroid element to that many
    decimals at the END of each iteration.  This exists for cross-engine
    replay: a mean over doubles is summation-order-dependent at the last
    ulp, so a DuckDB oracle re-running the same Lloyd iterations would
    drift from Spark's centroids without a per-iteration quantization
    barrier.  At ``quantize=6`` the perturbation per element is <=5e-7 --
    far below any clustering-quality signal -- and both engines' rounded
    centroids agree exactly, so every downstream cosine (computed by the
    deterministic sequential array fold) matches bit-for-bit.  The
    driver-gated k3 ``semdedup_trained`` leg trains with ``quantize=6``;
    pass ``None`` (default) for the unquantized research path.

    Plan shape: the per-iteration election is ONE max_by
    aggregate over the broadcast cross product -- map-side partial
    combine, one row per vector on the wire -- replacing the previous
    row_number window's full sort-shuffle of all n_centroids x N
    candidate rows (the assign_to_centroids argument); NULL sims are
    filtered before the argmax (the NULL-election guard).  This IS
    a deliberate behavior change for degenerate training vectors: the
    old row_number election (DESC = NULLS LAST) still assigned an
    all-NULL-sim vector to the lowest cent_id, so a ZERO-NORM vector's
    raw zeros entered that cluster's mean denominator and dragged it
    toward the origin; now a directionless vector trains nothing --
    the normalized_with_bucket drop policy applied to training.  The
    similarity is the DOT of pre-normalized
    sides -- vectors normalized ONCE into the persisted training table,
    centroids once per iteration (16 rows) -- instead of a full cosine
    per candidate pair: cosine ranking is exactly dot ranking on unit
    vectors, and the candidate expression drops from three array folds
    (dot + two norms) to one.  The training input is persisted once
    (Lloyd scans it every iteration; at real scale the caller passes a
    bounded SAMPLE, the FAISS index-training posture, so the persist is
    sample-sized); the centroid table is coalesced to one partition
    before each checkpoint (16 rows do not need 32 tasks).

    ``return_report``: when True the function returns
    ``(centroids, report)`` where ``report`` is
    ``{"dead_cells": [int per iteration], "reseeds": [int per
    iteration]}`` -- ``dead_cells[i]`` counts the clusters that
    received NO vectors in iteration ``i`` (their centroids are carried
    forward unchanged, the documented Lloyd behavior) and
    ``reseeds[i]`` counts the slots the empty-cluster repair actually
    re-seeded that round (always 0 with ``reseed_dead=False``).
    Heavily clustered data can end with fewer than ``n_centroids``
    EFFECTIVE cells; that is correct but silently weakens the index
    (fewer, fatter cells), so the count is the monitoring hook.
    Reporting materializes each iteration's tiny per-cluster mean table
    once (<= n_centroids rows) so the count and the centroid update
    share one computation -- no extra corpus pass.  (Dead counts state
    the PRE-reseed deads, so the report shows how often re-seeding had
    to fire.)

    ``reseed_dead``: instead of carrying a dead cluster's
    centroid forward, re-seed it from the FURTHEST assigned point --
    the standard k-means empty-cluster repair (lowest elected cosine,
    ties to the lowest vid): the worst-served vector becomes its own
    cell.  Deterministic and scale-safe: the furthest candidates come
    from one ``orderBy(...).limit(n_centroids)`` (TakeOrdered -- no
    global sort shuffle), dead slots pair with them by rank over two
    <= n_centroids-row frames.  OFF by default: the gated trained-index
    oracles replay exact Lloyd (empty clusters carried) in DuckDB, and
    re-seeding is the research-path option for corpora
    where the dead_cells report shows a degenerating index.
    Driver-local fast path ("fix the distributed algorithm"): a
    training input of at most KMEANS_DRIVER_MAX_ROWS rows
    is collected once and the whole Lloyd loop runs on the driver
    (:func:`_lloyd_local`, bit-for-bit the same arithmetic), replacing
    ``n_iter`` sequential broadcast-join + aggregate + checkpoint Spark
    jobs with ONE bounded collect -- measured ~3 s -> ~0.3 s per
    training call at the k2/k3 gate constants.  This is the documented
    contract made structural: training input is a bounded sample (the
    FAISS posture), so the collect is bounded at any corpus scale, and
    an oversized input falls back to the distributed loop below
    unchanged.  Parity driver-vs-distributed is pytest-gated
    (tests/test_kmeans_local.py, randomized + every gate shape).
    """
    from ..functions.localrel import inline_rows
    from ..functions.vectors import as_double_array, dot, l2_norm

    report: dict[str, list[int]] = {"dead_cells": [], "reseeds": []}
    if KMEANS_DRIVER_MAX_ROWS > 0:
        head = (
            embeddings.select(
                F.col(id_col).alias("vid"), as_double_array(vec_col).alias("v")
            )
            .limit(KMEANS_DRIVER_MAX_ROWS + 1)
            .collect()
        )
        if len(head) <= KMEANS_DRIVER_MAX_ROWS:
            rows = [
                (r["vid"], None if r["v"] is None else list(r["v"]))
                for r in head
            ]
            cent_rows, rep = _lloyd_local(
                rows, n_centroids, n_iter, quantize, reseed_dead
            )
            if return_report:
                report = rep
            spark = embeddings.sparkSession
            if cent_rows:
                out = inline_rows(
                    spark,
                    ("cent_id", "cent_emb"),
                    [(int(cid), ce) for cid, ce in cent_rows],
                )
            else:
                # degenerate corpus (no trainable vector): empty table,
                # same schema as the distributed loop's init
                out = spark.range(0).select(
                    F.lit(0).cast("long").alias("cent_id"),
                    F.lit(None).cast("array<double>").alias("cent_emb"),
                )
            if return_report:
                return out, report
            return out
    emb = _kmeans_training_table(embeddings, vec_col, id_col).persist()
    # init is lazy: 16 rows, folded into iteration 1's checkpoint job.
    # NULL vectors are excluded from the init POOL (a NULL centroid is
    # a dead slot that can never train -- and the SQL replays agree on
    # the non-NULL pool, where engine NULL-ordering defaults diverge);
    # v rides the sort keys so a duplicated training id with two
    # payloads seeds ONE deterministic init (the same duplicate-id
    # discipline as the assignment election below)
    cents = (
        emb.filter(F.col("v").isNotNull())
        .orderBy("vid", "v")
        .limit(n_centroids)
        .select(
            F.row_number()
            .over(Window.orderBy("vid", "v"))
            .cast("long")
            .alias("cent_id"),
            F.col("v").alias("cent_emb"),
        )
        .coalesce(1)
    )
    try:
        for _ in range(n_iter):
            cents_n = (
                cents.withColumn("_cnrm", l2_norm("cent_emb"))
                .select(
                    "cent_id",
                    F.transform(
                        "cent_emb",
                        lambda x: x / F.nullif(F.col("_cnrm"), F.lit(0.0)),
                    ).alias("cn"),
                )
            )
            # the elected (vid, sim) only ride the output when re-seeding
            # needs them, so the default path's plan stays byte-identical
            # to the gated no-reseed shape
            sel = [
                F.col("__win.cent_id").alias("cent_id"),
                F.col("__win.v").alias("v"),
            ]
            win_val = F.struct("cent_id", "v")
            if reseed_dead:
                sel = (
                    [F.col("vid")] + sel + [F.col("__win.sim").alias("sim")]
                )
                win_val = F.struct("cent_id", "v", "sim")
            assigned = (
                emb.crossJoin(F.broadcast(cents_n))
                .select(
                    "vid",
                    "v",
                    "cent_id",
                    F.round(dot("vn", "cn"), 9).alias("sim"),
                )
                .filter(F.col("sim").isNotNull())
                .groupBy("vid")
                .agg(
                    # v rides the ordering struct so a duplicated
                    # training id with two payloads elects ONE
                    # deterministic row (the assign_to_centroids max_by
                    # discipline)
                    F.max_by(
                        win_val,
                        F.struct(
                            F.col("sim"),
                            (-F.col("cent_id")).alias("nc"),
                            F.col("v"),
                        ),
                    ).alias("__win")
                )
                .select(*sel)
            )
            if reseed_dead:
                # two consumers on the reseed path (the mean table AND
                # the furthest-point pool below) -- without a barrier
                # the crossJoin+max_by assignment pass executes twice
                # per iteration.  MEASURED at sf0.1 (16 cents, 5 iters,
                # warm): 6.7-6.8 s with the cut vs 7.9-8.6 s without
                # (the far pool's TakeOrdered limit recomputes only part
                # of the pass, so the saving is ~20%, not 2x)
                assigned = assigned.localCheckpoint(eager=True)
            means = vector_mean_by_key(assigned, "cent_id", "v")
            n_live = None
            if return_report or reseed_dead:
                # dead-cell visibility / reseed: a cluster absent
                # from the mean table received no vectors this round.
                # The mean table is <= n_centroids rows, so
                # materializing it here lets the count, the dead-slot
                # anti-join, and the centroid join share ONE computation
                # of the assignment pass
                means = means.coalesce(1).localCheckpoint(eager=True)
                n_live = means.count()
            if return_report:
                report["dead_cells"].append(n_centroids - n_live)
            nxt = F.coalesce("centroid", "cent_emb")
            if quantize is not None:
                # quantize AFTER the empty-cluster coalesce so
                # carried-over centroids land on the same grid as
                # recomputed means
                nxt = F.transform(nxt, lambda x: F.round(x, quantize))
            nxt_cents = cents.join(means, "cent_id", "left").select(
                "cent_id", nxt.alias("cent_emb")
            )
            n_reseeded = 0
            if reseed_dead and n_live < n_centroids:
                # re-seed each dead slot from the furthest assigned
                # point (lowest elected cosine, ties to the lowest vid)
                # -- the standard k-means empty-cluster repair.  The
                # candidate pool is ONE TakeOrdered limit(n_centroids)
                # (no global sort shuffle); slots pair with candidates
                # by rank across two <= n_centroids-row frames.  Gated
                # on the means count already in hand: a healthy round
                # (no dead cells -- the common case) skips the pool and
                # the rank join entirely.
                dead_slots = (
                    cents.select("cent_id")
                    .join(means.select("cent_id"), "cent_id", "left_anti")
                    .withColumn(
                        "__r", F.row_number().over(Window.orderBy("cent_id"))
                    )
                )
                far = (
                    assigned.select("vid", "v", "sim")
                    .orderBy(F.col("sim").asc(), F.col("vid").asc())
                    .limit(n_centroids)
                    .withColumn(
                        "__r",
                        F.row_number().over(
                            Window.orderBy(
                                F.col("sim").asc(), F.col("vid").asc()
                            )
                        ),
                    )
                    .select("__r", F.col("v").alias("__reseed"))
                )
                reseed = F.col("__reseed")
                if quantize is not None:
                    # reseeded centroids land on the same grid as means
                    reseed = F.transform(
                        reseed, lambda x: F.round(x, quantize)
                    )
                paired = dead_slots.join(far, "__r").select(
                    "cent_id", "__reseed"
                )
                if return_report:
                    # exact reseed count: a dead slot only changes if a
                    # furthest candidate exists (fewer assigned vectors
                    # than dead slots leaves the tail carried forward).
                    # paired is <= n_centroids rows with two consumers
                    # (this count + the centroid join), so cut it once.
                    paired = paired.coalesce(1).localCheckpoint(eager=True)
                    n_reseeded = paired.count()
                nxt_cents = nxt_cents.join(paired, "cent_id", "left").select(
                    "cent_id",
                    F.coalesce(reseed, F.col("cent_emb")).alias("cent_emb"),
                )
            if return_report:
                report["reseeds"].append(n_reseeded)
            cents = (
                nxt_cents.coalesce(1)
                # per-iteration eager cut, MEASURED both ways at sf0.1:
                # cents appears twice per iteration (cross join +
                # coalesce-join), so without the cut the plan doubles
                # per round and one end-checkpoint ran 8.3-14.8 s vs
                # 5-6.3 s with the cut -- the 2^n_iter plan copies cost
                # more than n_iter scheduled checkpoint jobs
                .localCheckpoint(eager=True)
            )
    finally:
        # unpersist on EVERY exit path: a runtime failure
        # mid-Lloyd (poisoned vector column, executor loss surfacing as
        # a job abort) must not leak the persisted training sample for
        # the rest of the session
        emb.unpersist()
    if return_report:
        return cents, report
    return cents


def default_centroids(
    embeddings: DataFrame,
    centroid_offset: int = 100,
    n_centroids: int = 16,
) -> DataFrame:
    """(cent_id, cent_emb): the deterministic corpus-slice centroid
    index.  ONE definition shared by every cell-assigning consumer
    (the IVF searches through :func:`ivf_assign`, semantic dedup and
    admission through :func:`assign_to_centroids`,
    retrieval.dense_topk, the k3 registry leg): cells only line up
    across operators and admission batches if every consumer derives
    the SAME index, and the SQL oracles replay exactly this slice.  A
    trained index (:func:`kmeans_train`) has the same shape and goes
    wherever this one does."""
    return embeddings.filter(
        (F.col("vec_id") >= centroid_offset)
        & (F.col("vec_id") < centroid_offset + n_centroids)
    ).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cent_emb"),
    )


class IVFIndex(NamedTuple):
    """Shared IVF routing artifacts: the centroid table AND the
    full-corpus 1-nearest assignment -- the pass every IVF-routed
    consumer would otherwise repeat.  Built by :func:`ivf_assign` and
    taken by every IVF-routed search (:func:`cosine_topk_ivf`,
    :func:`cosine_topk_ivfpq`, :func:`contrastive_mining`).  ``cents``
    rides along so probe-side routing can never use a different
    centroid set than the assignment did.

    Building one index per search is the right default at gate scale:
    MEASURED at sf0.1 (3 interleaved reps), sharing one checkpointed
    assignment between the k2 ivf and ivfpq legs ran 7.5-8.6 s vs
    7.2-8.0 s with one lazy index per leg -- materializing 2k
    payload-carrying rows plus the extra stage costs MORE than the
    ~0.5 s recompute it saves, so the k2 entry builds a lazy index per
    leg (the minhash_lsh_pairs shingle-recompute posture).  The ivf and
    ivfpq legs' lazy indexes are the same plan, so inside the entry's
    union checkpoint Spark's exchange reuse runs their assignment
    shuffle once, with nothing extra materialized.  At
    deployment scale the assignment is a full corpus scan +
    map-side-combined shuffle, and paying it once (checkpoint or
    :func:`save_ivf_index` the ``assigned`` table, then pass the same
    index to every search) is the right default -- that is what this
    artifact is for."""

    cents: DataFrame
    #: (vec_id, embedding, cent_id) -- payload-riding election (the
    #: cosine_topk_ivf spelling: degenerate vectors stay assigned to the
    #: lowest cent_id with NULL-scoring payloads; duplicated ids elect
    #: one deterministic payload)
    assigned: DataFrame


def _ivf_corpus_assign(cents: DataFrame, emb: DataFrame) -> DataFrame:
    """The corpus-side 1-nearest election.

    PERF: ONE max_by aggregate with map-side partial combine -- one row
    per vector on the wire -- not a row_number window's full
    sort-shuffle of n_centroids x N candidate rows (the
    assign_to_centroids/kmeans_train shape).  Same election: struct
    field comparison puts a NULL cent_sim below any value (= the
    window's DESC NULLS LAST), ties break to the lowest cent_id, and a
    vector with ONLY NULL sims still elects the lowest cent_id --
    degenerate vectors stay assigned-but-unscorable (their NULL
    candidate cosines never rank).  The PAYLOAD rides the ordering
    struct: a duplicated vec_id carrying two different embeddings ties
    on (cent_sim, -cent_id) when both payloads score alike, and
    without the third key the elected c_emb would be plan-dependent --
    the duplicated-id discipline applies wherever a payload rides an
    election."""
    cand = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cent_id",
        F.round(cosine("embedding", "cent_emb"), 6).alias("cent_sim"),
    )
    return (
        cand.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("embedding", "cent_id"),
                F.struct(
                    F.col("cent_sim"),
                    (-F.col("cent_id")).alias("nc"),
                    F.col("embedding"),
                ),
            ).alias("__win")
        )
        .select(
            "vec_id",
            F.col("__win.embedding").alias("embedding"),
            F.col("__win.cent_id").alias("cent_id"),
        )
    )


def ivf_assign(embeddings: DataFrame, cents: DataFrame) -> IVFIndex:
    """Build the IVF routing artifact (see :class:`IVFIndex`) over the
    (cent_id, cent_emb) centroid table ``cents`` --
    :func:`default_centroids` for the fixed corpus slice the oracles
    replay, or :func:`kmeans_train` for a trained index.  Lazy: the
    corpus assignment runs inside whichever search consumes it."""
    return IVFIndex(cents, _ivf_corpus_assign(cents, embeddings))


def save_ivf_index(index: IVFIndex, path: str) -> None:
    """Persist an :class:`IVFIndex` as two parquet tables
    (``{path}/cents``, ``{path}/assigned``) -- the index is maintained
    deployment state (a full corpus scan to rebuild), so a restart
    should read it back instead of re-assigning.  Round-trip equality
    (save -> load -> probe == fresh index) is pytest-gated in
    tests/test_artifact_persistence.py, the maintained-state ==
    rebuild discipline the CMS/HLL ledgers already follow."""
    index.cents.write.mode("overwrite").parquet(f"{path}/cents")
    index.assigned.write.mode("overwrite").parquet(f"{path}/assigned")


def load_ivf_index(spark, path: str) -> IVFIndex:
    """Read back a :func:`save_ivf_index` artifact.  The centroid table
    rides the artifact, so probe-side routing after a restart uses
    exactly the centroid set the assignment was built with."""
    return IVFIndex(
        spark.read.parquet(f"{path}/cents"),
        spark.read.parquet(f"{path}/assigned"),
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    index: IVFIndex,
    k: int = 5,
    n_queries: int = 8,
    n_probe: int = 3,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the list-probing scale path.

    Index: an :func:`ivf_assign` artifact -- every corpus vector
    assigned to its nearest centroid via a broadcast of the tiny
    centroid set (narrow pass, no corpus shuffle).  Build it over
    :func:`default_centroids` (the deterministic corpus slice -- the
    oracle-parity path) or over :func:`kmeans_train` centroids for a
    trained index (better recall, pytest-gated).  Search: each query
    probes its ``n_probe`` nearest centroids and scores only those
    centroids' members -- candidate generation is an equi-join on
    cent_id, scanning ~n_probe/n_centroids of the corpus instead of all
    of it.  The probe side routes against ``index.cents``, so
    assignment and probing can never use different centroid sets.

    Probed-list recall vs the exact baseline is pytest-gated; returned
    cosines are exact for the scored candidates.
    """
    cents = index.cents

    def probe_centroids(side: DataFrame, id_col: str, emb_col: str, top: int):
        cand = side.crossJoin(F.broadcast(cents)).select(
            id_col,
            emb_col,
            "cent_id",
            F.round(cosine(emb_col, "cent_emb"), 6).alias("cent_sim"),
        )
        w = Window.partitionBy(id_col).orderBy(
            F.col("cent_sim").desc(), F.col("cent_id").asc()
        )
        return cand.withColumn("crank", F.row_number().over(w)).filter(
            F.col("crank") <= top
        )

    assigned = index.assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "cent_id",
    )
    probes = probe_centroids(
        embeddings.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        ),
        "query_id",
        "q_emb",
        n_probe,
    ).select("query_id", "q_emb", "cent_id")

    scored = (
        F.broadcast(probes)
        .join(assigned, "cent_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("q_emb", "c_emb"), 6).alias("cosine"),
        )
        .distinct()
    )
    return _ranked_topk(scored, k)


def assign_to_centroids(
    embeddings: DataFrame, centroids: DataFrame
) -> DataFrame:
    """(vec_id, cent_id, emb_n): every unit-normalizable vector assigned
    to its max-cosine centroid -- the ONE cell-assignment definition
    shared by :func:`semantic_dedup` and :func:`semantic_admit_batch`
    (so a persisted assignment table written at dedup time is exactly
    the state admission reads later).

    Max-cosine assignment via max_by over the broadcast cross product:
    the aggregate gets a map-side partial combine, so the shuffle
    carries ONE row per vector -- a row_number window here would
    instead sort-shuffle all n_centroids x N candidate rows.  Ordering
    struct (cent_sim, -cent_id) = highest cosine, ties to the lowest
    centroid id -- the same deterministic pick the oracle replays.
    NULL/zero-norm vectors have no unit vector and get NO row (the
    normalized_with_bucket drop policy).  NULL-similarity candidate
    rows are dropped BEFORE the argmax: a NULL/zero-norm
    CENTROID has no direction, so it must never win an assignment --
    without the filter, a vector whose only candidates are
    directionless centroids would be max_by'd into an arbitrary cell
    (caught by the randomized python-reference parity test).

    PERF: the raw embedding rides THROUGH the aggregate and is
    normalized after it, so the whole operator is ONE corpus scan + one
    map-side-combined shuffle; the previous shape joined a second full
    normalization scan back on vec_id -- an extra corpus scan AND an
    extra shuffle per call (there are three driver-gated call sites).
    The post-agg normalize uses the same cast -> l2_norm ->
    nullif-divide expressions as normalized_with_bucket, so emb_n is
    bit-identical.

    Duplicate vec_ids collapse to ONE deterministic row: the winning
    (cent_id, embedding) pair is picked ATOMICALLY by one max_by over
    (cent_sim, -cent_id, embedding) -- highest cosine, ties to the
    lowest centroid, then the lexicographically greatest embedding.
    A bare ``first(embedding)`` here would be run-dependent whenever a
    duplicated id carries two DIFFERENT payloads, making every
    downstream admission verdict nondeterministic."""
    from ..functions.vectors import as_double_array, l2_norm

    emb = embeddings.select("vec_id", "embedding")
    agg = (
        emb.crossJoin(F.broadcast(centroids.select("cent_id", "cent_emb")))
        .select(
            "vec_id",
            "embedding",
            "cent_id",
            F.round(cosine("embedding", "cent_emb"), 6).alias("cent_sim"),
        )
        .filter(F.col("cent_sim").isNotNull())
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cent_id", "embedding"),
                F.struct(
                    F.col("cent_sim"),
                    (-F.col("cent_id")).alias("nc"),
                    F.col("embedding"),
                ),
            ).alias("__win")
        )
        .select(
            "vec_id",
            F.col("__win.cent_id").alias("cent_id"),
            F.col("__win.embedding").alias("embedding"),
        )
    )
    step2 = agg.select(
        "vec_id",
        "cent_id",
        as_double_array("embedding").alias("emb"),
        l2_norm("embedding").alias("nrm"),
    ).filter(F.col("nrm") > 0)
    return step2.select(
        "vec_id",
        "cent_id",
        F.transform(
            "emb", lambda x: x / F.nullif(F.col("nrm"), F.lit(0.0))
        ).alias("emb_n"),
    )


def semantic_near_pairs(
    assigned: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """(cell, id_a, id_b, cosine): exact near pairs WITHIN centroid
    cells -- SemDeDup stage 2 standing alone.  ``assigned`` is an
    :func:`assign_to_centroids` table (vec_id, cent_id, emb_n); the
    pair search is ONE equi-join on the cell key (never all-pairs),
    exact unit-vector dot rounded to 6, kept at ``>= threshold``.

    Public because the pair graph is a first-class artifact: the k3
    registry entry labels the fixed-slice AND trained-centroid pair
    graphs in ONE pass, which only works when the stage producing pairs
    is separable from the stage labeling them.  The output carries the
    confining ``cell`` key precisely so the label stage can be
    :func:`..operators.dedup.partitioned_components` (per-cell
    union-find, zero iteration) instead of the generic label loop --
    both graph ends share the cell by construction; the labels then
    feed :func:`semantic_dedup`'s keep-list election."""
    from ..functions.vectors import dot

    a = assigned.select(
        F.col("vec_id").alias("id_a"),
        F.col("cent_id").alias("cell"),
        F.col("emb_n").alias("ea"),
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"),
        F.col("cent_id").alias("cell"),
        F.col("emb_n").alias("eb"),
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cell",
            "id_a",
            "id_b",
            F.round(dot("ea", "eb"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(embeddings: DataFrame, components: DataFrame) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540, public): drop documents whose EMBEDDINGS are
    near-identical, restricting the quadratic pair search to cluster
    cells so it never goes all-pairs.

    Stages, each its own operator so the expensive ones can be shared:
    (1) :func:`assign_to_centroids` -- every vector to its max-cosine
    centroid via a broadcast of the tiny centroid table (narrow pass,
    the corpus is never shuffled for assignment); (2)
    :func:`semantic_near_pairs` -- the near-pair self-join WITHIN a
    cell only (ONE shuffle, on cent_id); (3) connected components over
    the near-pair graph (:func:`..operators.dedup.connected_components`,
    the checkpointed min-label loop, or
    :func:`..operators.dedup.partitioned_components`, per-cell
    union-find -- every near pair is within-cell by construction);
    (4) this function: the keep-list election over the (doc_id,
    cluster_id) ``components`` labels -- the min vec_id per component
    survives.  The k3 entry labels the fixed-slice and trained-centroid
    pair graphs in ONE components pass and hands each leg its slice of
    the labels here; the caller owns the guarantee that the labels came
    from THIS corpus's near-pair graph.

    Returns (vec_id, sem_cluster, keep) for EVERY input vector; vectors
    in no near-pair are their own singleton cluster and keep themselves.

    Centroids: :func:`default_centroids` is the same deterministic
    corpus slice the IVF searches use, which a SQL oracle can replay
    exactly (tests/test_semantic_dedup.py pairs the composed pipeline
    with a DuckDB recursive-CTE oracle, and the k3 registry fold
    driver-gates the same pipeline); :func:`kmeans_train` centroids
    give a trained index.

    Scale: the paper's operating point is n_centroids ~ N / target cell
    size, keeping the within-cell join bounded-quadratic per cell; the
    cell key is one long, so AQE's skew-join split applies if a cell runs
    hot.  Assignment + pairing + CC are all equi-joins -- no stage is
    all-pairs.
    """
    emb = embeddings.select("vec_id")
    comp = components.select("doc_id", "cluster_id")
    return (
        emb.join(comp, emb.vec_id == comp.doc_id, "left")
        .select(
            "vec_id",
            F.coalesce("cluster_id", "vec_id").alias("sem_cluster"),
            (F.coalesce("cluster_id", "vec_id") == F.col("vec_id")).alias(
                "keep"
            ),
        )
    )


class SemanticAdmitResult(NamedTuple):
    report: DataFrame  # one row per batch vector: admit/reject verdict
    state: DataFrame  # updated (vec_id, cent_id, emb_n) assignment table
    cell_stats: DataFrame  # (cent_id, n_vectors) after the admission


def semantic_admit_batch(
    batch: DataFrame,
    history_state: DataFrame,
    batch_state: DataFrame,
    threshold: float = 0.9,
) -> SemanticAdmitResult:
    """Incremental SemDeDup admission: is a new embedding batch
    semantically near-identical to something ALREADY in the corpus?
    The :func:`..operators.incremental.admit_batch_neardup` posture
    applied to vectors -- at 100 TB, semdedup-from-scratch per
    admission batch is the operation that cannot run; scoring a batch
    into the PERSISTED centroid cells can.

    State: the corpus is represented by its cell-assignment table
    (vec_id, cent_id, emb_n) -- :func:`assign_to_centroids`'s output,
    written once at each vector's OWN admission (``state`` below is
    exactly that table extended, ready to persist for the next batch).
    ``history_state`` is that table; ``batch_state`` is the batch's
    own :func:`assign_to_centroids` rows under the SAME centroid index
    (the persisted (cent_id, cent_emb) table the corpus was assigned
    under -- it must stay the same across batches or cells stop lining
    up).  ``batch`` itself supplies the report's rows: one per input
    row, NULL/zero-norm vectors included.

    Admission per batch:

    1. the batch vectors' cells come from ``batch_state`` (one
       broadcast assignment pass -- the corpus state is never
       shuffled);
    2. near-dup test ONLY within the batch vector's cell: one cent_id
       equi-join against the state, exact unit-vector dot, rounded to 6
       (the semantic_near_pairs arithmetic);
    3. keep each batch vector's best history match (highest cosine,
       ties to the lowest history id -- the admit_batch_neardup
       min_by idiom) and admit vectors whose best cosine is below
       ``threshold`` (or whose cell holds no history vector).

    Returns one row per batch vector:
    (vec_id, cent_id, match_id, cosine, admitted) -- cent_id NULL for
    NULL/zero-norm vectors (no direction, nothing to compare: admitted
    with no match, the semdedup kept-singleton policy; they do NOT
    enter the state -- a cell-less vector can never be matched
    against).  Batch-internal duplicates are NOT checked (the
    admit_batch_neardup contract): run :func:`semantic_dedup` over the
    batch first if intra-batch collapse is needed.

    Scale: the state participates as a narrow three-column table
    partitionable by cent_id; the only shuffle is the cent_id
    equi-join (cell-bounded, never all-pairs); the election is a
    map-side-combined min_by aggregate.  The batch is small by
    definition.
    """
    from ..functions.vectors import dot

    state = history_state.select("vec_id", "cent_id", "emb_n")
    b_assigned = batch_state.select("vec_id", "cent_id", "emb_n")
    scored = (
        b_assigned.alias("b")
        .join(state.alias("h"), "cent_id")
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("cent_id"),
            F.col("h.vec_id").alias("match_id"),
            F.round(dot("b.emb_n", "h.emb_n"), 6).alias("cosine"),
        )
        # a NULL cosine (a state row whose emb_n has a different
        # dimensionality or NULL elements -- zip_with pads with NULL)
        # must never win the election: the NULL-first struct ordering
        # would pick it over a genuine 0.99 match and falsely admit
        # (the assign_to_centroids NULL-before-argmax class)
        .filter(F.col("cosine").isNotNull())
    )
    # best match = highest cosine, ties to the LOWEST history id (the
    # admit_batch_neardup min_by idiom: negate the score, never the id)
    best = scored.groupBy("vec_id", "cent_id").agg(
        F.min_by(
            F.struct(F.col("match_id"), F.col("cosine")),
            F.struct((-F.col("cosine")).alias("nc"), F.col("match_id")),
        ).alias("best")
    )
    report = (
        batch.select("vec_id")
        .join(
            best.select(
                "vec_id",
                "cent_id",
                F.col("best.match_id").alias("match_id"),
                F.col("best.cosine").alias("cosine"),
            ),
            "vec_id",
            "left",
        )
        # no row in `best` = empty cell OR no unit vector; recover the
        # cell for empty-cell batch vectors from their own assignment.
        # distinct(): a batch carrying DUPLICATE vec_id rows yields one
        # assignment row per INPUT row (the normalized join fans out),
        # but the verdict per id is single -- without the collapse the
        # report would emit dup_count^2 rows per duplicated id instead
        # of mirroring the batch multiset (adversarial-corpus gate)
        .join(
            b_assigned.select(
                "vec_id", F.col("cent_id").alias("__own")
            ).distinct(),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.coalesce("cent_id", "__own").alias("cent_id"),
            "match_id",
            "cosine",
            (
                F.col("cosine").isNull()
                | (F.col("cosine") < F.lit(threshold))
            ).alias("admitted"),
        )
    )
    # distinct() on the verdict side so the report's per-input-row
    # multiplicity cannot fan the join out; the state itself carries ONE
    # row per distinct vec_id (assign_to_centroids' groupBy collapses
    # duplicate ids -- a second identical state row would only double
    # downstream candidate-join work without changing any verdict).
    # left_anti against the EXISTING state ids: an id already in the
    # corpus that re-arrives with a changed embedding and admits must
    # not create a second state row for the same id (it would
    # double-count in every candidate join and put duplicate doc_ids
    # into any ranking read off the state) -- the corpus state is
    # append-only keyed by vec_id, first admission wins (the
    # fingerprint-history posture).
    admitted_state = (
        b_assigned.join(
            report.filter("admitted").select("vec_id").distinct(), "vec_id"
        )
        .join(state.select("vec_id"), "vec_id", "left_anti")
        .select("vec_id", "cent_id", "emb_n")
    )
    new_state = state.unionByName(admitted_state)
    cell_stats = new_state.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    return SemanticAdmitResult(report, new_state, cell_stats)


class PQEncoding(NamedTuple):
    """Product-quantization artifacts: ONE encode pass -- normalize,
    codebook resolution, the (vector x codebook-entry) distance
    relation, and the per-subspace argmin codes -- serving both the
    direct PQ search and IVFPQ.  Built by :func:`pq_encode`; the k2
    entry builds it once (``checkpoint=True`` materializes the
    corpus-sized code table) and passes it to both legs.  Geometry
    (m, k_sub, dim) rides the artifact so consumers never probe codes
    with a mismatched layout (the bloom-filter geometry lesson)."""

    m: int
    k_sub: int
    dim: int
    #: (vec_id, emb_raw) -- the UN-normalized doubles, for the exact
    #: re-rank (the oracle computes cosine on the raw values)
    raw: DataFrame
    #: (vec_id, code_id, d0..d{m-1}) -- per-subspace squared L2 to every
    #: codebook entry; LAZY (the query distance tables re-derive from it
    #: with a vec_id pushdown, so only the tiny query slice recomputes)
    dcols: DataFrame
    #: (vec_id, j, code) -- the encoded corpus, the ADC join's left side
    codes_long: DataFrame


def pq_encode(
    embeddings: DataFrame,
    m: int = 16,
    k_sub: int = 32,
    codebook_offset: int = 200,
    dim: int = 64,
    codebook: DataFrame | None = None,
    codebook_prenormalized: bool = False,
    checkpoint: bool = False,
) -> PQEncoding:
    """Build the PQ encode artifacts (see :class:`PQEncoding`) -- the
    only place PQ geometry is spelled; :func:`cosine_topk_pq` and
    :func:`cosine_topk_ivfpq` take the result.

    The vector is split into ``m`` subspaces of ``dim // m``
    dimensions; each subspace gets a ``k_sub``-entry codebook (by
    default a deterministic corpus slice starting at
    ``codebook_offset`` -- the fixed-seed convention shared with the
    IVF leg), and every corpus vector is ENCODED as m small codes.
    Vectors are L2-NORMALIZED before encoding: the target metric is
    cosine, and on the unit sphere squared L2 is 2 - 2*cos -- monotone
    in cosine -- so the ADC ranking approximates the right metric.

    Defaults were MEASURED against the brute-force baseline on the
    synthetic corpus (10 latent clusters, unit-norm 64-dim): coarse
    cells produce large ADC ties that tie-break arbitrarily and kill
    recall (m=4/k_sub=16/cand=32 gave 0.125 at sf0.1); m=16 subspaces
    of 4 dims x 32 codes with a 128-candidate re-rank gives recall@5 =
    0.975 (sf0.001) / 0.90 (sf0.1) while still scanning codes 16x
    smaller than the raw vectors and re-ranking only ~6% of the corpus.

    Zero-norm vectors (none in the driver tables) are FILTERED OUT
    before encoding -- an explicit ``_nrm > 0`` filter, because the
    alternative (NULL-element normalization) would NOT drop out: the
    per-subspace struct-min assigns all-NULL distance rows code 0 (NULL
    sorts first in struct ordering), letting a garbage vector rank as a
    NULL-cosine candidate.  Filtered vectors can neither be queries nor
    neighbours, the same exclusion the sign-LSH leg gets from NULL
    buckets.

    ``codebook``: any (code_id 0..k_sub-1, cb_emb) table replaces the
    corpus slice -- the kmeans_train plumbing IVF uses.  Measured
    honestly: on THIS corpus 32 full-vector k-means centroids sliced
    per subspace give recall 0.825 at sf0.1, WORSE than the 0.90 of
    random corpus samples, because k-means collapses onto the ~10
    latent cluster directions and loses subspace diversity.  The fix is
    true per-subspace training -- :func:`pq_train_codebook`, the actual
    PQ recipe -- which restores the ordering: per-subspace-trained
    1.0 / 0.925 >= slice 0.975 / 0.90 > full-vector 0.825
    (sf0.001 / sf0.1, pytest-gated).

    ``codebook_prenormalized``: set True for codebooks TRAINED in the
    normalized space (pq_train_codebook) -- renormalizing such a
    codebook would divide each code's sub-centroids by that code's own
    concatenated norm, a different factor per code, distorting the
    Lloyd assignment geometry (measured: 0.90 renormalized vs 0.925
    prenormalized at sf0.1).  Leave False for raw corpus vectors.

    ``checkpoint=True`` eagerly materializes the code table -- the
    corpus-sized piece two consumers would otherwise recompute."""
    from ..functions.vectors import as_double_array, l2_norm

    dsub = dim // m
    raw = embeddings.select(
        "vec_id", as_double_array("embedding").alias("emb_raw")
    )
    # norm in its OWN projection so the divide-lambda reads a concrete
    # attribute -- inlining it makes every lambda reference re-run the
    # 64-term fold and the whole expression re-evaluates per PAIR row in
    # the codebook cross join (the multiply-referenced-expression trap,
    # see normalized_with_bucket; measured ~5.5 s -> ~1.5 s for the leg)
    step1 = raw.select("vec_id", "emb_raw", l2_norm("emb_raw").alias("_nrm"))
    # zero-norm vectors DROP OUT here, not later: without the filter the
    # per-subspace struct-min would assign their all-NULL distance rows
    # code 0 (NULL sorts first inside a struct ordering), letting a
    # garbage vector consume candidate slots with a bogus ADC total and
    # surface as a NULL-cosine neighbour -- the filter makes the
    # documented drop-out semantics real (mirrored in the DuckDB
    # oracle; no such vectors exist in the driver tables)
    emb = step1.filter(F.col("_nrm") > 0).select(
        "vec_id",
        F.transform(
            F.col("emb_raw"),
            lambda x: x / F.col("_nrm"),
        ).alias("emb"),
    )
    if codebook is not None:
        # trained variant: any (code_id 0..k_sub-1, cb_emb array<double>)
        # table -- e.g. corpus samples or kmeans_train centroids --
        # replaces the corpus slice.  Renormalization is OPT-OUT: raw
        # corpus vectors need it to land on the unit sphere, but a
        # codebook TRAINED in the normalized space (pq_train_codebook)
        # must NOT be rescaled -- its concatenated centroid norms differ
        # per code, so dividing by them would scale each code's
        # sub-centroids by a different factor and break the Lloyd
        # assignment geometry the training converged to
        cb_step = codebook.select(
            F.col("code_id").cast("int").alias("code_id"),
            as_double_array("cb_emb").alias("cb_raw"),
        ).select(
            "code_id", "cb_raw", l2_norm("cb_raw").alias("_cnrm")
        )
        if codebook_prenormalized:
            cb = cb_step.select(
                "code_id", F.col("cb_raw").alias("cb_emb")
            )
        else:
            cb = cb_step.filter(F.col("_cnrm") > 0).select(
                "code_id",
                F.transform(
                    F.col("cb_raw"),
                    lambda x: x / F.col("_cnrm"),
                ).alias("cb_emb"),
            )
    else:
        cb = emb.filter(
            (F.col("vec_id") >= codebook_offset)
            & (F.col("vec_id") < codebook_offset + k_sub)
        ).select(
            (F.col("vec_id") - codebook_offset).cast("int").alias("code_id"),
            F.col("emb").alias("cb_emb"),
        )

    def _sq_l2_sub(vcol, ccol, j):
        """Per-subspace squared L2 as EXPLICIT left-to-right arithmetic.
        No zip_with/aggregate/transform anywhere in the hot path: Spark
        evaluates higher-order-function lambdas interpreted (outside
        whole-stage codegen), and with 1M evaluations at sf0.1 two HOF
        formulations of this same arithmetic measured 4-8 s; as plain
        projected columns over the pair relation the distance pass
        codegens and the whole leg drops under a second.  The chain
        order matches the DuckDB oracle term for term."""
        terms = None
        for i in range(1, dsub + 1):
            diff = F.element_at(vcol, j * dsub + i) - F.element_at(
                ccol, j * dsub + i
            )
            t = diff * diff
            terms = t if terms is None else terms + t
        return F.round(terms, 6)

    # distance relation: (vector x codebook-entry) pairs -- k_sub rows
    # per vector via a broadcast nested-loop of the tiny codebook -- with
    # the m per-subspace distances as ORDINARY PROJECTED COLUMNS
    dcols = emb.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        "code_id",
        *[
            _sq_l2_sub(F.col("emb"), F.col("cb_emb"), j).alias(f"d{j}")
            for j in range(m)
        ],
    )

    # encode: per-subspace argmin with code-id tie-break via
    # lexicographic struct-min -- one hash aggregate, m aggs, codegen'd
    codes = dcols.groupBy("vec_id").agg(
        *[
            F.min(
                F.struct(F.col(f"d{j}").alias("d"), F.col("code_id").alias("c"))
            )
            .getField("c")
            .alias(f"c{j}")
            for j in range(m)
        ]
    )
    # unpivot to (vec_id, j, code) for the ADC equi-join
    codes_long = codes.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), F.col(f"c{j}").alias("code")
                    )
                    for j in range(m)
                ]
            )
        ).alias("x"),
    ).select("vec_id", F.col("x.j").alias("j"), F.col("x.code").alias("code"))
    if checkpoint:
        codes_long = codes_long.localCheckpoint(eager=True)
    return PQEncoding(m, k_sub, dim, raw, dcols, codes_long)


def save_pq_encoding(enc: PQEncoding, path: str) -> None:
    """Persist a :class:`PQEncoding` as parquet (``{path}/meta`` one
    geometry row, ``{path}/raw``, ``{path}/dcols``, ``{path}/codes``)
    -- the corpus encode is the expensive pass, so a restart reads the
    codes back instead of re-encoding.  ``dcols`` is persisted too:
    it is the query-side distance-table source (the searches re-derive
    the tiny query slice from it with a vec_id pushdown), and without
    it a reload could silently re-derive distances from a DIFFERENT
    codebook than the codes were encoded with.  Round-trip equality is
    pytest-gated in tests/test_artifact_persistence.py."""
    spark = enc.raw.sparkSession
    spark.createDataFrame(
        [(int(enc.m), int(enc.k_sub), int(enc.dim))],
        "m int, k_sub int, dim int",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    enc.raw.write.mode("overwrite").parquet(f"{path}/raw")
    enc.dcols.write.mode("overwrite").parquet(f"{path}/dcols")
    enc.codes_long.write.mode("overwrite").parquet(f"{path}/codes")


def load_pq_encoding(spark, path: str) -> PQEncoding:
    """Read back a :func:`save_pq_encoding` artifact; geometry rides
    the meta row (the bloom-artifact rule), so a consumer can never
    probe reloaded codes with a mismatched layout."""
    meta = spark.read.parquet(f"{path}/meta").first()
    return PQEncoding(
        int(meta["m"]),
        int(meta["k_sub"]),
        int(meta["dim"]),
        spark.read.parquet(f"{path}/raw"),
        spark.read.parquet(f"{path}/dcols"),
        spark.read.parquet(f"{path}/codes"),
    )


def cosine_topk_pq(
    encoding: PQEncoding,
    k: int = 5,
    n_queries: int = 8,
    n_candidates: int = 128,
    allowed_pairs: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization approximate top-k (Jegou/Douze/Schmid, TPAMI
    2011): the memory-compression ANN scale path, searching a
    :func:`pq_encode` artifact (geometry, codebook and the zero-norm
    drop-out are documented there).

    ``allowed_pairs``: optional (query_id, vec_id) candidate pre-filter
    -- :func:`cosine_topk_ivfpq` passes the IVF probed-list membership
    here, restricting ADC to the probed fraction of the corpus.

    Every corpus vector is stored as m small codes.  At 100 TB this is
    the difference between scanning 256 bytes/vector of floats and
    4 bytes/vector of codes -- the candidate scan runs over a ~64x
    smaller table that fits executor memory, which is why PQ is the
    de-facto billion-vector format (FAISS IVFPQ).

    Search is the standard two-stage ADC (asymmetric distance
    computation) + exact re-rank:

    1. each query computes its distance TABLE to every sub-codebook
       entry (m x k_sub doubles -- broadcast);
    2. approximate distance to a corpus vector = fixed-order sum of the
       m table entries its codes select -- one equi-join of the code
       table against the broadcast query tables on (subspace, code),
       never a join on the raw vectors;
    3. the ``n_candidates`` best ADC candidates per query are re-ranked
       by EXACT cosine (a semi-join back to the raw vectors for the tiny
       candidate set), so returned cosines are exact and recall is the
       only approximation (pytest-gated vs the brute-force baseline).

    Determinism pinned for the value oracle: sub-distances and ADC sums
    round to 6 decimals with code-id / vec-id tie-breaks; the ADC sum is
    a FIXED-ORDER chain of the m per-subspace partial sums (never a
    float sum in row order, which engines order differently).
    """
    m = encoding.m
    raw, dcols, codes_long = encoding.raw, encoding.dcols, encoding.codes_long

    # query distance tables: the same relation restricted to the queries,
    # unpivoted and broadcast (n_queries * m * k_sub tiny rows)
    qtab = (
        dcols.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("code_id").alias("qcode"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("qj"), F.col(f"d{j}").alias("d")
                        )
                        for j in range(m)
                    ]
                )
            ).alias("x"),
        )
        .select(
            "query_id",
            F.col("x.qj").alias("qj"),
            "qcode",
            F.col("x.d").alias("d"),
        )
    )

    # ADC: equi-join the code relation against the broadcast query
    # tables; the total is the fixed-order chain s0 + s1 + ... of the m
    # single-row partial sums, so both engines add the same rounded
    # doubles in the same order
    partials = [
        F.sum(F.when(F.col("qj") == j, F.col("d"))).alias(f"_s{j}")
        for j in range(m)
    ]
    if allowed_pairs is None:
        joined = codes_long.join(
            F.broadcast(qtab),
            (F.col("j") == F.col("qj")) & (F.col("code") == F.col("qcode")),
        )
    else:
        # IVFPQ restriction: the candidate pre-filter joins BEFORE the
        # query tables, so the ADC fan-out is |allowed| * m rows instead
        # of corpus * queries * m -- the pruning that makes probing pay
        # at scale (a post-ADC filter would compute every distance
        # first and discard most of them)
        joined = codes_long.join(
            allowed_pairs.select(
                F.col("query_id").alias("al_q"),
                F.col("vec_id").alias("al_v"),
            ),
            F.col("vec_id") == F.col("al_v"),
        ).join(
            F.broadcast(qtab),
            (F.col("j") == F.col("qj"))
            & (F.col("code") == F.col("qcode"))
            & (F.col("query_id") == F.col("al_q")),
        )
    adc_grouped = (
        joined.filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "vec_id")
        .agg(*partials)
    )
    adc_total = None
    for j in range(m):
        term = F.col(f"_s{j}")
        adc_total = term if adc_total is None else adc_total + term
    wc = Window.partitionBy("query_id").orderBy(
        F.round(adc_total, 6).asc(), F.col("vec_id").asc()
    )
    cands = (
        adc_grouped.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= n_candidates)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )

    # exact re-rank of the tiny candidate set against the RAW vectors
    # (not the normalized copies: the oracle computes cosine on the raw
    # doubles, and dot(a/|a|, b/|b|) differs from dot(a,b)/(|a||b|) in
    # the last bits -- same value, different float)
    raw_q = raw.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb_raw").alias("q_emb")
    )
    scored = (
        cands.join(
            raw.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("emb_raw").alias("c_emb"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(raw_q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("q_emb", "c_emb"), 6).alias("cosine"),
        )
    )
    return _ranked_topk(scored, k)


def cosine_topk_ivfpq(
    embeddings: DataFrame,
    index: IVFIndex,
    encoding: PQEncoding,
    k: int = 5,
    n_queries: int = 8,
    n_probe: int = 3,
    n_candidates: int = 128,
) -> DataFrame:
    """IVF + PQ combined (the FAISS ``IVFPQ`` index, Jegou et al. TPAMI
    2011 sec. V): coarse quantizer routes, product quantizer scores.
    ``index`` is an :func:`ivf_assign` artifact and ``encoding`` a
    :func:`pq_encode` artifact over the same corpus.

    The two approximations compose multiplicatively at scale: IVF
    probing scans ~n_probe/n_centroids of the corpus, and PQ reads each
    scanned vector as m bytes of codes instead of dim floats -- the
    standard billion-vector operating point (scan 3/16 of a 64x-smaller
    table here).  Both stages reuse their standalone implementations:
    the IVF routing is the same broadcast-centroid routing as
    :func:`cosine_topk_ivf` (the index's 1-nearest corpus assignment,
    ``n_probe`` nearest per query, deterministic rounded-cosine +
    cent_id tie-break), and the scoring is :func:`cosine_topk_pq` with
    the probed-list membership passed as its ``allowed_pairs``
    pre-filter so the ADC join fans out over probed candidates only.
    Exact re-rank on the raw vectors, as in the PQ leg, so returned
    cosines are exact and recall is the only approximation
    (pytest-gated vs the brute-force baseline alongside ivf and pq).
    """
    cand = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .crossJoin(F.broadcast(index.cents))
        .select(
            F.col("vec_id").alias("query_id"),
            "cent_id",
            F.round(cosine("embedding", "cent_emb"), 6).alias("cent_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cent_sim").desc(), F.col("cent_id").asc()
    )
    probes = (
        cand.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n_probe)
        .select("query_id", "cent_id")
    )
    # the corpus side projects (vec_id, cent_id) from the
    # payload-riding assignment: the payload key only breaks ties that
    # already fix cent_id, so the elected cells are those of a
    # cent_id-only election
    allowed = probes.join(index.assigned, "cent_id").select(
        "query_id", "vec_id"
    )
    return cosine_topk_pq(
        encoding,
        k=k,
        n_queries=n_queries,
        n_candidates=n_candidates,
        allowed_pairs=allowed,
    )


def pq_train_codebook(
    embeddings: DataFrame,
    m: int = 16,
    k_sub: int = 32,
    n_iter: int = 5,
    dim: int = 64,
    init_offset: int = 200,
) -> DataFrame:
    """TRUE per-subspace PQ codebook training (the actual Jegou et al.
    recipe): an independent L2 k-means over each subspace's subvectors,
    returned as ``(code_id, cb_emb)`` where ``cb_emb`` concatenates code
    ``code_id``'s centroid across all ``m`` subspaces -- so the trained
    codebook drops straight into :func:`pq_encode`'s ``codebook=``
    (which slices per subspace again, recovering exactly the
    per-subspace centroids).  Pass ``codebook_prenormalized=True`` with
    it: the centroids already live in the normalized space, and the
    default renormalization would rescale each code by its own
    concatenated norm (see pq_encode's docstring).

    This fixes what full-vector k-means gets wrong for PQ (measured
    0.825 recall vs the corpus slice's 0.90 at sf0.1): clustering whole
    vectors collapses the codebook onto the corpus's ~10 latent cluster
    directions, while clustering each subspace separately keeps 32
    distinct entries PER SUBSPACE no matter how few global clusters
    exist.

    Distributed shape: ALL m k-means run in ONE Lloyd loop -- the
    exploded (vec, subspace, subvec) relation assigns against the
    broadcast (subspace, code, centroid) set with an equi-join ON
    SUBSPACE (never a cross of unrelated subspaces), and the new means
    come from one (subspace, code, position) aggregate; per iteration
    that is one broadcast join + one partial-agg shuffle regardless of
    m.  Centroids are normalized-space (training on the unit sphere,
    where :func:`cosine_topk_pq` measures distances); init is the
    deterministic corpus slice at ``init_offset`` -- the same convention
    as the untrained path, so improvement comes from Lloyd, not a
    seed change.  Empty clusters keep their previous centroid.
    """
    from ..functions.vectors import as_double_array, l2_norm

    dsub = dim // m
    raw = embeddings.select(
        "vec_id", as_double_array("embedding").alias("emb_raw")
    )
    step1 = raw.select("vec_id", "emb_raw", l2_norm("emb_raw").alias("_nrm"))
    # same zero-norm drop-out as pq_encode: NULL
    # normalized elements would make every per-subspace distance NULL,
    # and NULLS-FIRST window ordering would then assign code 0 -- or,
    # if a zero-norm vector fell inside the init slice, poison that
    # code's centroid to all-NULL and collapse iteration 1's assignment
    emb = step1.filter(F.col("_nrm") > 0).select(
        "vec_id",
        F.transform(
            F.col("emb_raw"),
            lambda x: x / F.col("_nrm"),
        ).alias("emb"),
    )
    subs = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice(F.col("emb"), j * dsub + 1, dsub).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("x"),
    ).select("vec_id", F.col("x.j").alias("j"), F.col("x.sv").alias("sv"))

    def sq_l2(a, b):
        diffs = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
        return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)

    cents = (
        emb.filter(
            (F.col("vec_id") >= init_offset)
            & (F.col("vec_id") < init_offset + k_sub)
        )
        .select(
            (F.col("vec_id") - init_offset).cast("int").alias("code_id"),
            F.col("emb").alias("e"),
        )
        .select(
            "code_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.slice(F.col("e"), j * dsub + 1, dsub).alias(
                                "cv"
                            ),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("x"),
        )
        .select("code_id", F.col("x.j").alias("j"), F.col("x.cv").alias("cv"))
        .localCheckpoint(eager=True)
    )
    for _ in range(n_iter):
        w = Window.partitionBy("vec_id", "j").orderBy(
            F.col("d").asc(), F.col("code_id").asc()
        )
        assigned = (
            subs.join(F.broadcast(cents), "j")
            .select(
                "vec_id",
                "j",
                "sv",
                "code_id",
                F.round(sq_l2(F.col("sv"), F.col("cv")), 9).alias("d"),
            )
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
        )
        means = (
            assigned.select("j", "code_id", F.posexplode("sv").alias("pos", "x"))
            .groupBy("j", "code_id", "pos")
            .agg(F.avg("x").alias("mx"))
            .groupBy("j", "code_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mx"))),
                    lambda s: s["mx"],
                ).alias("mv")
            )
        )
        cents = (
            cents.join(means, ["j", "code_id"], "left")
            .select(
                "j",
                "code_id",
                F.coalesce("mv", "cv").alias("cv"),
            )
            .localCheckpoint(eager=True)
        )
    # concatenate each code's per-subspace centroids back to a full-dim
    # vector (cosine_topk_pq re-slices identically)
    return (
        cents.groupBy("code_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "cv"))),
                    lambda s: s["cv"],
                )
            ).alias("cb_emb")
        )
    )
