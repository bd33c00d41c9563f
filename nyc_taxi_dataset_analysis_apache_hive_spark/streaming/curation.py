"""Streaming curation: continuous-ingest decontamination.

The batch operator (operators.dedup.ngram_overlap_contamination,
driver-gated as d7's ``overlap`` leg) flags eval-set leakage corpus-wide;
this module is its drop-zone form: documents ARRIVE as a stream, the
protected set's distinct n-grams (operators.dedup.corpus_gram_set --
materialized once per protected set) are the STATIC side of a
stream-static join, and per-document hit fractions aggregate under a
watermark.

Scale shape, per micro-batch:

* the stream side only ever holds the trigger's documents, exploded to
  their grams -- a narrow map;
* the stream-static join is stateless (no state store): the static gram
  set plans like any batch relation, broadcasting when it fits and
  shuffling on the gram key otherwise, exactly as the batch operator
  does;
* the only stateful operator is the windowed per-document aggregate, and
  its state is bounded by the watermark -- a document's partial counts
  are evicted once ``max(event time) - watermark`` passes its window.

The batch analog (:func:`decontam_batch`, same expressions minus the
watermark/window) equals the batch operator row for row -- the
stream/batch agreement test runs all three against each other.

Admitted documents can be tagged with their corpus placement at ingest:
``operators.sampling.assign_serving_keys`` is a stateless projection
(split_id + shard_id from the same salted-md5 expressions the batch
splitters use), so it composes with any stream here -- gated
stream≡batch in tests/test_shards.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

from ..functions.text import ngrams_from_tokens
from ..operators.dedup import token_table


def drop_zone_schema(table_schema: StructType) -> StructType:
    """A drop-zone file's schema: ``table_schema`` (a
    ``schema.TESTDATA_SCHEMAS`` entry) followed by the ``ts`` event-time
    column the stream operators window on.  A table column the files
    lack reads as NULL."""
    return StructType([*table_schema.fields, StructField("ts", TimestampType())])


def read_docs_stream(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-based stream over a parquet drop zone, read with the declared
    ``schema`` (``StructType`` or DDL string, usually
    :func:`drop_zone_schema`).  Opening the stream reads no footer and
    runs no job, and the monitor starts on an empty or not-yet-created
    drop zone."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def _doc_gram_rows(
    docs: DataFrame, ngram_n: int, text_col: str, ts_col: str | None
) -> DataFrame:
    """(doc_id[, ts], g) with one NULL-gram row per gram-less document
    (explode_outer keeps it, so short/empty docs stay in the report)."""
    return token_table(
        docs, text_col, keep=(ts_col,) if ts_col else ()
    ).select(
        "doc_id",
        *([F.col(ts_col).alias("_ts")] if ts_col else []),
        F.explode_outer(
            F.array_distinct(ngrams_from_tokens(F.col("toks"), ngram_n))
        ).alias("g"),
    )


def _report_projection(threshold: float) -> list:
    frac = F.col("n_hits").cast("double") / F.nullif(
        F.col("n_grams").cast("double"), F.lit(0.0)
    )
    return [
        F.col("doc_id"),
        F.col("n_grams"),
        F.col("n_hits"),
        F.round(frac, 6).alias("overlap_frac"),
        F.coalesce(F.round(frac, 6) >= F.lit(threshold), F.lit(False)).alias(
            "contaminated"
        ),
    ]


def decontam_stream(
    docs: DataFrame,
    corpus_grams: DataFrame,
    ngram_n: int = 8,
    threshold: float = 0.2,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window: str = "1 hour",
) -> DataFrame:
    """Per-document n-gram-overlap report over a document stream:
    (doc_id, n_grams, n_hits, overlap_frac, contaminated).

    ``corpus_grams`` is the protected set's distinct-gram table
    (operators.dedup.corpus_gram_set) -- STATIC: the join is stateless.
    Documents aggregate under ``window(ts_col)`` with ``watermark`` so
    per-doc partial state is evicted; a document arriving later than the
    watermark is dropped as late data -- standard streaming semantics.

    Contract: a document is expected to arrive WHOLE in one trigger.
    If the same doc_id's text is split across arrivals, the window
    aggregate still sums the pieces, but ``array_distinct`` runs per
    arrival -- grams repeated across pieces double-count in
    n_grams/n_hits and grams spanning a piece boundary are never formed,
    so the totals are additive over pieces, exact only when the pieces
    have disjoint gram sets.
    """
    grams = _doc_gram_rows(docs, ngram_n, text_col, ts_col)
    hit = corpus_grams.select("g").withColumn("_hit", F.lit(1))
    joined = grams.join(hit, on="g", how="left")
    agg = (
        joined.withWatermark("_ts", watermark)
        .groupBy(F.window("_ts", window), "doc_id")
        .agg(
            F.count("g").cast("long").alias("n_grams"),
            F.count("_hit").cast("long").alias("n_hits"),
        )
    )
    return agg.select(*_report_projection(threshold))


def decontam_batch(
    docs: DataFrame,
    corpus_grams: DataFrame,
    ngram_n: int = 8,
    threshold: float = 0.2,
    text_col: str = "text",
) -> DataFrame:
    """Batch analog: the same gram/join/aggregate expressions with no
    watermark or window -- equality-gated against both the stream and
    operators.dedup.ngram_overlap_contamination in tests."""
    grams = _doc_gram_rows(docs, ngram_n, text_col, ts_col=None)
    hit = corpus_grams.select("g").withColumn("_hit", F.lit(1))
    agg = (
        grams.join(hit, on="g", how="left")
        .groupBy("doc_id")
        .agg(
            F.count("g").cast("long").alias("n_grams"),
            F.count("_hit").cast("long").alias("n_hits"),
        )
    )
    return agg.select(*_report_projection(threshold))


# ---------------------------------------------------------------------------
# Streaming DSIR admission (r9): score arriving documents against a
# PERSISTED importance model (operators.sampling.dsir_fit) and admit the
# target-like ones -- the continuous-ingest form of the batch selection
# (s7's op='dsir' leg).  Where the batch operator can run a global
# Gumbel-top-k, a stream cannot rank against documents it has not seen,
# so the streaming analog is the THRESHOLD form: admitted =
# dsir_score_micro >= threshold_micro, the same shape quality_weighted
# admission takes.  Scoring is a stateless stream-static join (the
# <= n_buckets-row model broadcasts); the only state is the watermarked
# per-document window aggregate.
# ---------------------------------------------------------------------------


def _dsir_score_agg(rows: DataFrame, grouping: list) -> DataFrame:
    """Shared stream/batch aggregate: per-doc micro-score as an
    order-independent BIGINT sum (absent model buckets and the
    explode_outer NULL-bucket row both contribute 0 -- empty docs score
    0, exactly the batch operator's gram-less policy)."""
    return rows.groupBy(*grouping).agg(
        F.sum(F.coalesce("lr_micro", F.lit(0).cast("long"))).alias(
            "dsir_score_micro"
        )
    )


def _admission_projection(threshold_micro: int) -> list:
    return [
        F.col("doc_id"),
        F.col("dsir_score_micro"),
        (F.col("dsir_score_micro") >= F.lit(int(threshold_micro))).alias(
            "admitted"
        ),
    ]


def dsir_admission_stream(
    docs: DataFrame,
    model: DataFrame,
    threshold_micro: int = 0,
    n_buckets: int = 1024,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window: str = "1 hour",
) -> DataFrame:
    """(doc_id, dsir_score_micro, admitted) over a document stream.

    ``model`` is the (bucket, lr_micro) table from
    ``operators.sampling.dsir_fit`` -- static, so the join is stateless
    and the featurization is the SAME ``dsir_bucket_rows`` the batch
    operators use (one definition; a stream and a batch scoring the same
    document get the same integer score, equality-gated in
    tests/test_dsir.py).  Same whole-document arrival contract and
    watermark/window semantics as :func:`decontam_stream`.
    """
    from ..operators.sampling import dsir_bucket_rows

    rows = dsir_bucket_rows(
        docs.withColumn("_ts", F.col(ts_col)),
        text_col,
        "doc_id",
        n_buckets,
        extra_cols=("_ts",),
        outer=True,
    ).join(model.select("bucket", "lr_micro"), on="bucket", how="left")
    agg = _dsir_score_agg(
        rows.withWatermark("_ts", watermark),
        [F.window("_ts", window), F.col("_id").alias("doc_id")],
    )
    return agg.select(*_admission_projection(threshold_micro))


def dsir_admission_batch(
    docs: DataFrame,
    model: DataFrame,
    threshold_micro: int = 0,
    n_buckets: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """Batch analog: identical expressions minus the watermark/window --
    equality-gated against the stream AND against the batch operator's
    scores (sampling.dsir_select) in tests."""
    from ..operators.sampling import dsir_bucket_rows

    rows = dsir_bucket_rows(
        docs, text_col, "doc_id", n_buckets, outer=True
    ).join(model.select("bucket", "lr_micro"), on="bucket", how="left")
    agg = _dsir_score_agg(rows, [F.col("_id").alias("doc_id")])
    return agg.select(*_admission_projection(threshold_micro))


# ---------------------------------------------------------------------------
# Streaming semantic admission (r12): the continuous-ingest form of
# operators.similarity.semantic_admit_batch (k3's op='admit' leg).
# Vectors ARRIVE as a stream; the centroid index is folded into a
# LITERAL array so cell assignment is a stateless per-row projection
# (no aggregate, no shuffle -- the compact_plan literal-plan precedent);
# the persisted (vec_id, cent_id, emb_n) corpus state is the STATIC
# side of a cent_id equi-join (stateless); the only stateful operator
# is the watermarked per-vector best-match aggregate, state bounded by
# the watermark exactly as decontam_stream's.
# ---------------------------------------------------------------------------


#: ceiling on the centroid-index size the streaming form accepts: the
#: index is folded into a LITERAL array evaluated per row, so both the
#: plan size and the per-row assignment cost are O(n_centroids) by
#: construction -- the design regime is a compact index (tens to low
#: hundreds of cells), not a trained 64k-cell IVF index.  Past this,
#: use the batch operator (broadcast-join assignment) per micro-batch
#: or a coarse-to-fine two-level index.
STREAM_MAX_CENTROIDS = 256


def _centroid_literal(centroids: DataFrame):
    """array<struct<cent_id, cent_emb>> literal from the tiny centroid
    table, ascending cent_id (n_centroids driver rows -- the same class
    of driver collect as compact_plan's literal map).  Centroids with a
    NULL embedding are dropped here: they have no direction, so they can
    never win the max-cosine assignment (their cosine is NULL in the
    batch operator too).  Raises past :data:`STREAM_MAX_CENTROIDS`:
    the literal plan and the per-row fold are both linear in the index
    size, so a large trained index must not ride this code path."""
    rows = sorted(
        (
            r
            for r in centroids.select("cent_id", "cent_emb").collect()
            # a NULL element makes the centroid directionless too (its
            # cosine is NULL in the batch operator and never wins the
            # argmax) -- skip it instead of crashing float() on None
            if r["cent_emb"] is not None
            and all(x is not None for x in r["cent_emb"])
        ),
        key=lambda r: r["cent_id"],
    )
    if not rows:
        raise ValueError(
            "semantic admission needs at least one non-NULL centroid"
        )
    if len(rows) > STREAM_MAX_CENTROIDS:
        raise ValueError(
            f"semantic_admission_stream folds the centroid index into a "
            f"per-row literal; {len(rows)} centroids exceed the "
            f"{STREAM_MAX_CENTROIDS}-cell design regime -- use the batch "
            f"operator's broadcast-join assignment for large indexes"
        )
    return F.array(
        *[
            F.struct(
                F.lit(int(r["cent_id"])).cast("long").alias("cent_id"),
                F.array(*[F.lit(float(x)) for x in r["cent_emb"]])
                .cast("array<double>")
                .alias("cent_emb"),
            )
            for r in rows
        ]
    )


def _assigned_rows(
    vecs: DataFrame, cent_arr, vec_col: str, ts_col: str | None
) -> DataFrame:
    """(vec_id[, _ts], cent_id, emb_n): stateless per-row assignment.

    The fold keeps (best rounded cosine, cent_id); strict ``>`` over the
    ascending-cent_id literal array reproduces assign_to_centroids'
    ordering struct (highest cosine, ties to the LOWEST cent_id).  A
    NULL/zero-norm vector has NULL cosine against every centroid, so the
    accumulator never advances: cent_id stays NULL and emb_n NULL -- the
    batch report's no-unit-vector policy.

    PERF: the cosines are computed ONCE into a (sim, cent_id) struct
    array (one transform) and the fold compares struct FIELDS -- a fold
    whose lambda re-derived ``sim(c)`` at each of its reference sites
    would pay ~3x n_centroids dot-product folds per row (HOF lambdas
    get no subexpression elimination)."""
    from ..functions.vectors import as_double_array, cosine, l2_norm

    step1 = vecs.select(
        "vec_id",
        *([F.col(ts_col).alias("_ts")] if ts_col else []),
        as_double_array(vec_col).alias("_emb"),
        l2_norm(vec_col).alias("_nrm"),
    )
    sims = F.transform(
        cent_arr,
        lambda c: F.struct(
            F.round(cosine(F.col("_emb"), c["cent_emb"]), 6).alias("s"),
            c["cent_id"].alias("i"),
        ),
    )
    assign = F.aggregate(
        sims,
        F.struct(
            F.lit(None).cast("double").alias("s"),
            F.lit(None).cast("long").alias("i"),
        ),
        lambda acc, c: F.when(
            c["s"].isNotNull() & (acc["s"].isNull() | (c["s"] > acc["s"])),
            c,
        ).otherwise(acc),
    )
    return step1.select(
        "vec_id",
        *(["_ts"] if ts_col else []),
        assign["i"].alias("cent_id"),
        F.when(
            F.col("_nrm") > 0,
            F.transform("_emb", lambda x: x / F.col("_nrm")),
        ).alias("emb_n"),
    )


def _admit_best_agg(
    joined: DataFrame, grouping: list, threshold: float
) -> DataFrame:
    """Shared stream/batch best-match aggregate: max over the
    (cosine, -match_id) struct = highest cosine, ties to the LOWEST
    history id (semantic_admit_batch's min_by idiom mirrored).

    NULL-cosine candidates (a state row with NULL elements or a
    different dimensionality -- zip_with pads with NULL) are excluded
    from the election via the when(): without it, an all-NULL-cosine
    cell would fall through to the -match_id tie-break and elect a real
    history id where the batch operator (which filters NULL cosines
    before its min_by) reports no match -- the three-way equality
    contract would break.  ``max`` skips NULL structs, so no-match rows
    still yield the NULL verdict."""
    agg = joined.groupBy(*grouping).agg(
        F.max(
            F.when(
                F.col("__cos").isNotNull(),
                F.struct(
                    F.col("__cos").alias("c"),
                    (-F.col("match_id")).alias("nm"),
                ),
            )
        ).alias("best")
    )
    return agg.select(
        "vec_id",
        "cent_id",
        (-F.col("best.nm")).alias("match_id"),
        F.col("best.c").alias("cosine"),
        (
            F.col("best.c").isNull()
            | (F.col("best.c") < F.lit(float(threshold)))
        ).alias("admitted"),
    )


def semantic_admission_stream(
    vecs: DataFrame,
    state: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window: str = "1 hour",
) -> DataFrame:
    """(vec_id, cent_id, match_id, cosine, admitted) over an embedding
    stream: is each arriving vector semantically near-identical to
    something already in the corpus?

    ``state`` is the persisted (vec_id, cent_id, emb_n) assignment table
    (operators.similarity.assign_to_centroids' output / the ``state``
    a prior semantic_admit_batch returned) and ``centroids`` the SAME
    index it was assigned under -- both STATIC.  Per micro-batch: cell
    assignment is a pure projection (the centroid literal), the
    within-cell candidate lookup a stream-static equi-join on cent_id
    (a NULL-cell vector joins nothing and admits with no match), and
    the per-vector best-match reduction the one watermarked stateful
    aggregate.  Same whole-arrival contract as :func:`decontam_stream`;
    the batch analog (:func:`semantic_admission_batch`) is
    equality-gated against the k3-gated batch operator's report.

    Contract difference vs the batch operator: the best-match GROUP BY
    collapses duplicate arrivals of the same vec_id to ONE verdict row
    per (vec_id, cell) per window (dedup-at-ingest semantics -- a
    stream cannot re-emit per input row without carrying multiplicity
    state), where ``semantic_admit_batch`` mirrors the batch multiset.
    Verdict VALUES agree; only row multiplicity differs for duplicated
    ids (pytest-pinned).

    Index-size regime: the literal-array assignment is designed for a
    COMPACT index and raises past :data:`STREAM_MAX_CENTROIDS` cells
    (plan size and per-row cost are both O(n_centroids)); a large
    trained IVF index belongs on the batch operator's broadcast-join
    path, not here.
    """
    cent_arr = _centroid_literal(centroids)
    assigned = _assigned_rows(vecs, cent_arr, vec_col, ts_col)
    joined = _admit_join(assigned, state)
    return _admit_best_agg(
        joined.withWatermark("_ts", watermark),
        [F.window("_ts", window), "vec_id", "cent_id"],
        threshold,
    )


def _admit_join(assigned: DataFrame, state: DataFrame) -> DataFrame:
    from ..functions.vectors import dot

    h = state.select(
        F.col("cent_id"),
        F.col("vec_id").alias("match_id"),
        F.col("emb_n").alias("__h_emb"),
    )
    return assigned.join(h, on="cent_id", how="left").withColumn(
        "__cos", F.round(dot("emb_n", "__h_emb"), 6)
    )


def semantic_admission_batch(
    vecs: DataFrame,
    state: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch analog: identical expressions minus the watermark/window --
    equality-gated against the stream AND against
    operators.similarity.semantic_admit_batch's report in tests."""
    cent_arr = _centroid_literal(centroids)
    assigned = _assigned_rows(vecs, cent_arr, vec_col, ts_col=None)
    joined = _admit_join(assigned, state)
    return _admit_best_agg(joined, ["vec_id", "cent_id"], threshold)


# ---------------------------------------------------------------------------
# Streaming VERBATIM-SPAN decontamination (r14): the drop-zone form of
# dedup.cross_corpus_span_contamination (d7's ``spans`` leg).  The
# protected set's POSITIONAL gram index is built once offline
# (:func:`protected_span_index` -- the document-frequency cap is
# index-side by construction: a stream cannot re-count df against
# documents it has not seen); arriving documents join it statelessly on
# the gram, and the diagonal gaps-and-islands -- a WINDOW function in
# the batch operator, unavailable on a stream -- becomes a
# collect_list + array_sort + aggregate() HOF per (probe, corpus) pair
# inside the one watermarked aggregate.  State is bounded: per pair,
# the hit list (diff, pos) -- capped by the probe's gram count -- until
# the watermark closes its window.
# ---------------------------------------------------------------------------


def protected_span_index(
    corpus: DataFrame,
    span_window: int | None = None,
    max_gram_docs: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """(corpus_id, pa, g): the protected set's cold positional grams --
    materialize this once per protected set (it is the static side of
    every span_decontam join)."""
    from ..operators.dedup import (
        SPAN_MAX_GRAM_DOCS,
        SPAN_WINDOW,
        _cold_positional_grams,
        positional_ngrams,
    )

    w = SPAN_WINDOW if span_window is None else span_window
    cap = SPAN_MAX_GRAM_DOCS if max_gram_docs is None else max_gram_docs
    cold = _cold_positional_grams(
        positional_ngrams(token_table(corpus, text_col), w), cap
    )
    return cold.select(
        F.col("doc_id").alias("corpus_id"), F.col("pos").alias("pa"), "g"
    )


def _span_hit_rows(
    docs: DataFrame,
    span_index: DataFrame,
    span_window: int,
    text_col: str,
    ts_col: str | None,
) -> DataFrame:
    """(probe_id[, _ts], corpus_id, diff, pb) diagonal hit rows, plus
    one NULL-corpus HEARTBEAT row per document.

    The heartbeat is a liveness requirement, not padding: hit rows come
    out of an INNER join (the scale-correct shape -- non-matching grams,
    the vast majority, die at the join instead of becoming aggregate
    state), so a micro-batch of entirely CLEAN documents would otherwise
    contribute no rows past the join, the event-time watermark would
    never see the batch's timestamps, and the windows holding earlier
    hits would never close.  One row per document carries ``_ts``
    through unconditionally; its (probe, NULL-corpus) group folds to
    n_spans = 0 and the final filter drops it."""
    toked = token_table(
        docs, text_col, keep=(ts_col,) if ts_col else ()
    ).select(
        F.col("doc_id").alias("probe_id"),
        *([F.col(ts_col).alias("_ts")] if ts_col else []),
        "toks",
    )
    grams = toked.select(
        "probe_id",
        *(["_ts"] if ts_col else []),
        F.posexplode(ngrams_from_tokens(F.col("toks"), span_window)).alias(
            "pb", "g"
        ),
    )
    nulll = F.lit(None).cast("long")
    hits = grams.join(span_index, on="g").select(
        "probe_id",
        *(["_ts"] if ts_col else []),
        "corpus_id",
        (F.col("pa") - F.col("pb")).cast("long").alias("diff"),
        F.col("pb").cast("long").alias("pb"),
    )
    heartbeat = toked.select(
        "probe_id",
        *(["_ts"] if ts_col else []),
        nulll.alias("corpus_id"),
        nulll.alias("diff"),
        nulll.alias("pb"),
    )
    return hits.unionByName(heartbeat)


def _span_run_cols(
    span_window: int, min_span: int, with_corpus: bool = False
) -> list:
    """n_spans / max_span_tokens from the sorted (diff, pb) hit array:
    a left fold (aggregate HOF) replays the batch operator's diagonal
    islands -- a run continues when diff repeats and pb steps by one;
    a closing run of length L counts iff L + w - 1 >= min_span.  Pure
    expression, so it runs inside a streaming aggregate projection.

    ``with_corpus`` (r15): the quarantine surface groups by PROBE only
    (one verdict per document needs one stateful aggregate -- a second
    per-probe max over pair rows would chain stateful operators), so
    hits from every corpus partner share one sorted array and the run
    continuation additionally requires the corpus_id to repeat --
    diagonals never splice across partners."""
    w1 = span_window - 1
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        *([F.lit(None).cast("long").alias("pc")] if with_corpus else []),
        F.lit(None).cast("long").alias("pd"),
        F.lit(None).cast("long").alias("pp"),
        zero.alias("cur"),
        zero.alias("mx"),
        zero.alias("ns"),
    )

    def merge(acc, x):
        same_key = (x["diff"] == acc["pd"]) & (x["pb"] == acc["pp"] + 1)
        if with_corpus:
            same_key = (x["corpus_id"] == acc["pc"]) & same_key
        cont = F.coalesce(same_key, F.lit(False))
        # a heartbeat element (NULL diff -- the liveness row unioned in
        # by _span_hit_rows) CLOSES any open run and contributes no run
        # of its own; without this a heartbeat would fold as a length-1
        # run and fabricate a span whenever min_span <= span_window
        run = F.when(x["diff"].isNull(), F.lit(0).cast("long")).otherwise(
            F.when(cont, acc["cur"] + 1).otherwise(F.lit(1).cast("long"))
        )
        closed_qualifying = (
            (~cont) & (acc["cur"] > 0) & (acc["cur"] + w1 >= min_span)
        )
        return F.struct(
            *([x["corpus_id"].alias("pc")] if with_corpus else []),
            x["diff"].alias("pd"),
            x["pb"].alias("pp"),
            run.alias("cur"),
            F.greatest(acc["mx"], run).alias("mx"),
            F.when(closed_qualifying, acc["ns"] + 1)
            .otherwise(acc["ns"])
            .alias("ns"),
        )

    def finish(acc):
        last_qualifies = (acc["cur"] > 0) & (acc["cur"] + w1 >= min_span)
        return F.struct(
            F.when(last_qualifies, acc["ns"] + 1)
            .otherwise(acc["ns"])
            .alias("n_spans"),
            (acc["mx"] + w1).cast("long").alias("max_run_span"),
        )

    folded = F.aggregate(F.col("hits_arr"), acc0, merge, finish)
    return [
        folded["n_spans"].cast("long").alias("n_spans"),
        F.when(folded["n_spans"] > 0, folded["max_run_span"])
        .alias("max_span_tokens"),
    ]


def span_decontam_stream(
    docs: DataFrame,
    span_index: DataFrame,
    span_window: int | None = None,
    min_span: int | None = None,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    agg_window: str = "1 hour",
) -> DataFrame:
    """Per-(probe, corpus) verbatim-span report over a document stream:
    (probe_id, corpus_id, n_spans, max_span_tokens), pairs with at least
    one span >= ``min_span`` only -- the streaming twin of
    dedup.cross_corpus_span_contamination against a prebuilt
    :func:`protected_span_index`.

    Same whole-document arrival contract as :func:`decontam_stream`: a
    doc split across triggers never forms grams across the boundary, and
    pieces landing in different windows island independently.

    Probe-side fan-out guard (r15, ADVICE): the document-frequency cap
    is INDEX-side only -- a stream cannot re-count df against documents
    it has not seen, and a per-trigger probe-side count would diverge
    from the batch operator's corpus-wide cap -- so a gram hot only
    among ARRIVING documents still inflates the hit join.  Instead of
    guessing, every trigger reports ``observedMetrics['span_probe_guard']``
    (n_docs, hit_rows) in its StreamingQueryProgress: hit_rows growing
    superlinearly in n_docs is the boilerplate-heavy-batch signature,
    and the monitor sees it the trigger it happens instead of the join
    silently ballooning."""
    from ..operators.dedup import SPAN_MIN_TOKENS, SPAN_WINDOW

    w = SPAN_WINDOW if span_window is None else span_window
    ms = SPAN_MIN_TOKENS if min_span is None else min_span
    hits = _span_hit_rows(docs, span_index, w, text_col, ts_col).observe(
        "span_probe_guard",
        # heartbeat rows are exactly one per document (NULL corpus), so
        # the same pass counts documents and join fan-out
        F.sum(F.col("corpus_id").isNull().cast("long")).alias("n_docs"),
        F.sum(F.col("corpus_id").isNotNull().cast("long")).alias("hit_rows"),
    )
    # NOTE: do NOT filter the heartbeat rows out here -- a deterministic
    # filter gets pushed BELOW the EventTimeWatermark node by the
    # optimizer, starving the watermark exactly the way the heartbeat
    # exists to prevent (observed: the last micro-batches' pairs never
    # flushed).  The fold itself treats NULL-diff elements as run
    # closers that contribute nothing, and the heartbeat's
    # (probe, NULL-corpus) group dies at the n_spans > 0 filter.
    agg = (
        hits.withWatermark("_ts", watermark)
        .groupBy(F.window("_ts", agg_window), "probe_id", "corpus_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("diff", "pb"))).alias(
                "hits_arr"
            )
        )
    )
    return agg.select(
        "probe_id", "corpus_id", *_span_run_cols(w, ms)
    ).filter(F.col("n_spans") > 0)


def span_decontam_batch(
    docs: DataFrame,
    span_index: DataFrame,
    span_window: int | None = None,
    min_span: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Batch analog: the same hit/fold expressions with no watermark or
    window.  Equals the batch operator
    (dedup.cross_corpus_span_contamination) whenever the operator's
    both-sides document-frequency cap and the index-side cap agree --
    i.e. whenever no gram is hot on the probe side alone (the
    stream≡batch≡operator test runs on such a corpus; the cap-side
    difference is the documented deployment trade)."""
    from ..operators.dedup import SPAN_MIN_TOKENS, SPAN_WINDOW

    w = SPAN_WINDOW if span_window is None else span_window
    ms = SPAN_MIN_TOKENS if min_span is None else min_span
    hits = _span_hit_rows(docs, span_index, w, text_col, ts_col=None)
    agg = hits.groupBy("probe_id", "corpus_id").agg(
        F.array_sort(F.collect_list(F.struct("diff", "pb"))).alias("hits_arr")
    )
    return agg.select(
        "probe_id", "corpus_id", *_span_run_cols(w, ms)
    ).filter(F.col("n_spans") > 0)


def span_quarantine_stream(
    docs: DataFrame,
    span_index: DataFrame,
    quarantine_tokens: int | None = None,
    span_window: int | None = None,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    agg_window: str = "1 hour",
) -> DataFrame:
    """Per-DOCUMENT quarantine verdicts over a document stream:
    (probe_id, max_span_tokens), only for documents whose longest
    verbatim span against the protected set reaches
    ``quarantine_tokens`` -- the drop-zone posture of span decontam
    (r15, carried from the r14 verdict): a training-data gate wants
    "hold this document back", not a pair report, and this emits
    exactly the rows a quarantine sink should divert.

    One stateful aggregate on purpose: grouping by probe only (corpus
    partners share one sorted hit array; the fold's run continuation
    additionally keys on corpus_id so diagonals never splice across
    partners) keeps append mode to a single stateful operator instead
    of chaining a per-probe max over the pair aggregate.  The batch
    scrub equivalence is gated in tests: on a corpus with no
    probe-side-only hot grams and no probe-probe shared spans, the
    quarantined set at threshold t == the documents
    dedup.span_scrub_stats(min_span=t) would cut text from (the
    keep-first batch decision this stream enforces online)."""
    from ..operators.dedup import SPAN_MIN_TOKENS, SPAN_WINDOW

    w = SPAN_WINDOW if span_window is None else span_window
    qt = SPAN_MIN_TOKENS if quarantine_tokens is None else quarantine_tokens
    hits = _span_hit_rows(docs, span_index, w, text_col, ts_col)
    # same do-not-filter-the-heartbeat rule as span_decontam_stream
    agg = (
        hits.withWatermark("_ts", watermark)
        .groupBy(F.window("_ts", agg_window), "probe_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("corpus_id", "diff", "pb"))
            ).alias("hits_arr")
        )
    )
    return (
        agg.select("probe_id", *_span_run_cols(w, qt, with_corpus=True))
        .filter(F.col("n_spans") > 0)
        .select("probe_id", "max_span_tokens")
    )


def span_quarantine_batch(
    docs: DataFrame,
    span_index: DataFrame,
    quarantine_tokens: int | None = None,
    span_window: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Batch analog of :func:`span_quarantine_stream`: the same
    hit/fold expressions with no watermark or window -- the
    stream-equality anchor."""
    from ..operators.dedup import SPAN_MIN_TOKENS, SPAN_WINDOW

    w = SPAN_WINDOW if span_window is None else span_window
    qt = SPAN_MIN_TOKENS if quarantine_tokens is None else quarantine_tokens
    hits = _span_hit_rows(docs, span_index, w, text_col, ts_col=None)
    agg = hits.groupBy("probe_id").agg(
        F.array_sort(
            F.collect_list(F.struct("corpus_id", "diff", "pb"))
        ).alias("hits_arr")
    )
    return (
        agg.select("probe_id", *_span_run_cols(w, qt, with_corpus=True))
        .filter(F.col("n_spans") > 0)
        .select("probe_id", "max_span_tokens")
    )


# ---------------------------------------------------------------------------
# Streaming Bloom-prescreened exact-dedup admission (r14): the drop-zone
# form of dedup.bloom_fingerprint_admission.  Fully STATELESS -- the
# portable bloom row and the history fingerprint table are both static
# sides, the probe is a broadcast cross join + forall, and only the
# candidate slice joins the history -- so there is no watermark, no
# state store, and append mode emits every document the trigger it
# arrives (admission decisions should not wait for a window to close).
# ---------------------------------------------------------------------------


def _bloom_probe_rows(
    docs: DataFrame,
    bloom_bits: DataFrame,
    history_fps: DataFrame,
    text_col: str,
    ts_col: str | None,
    materialize_probe: bool,
) -> DataFrame:
    """Thin adapter over the ONE shared election
    (operators.dedup.bloom_admission_rows) -- the stream and the batch
    operator must never re-spell the dup/fp/clean classification
    independently.  This only normalizes the ts passthrough."""
    from ..operators.dedup import _bloom_artifact_geometry, bloom_admission_rows

    k, m = _bloom_artifact_geometry(bloom_bits)
    if ts_col:
        docs = docs.withColumn("ts", F.col(ts_col))
    return bloom_admission_rows(
        docs,
        bloom_bits,
        history_fps,
        k=k,
        m=m,
        text_col=text_col,
        passthrough=("ts",) if ts_col else (),
        materialize_probe=materialize_probe,
        broadcast_history=True,
    )


def bloom_admission_stream(
    docs: DataFrame,
    bloom_bits: DataFrame,
    history_fps: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-document exact-dedup admission over a document stream:
    (doc_id, ts, fp, bloom_candidate, duplicate_exact, admitted).

    ``bloom_bits`` (one row, :func:`..operators.dedup.bloom_filter_build`)
    and ``history_fps`` (dedup.history_fingerprints -- use the helper:
    it pins the NULL-text coalesce the filter build applies, and any
    other spelling silently diverges the class partition) are the
    maintained static artifacts; (k, m) come from the artifact, as in
    the batch operator (a bits-only artifact raises at setup, not as
    silent false negatives).

    The history join broadcasts here because the candidate slice is
    tiny; at a history too large to broadcast, drop the hint and let
    the candidates shuffle -- the bloom's job is precisely that the
    CLEAN majority never reaches that join either way."""
    return _bloom_probe_rows(
        docs,
        bloom_bits,
        history_fps,
        text_col,
        ts_col,
        # streaming frames cannot checkpoint; the micro-batch's narrow
        # probe recomputing across the two branches is the cheap trade
        materialize_probe=False,
    )


def bloom_admission_batch(
    docs: DataFrame,
    bloom_bits: DataFrame,
    history_fps: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Batch analog: the same expressions with no ts column --
    equality-gated against the stream AND the batch operator
    (dedup.bloom_fingerprint_admission) in tests."""
    return _bloom_probe_rows(
        docs,
        bloom_bits,
        history_fps,
        text_col,
        ts_col=None,
        materialize_probe=True,
    )
