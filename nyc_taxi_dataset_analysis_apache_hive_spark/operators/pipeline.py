"""End-to-end corpus curation: the composition a 100-TB training-data run
actually executes, built from this package's stages.

    profile (1 scan)  ->  hygiene features (1 fused scan: C4/Gopher rules
    + staged PII counts)  ->  near-dup clusters (MinHash LSH -> connected
    components)  ->  canonical election AMONG HYGIENE SURVIVORS
    ->  deterministic train/val/test split (md5 hash)

``curate_corpus`` returns ONE row per input document with every feature,
the per-rule drop flags, the dedup decision, and the split -- the audit
table a data curator filters on (``WHERE keep``) and reports from.
Materializing decisions instead of dropping rows is deliberate: at scale
the audit table is the artifact reviews and ablations need, and the final
filter is one cheap predicate over it.

Canonical election order matters: hygiene runs FIRST, and each near-dup
cluster keeps its lowest-id document among the rows that PASSED hygiene --
electing before hygiene would silently lose a whole cluster's content
whenever its min-id copy happened to be the dirty one.

Plan shape: two corpus text scans (the fused profile and the fused
hygiene featuriser -- their feature sets need different materialized
intermediates, token arrays vs line arrays + redaction stages); the only
shuffles are the dedup pipeline's (banded LSH equi-joins -- never
all-pairs), the doc_id joins, and one tiny cluster-keyed aggregate for
the election, all AQE-managed.  Nothing touches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup, sampling, textops


#: default hygiene thresholds -- the public C4/Gopher-style screens, all
#: overridable per call.  A document is kept when EVERY bound holds.
DEFAULT_RULES: dict[str, float] = {
    "min_tokens": 5,
    "max_dup_line_frac": 0.3,
    "min_quality_score": 0.2,
    "max_pii_hits": 10,
}


def curate_corpus(
    docs: DataFrame,
    rules: dict[str, float] | None = None,
    jaccard_threshold: float | None = None,
    split_weights: tuple[float, ...] = (0.98, 0.01, 0.01),
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-document curation decisions over the whole corpus.

    Returns (doc_id, n_tokens_ws, quality_score, lang_pred, dup_line_frac,
    n_pii_hits, cluster_id, hygiene_ok, is_canonical, drop_short,
    drop_repetitive, drop_low_quality, drop_pii_heavy, keep, split_id):
    every signal that produced the decision plus the decision itself.

    ``hygiene_ok`` = passes every rule in :data:`DEFAULT_RULES` (overridden
    by ``rules`` -- unknown rule names raise, a typo must not silently
    curate with defaults).  ``is_canonical`` = this doc is its near-dup
    cluster's elected keeper: the MIN doc_id among the cluster's
    hygiene-passing members (so a cluster whose lowest-id copy is dirty
    still keeps its cleanest duplicate).  ``keep = hygiene_ok AND
    is_canonical``.

    ``pairs=`` is the compute-once hook: pass a precomputed near-dup pair table
    (doc_a, doc_b) -- e.g. one checkpointed ``minhash_lsh_pairs``
    result feeding both this funnel and :func:`curation_report`'s
    leakage audit -- and the LSH stage is skipped.  Because the pair
    table then DEFINES the dedup semantics, passing ``pairs=`` together
    with ANY explicit ``jaccard_threshold`` raises (None sentinel, so
    even an explicit 0.5 is caught): the threshold would be silently
    ignored, and a caller who set both almost certainly built the pair
    table at a different threshold than the one they are now asking
    for.  ``jaccard_threshold`` defaults to 0.5 when the LSH stage
    runs here.
    """
    if pairs is not None and jaccard_threshold is not None:
        raise ValueError(
            "curate_corpus: pairs= supplies the precomputed near-dup "
            "pair table, so jaccard_threshold is ignored -- build the "
            "pair table at the threshold you want instead of passing both"
        )
    if jaccard_threshold is None:
        jaccard_threshold = 0.5
    r = {**DEFAULT_RULES, **(rules or {})}
    unknown = set(r) - set(DEFAULT_RULES)
    if unknown:
        raise ValueError(
            f"unknown curation rules {sorted(unknown)}; "
            f"valid: {sorted(DEFAULT_RULES)}"
        )

    # text_profile carries lang_true for evaluation corpora; raw corpora
    # often have no lang column, so synthesize a NULL one for that stage
    with_lang = (
        docs
        if "lang" in docs.columns
        else docs.withColumn("lang", F.lit(None).cast("string"))
    )
    profile = textops.text_profile(with_lang).select(
        "doc_id", "n_tokens_ws", "quality_score", "lang_pred"
    )
    hygiene = textops.hygiene_features(docs).select(
        "doc_id",
        "dup_line_frac",
        (F.col("n_email") + F.col("n_ip") + F.col("n_phone")).alias("n_pii_hits"),
    )
    if pairs is None:
        pairs = dedup.minhash_lsh_pairs(
            docs, jaccard_threshold=jaccard_threshold
        )
    clusters = dedup.dedup_keep_list(docs, pairs).select("doc_id", "cluster_id")
    split = sampling.hash_split(
        docs.select("doc_id"), "doc_id", weights=split_weights
    )

    drop_short = F.col("n_tokens_ws") < r["min_tokens"]
    drop_rep = F.col("dup_line_frac") > r["max_dup_line_frac"]
    drop_quality = F.col("quality_score") < r["min_quality_score"]
    drop_pii = F.col("n_pii_hits") > r["max_pii_hits"]

    flagged = (
        profile.join(hygiene, "doc_id")
        .join(clusters, "doc_id")
        .join(split, "doc_id")
        .select(
            "*",
            drop_short.alias("drop_short"),
            drop_rep.alias("drop_repetitive"),
            drop_quality.alias("drop_low_quality"),
            drop_pii.alias("drop_pii_heavy"),
            (~drop_short & ~drop_rep & ~drop_quality & ~drop_pii).alias(
                "hygiene_ok"
            ),
        )
    )
    # canonical election among hygiene survivors: one tiny cluster-keyed
    # aggregate (O(docs) in, O(clusters) out) + a co-keyed join
    keepers = (
        flagged.filter(F.col("hygiene_ok"))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("_keeper_id"))
    )
    return (
        flagged.join(keepers, "cluster_id", "left")
        .select(
            "*",
            (F.col("doc_id") == F.col("_keeper_id")).alias("_is_keeper"),
        )
        .select(
            "doc_id",
            "n_tokens_ws",
            "quality_score",
            "lang_pred",
            "dup_line_frac",
            "n_pii_hits",
            "cluster_id",
            "hygiene_ok",
            F.coalesce("_is_keeper", F.lit(False)).alias("is_canonical"),
            "drop_short",
            "drop_repetitive",
            "drop_low_quality",
            "drop_pii_heavy",
            (F.col("hygiene_ok") & F.coalesce("_is_keeper", F.lit(False))).alias(
                "keep"
            ),
            "split_id",
        )
    )


def curation_report(
    curated: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """One-row funnel over a :func:`curate_corpus` result: how many
    documents each rule removed and what survives per split.  The numbers a
    curation run is judged by.  ``n_dedup_dropped`` counts hygiene-passing
    documents that lost the canonical election (true near-dup removals,
    not double-counting hygiene drops).

    ``pairs=`` (r12) folds the cross-split contamination audit
    (:func:`..operators.sampling.split_leakage_report`) into the funnel
    row: pass the SAME near-dup pair table the curation ran on (the
    compute-once hook mirrored on :func:`curate_corpus`) and the row
    gains ``n_dup_pairs`` (every near-dup pair) and ``n_split_leaks``
    (pairs whose two members drew DIFFERENT splits -- eval leakage the
    per-doc hash split permits and canonical election then masks: only
    one member survives, but ablations that relax dedup would leak).
    Both come from the leakage report's boundary rows, so the audit and
    the funnel can never disagree.  The join is two id lookups of the
    tiny pair list; the 1x1 fold is the J1 scalar-join shape.

    With ``pairs=`` the curated table is materialized ONCE
    (localCheckpoint) before fanning out: the funnel aggregate and the
    audit's two split lookups are three consumers, and without the
    barrier each would replay the whole curation plan -- two corpus
    text scans per consumer.  The table is one narrow row per document,
    so the checkpoint is small at any scale.  The checkpoint is LAZY
    (r13, ``eager=False``): constructing the report is free, the full
    curation plan executes on the report's FIRST action, and the
    materialized blocks then serve the remaining consumers.  Blocks are
    pinned for the session (localCheckpoint semantics), so callers
    building many reports should reuse one report DataFrame rather than
    re-calling per consumer.
    """
    if pairs is None:
        return _curation_counts(curated)
    curated = curated.localCheckpoint(eager=False)
    base = _curation_counts(curated)
    leak = (
        sampling.split_leakage_report(
            curated.select("doc_id", "split_id"), pairs
        )
        .agg(
            F.coalesce(F.sum("n_pairs"), F.lit(0))
            .cast("long")
            .alias("n_dup_pairs"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("split_lo") != F.col("split_hi"),
                        F.col("n_pairs"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_split_leaks"),
        )
    )
    return base.crossJoin(leak)


def _curation_counts(curated: DataFrame) -> DataFrame:
    return curated.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("drop_short").cast("long")).alias("n_short"),
        F.sum(F.col("drop_repetitive").cast("long")).alias("n_repetitive"),
        F.sum(F.col("drop_low_quality").cast("long")).alias("n_low_quality"),
        F.sum(F.col("drop_pii_heavy").cast("long")).alias("n_pii_heavy"),
        F.sum(
            (F.col("hygiene_ok") & ~F.col("is_canonical")).cast("long")
        ).alias("n_dedup_dropped"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum((F.col("keep") & (F.col("split_id") == 0)).cast("long")).alias(
            "n_kept_train"
        ),
        F.sum((F.col("keep") & (F.col("split_id") == 1)).cast("long")).alias(
            "n_kept_val"
        ),
        F.sum((F.col("keep") & (F.col("split_id") == 2)).cast("long")).alias(
            "n_kept_test"
        ),
    )
