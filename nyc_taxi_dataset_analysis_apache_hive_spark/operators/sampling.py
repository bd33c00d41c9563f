"""Sampling operators for training-data pipelines.

Corpus construction constantly samples: uniform subsets for ablations,
per-class (stratified) rates for rebalancing, and hash-based splits for
deterministic train/val/test partitions that survive reruns AND data
appends.  All three are narrow, shuffle-free maps.

Seeded ``sample()``/``sampleBy()`` are deterministic for a fixed
partitioning but re-roll if the upstream partitioning changes; the
hash-split is row-content-deterministic (same row -> same split, always),
which is the property a reproducible pipeline actually wants -- so the
split operator is hash-based, and the rate samplers are the Spark
built-ins exposed with pinned seeds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def uniform_sample(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """Bernoulli row sample at ``fraction`` with a pinned seed."""
    return df.sample(withReplacement=False, fraction=fraction, seed=seed)


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli rates (class rebalancing).  Strata absent from
    ``fractions`` default to 0.0 (dropped) -- Spark's sampleBy contract."""
    return df.sampleBy(strata_col, fractions=fractions, seed=seed)


def cumulative_split_bounds(weights: tuple[float, ...]) -> list[float]:
    """The EXACT float boundaries :func:`hash_split` compares ``u`` against
    (``acc += w / total`` over all but the last weight) -- THE single
    definition, also formatted into the registry's DuckDB oracle so both
    stay bit-identical.  Float-exactness
    matters: two independently-derived 0.9-ish bounds can differ in the
    last ulp and flip a document's split across surfaces."""
    total = sum(weights)
    bounds: list[float] = []
    acc = 0.0
    for w in weights[:-1]:
        acc += w / total
        bounds.append(acc)
    return bounds


def _md5_uniform(id_col: str, salt: str):
    """The ONE md5-uniform draw every sampling operator shares:
    ``conv(first 15 md5 hex chars of "salt:id", 16, 10) / 16^15`` -- a
    deterministic U[0,1) per (salt, id), bit-identical in the DuckDB
    oracles that mirror the same expression.  A single
    definition because the parity scheme depends on every copy staying
    identical: an edit to the prefix width or separator applied to one
    operator but not its mirrors would silently flip Bernoulli verdicts
    on that surface only."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("double") / F.lit(float(16**15))


def split_id_expr(
    id_col: str,
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    salt: str = "split-v1",
):
    """The split-assignment Column :func:`hash_split` adds: the md5-uniform
    of (salt || id) against the cumulative weight boundaries.  Exposed as
    a bare stateless expression so streaming admission paths can tag
    documents at ingest (:func:`assign_serving_keys`) with assignments
    bit-identical to the batch operator's (same expression object, so the
    s6 oracle's parity covers both by construction)."""
    bounds = cumulative_split_bounds(weights)
    u = _md5_uniform(id_col, salt)
    split = F.lit(len(weights) - 1)
    for i in reversed(range(len(bounds))):
        split = F.when(u < bounds[i], i).otherwise(split)
    return split.cast("int")


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    salt: str = "split-v1",
) -> DataFrame:
    """Deterministic train/val/test assignment: ``split_id`` from the md5 of
    (salt || id) against cumulative weight boundaries.

    Row-content-deterministic: the same id lands in the same split across
    reruns, engines, partitionings, and appends (new rows never move old
    ones -- unlike fraction-based sampling where the RNG stream shifts).
    md5 (not xxhash64) so an external system can reproduce the assignment.
    """
    return df.withColumn("split_id", split_id_expr(id_col, weights, salt))


def mix_domains(
    df: DataFrame,
    domain_col: str,
    weights: dict[str, float],
    target_rows: int,
    id_col: str = "doc_id",
    salt: str = "mix-v1",
) -> DataFrame:
    """Domain reweighting (the data-mixture step of corpus construction):
    up/down-sample each domain so the output hits ``target_rows`` with the
    relative ``weights`` shares, deterministically.

    Domain ``d``'s target is ``target_rows * w_d / sum(w)``; each of its
    rows is emitted ``floor(ratio)`` times plus one more when the row's
    md5-uniform draw falls under ``frac(ratio)`` (``ratio = target /
    current size``).  ``ratio > 1`` up-samples by replication -- the
    ``epoch`` output column (0-based copy index) lets downstream shuffle
    or decontaminate repeats; ``ratio < 1`` down-samples; domains absent
    from ``weights`` drop.  A NULL domain follows that same rule -- it
    can never appear in the (string-keyed) ``weights``, so its rows drop
    with zero copies, explicitly via the weight lookup rather than as a
    silent NULL-key join artifact (the count join is null-safe).
    Expected output size is exact; realized size concentrates around it
    (per-row Bernoulli on the fractional part).

    Deterministic the way :func:`hash_split` is: the draw hashes
    (salt || id), so the same row gets the same copy count across reruns,
    partitionings, and appends -- and appends only add rows, never
    re-roll existing ones (the RNG-stream property ``sample()`` lacks).

    Scale: one tiny per-domain count aggregate joined back as a broadcast
    (the corpus is NEVER shuffled), then a narrow explode -- the whole mix
    is map-side.
    """
    total_w = float(sum(weights.values()))
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in (kv[0], kv[1] / total_w)]
    )
    counts = df.groupBy(F.col(domain_col).alias("__mix_dom")).agg(
        F.count(F.lit(1)).alias("__mix_dom_n")
    )
    ratio = (
        F.element_at(wmap, F.col(domain_col)) * F.lit(float(target_rows))
        / F.col("__mix_dom_n")
    )
    u = _md5_uniform(id_col, salt)
    n_copies = (
        F.floor(ratio) + F.when(u < ratio - F.floor(ratio), 1).otherwise(0)
    ).cast("int")
    return (
        df.join(
            F.broadcast(counts), F.col(domain_col).eqNullSafe(F.col("__mix_dom"))
        )
        .withColumn("__mix_n_copies", F.coalesce(n_copies, F.lit(0)))
        .filter(F.col("__mix_n_copies") > 0)
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), F.col("__mix_n_copies") - 1))
        )
        .drop("__mix_dom", "__mix_dom_n", "__mix_n_copies")
    )


def cap_per_key(
    df: DataFrame,
    key_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "cap-v1",
    n_salts: int | None = None,
) -> DataFrame:
    """Keep at most ``n`` rows per key, chosen uniformly and
    deterministically (the "max N documents per domain" cap every corpus
    pipeline applies before mixing).

    Selection ranks rows inside each key by md5(salt || id) -- an
    unbiased uniform draw that is stable across reruns, partitionings,
    and engines, and append-monotone in the keep-set sense: a row's rank
    only grows as rows arrive, so a capped key never readmits a dropped
    row.

    Scale: one shuffle on the key for the rank window.  A hot key makes
    that window's sort wide, so ``n_salts`` enables the two-phase form:
    first cap each (key, hash-salt) shard at ``n`` (bounding any shard's
    sort at shard size), then rank the <= n_salts * n survivors exactly.
    Same result set as the unsalted form by construction -- the global
    top-n by hash is inside every shard's top-n -- asserted in tests.
    """
    from pyspark.sql.window import Window

    rank_key = F.md5(
        F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
    )
    if n_salts:
        shard = F.pmod(F.xxhash64(F.col(id_col), F.lit(salt)), n_salts)
        pre = Window.partitionBy(key_col, "_shard").orderBy("_rank_key")
        df = (
            df.withColumn("_rank_key", rank_key)
            .withColumn("_shard", shard)
            .withColumn("_pre_rn", F.row_number().over(pre))
            .filter(F.col("_pre_rn") <= n)
            .drop("_shard", "_pre_rn")
        )
    else:
        df = df.withColumn("_rank_key", rank_key)
    w = Window.partitionBy(key_col).orderBy("_rank_key")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rank_key", "_rn")
    )


def temperature_mix(
    df: DataFrame,
    domain_col: str,
    alpha: float,
    target_rows: int,
    id_col: str = "doc_id",
    salt: str = "temp-v1",
) -> DataFrame:
    """Temperature-based domain rebalancing: sampling weight
    ``w_d ~ n_d^alpha`` -- the exponentiated-count smoothing multilingual
    corpora use to up-weight low-resource domains without flattening the
    distribution (alpha=1 keeps natural proportions, alpha=0 is uniform;
    mBERT/XLM-R train with alpha around 0.3-0.7).

    Mechanically :func:`mix_domains` with weights COMPUTED from the
    corpus itself: one tiny per-domain count aggregate, ``w_d =
    n_d^alpha / sum_e n_e^alpha``, then the same deterministic
    md5-Bernoulli copy counts and narrow explode -- the corpus is never
    shuffled.  The normalized weight is truncated to the 1e-6 grid
    before any ratio arithmetic (same boundary rule as
    textops._micro6): ``pow`` and the 3-term float sum are the only
    engine-varying steps, and quantizing their output makes every
    downstream floor/compare bit-identical across engines.

    Unlike :func:`mix_domains` (whose string-keyed weights can never name
    a NULL domain), the weights here come FROM the data, so a NULL domain
    is a legitimate stratum: it gets its own ``n_d^alpha`` weight and
    resamples like any other (the ratio join is null-safe).  Map NULLs to
    a sentinel upstream if unattributed rows should be excluded instead.

    Returns the input rows with an ``epoch`` copy-index column, exactly
    like :func:`mix_domains`.
    """
    counts = df.groupBy(F.col(domain_col).alias("__mix_dom")).agg(
        F.count(F.lit(1)).alias("__mix_dom_n")
    )
    powed = F.pow(F.col("__mix_dom_n").cast("double"), F.lit(float(alpha)))
    tot = counts.agg(F.sum(powed).alias("__mix_pow_sum"))
    ratios = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "__mix_dom",
            "__mix_dom_n",
            (
                F.floor(powed / F.col("__mix_pow_sum") * 1000000.0 + 1e-9)
                / 1000000.0
            ).alias("__mix_wq"),
        )
    )
    ratio = F.col("__mix_wq") * F.lit(float(target_rows)) / F.col("__mix_dom_n")
    u = _md5_uniform(id_col, salt)
    n_copies = (
        F.floor(ratio) + F.when(u < ratio - F.floor(ratio), 1).otherwise(0)
    ).cast("int")
    return (
        df.join(
            F.broadcast(ratios), F.col(domain_col).eqNullSafe(F.col("__mix_dom"))
        )
        .withColumn("__mix_n_copies", F.coalesce(n_copies, F.lit(0)))
        .filter(F.col("__mix_n_copies") > 0)
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), F.col("__mix_n_copies") - 1))
        )
        .drop("__mix_dom", "__mix_dom_n", "__mix_wq", "__mix_n_copies")
    )


def grouped_hash_split(
    ids: DataFrame,
    groups: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "cluster_id",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    salt: str = "split-v1",
) -> DataFrame:
    """Leakage-safe train/val/test split: the md5 draw hashes the GROUP
    representative instead of the row id, so every member of a near-dup
    cluster lands in the SAME split -- the constraint that keeps a
    training document's near-copy out of the eval split (the classic
    contamination channel a per-doc hash split leaves open).

    ``groups`` is a (id, group) assignment, e.g.
    dedup.connected_components output; rows absent from it are their own
    singleton group (left join + coalesce), so the split degrades to the
    plain :func:`hash_split` exactly where no duplicate structure
    exists.  Same salt/bounds as hash_split: a singleton's assignment is
    IDENTICAL to its per-doc split, so enabling group-awareness only
    moves documents that have near-duplicates.

    Scale: one equi-join (the cluster table is small next to the corpus
    -- only docs with near-dups appear; Catalyst broadcasts it when it
    fits) + the same narrow md5 projection as hash_split.
    """
    keyed = ids.join(
        groups.select(
            F.col(id_col), F.col(group_col).alias("_grp")
        ),
        on=id_col,
        how="left",
    ).select(
        F.col(id_col),
        F.coalesce(F.col("_grp"), F.col(id_col)).alias("_grp"),
    )
    return hash_split(
        keyed, id_col="_grp", weights=weights, salt=salt
    ).select(id_col, "split_id")


def split_leakage_report(
    split_df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Cross-split contamination audit: given a split assignment and a
    near-duplicate pair list, report per split-boundary how many pairs
    CROSS it -- (split_lo, split_hi, n_pairs, example_a, example_b),
    ordered.  A pair whose two members sit in different splits is eval
    leakage (a training document's near-copy in the test set);
    :func:`grouped_hash_split` prevents it BY CONSTRUCTION, and this
    operator is the audit for splits produced any other way (a vendor
    split, a date split, a per-doc :func:`hash_split` run before dedup).

    Within-split pairs are reported too (split_lo == split_hi rows) so
    the report totals to the pair count -- the reader sees leakage as a
    fraction, not a bare number.  The split pair is canonicalized
    (least/greatest) so (0,2) and (2,0) are one row; example ids are
    the min pair per boundary, giving a deterministic, directly
    inspectable sample.  Pairs with a member missing from ``split_df``
    land together in one (NULL, NULL) boundary row rather than
    vanishing OR masquerading as within-split (``least``/``greatest``
    skip NULLs, so the naive spelling would silently claim the present
    member's split for both sides -- an unassigned doc in a pair is
    itself a finding, reported as such).

    ``split_df`` is expected to hold ONE assignment per id; exact
    duplicate (id, split) rows -- a re-run split unioned onto itself, a
    multi-source audit feed -- are collapsed here so they cannot fan out
    through the two joins and inflate ``n_pairs`` past the documented
    "report totals to the pair count" invariant.  An id carrying TWO
    DIFFERENT splits is a broken assignment this audit cannot repair
    (either row could be the real one); such rows survive the dedup and
    fan out, which is the loud outcome -- the total exceeding the pair
    count is itself the signal that the split table violated its
    uniqueness contract.

    Scale: two id equi-joins of the (already bounded) pair list against
    the narrow (id, split) projection, then an aggregate to at most
    O(n_splits^2) rows -- the corpus itself is never touched.  The
    dedup is a map-side-combined aggregate over that same narrow
    projection, not a corpus shuffle.
    """
    uniq = split_df.select(id_col, split_col).dropDuplicates()
    a = uniq.select(
        F.col(id_col).alias(a_col), F.col(split_col).alias("__sl_a")
    )
    b = uniq.select(
        F.col(id_col).alias(b_col), F.col(split_col).alias("__sl_b")
    )
    tagged = (
        pairs.select(a_col, b_col)
        .join(a, on=a_col, how="left")
        .join(b, on=b_col, how="left")
        .select(
            a_col,
            b_col,
            F.when(
                F.col("__sl_a").isNull() | F.col("__sl_b").isNull(),
                F.lit(None),
            )
            .otherwise(F.least("__sl_a", "__sl_b"))
            .alias("split_lo"),
            F.when(
                F.col("__sl_a").isNull() | F.col("__sl_b").isNull(),
                F.lit(None),
            )
            .otherwise(F.greatest("__sl_a", "__sl_b"))
            .alias("split_hi"),
        )
    )
    return (
        tagged.groupBy("split_lo", "split_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min(F.struct(a_col, b_col)).alias("__ex"),
        )
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            F.col(f"__ex.{a_col}").alias("example_a"),
            F.col(f"__ex.{b_col}").alias("example_b"),
        )
        .orderBy("split_lo", "split_hi")
    )


#: Default serving-shard count for :func:`shuffle_shards` -- THE single
#: definition; the s6 registry oracle formats this into its floor(u * N)
#: legs so the operator and the oracle cut the same chunks.
DEFAULT_N_SHARDS = 8


def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = DEFAULT_N_SHARDS,
    salt: str = "shard-v1",
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic global shuffle into serving shards: the step between
    curation and training that materializes the corpus in a fixed random
    order, chunked into ``n_shards`` equal-expectation shards (the
    training-pipeline extension of the reference's bucketed sink --
    ``CLUSTERED BY .. SORTED BY .. INTO 5 BUCKETS``, REF:255 -- with the
    bucket key replaced by a salted hash so the "clustering" IS the
    shuffle).

    The md5-uniform draw ``u`` (the one :func:`hash_split` idiom) defines
    a global permutation (order by ``u``, ties by id); ``shard_id =
    floor(u * n_shards)`` is that permutation cut into ``n_shards``
    contiguous chunks, and ``shard_pos`` is the 0-based rank inside the
    shard.  Reading shards 0..n-1 each in ``shard_pos`` order replays the
    whole permutation.  Row-content-deterministic like every sampler
    here: the same id keeps its shard (and its neighbors-in-order)
    across reruns, engines, and partitionings; appended rows insert into
    the order without re-rolling anyone's shard (positions after an
    insertion point shift -- the assignment never does).

    NULL ids have no draw: they land in a NULL shard_id -- quarantined
    OUT of the serving permutation rather than silently assigned (the
    explicit-NULL-policy convention of :func:`mix_domains`); positions
    still rank them so the output stays a deterministic multiset.
    Duplicate ids tie on (u, id) and share a shard with distinct
    consecutive positions.  The (u, id) order is total only when ids
    are unique: duplicate ids whose OTHER columns differ get those
    payloads assigned to the tied positions in partition-sort order,
    which reruns under a different input partitioning need not replay
    -- the output is then deterministic as a multiset but not byte-for
    -byte.  Pass ``tiebreak_cols`` (content columns appended to the
    window order) to restore a total order -- and byte-identical
    reruns -- for corpora that legitimately carry duplicate ids.

    Scale: one narrow md5 projection, then ONE hash exchange (the
    row_number window partitions by shard_id and sorts by ``u`` -- the
    exact exchange+sort a sharded writer needs anyway, see
    ``sources.writers.write_training_shards``, so materializing the
    order costs no extra shuffle over the write itself).  Per-shard sort
    is disk-backed (ExternalSorter); with size-targeted ``n_shards`` a
    shard is one task's worth of rows.
    """
    from pyspark.sql.window import Window

    u = _md5_uniform(id_col, salt)
    keyed = df.withColumn("__shuf_u", u).withColumn(
        "shard_id",
        F.floor(F.col("__shuf_u") * F.lit(float(n_shards))).cast("int"),
    )
    w = Window.partitionBy("shard_id").orderBy(
        "__shuf_u", id_col, *tiebreak_cols
    )
    return keyed.withColumn(
        "shard_pos", (F.row_number().over(w) - 1).cast("bigint")
    ).drop("__shuf_u")


def shard_id_expr(
    id_col: str,
    n_shards: int = DEFAULT_N_SHARDS,
    salt: str = "shard-v1",
):
    """The shard-assignment Column of :func:`shuffle_shards` WITHOUT the
    rank (``floor(u * n_shards)`` over the same salted draw) -- the
    stateless half, usable on a streaming DataFrame where a global
    row_number cannot exist.  Batch and stream tag the same document
    with the same shard (same expression; gated in tests)."""
    u = _md5_uniform(id_col, salt)
    return F.floor(u * F.lit(float(n_shards))).cast("int")


def assign_serving_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    n_shards: int = DEFAULT_N_SHARDS,
    split_salt: str = "split-v1",
    shard_salt: str = "shard-v1",
) -> DataFrame:
    """Tag rows with (split_id, shard_id) in one stateless projection --
    the ingest-time form of :func:`hash_split` + :func:`shuffle_shards`
    for the streaming admission paths (streaming/curation.py): an
    admitted document leaves the stream already knowing its eval split
    and its serving shard, bit-identical to what the batch operators
    would later assign (same expressions, so no re-curation pass is
    needed to place streamed admissions into the corpus layout).  The
    within-shard serve ORDER (shard_pos) is deliberately absent: a
    global rank is meaningless mid-stream; the sharded writer computes
    it at materialization time."""
    return df.withColumn(
        "split_id", split_id_expr(id_col, weights, split_salt)
    ).withColumn("shard_id", shard_id_expr(id_col, n_shards, shard_salt))


def _ranged_with_mid(df: DataFrame, order_cols, n_partitions=None) -> DataFrame:
    """:func:`global_rank`'s one corpus stage, pre-materialization: range
    exchange on the order columns + in-partition sort + the
    ``monotonically_increasing_id`` stamp.  Factored out so the plan
    test can pin its shape (exactly one range exchange, no window, no
    second corpus exchange) -- the checkpoint in global_rank hides this
    lineage behind an ExistingRDD scan."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    if n_partitions is None:
        n_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    return (
        df.repartitionByRange(n_partitions, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__gr_mid", F.monotonically_increasing_id())
    )


def global_rank(
    df: DataFrame,
    order_cols,
    rank_col: str = "rank",
    n_partitions: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Exact 0-based global rank under a TOTAL order, at scale: the
    distributed materialization of ``row_number() OVER (ORDER BY ...)``
    that Spark's own window cannot give without collapsing the corpus
    into one task (an empty-PARTITION BY window plans SinglePartition --
    the one thing a 100-TB sort must never do).

    Three steps: (1) range-exchange the corpus on the order columns
    (order-preserving across partition ids: partition k's keys all
    precede partition k+1's), sort within each partition, and stamp
    ``monotonically_increasing_id`` -- (partition_id << 33) + row index
    in sorted order, so partition id and LOCAL rank fall out of one
    narrow projection with no window (a __gr_pid-partitioned window
    here would plan a second full-corpus hash exchange: the window's
    ENSURE_REQUIREMENTS clustering can't see that rows already sit in
    their own partition); (2) a per-partition count aggregate
    (n_partitions rows -- tiny) gets cumulative offsets via a
    single-partition window over THAT table only; (3) broadcast-join
    back: rank = local rank + offset.

    The ranged corpus is MATERIALIZED once (lazy ``localCheckpoint``)
    before steps 2-3 read it, and this is a CORRECTNESS barrier, not an
    optimization: Spark's range partitioner picks its boundaries by
    reservoir-SAMPLING each execution (seeded per RDD instance), so the
    offset aggregate and the output, planned as two subtrees, would
    range-exchange the corpus twice with independently-sampled -- and
    therefore different -- boundaries whenever the two subtrees aren't
    canonically identical (column pruning alone breaks identity: the
    offsets branch never needs the payload).  Counts from one
    partitioning added to local ranks from another yield silently wrong
    ranks; measured 80-90% wrong at sampling-stressed test scale.  The
    checkpoint pins ONE partition assignment for both readers (the same
    materialization discipline the CC loops use), and doubles as the
    one corpus materialization the sharded writer downstream would
    trigger anyway.

    ``order_cols`` must define a total order (include a tie-break id);
    cross-partition correctness needs equal keys co-located, which the
    range partitioner guarantees only for fully-specified keys.  Pass
    Column objects for direction/null placement (e.g.
    ``F.col("score").desc_nulls_last()``) -- the same spelling is used
    for the exchange and the in-partition sort, so they cannot
    disagree.  ``total_col`` additionally attaches the corpus row count
    to every row for free (it is ``sum(counts)`` over the tiny offsets
    table -- callers like :func:`curriculum_shards` that need the total
    must NOT re-aggregate the corpus for it).  The 33-bit local index
    caps a range partition at ~8.5e9 rows -- size ``n_partitions`` so a
    partition is one task's worth of rows and the cap never binds.
    """
    from pyspark.sql.window import Window

    ranged = _ranged_with_mid(df, order_cols, n_partitions).localCheckpoint(
        eager=False
    )
    local = ranged.withColumn(
        "__gr_pid", F.shiftrightunsigned(F.col("__gr_mid"), 33).cast("int")
    ).withColumn(
        "__gr_lrank", F.col("__gr_mid").bitwiseAND(F.lit((1 << 33) - 1))
    )
    offsets = (
        local.groupBy("__gr_pid")
        .agg(F.count(F.lit(1)).alias("__gr_n"))
        .withColumn(
            "__gr_off",
            F.coalesce(
                F.sum("__gr_n").over(
                    Window.orderBy("__gr_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
    )
    off_cols = ["__gr_pid", "__gr_off"]
    if total_col is not None:
        offsets = offsets.withColumn(
            total_col,
            F.sum("__gr_n").over(
                Window.orderBy("__gr_pid").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        off_cols.append(total_col)
    return (
        local.join(F.broadcast(offsets.select(*off_cols)), on="__gr_pid")
        .withColumn(
            rank_col, (F.col("__gr_lrank") + F.col("__gr_off")).cast("bigint")
        )
        .drop("__gr_pid", "__gr_lrank", "__gr_off", "__gr_mid")
    )


def curriculum_shards(
    df: DataFrame,
    score_col: str,
    n_shards: int = DEFAULT_N_SHARDS,
    id_col: str = "doc_id",
    descending: bool = True,
) -> DataFrame:
    """Curriculum-ordered serving shards: where :func:`shuffle_shards`
    randomizes, this materializes the corpus in SCORE order (best first
    when ``descending``) -- shard 0 is the first ``1/n_shards`` of the
    curriculum, and ``rank`` is the exact global position, so a loader
    reading shards in id order replays easy-to-hard (or any
    score-defined schedule).

    ``shard_id = (rank * n_shards) div total`` -- integer arithmetic, so
    the cut is engine-exact and shard sizes differ by at most one.  Ties
    on the score break by id (NULLS LAST on both, spelled explicitly:
    Spark and other engines disagree on default NULL placement), making
    the order total -- the :func:`global_rank` requirement.

    Scale: exactly global_rank's cost -- one range exchange + the tiny
    broadcast offsets table.  The corpus total rides that offsets table
    (``total_col``: it is sum of the per-partition counts); aggregating
    the ranked corpus a second time for a number the rank computation
    already knows would add a full extra corpus pass at 100 TB.
    """
    score = (
        F.col(score_col).desc_nulls_last()
        if descending
        else F.col(score_col).asc_nulls_last()
    )
    ranked = global_rank(
        df,
        [score, F.col(id_col).asc_nulls_last()],
        total_col="__cs_total",
    )
    return ranked.withColumn(
        "shard_id",
        F.expr(f"(rank * {int(n_shards)}) div __cs_total").cast("int"),
    ).drop("__cs_total")


def quality_weighted_sample(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    salt: str = "qs-v1",
) -> DataFrame:
    """Soft quality filter: keep each row with probability EQUAL to its
    (0..1) score -- the importance-sampling admission GPT-3's pipeline
    applied with its WebText-classifier scores (Brown et al. 2020,
    appendix A), made deterministic: the Bernoulli draw is the
    md5-uniform of (salt, id), so reruns, appends, partitionings, and
    engines agree ROW FOR ROW (and appends never re-roll existing rows,
    the property RNG-based sample() lacks).

    One narrow filter -- no shuffle, no state; composes downstream of
    any scorer (textops.quality_scores / linear_probe_scores /
    ngram_lm_scores after an exp/clamp).  Expected keep rate equals the
    corpus mean score; realized rate concentrates around it per-row.
    """
    u = _md5_uniform(id_col, salt)
    return df.filter(u < F.col(score_col))


def dsir_bucket_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    extra_cols: tuple[str, ...] = (),
    outer: bool = False,
) -> DataFrame:
    """(_id, *extra_cols, bucket): one hashed unigram+bigram row per gram
    occurrence -- THE shared DSIR featurization (used by
    :func:`dsir_fit`, :func:`dsir_select`, and the streaming admission
    path, one definition so a model and any scored corpus can never hash
    differently).  ``outer=True`` keeps one NULL-bucket row per gram-less
    document (explode_outer) so downstream per-doc aggregates still see
    empty/NULL-text docs -- the streaming report needs every arrival."""
    from .dedup import shingle_base_hash
    from ..functions.text import tokens

    base = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in extra_cols],
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_t"),
    )
    # unigrams + bigrams, the paper's feature set; the bigram transform
    # is guarded against Spark's sequence(1, 0) -> [1, 0] pitfall
    bigrams = F.when(
        F.size("_t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_t") - 1),
            lambda i: F.array_join(F.slice("_t", i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploder = F.explode_outer if outer else F.explode
    return base.select(
        "_id", *extra_cols,
        exploder(F.concat(F.col("_t"), bigrams)).alias("gram"),
    ).select(
        "_id", *extra_cols,
        (shingle_base_hash(F.col("gram")) % n_buckets).alias("bucket"),
    )


def _dsir_grams(
    df: DataFrame,
    target_col: str,
    text_col: str,
    id_col: str,
    n_buckets: int,
) -> DataFrame:
    """(_id, _tgt, bucket): the batch featurization with the coalesced
    target flag carried through."""
    tgt = F.coalesce(F.col(target_col), F.lit(False))
    return dsir_bucket_rows(
        df.withColumn("_tgt", tgt),
        text_col,
        id_col,
        n_buckets,
        extra_cols=("_tgt",),
    )


def _dsir_doc_bucket_counts(
    df: DataFrame,
    target_col: str,
    text_col: str,
    id_col: str,
    n_buckets: int,
) -> DataFrame:
    """(_id, _tgt, bucket, c): per-document bucket histogram -- ONE
    featurize pass + one partial-combined shuffle.  Both the model fit
    and the doc scores aggregate FROM this frame, so when dsir_select
    runs the fit inline the two consumers share one identical exchange
    (ReuseExchange: the corpus is tokenized and shuffled once, both
    branches re-read the same shuffle files)."""
    return (
        _dsir_grams(df, target_col, text_col, id_col, n_buckets)
        .groupBy("_id", "_tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_fit(
    df: DataFrame,
    target_col: str = "is_target",
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 1.0,
) -> DataFrame:
    """Train the DSIR importance model: (bucket, lr_micro) -- the
    micro-quantized per-bucket log-ratio table (<= n_buckets rows).

    This is the fit half of the fit/apply split a 100-TB deployment
    wants: train ONCE on a target slice + a raw SAMPLE (two tiny
    aggregates), persist the kilobyte-scale model table, then score the
    full corpus as a pure broadcast map via
    ``dsir_select(..., model=...)`` -- no refit per scoring pass, and
    batches scored on different days against the same persisted model
    rank consistently.  ``dsir_select`` with no model runs exactly this
    plan inline (equality-tested in tests/test_dsir.py).
    """
    counts = _dsir_doc_bucket_counts(
        df, target_col, text_col, id_col, n_buckets
    ).groupBy("bucket").agg(
        F.sum(F.when(F.col("_tgt"), F.col("c")).otherwise(0)).alias("c_tgt"),
        F.sum(F.when(F.col("_tgt"), 0).otherwise(F.col("c"))).alias("c_raw"),
    )
    totals = counts.agg(
        F.sum("c_tgt").alias("n_tgt"), F.sum("c_raw").alias("n_raw")
    )
    s, b = float(smoothing), float(n_buckets)
    lr = F.log(
        (F.col("c_tgt") + F.lit(s)) / (F.col("n_tgt") + F.lit(s * b))
    ) - F.log((F.col("c_raw") + F.lit(s)) / (F.col("n_raw") + F.lit(s * b)))
    return (
        counts.crossJoin(F.broadcast(totals))  # 1x1: the J1 scalar shape
        .select(
            "bucket",
            F.floor(lr * F.lit(1e6) + F.lit(1e-9)).cast("long").alias("lr_micro"),
        )
    )


def dsir_select(
    df: DataFrame,
    target_col: str = "is_target",
    n_buckets: int = 1024,
    n_keep: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 1.0,
    salt: str = "dsir-v1",
    model: DataFrame | None = None,
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169, public):
    pick the raw-pool documents whose hashed-n-gram distribution is most
    target-like, by importance weight under a pair of bag-of-hashed-ngrams
    models -- the standard "select pretraining data that looks like my
    downstream corpus" step.

    ``target_col`` is a BOOLEAN column: true rows define the target
    distribution, everything else (false or NULL -- NULL is coalesced to
    false so an unlabeled row can only be a candidate, never leak into
    the target model) is the raw pool being selected from.  Returns the
    selected raw rows as (id_col, dsir_score_micro, dsir_key), highest
    key first.

    Determinism contract (the mix/temp precedent): every engine-varying
    float step is quantized to INTEGER MICRO-UNITS before any aggregate
    or comparison.  Per-bucket log-ratios ``ln((c_tgt+s)/(N_tgt+s*B)) -
    ln((c_raw+s)/(N_raw+s*B))`` are floored to micro-units as BIGINT, so
    a document's score is an ORDER-INDEPENDENT integer sum (a double sum
    would depend on Spark's partition-merge order); the Gumbel
    perturbation for without-replacement resampling (the paper's
    sampling step) is ``-ln(-ln(u))`` of the shared md5-uniform,
    micro-quantized the same way; and the selection key is their BIGINT
    sum with ``id`` as the total-order tie-break.  The DuckDB oracle
    replays the selection id-for-id.

    ``model``: an already-trained (bucket, lr_micro) table from
    :func:`dsir_fit` (same n_buckets) skips the inline fit -- the
    100-TB deployment shape (train on a sample once, score every batch
    as a pure broadcast map); scoring against a persisted model is also
    what keeps day-over-day batch selections mutually consistent.  A
    bucket absent from the model contributes 0 to a score (the equi-join
    skips it); with the default 1024-bucket space any non-trivial
    training sample populates every bucket, so this only matters for
    models trained on a handful of documents.

    Scale: the bucket-count and log-ratio tables are <= n_buckets rows
    (map-side partial combine); the log-ratio table broadcasts; top-k
    runs as TakeOrderedAndProject (per-partition heaps + a driver merge
    of n_keep rows per partition -- never a global sort).  Nothing is
    all-pairs.  Corpus passes: with ``model=`` the corpus is featurized
    ONCE and scored straight off the gram rows (one doc-keyed
    partial-agg shuffle) -- the production shape at 100 TB (fit on a
    sample, not the corpus).  The inline fit instead scores from the
    per-document bucket histogram, whose exchange is structurally
    identical to the one the fit's bucket counts aggregate from, so the
    two consumers share one featurize+shuffle (measured 3.30 -> 2.06 s
    at sf0.1) -- the histogram aggregate holds O(docs x distinct
    buckets/doc) rows, a bounded intermediate the model= path never
    builds.
    """
    tgt = F.coalesce(F.col(target_col), F.lit(False))
    if model is not None:
        # one featurize, one shuffle: no histogram stage -- a prefit
        # model has no second consumer to share an exchange with
        scores = (
            _dsir_grams(df, target_col, text_col, id_col, n_buckets)
            .filter(~F.col("_tgt"))
            .join(F.broadcast(model.select("bucket", "lr_micro")), "bucket")
            .groupBy("_id")
            .agg(F.sum("lr_micro").alias("dsir_score_micro"))
        )
    else:
        g2 = _dsir_doc_bucket_counts(
            df, target_col, text_col, id_col, n_buckets
        )
        ratios = dsir_fit(
            df, target_col, n_buckets, text_col, id_col, smoothing
        )
        # sum(lr_micro * c) over the per-doc histogram == the
        # per-occurrence sum (exact integer arithmetic); scoring from g2
        # makes this branch's featurize exchange identical to the fit's
        # -- ReuseExchange collapses them to a single corpus pass
        scores = (
            g2.filter(~F.col("_tgt"))
            .join(F.broadcast(ratios), "bucket")
            .groupBy("_id")
            .agg(
                F.sum(F.col("lr_micro") * F.col("c")).alias(
                    "dsir_score_micro"
                )
            )
        )
    u = _md5_uniform(id_col, salt)
    gumbel_micro = (
        F.floor(-F.log(-F.log(u)) * F.lit(1e6) + F.lit(1e-9)).cast("long")
    )
    cands = (
        df.filter(~tgt)
        .select(F.col(id_col), gumbel_micro.alias("_g"))
        .join(scores, F.col(id_col) == F.col("_id"), "left")
        .select(
            id_col,
            # gram-less docs (empty/NULL text) score 0: still candidates,
            # deterministically -- absence is not a drop rule here
            F.coalesce("dsir_score_micro", F.lit(0).cast("long")).alias(
                "dsir_score_micro"
            ),
            (F.coalesce("dsir_score_micro", F.lit(0).cast("long")) + F.col("_g"))
            .alias("dsir_key"),
        )
    )
    return cands.orderBy(F.desc("dsir_key"), F.col(id_col)).limit(n_keep)
