"""Sinks (SURVEY.md §2.1 S2/S3).

The reference's sink is an ORC table partitioned by (yr, mnth) with 5 sorted
buckets on tip_amount, Snappy-compressed, loaded via dynamic-partition INSERT
OVERWRITE (REF:251-258, REF:261-269).  Spark-native:

* ``write_clean_partitioned`` -- path-based partitioned columnar write
  (parquet or ORC).  Dynamic overwrite replaces only the partitions present
  in the incoming data (``partitionOverwriteMode=dynamic``), the exact analog
  of Hive's ``INSERT OVERWRITE ... PARTITION(yr,mnth)`` with
  ``hive.exec.dynamic.partition=true`` (REF:4-10).
* ``write_clean_table`` -- catalog-table variant adding
  ``bucketBy(5, tip_amount).sortBy(tip_amount)`` (REF:255).  Spark bucketing
  is not file-compatible with Hive bucketing, but reproduces the semantics
  that matter: co-located, per-bucket-sorted data that lets Spark elide
  shuffles/sorts on the bucketed key.  Bucketing is optional for correctness
  (no reference query answer depends on bucket layout -- SURVEY §7.4).

Scale notes (100 TB): partition columns (yr, mnth) are low-cardinality so the
dynamic write produces few directories; within a partition, output file count
equals upstream task count -- callers control it with df.repartition(N, keys)
before writing to avoid small files.  maxRecordsPerFile guards huge files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: serve-layout columns OWNED by the sharded writers; an input corpus
#: must not already carry them.  This is what keeps
#: :func:`shard_manifest`'s serve-order auto-detection sound: a payload
#: column named ``rank`` under ``layout='shuffle'`` (or ``shard_pos``
#: under ``layout='curriculum'``) would otherwise survive into the files
#: and be mistaken for the other layout's order column at audit time.
RESERVED_LAYOUT_COLS = ("shard_id", "shard_pos", "rank")


def _reject_reserved_cols(df: DataFrame, op: str) -> None:
    clash = [c for c in RESERVED_LAYOUT_COLS if c in df.columns]
    if clash:
        raise ValueError(
            f"{op}: input already carries reserved serve-layout "
            f"column(s) {clash}; rename them -- the writer owns "
            f"{list(RESERVED_LAYOUT_COLS)} so shard_manifest's layout "
            "detection stays unambiguous"
        )


def write_clean_partitioned(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_cols: tuple[str, ...] = ("yr", "mnth"),
    compression: str = "snappy",
    max_records_per_file: int = 5_000_000,
    zorder_cols: list[str] | None = None,
    n_files: int = 32,
    bits_per_col: int = 8,
) -> None:
    """S3: dynamic-partition overwrite of the cleaned table to ``path``.

    ``zorder_cols`` opts the reference's write path into the
    skipping-optimal layout (sources/layout.py): rows are range-exchanged
    on (partition cols, Z-value) and sorted within tasks, so each
    partition directory's files cover small bounding boxes in every
    clustered dimension and parquet footer min/max prune them for
    predicates on ANY of ``zorder_cols``.  Same single-shuffle budget a
    layout-aware rewrite always pays (the range exchange replaces the
    caller's repartition-before-write); ``n_files`` bounds total task
    count, partition dirs get files proportional to their row share."""
    if zorder_cols:
        from .layout import zorder_value

        zcol, _ = zorder_value(df, zorder_cols, bits_per_col)
        df = (
            df.withColumn("__zval", zcol)
            .repartitionByRange(
                n_files, *[F.col(c) for c in partition_cols], F.col("__zval")
            )
            .sortWithinPartitions(*partition_cols, "__zval")
            .drop("__zval")
        )
    (
        df.write.mode("overwrite")
        .format(fmt)
        .option("compression", compression)
        .option("maxRecordsPerFile", str(max_records_per_file))
        .partitionBy(*partition_cols)
        .save(path)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    n_shards: int | None = None,
    salt: str = "shard-v1",
    fmt: str = "parquet",
    compression: str = "snappy",
    max_records_per_file: int = 5_000_000,
    layout: str = "shuffle",
    score_col: str | None = None,
    tiebreak_cols: tuple[str, ...] = (),
) -> None:
    """Materialize the corpus as ``n_shards`` serving shards
    (``path/shard_id=K/``), each shard's files in serve order -- the
    training-loader layout step after curation/packing.

    ``layout='shuffle'`` (default): ``sampling.shuffle_shards``'s
    deterministic md5 permutation (the bucketed-sink shape of REF:255
    with a salted-hash key); ``shard_pos`` carries the order.  A rerun
    over the same corpus rewrites byte-identical shard contents (file
    NAMES carry fresh task UUIDs; the bytes inside are pinned by a
    rerun-digest test).  Byte-identity needs a total serve order: with
    unique ids (u, id) suffices; a corpus carrying duplicate ids must
    pass ``tiebreak_cols`` (content columns appended to the order) or
    duplicate rows' payloads may swap positions across reruns.

    ``layout='curriculum'`` (requires ``score_col``):
    ``sampling.curriculum_shards``' score-ordered cut, best first;
    ``rank`` carries the order.  Shard boundaries are rank ranges, so a
    shard can span range-partition boundaries -- its files still read
    back in serve order because part numbering follows the
    order-preserving range-partition ids.

    Scale: either layout's exchange (hash on shard_id / range on the
    score) is the one the write rides; ``partitionBy`` splits files
    without a second shuffle.  ``maxRecordsPerFile`` rolls a huge shard
    into several files whose lexicographic part-order preserves the
    sort.
    """
    from ..operators.sampling import (
        DEFAULT_N_SHARDS,
        curriculum_shards,
        shuffle_shards,
    )

    if n_shards is None:
        n_shards = DEFAULT_N_SHARDS
    _reject_reserved_cols(df, "write_training_shards")
    if layout == "shuffle":
        sharded = shuffle_shards(
            df,
            id_col=id_col,
            n_shards=n_shards,
            salt=salt,
            tiebreak_cols=tiebreak_cols,
        )
    elif layout == "curriculum":
        if score_col is None:
            raise ValueError("layout='curriculum' requires score_col")
        sharded = curriculum_shards(
            df,
            score_col=score_col,
            n_shards=n_shards,
            id_col=id_col,
        )
    else:
        raise ValueError(f"unknown layout {layout!r}")
    (
        sharded.write.mode("overwrite")
        .format(fmt)
        .option("compression", compression)
        .option("maxRecordsPerFile", str(max_records_per_file))
        .partitionBy("shard_id")
        .save(path)
    )


def append_training_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    n_shards: int | None = None,
    salt: str = "shard-v1",
    fmt: str = "parquet",
    compression: str = "snappy",
    max_records_per_file: int = 5_000_000,
    tiebreak_cols: tuple[str, ...] = (),
) -> None:
    """Admit a NEW document batch into an existing ``layout='shuffle'``
    shard directory without touching history -- the incremental half of
    :func:`write_training_shards` (the ``admit_batch_neardup`` /
    ``merge_hll_rollup`` maintenance posture applied to the serve
    layout: continuous curation admits documents forever; rewriting N
    shards of history per admission batch is the operation that cannot
    exist at 100 TB).

    Placement is stable by construction: a document's shard is the same
    salted md5 draw the original write used (``shuffle_shards``'s
    documented append property -- existing rows never re-roll), and the
    batch's within-shard serve positions continue after each shard's
    current ``max_pos`` (one NARROW n_shards-row column aggregate over
    the layout's order column -- Spark reads only ``shard_pos`` unless
    ``spark.sql.parquet.aggregatePushdown`` makes it footer-only; the
    same numbers :func:`shard_manifest` audits).  After any number of appends
    every shard still holds contiguous positions 0..n-1: original
    permutation first, then each admission batch in its own
    deterministic permutation order.

    The one contract change vs a fresh write: appended part-FILES carry
    fresh task UUIDs, so lexicographic file order no longer replays the
    serve order -- a loader over an appended layout orders by
    ``shard_pos`` (parquet min/max stats make that a cheap merge; each
    file is internally sorted).  ``shard_manifest`` stays the audit:
    ``max_pos == n_rows - 1`` per shard holds across appends.

    A NULL-id row cannot be placed (no draw, and the NULL shard is
    outside the serve permutation) -- it is rejected rather than
    silently quarantined into a second NULL partition whose positions
    would collide with an existing one.

    Appends are ``layout='shuffle'`` ONLY, checked against the target's
    schema: a curriculum layout's serve order is the GLOBAL score rank,
    which an append cannot extend without re-ranking history (a new
    high-score document belongs before existing rows -- there is no
    contiguous tail to continue from, and its ``max_pos`` is a global
    rank, the wrong base).  Appending to one raises; re-materialize the
    curriculum with :func:`write_training_shards` instead.

    The per-shard position bases are COLLECTED to the driver (n_shards
    tiny rows) before the append starts and folded in as a literal map,
    so the write never embeds a scan of the very directory it is
    appending to (self-referential reads rely on file listings being
    pinned at plan time -- a re-list mid-job would double-count).
    """
    from ..operators.sampling import DEFAULT_N_SHARDS, shuffle_shards

    if n_shards is None:
        n_shards = DEFAULT_N_SHARDS
    _reject_reserved_cols(df, "append_training_shards")
    if df.filter(F.col(id_col).isNull()).limit(1).count() > 0:
        raise ValueError(
            f"append_training_shards: NULL {id_col} rows cannot join the "
            "serve permutation; filter or repair them first"
        )
    target = df.sparkSession.read.parquet(path)
    if "shard_pos" not in target.columns:
        raise ValueError(
            "append_training_shards: target is not a layout='shuffle' "
            f"shard directory (columns {target.columns}); curriculum "
            "layouts order by a GLOBAL rank that appends cannot extend "
            "-- re-materialize with write_training_shards instead"
        )
    # a target written from a corpus WITH NULL ids carries a NULL
    # shard_id quarantine partition (shuffle_shards' documented policy);
    # the batch never maps to it (NULL ids were rejected above), so its
    # base is irrelevant -- and NULL cannot be a create_map key
    base_rows = (
        target.filter(F.col("shard_id").isNotNull())
        .groupBy("shard_id")
        .agg((F.max("shard_pos") + F.lit(1)).alias("base"))
        .collect()
    )
    if base_rows:
        base_map = F.create_map(
            *[
                lit
                for row in base_rows
                for lit in (F.lit(row["shard_id"]), F.lit(row["base"]))
            ]
        )
        base_expr = F.coalesce(base_map[F.col("shard_id")], F.lit(0))
    else:
        base_expr = F.lit(0)
    placed = shuffle_shards(
        df,
        id_col=id_col,
        n_shards=n_shards,
        salt=salt,
        tiebreak_cols=tiebreak_cols,
    ).withColumn("shard_pos", F.col("shard_pos") + base_expr)
    (
        placed.write.mode("append")
        .format(fmt)
        .option("compression", compression)
        .option("maxRecordsPerFile", str(max_records_per_file))
        .partitionBy("shard_id")
        .save(path)
    )


def shard_manifest(
    spark, path: str, id_col: str = "doc_id", pos_col: str | None = None
) -> DataFrame:
    """Tiny per-shard audit table over a ``write_training_shards`` layout:
    ``(shard_id, n_rows, max_pos, content_sum)`` where ``content_sum``
    is the sum of the 60-bit md5 integers of ``id:pos`` -- a
    position-sensitive digest, so two corpora agree on the manifest iff
    every shard holds the same documents in the same serve order.
    Engine-independent (the md5 idiom every sampler here uses), so a
    downstream loader in another stack can recompute and attest it.

    The serve-order column differs by layout (``shard_pos`` for
    ``layout='shuffle'``, the global ``rank`` for ``layout='curriculum'``);
    with ``pos_col=None`` it is detected from the layout's schema, so
    the manifest audits either layout without the caller restating which
    one was written.  For a curriculum layout ``max_pos`` is the shard's
    highest GLOBAL rank (ranks are contiguous across shard boundaries,
    not per-shard), so ``max_pos == n_rows - 1`` holds only for shard 0;
    the cross-rerun digest contract is layout-independent.

    Scale: one scan of the shard layout, partial+final aggregate to
    n_shards rows; the decimal(38) sum cannot overflow below ~10^20
    rows per shard.
    """
    df = spark.read.parquet(path)
    if pos_col is None:
        if "shard_pos" in df.columns:
            pos_col = "shard_pos"
        elif "rank" in df.columns:
            pos_col = "rank"
        else:
            raise ValueError(
                f"no serve-order column (shard_pos/rank) in {df.columns}"
            )
    digit = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"),
                    F.lit(":"),
                    F.col(pos_col).cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("decimal(38,0)")
    return (
        df.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max(pos_col).alias("max_pos"),
            F.sum(digit).alias("content_sum"),
        )
        .orderBy("shard_id")
    )


def write_clean_table(
    df: DataFrame,
    table: str,
    fmt: str = "parquet",
    partition_cols: tuple[str, ...] = ("yr", "mnth"),
    bucket_col: str = "tip_amount",
    n_buckets: int = 5,
    compression: str = "snappy",
) -> None:
    """S2+S3: bucketed catalog-table sink (REF:251-258).

    ``CLUSTERED BY (tip_amount) SORTED BY (tip_amount) INTO 5 BUCKETS``
    (REF:255) -> ``bucketBy(5).sortBy(...)``; requires saveAsTable.
    """
    (
        df.write.mode("overwrite")
        .format(fmt)
        .option("compression", compression)
        .partitionBy(*partition_cols)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )
