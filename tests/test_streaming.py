"""Structured Streaming tests (SURVEY.md §2.9 extension surface).

Each test runs a REAL stream: file source (multiple files, so multiple
micro-batches under maxFilesPerTrigger=1) -> watermarked stateful transform
-> memory sink with availableNow trigger.  Correctness oracle is the batch
analog of the same expressions over the same rows -- Spark guarantees
batch/stream agreement for windowed aggregations once all data is ingested
and the stream is drained.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import sketches as sk
from nyc_taxi_dataset_analysis_apache_hive_spark.sources import fs as hfs
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table
from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import events as sev

#: sentinel event type: closes every real window/session before the stream
#: drains (append mode only emits windows the watermark has passed).
SENTINEL = "zz_sentinel"


def _write_time_sliced(pdf: pd.DataFrame, out: str, n_slices: int = 4) -> None:
    """Write ``pdf`` as n time-ordered parquet files + a far-future sentinel
    file, named so both path order and mtime order equal event-time order.

    A real file drop-zone delivers roughly time-ordered files; interleaved
    time ranges would make the watermark drop later files as late data --
    that behaviour is itself covered by the batch/stream agreement being
    conditional on ordered input.
    """
    os.makedirs(out)
    pdf = pdf.sort_values("ts").reset_index(drop=True)
    n = len(pdf)
    for i in range(n_slices):
        chunk = pdf.iloc[n * i // n_slices : n * (i + 1) // n_slices]
        chunk.to_parquet(os.path.join(out, f"{i:02d}.parquet"), index=False)
    sent = pdf.iloc[[0]].copy()
    sent["event_id"] = 10**9
    # scalar assignment would silently re-coerce to datetime64[ns] (parquet
    # TIMESTAMP(NANOS), a different physical type); keep micros
    sent["ts"] = pd.Series(
        [pdf["ts"].max() + pd.Timedelta(days=2)], dtype="datetime64[us]"
    ).values
    sent["user_id"] = -1
    sent["event_type"] = SENTINEL
    sent["value"] = 0.0
    sent.to_parquet(os.path.join(out, "zz_sentinel.parquet"), index=False)


@pytest.fixture(scope="module")
def events_pdf(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    pdf = ev.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


@pytest.fixture(scope="module")
def events_dir(events_pdf, tmp_path_factory):
    """Events sf0.001 as 4 time-ordered files + sentinel (5 micro-batches)."""
    out = str(tmp_path_factory.mktemp("events_stream") / "events")
    _write_time_sliced(events_pdf, out, 4)
    return out


@pytest.fixture(scope="module")
def events_batch(spark, events_dir):
    """Batch view of the streamed rows, sentinel excluded."""
    return spark.read.parquet(events_dir).filter(F.col("event_type") != SENTINEL)


def _drain(stream_df, name):
    q = sev.run_to_memory_sink(stream_df, name, mode="append")
    q.awaitTermination(120)
    return q


def _rows_map(df, key_cols, val_cols):
    return {
        tuple(r[k] for k in key_cols): tuple(r[v] for v in val_cols)
        for r in df.collect()
    }


def test_tumbling_counts_stream_matches_batch(spark, events_dir, events_batch):
    stream = sev.tumbling_counts_stream(
        sev.read_events_stream(spark, events_dir), "1 hour", "10 minutes"
    )
    _drain(stream, "tumbling_sink")
    got = _rows_map(
        spark.table("tumbling_sink"),
        ["window_start", "event_type"],
        ["window_end", "n_events", "sum_value"],
    )
    expected_df = (
        events_batch.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    expected = _rows_map(
        expected_df,
        ["window_start", "event_type"],
        ["window_end", "n_events", "sum_value"],
    )
    assert set(got) == set(expected)
    for k, (wend, n, s) in expected.items():
        g_wend, g_n, g_s = got[k]
        assert (g_wend, g_n) == (wend, n)
        assert g_s == pytest.approx(s, rel=1e-12)


def test_sessionize_stream_matches_batch(spark, events_dir, events_batch):
    stream = sev.sessionized_counts_stream(
        sev.read_events_stream(spark, events_dir), "5 minutes", "10 minutes"
    )
    _drain(stream, "session_sink")
    got = _rows_map(
        spark.table("session_sink"),
        ["user_id", "session_start"],
        ["session_end", "n_events"],
    )
    expected_df = (
        events_batch.groupBy(
            F.session_window("ts", "5 minutes").alias("win"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )
    expected = _rows_map(
        expected_df, ["user_id", "session_start"], ["session_end", "n_events"]
    )
    assert got == expected


def test_sliding_window_stream(spark, events_dir):
    stream = sev.sliding_value_stats_stream(
        sev.read_events_stream(spark, events_dir),
        "30 minutes",
        "10 minutes",
        "15 minutes",
    )
    _drain(stream, "sliding_sink")
    out = spark.table("sliding_sink")
    assert out.count() > 0
    # every window is exactly 30 minutes and slide-aligned
    bad = out.filter(
        (F.unix_timestamp("window_end") - F.unix_timestamp("window_start"))
        != 30 * 60
    ).count()
    assert bad == 0
    misaligned = out.filter(
        F.unix_timestamp("window_start") % (10 * 60) != 0
    ).count()
    assert misaligned == 0


def test_dedup_stream_drops_duplicate_event_ids(
    spark, events_pdf, events_dir, events_batch, tmp_path_factory
):
    # duplicate every slice file (01a/01b pairs, still time-ordered) so each
    # event_id arrives twice in adjacent micro-batches
    dup_dir = str(tmp_path_factory.mktemp("events_dup") / "events")
    os.makedirs(dup_dir)
    pdf = events_pdf.sort_values("ts").reset_index(drop=True)
    n = len(pdf)
    for i in range(4):
        chunk = pdf.iloc[n * i // 4 : n * (i + 1) // 4]
        for tag in ("a", "b"):
            chunk.to_parquet(os.path.join(dup_dir, f"{i:02d}{tag}.parquet"))
    stream = sev.dedup_events_stream(
        sev.read_events_stream(spark, dup_dir), "10 minutes"
    )
    _drain(stream, "dedup_sink")
    n_unique = events_batch.select("event_id").distinct().count()
    assert spark.table("dedup_sink").count() == n_unique
    assert (
        spark.table("dedup_sink").select("event_id").distinct().count() == n_unique
    )


def test_stream_is_incremental(spark, events_dir):
    """The file source really runs multiple micro-batches (one per file)."""
    q = sev.run_to_memory_sink(
        sev.tumbling_counts_stream(
            sev.read_events_stream(spark, events_dir, max_files_per_trigger=1)
        ),
        "progress_sink",
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 4


def test_stateful_running_totals_match_batch(spark, events_dir, events_batch):
    """applyInPandasWithState: last emitted row per user equals the batch
    lifetime aggregate, and state accumulates across micro-batches."""
    from pyspark.sql.window import Window

    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import stateful

    stream = stateful.running_user_totals_stream(
        sev.read_events_stream(spark, events_dir).filter(
            F.col("event_type") != SENTINEL
        ),
        anomaly_threshold=190.0,
    )
    q = stateful.run_stateful_to_memory_sink(stream, "stateful_sink")
    q.awaitTermination(120)
    sink = spark.table("stateful_sink")
    # >1 update row per user proves cross-batch state accumulation
    assert sink.groupBy("user_id").count().filter("count > 1").count() > 0
    final = {
        r["user_id"]: r
        for r in sink.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    expected = {
        r["user_id"]: r
        for r in events_batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert set(final) == set(expected)
    for uid, exp in expected.items():
        got = final[uid]
        assert got["n_events"] == exp["n_events"], uid
        assert got["sum_value"] == pytest.approx(exp["sum_value"], abs=1e-6)
        assert got["max_value"] == exp["max_value"]
        assert got["anomaly"] == (exp["max_value"] >= 190.0)


def test_stream_to_partitioned_parquet_sink_exactly_once(
    spark, events_dir, events_batch, tmp_path_factory
):
    """Production sink shape: stream -> date-partitioned parquet with a
    checkpoint.  Restarting the drained query from the same checkpoint must
    write nothing new (exactly-once via the sink's commit log)."""
    base = tmp_path_factory.mktemp("stream_sink")
    out, ckpt = str(base / "data"), str(base / "ckpt")

    def run_once():
        q = (
            sev.read_events_stream(spark, events_dir)
            .filter(F.col("event_type") != SENTINEL)
            .withColumn("dt", F.to_date("ts"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .partitionBy("dt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    back = spark.read.parquet(out)
    assert back.count() == events_batch.count()
    assert back.select("event_id").distinct().count() == events_batch.count()
    # partition layout is dt=YYYY-MM-DD directories
    import os as _os

    assert any(d.startswith("dt=") for d in _os.listdir(out))

    run_once()  # replay from checkpoint: no new output
    assert spark.read.parquet(out).count() == events_batch.count()


def test_enrich_stream_matches_batch_join(spark, events_dir, events_batch):
    """Stream-static enrichment: per-micro-batch left join against a static
    dim equals the batch join, and no stream row is dropped."""
    dim = (
        events_batch.select("user_id")
        .distinct()
        .withColumn("segment", (F.col("user_id") % 3).cast("long"))
    )
    stream = sev.enrich_stream(
        sev.read_events_stream(spark, events_dir).filter(
            F.col("event_type") != SENTINEL
        ),
        dim,
    )
    _drain(stream, "enriched_stream")
    got = _rows_map(
        spark.table("enriched_stream"), ["event_id"], ["user_id", "segment"]
    )
    want = _rows_map(
        sev.enrich_stream(events_batch, dim), ["event_id"], ["user_id", "segment"]
    )
    assert got == want
    assert len(got) == events_batch.count()


def test_matched_events_stream_matches_batch(spark, events_dir, events_batch):
    """Stream-stream interval join (click -> purchase within 12h, both
    sides watermarked) emits exactly the batch interval join's pairs."""
    stream = sev.matched_events_stream(
        sev.read_events_stream(spark, events_dir),
        max_delay="12 hours",
        watermark="12 hours",
    )
    _drain(stream, "matched_stream")
    keys = ["a_event_id", "b_event_id"]
    vals = ["user_id", "a_ts", "b_ts"]
    got = _rows_map(spark.table("matched_stream"), keys, vals)
    want = _rows_map(
        sev.matched_events_batch(events_batch, max_delay="12 hours"), keys, vals
    )
    assert got == want
    assert len(want) > 10  # non-trivial at sf0.001


def test_matched_events_batch_oracle(spark, events_batch, events_dir):
    """The batch analog against an independent DuckDB interval join."""
    import duckdb

    pdf = spark.read.parquet(events_dir).toPandas()
    con = duckdb.connect()
    con.register("ev", pdf)
    want = {
        (a, b): (u,)
        for u, a, b in con.execute(
            """
            SELECT a.user_id, a.event_id, b.event_id
            FROM ev a JOIN ev b
              ON a.user_id = b.user_id
             AND a.event_type = 'click' AND b.event_type = 'purchase'
             AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 12 HOURS
            """
        ).fetchall()
    }
    got = _rows_map(
        sev.matched_events_batch(events_batch, max_delay="12 hours"),
        ["a_event_id", "b_event_id"],
        ["user_id"],
    )
    assert got == want


def test_hll_maintenance_stream_and_replay(spark, events_dir, tmp_path):
    """Continuous sketch maintenance: after draining the stream, the
    versioned state answers per-day distincts exactly like a batch rollup
    over everything streamed; replaying the last micro-batch (foreachBatch
    is at-least-once) leaves the state unchanged."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
        maintenance as mnt,
    )

    state = str(tmp_path / "hll_state")
    ckpt = str(tmp_path / "ckpt")
    stream = sev.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    q = (
        mnt.hll_maintenance_stream(stream, state, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got_df = mnt.read_sketch_state(spark, state)
    assert got_df is not None
    got = {
        r["period"]: (r["n_rows"], r["n_distinct_est"])
        for r in sk.distinct_by_period(got_df).collect()
    }
    everything = spark.read.parquet(events_dir)
    want = {
        r["period"]: (r["n_rows"], r["n_distinct_est"])
        for r in sk.distinct_by_period(
            sk.sketch_rollup(everything, "ts", "user_id")
        ).collect()
    }
    assert got == want  # per-day cardinality is in HLL exact mode here


def test_hll_maintenance_replay_is_idempotent(spark, events_dir, tmp_path):
    """foreachBatch is at-least-once: re-running a fold under the same
    batch_id must rebuild the same version from pre-batch state, never
    double-count."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
        maintenance as mnt,
    )

    state = str(tmp_path / "state_replay")
    half_a = spark.read.parquet(events_dir).filter(F.col("event_id") % 2 == 0)
    half_b = spark.read.parquet(events_dir).filter(F.col("event_id") % 2 == 1)
    mnt.fold_batch_into_hll(half_a, 0, state)
    mnt.fold_batch_into_hll(half_b, 1, state)

    def snap():
        return {
            r["period"]: (r["n_rows"], r["n_distinct_est"])
            for r in sk.distinct_by_period(
                mnt.read_sketch_state(spark, state)
            ).collect()
        }

    before = snap()
    mnt.fold_batch_into_hll(half_b, 1, state)  # replay the last batch
    assert snap() == before
    assert mnt._versions(spark, state) == [0, 1]


def test_hll_maintenance_keep_versions_floor(spark, events_dir, tmp_path):
    """keep_versions < 2 would let pruning remove v=batch_id-1 -- the very
    state a replay of the newest batch must re-read -- so it is rejected
    outright."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
        maintenance as mnt,
    )

    ev = spark.read.parquet(events_dir).limit(10)
    with pytest.raises(ValueError, match="keep_versions"):
        mnt.fold_batch_into_hll(ev, 0, str(tmp_path / "s"), keep_versions=1)


def test_hll_maintenance_raises_past_pruned_window(spark, events_dir, tmp_path):
    """A replay that reaches past the pruned version window must raise, not
    silently commit the batch delta as the whole state (which would wipe
    the accumulated rollup)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
        maintenance as mnt,
    )

    state = str(tmp_path / "state_prune")
    ev = spark.read.parquet(events_dir)
    for bid in range(4):
        mnt.fold_batch_into_hll(
            ev.filter(F.col("event_id") % 4 == bid), bid, state, keep_versions=2
        )
    assert mnt._versions(spark, state) == [2, 3]  # 0 and 1 pruned
    with pytest.raises(RuntimeError, match="pruned"):
        mnt.fold_batch_into_hll(
            ev.filter(F.col("event_id") % 4 == 1), 1, state, keep_versions=2
        )
    # in-window replay still fine and idempotent
    mnt.fold_batch_into_hll(
        ev.filter(F.col("event_id") % 4 == 3), 3, state, keep_versions=2
    )
    assert mnt._versions(spark, state) == [2, 3]


def test_cms_maintenance_stream_equals_batch_build(
    spark, events_dir, tmp_path
):
    """CMS maintenance (r15): after draining, the ledger's counters equal
    a from-scratch cms_build over everything streamed CELL FOR CELL --
    counter linearity makes the stream-vs-batch gate full equality (the
    HLL twin above can only gate estimates in-band)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import (
        sketches as sk2,
    )
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
        maintenance as mnt,
    )

    state = str(tmp_path / "cms_state")
    stream = sev.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    q = (
        mnt.cms_maintenance_stream(stream, state, str(tmp_path / "cms_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = mnt.read_cms_state(spark, state)
    assert got is not None
    assert (got.depth, got.width) == (sk2.CMS_DEPTH, sk2.CMS_WIDTH)
    want = sk2.cms_build(spark.read.parquet(events_dir), "event_type")
    assert sorted(map(tuple, got.counters.collect())) == sorted(
        map(tuple, want.counters.collect())
    )
    # and the maintained artifact serves point estimates directly
    est = sk2.cms_estimate(
        got,
        spark.read.parquet(events_dir).select("event_type").distinct(),
        "event_type",
    )
    exact = (
        spark.read.parquet(events_dir)
        .filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .count()
    )
    j = est.join(exact, "event_type").collect()
    assert j and all(r["est"] >= r["count"] for r in j)


def test_cms_maintenance_replay_idempotent_and_geometry_guard(
    spark, events_dir, tmp_path
):
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
        maintenance as mnt,
    )

    state = str(tmp_path / "cms_replay")
    ev = spark.read.parquet(events_dir)
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    mnt.fold_batch_into_cms(half_a, 0, state)
    mnt.fold_batch_into_cms(half_b, 1, state)

    def snap():
        s = mnt.read_cms_state(spark, state)
        return sorted(map(tuple, s.counters.collect()))

    before = snap()
    mnt.fold_batch_into_cms(half_b, 1, state)  # at-least-once replay
    assert snap() == before
    assert mnt._versions(spark, state) == [0, 1]
    # attaching a fold at a different hash geometry must refuse, not sum
    with pytest.raises(RuntimeError, match="hash famil"):
        mnt.fold_batch_into_cms(half_b, 2, state, width=64)
    # a committed-but-empty ledger (only NULL-key batches) reads as
    # "no usable state", never as corruption
    empty_state = str(tmp_path / "cms_empty")
    nulls = ev.withColumn("event_type", F.lit(None).cast("string"))
    mnt.fold_batch_into_cms(nulls, 0, empty_state)
    assert mnt.read_cms_state(spark, empty_state) is None


def test_hll_maintenance_ledger_over_file_uri(spark, events_dir, tmp_path):
    """The ledger walk/prune goes through the Hadoop FileSystem API, so
    ``state_path`` may be any URI the session's Hadoop conf resolves.
    Exercised via an explicit ``file:///`` URI -- the identical code path
    an ``hdfs://`` or ``s3a://`` ledger takes, minus the wire."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
        maintenance as mnt,
    )

    state_uri = (tmp_path / "state_uri").as_uri()
    assert state_uri.startswith("file:///")
    ev = spark.read.parquet(events_dir)
    for bid in range(4):
        mnt.fold_batch_into_hll(
            ev.filter(F.col("event_id") % 4 == bid),
            bid,
            state_uri,
            keep_versions=2,
        )
    # listing, pruning, and state read-back all worked through the URI
    assert mnt._versions(spark, state_uri) == [2, 3]
    via_uri = {
        r["period"]: (r["n_rows"], r["n_distinct_est"])
        for r in sk.distinct_by_period(
            mnt.read_sketch_state(spark, state_uri)
        ).collect()
    }
    want = {
        r["period"]: (r["n_rows"], r["n_distinct_est"])
        for r in sk.distinct_by_period(
            sk.sketch_rollup(ev, "ts", "user_id")
        ).collect()
    }
    assert via_uri == want


def test_hll_maintenance_mid_stream_attach_replay(spark, events_dir, tmp_path):
    """Replaying the FIRST batch the ledger ever saw must not raise even
    when its batch_id > 0 (maintenance attached mid-stream, or checkpoint
    numbering that does not start at 0): the ledger floor is that batch's
    own prior commit, and rebuilding from the delta alone reproduces it
    exactly.  Only a replay BELOW the floor -- predecessor genuinely
    pruned -- may refuse."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
        maintenance as mnt,
    )

    state = str(tmp_path / "state_mid_attach")
    ev = spark.read.parquet(events_dir)
    first = ev.filter(F.col("event_id") % 3 == 0)
    mnt.fold_batch_into_hll(first, 7, state)  # attached at batch 7
    assert mnt._versions(spark, state) == [7]

    def snap():
        return {
            r["period"]: (r["n_rows"], r["n_distinct_est"])
            for r in sk.distinct_by_period(
                mnt.read_sketch_state(spark, state)
            ).collect()
        }

    before = snap()
    mnt.fold_batch_into_hll(first, 7, state)  # legitimate replay: no raise
    assert snap() == before
    assert mnt._versions(spark, state) == [7]
    # a batch BELOW the ledger floor is still refused
    with pytest.raises(RuntimeError, match="pruned"):
        mnt.fold_batch_into_hll(first, 5, state)


def test_hll_maintenance_refuses_delta_rebuild_of_oldest_retained(
    spark, events_dir, tmp_path
):
    """The case the persisted ledger floor exists for: replaying the
    OLDEST RETAINED version (min of the ledger) whose predecessor was
    pruned must raise.  v=2 was originally built as merge(v1, delta2);
    without the floor marker a min(ledger)==batch_id heuristic would
    accept the replay and silently re-base the rollup on delta2 alone,
    dropping batches 0-1 from all later state."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
        maintenance as mnt,
    )

    state = str(tmp_path / "state_oldest_retained")
    ev = spark.read.parquet(events_dir)
    for bid in range(4):
        mnt.fold_batch_into_hll(
            ev.filter(F.col("event_id") % 4 == bid), bid, state,
            keep_versions=2,
        )
    assert mnt._versions(spark, state) == [2, 3]
    assert mnt._ledger_floor(spark, state) == 0
    with pytest.raises(RuntimeError, match="pruned"):
        mnt.fold_batch_into_hll(
            ev.filter(F.col("event_id") % 4 == 2), 2, state,
            keep_versions=2,
        )
    # the retained state is untouched by the refused replay
    assert mnt._versions(spark, state) == [2, 3]


def test_backfill_ledger_floor_migrates_legacy_dir(
    spark, events_dir, tmp_path
):
    """A legacy markerless state dir (pre-marker writes) refuses its
    genuinely legitimate floor replay; backfill_ledger_floor with the
    operator-attested floor re-enables it.  Guards: refuses to overwrite
    an existing marker, refuses an attested floor above min(ledger)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import (
        maintenance as mnt,
    )

    state = str(tmp_path / "state_legacy")
    ev = spark.read.parquet(events_dir)
    for bid in range(5, 8):
        mnt.fold_batch_into_hll(
            ev.filter(F.col("event_id") % 3 == bid - 5), bid, state
        )
    # simulate a pre-marker legacy dir: drop the marker the writes left
    hfs.delete_recursive(spark, mnt._floor_path(state))
    assert mnt._ledger_floor(spark, state) is None
    delta5 = ev.filter(F.col("event_id") % 3 == 0)
    with pytest.raises(RuntimeError, match="pruned"):
        mnt.fold_batch_into_hll(delta5, 5, state)
    # attested floor above the oldest retained version: provably wrong
    with pytest.raises(ValueError, match="attestation"):
        mnt.backfill_ledger_floor(spark, state, 6)
    mnt.backfill_ledger_floor(spark, state, 5)
    assert mnt._ledger_floor(spark, state) == 5
    # the floor replay is legitimate again and rebuilds delta-only
    mnt.fold_batch_into_hll(delta5, 5, state)
    # a second backfill is refused: the marker is provenance, not config
    with pytest.raises(RuntimeError, match="refusing"):
        mnt.backfill_ledger_floor(spark, state, 5)
