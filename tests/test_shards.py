"""Deterministic serving shards (sampling.shuffle_shards +
sources.writers.write_training_shards): the md5 permutation is stable
across reruns, partitionings, and appends; positions are contiguous per
shard; and the sharded writer round-trips the exact serve order."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import sampling
from nyc_taxi_dataset_analysis_apache_hive_spark.sources import writers


def _rows(df):
    return sorted(
        (r["doc_id"], r["shard_id"], r["shard_pos"]) for r in df.collect()
    )


def test_shards_cover_every_doc_with_contiguous_positions(spark):
    ids = spark.createDataFrame([Row(doc_id=i) for i in range(500)])
    out = sampling.shuffle_shards(ids, n_shards=4).collect()
    assert len(out) == 500 and len({r["doc_id"] for r in out}) == 500
    by_shard: dict[int, list[int]] = {}
    for r in out:
        assert 0 <= r["shard_id"] < 4
        by_shard.setdefault(r["shard_id"], []).append(r["shard_pos"])
    assert set(by_shard) == {0, 1, 2, 3}  # 500 uniform draws fill 4 shards
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard


def test_deterministic_and_partitioning_invariant(spark):
    ids = spark.createDataFrame([Row(doc_id=i) for i in range(300)])
    a = _rows(sampling.shuffle_shards(ids))
    b = _rows(sampling.shuffle_shards(ids))
    c = _rows(sampling.shuffle_shards(ids.repartition(7)))
    assert a == b == c


def test_append_keeps_assignments_and_relative_order(spark):
    """Appends insert into the permutation: no existing doc changes shard,
    and within a shard the old docs keep their relative order (positions
    may shift -- the assignment and the order never do)."""
    old = spark.createDataFrame([Row(doc_id=i) for i in range(200)])
    both = spark.createDataFrame([Row(doc_id=i) for i in range(260)])
    before = {
        r["doc_id"]: (r["shard_id"], r["shard_pos"])
        for r in sampling.shuffle_shards(old).collect()
    }
    after = {
        r["doc_id"]: (r["shard_id"], r["shard_pos"])
        for r in sampling.shuffle_shards(both).collect()
    }
    for i in range(200):
        assert after[i][0] == before[i][0], i
    for shard in {v[0] for v in before.values()}:
        old_order = sorted(
            (i for i in range(200) if before[i][0] == shard),
            key=lambda i: before[i][1],
        )
        new_order = sorted(old_order, key=lambda i: after[i][1])
        assert new_order == old_order, shard


def test_different_salts_give_different_permutations(spark):
    ids = spark.createDataFrame([Row(doc_id=i) for i in range(300)])
    a = _rows(sampling.shuffle_shards(ids, salt="shard-v1"))
    b = _rows(sampling.shuffle_shards(ids, salt="shard-v2"))
    assert a != b


def test_shard_sizes_roughly_balanced(spark):
    ids = spark.createDataFrame([Row(doc_id=i) for i in range(4000)])
    sizes = {
        r["shard_id"]: r["n"]
        for r in sampling.shuffle_shards(ids, n_shards=8)
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(sizes) == set(range(8))
    for n in sizes.values():  # E=500; +/-40% is ~9 sigma for a binomial
        assert 300 <= n <= 700, sizes


def test_null_ids_quarantine_to_null_shard(spark):
    """A NULL id has no md5 draw: it must land in a NULL shard_id
    (excluded from the serving permutation), never be silently assigned
    -- the explicit-NULL-policy convention of the domain mixers."""
    from pyspark.sql.types import LongType, StructField, StructType

    ids = spark.createDataFrame(
        [(i,) for i in range(50)] + [(None,), (None,)],
        StructType([StructField("doc_id", LongType(), True)]),
    )
    out = sampling.shuffle_shards(ids, n_shards=4).collect()
    assert len(out) == 52
    null_rows = [r for r in out if r["doc_id"] is None]
    assert len(null_rows) == 2
    assert all(r["shard_id"] is None for r in null_rows)
    assert sorted(r["shard_pos"] for r in null_rows) == [0, 1]
    assert all(
        r["shard_id"] is not None for r in out if r["doc_id"] is not None
    )


def test_duplicate_ids_share_a_shard_with_distinct_positions(spark):
    ids = spark.createDataFrame(
        [Row(doc_id=7)] * 5 + [Row(doc_id=i) for i in range(100)]
    )
    out = [r for r in sampling.shuffle_shards(ids, n_shards=4).collect()]
    dup = [r for r in out if r["doc_id"] == 7]
    assert len(dup) == 6  # the 5 copies + the range's own 7
    assert len({r["shard_id"] for r in dup}) == 1
    poss = sorted(r["shard_pos"] for r in dup)
    assert poss == list(range(poss[0], poss[0] + 6))  # consecutive ranks


def test_global_rank_equals_naive_definition(spark):
    """The distributed rank (range exchange + local row_number +
    broadcast offsets) must equal row_number() OVER (ORDER BY ...) - 1
    computed naively, for a score column with heavy ties, under
    different input partitionings."""
    import random

    rnd = random.Random(7)
    rows = [Row(doc_id=i, score=float(rnd.randint(0, 20))) for i in range(600)]
    order = [
        F.col("score").desc_nulls_last(),
        F.col("doc_id").asc_nulls_last(),
    ]
    expect = {
        r.doc_id: i
        for i, r in enumerate(sorted(rows, key=lambda x: (-x.score, x.doc_id)))
    }
    for n_parts in (1, 5, 13):
        df = spark.createDataFrame(rows).repartition(n_parts)
        got = {
            r["doc_id"]: r["rank"]
            for r in sampling.global_rank(df, order).collect()
        }
        assert got == expect, n_parts


def test_global_rank_plan_never_single_partitions_the_corpus(spark):
    """The corpus stage is ONE range exchange + in-partition sort + the
    mid stamp -- no window (a __gr_pid window would add a second
    full-corpus hash exchange for its clustering requirement), no
    SinglePartition sort.  Downstream of the checkpoint barrier, the
    offsets come back via broadcast, never a corpus-wide shuffle."""
    import re

    from nyc_taxi_dataset_analysis_apache_hive_spark.plans.explain import (
        explain_str,
    )

    df = spark.range(1000).withColumn("doc_id", F.col("id"))
    order = [F.col("doc_id").asc_nulls_last()]
    stage = explain_str(sampling._ranged_with_mid(df, order, 4))
    assert "rangepartitioning" in stage
    assert len(re.findall(r"\(\d+\) Exchange", stage)) == 1, stage[:1200]
    assert "windowspecdefinition" not in stage
    plan = explain_str(sampling.global_rank(df, order, n_partitions=4))
    # offsets come back via broadcast, never a corpus-wide shuffle join
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # post-checkpoint there is NO corpus exchange left: the only shuffle
    # is the tiny offsets aggregate's (SinglePartition over ~4 rows)
    assert "rangepartitioning" not in plan


def test_global_rank_survives_divergent_boundary_sampling(spark):
    """Regression pin for the r10 latent bug: Spark's range partitioner
    SAMPLES its boundaries per execution, so the old two-subtree shape
    (offsets aggregated over a second, independently-sampled range
    exchange) silently corrupted ranks whenever column pruning made the
    subtrees non-identical -- exactly the curriculum-writer shape, where
    the payload rides the ranked branch only.  Stress the sampler (2
    sample points per partition, continuous keys, a payload column kept
    in the output) and require exact ranks; under the old shape this
    fails with ~80-90% of ranks wrong."""
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "2")
        df = (
            spark.range(20000)
            .select(
                F.col("id").alias("doc_id"),
                F.sin(F.col("id").cast("double")).alias("score"),
                F.concat(F.lit("payload "), F.col("id")).alias("text"),
            )
            .repartition(11)
        )
        order = [
            F.col("score").desc_nulls_last(),
            F.col("doc_id").asc_nulls_last(),
        ]
        rows = sampling.global_rank(df, order, n_partitions=8).collect()
        expect = {
            r["doc_id"]: i
            for i, r in enumerate(
                sorted(rows, key=lambda x: (-x["score"], x["doc_id"]))
            )
        }
        bad = sum(1 for r in rows if r["rank"] != expect[r["doc_id"]])
        assert bad == 0 and len(rows) == 20000
    finally:
        spark.conf.set(key, old)


def test_curriculum_plan_is_single_corpus_pass(spark):
    """curriculum_shards must cost exactly global_rank: the corpus total
    rides the tiny offsets table (total_col), so the full plan carries
    ONE ExistingRDD-backed corpus (the checkpointed range stage) read by
    the rank branch and the offsets aggregate -- no third aggregate over
    the ranked corpus, no extra corpus exchange (r9 advice: the old
    crossJoin(total) subtree re-scanned the corpus for one number)."""
    import re

    from nyc_taxi_dataset_analysis_apache_hive_spark.plans.explain import (
        explain_str,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = explain_str(sampling.curriculum_shards(docs, "n_chars"))
    # the checkpointed corpus appears exactly twice: rank branch +
    # offsets aggregate -- a third scan would be the re-aggregated total
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 2, plan[:1500]
    assert "rangepartitioning" not in plan  # one range pass, inside the rdd
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_curriculum_shards_cut_is_balanced_and_ordered(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, score=float((i * 37) % 101)) for i in range(403)]
    )
    out = sampling.curriculum_shards(docs, "score", n_shards=4).collect()
    assert len(out) == 403
    sizes: dict[int, int] = {}
    for r in out:
        sizes[r["shard_id"]] = sizes.get(r["shard_id"], 0) + 1
    assert set(sizes) == {0, 1, 2, 3}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # shard boundaries respect the rank order: every rank in shard k
    # precedes every rank in shard k+1, and rank 0 is the best score
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard_id"], []).append(r["rank"])
    for k in range(3):
        assert max(by_shard[k]) < min(by_shard[k + 1]), k
    best = max(out, key=lambda r: r["score"] if "score" in r else 0)
    top = [r for r in out if r["rank"] == 0]
    assert len(top) == 1 and top[0]["shard_id"] == 0
    assert top[0]["score"] == max(r["score"] for r in out)


def test_serving_keys_stream_equals_batch_and_operators(spark, tmp_path):
    """assign_serving_keys is stateless, so it runs unchanged on a
    streaming DataFrame: a document admitted mid-stream gets the exact
    (split_id, shard_id) the batch operators would assign -- gated here
    against a 2-micro-batch file stream AND against hash_split /
    shuffle_shards on the same docs."""
    import os

    import pandas as pd

    pdf = pd.DataFrame(
        {"doc_id": range(120), "text": [f"d {i}" for i in range(120)]}
    )
    d = str(tmp_path / "docs")
    os.makedirs(d)
    pdf.iloc[:60].to_parquet(os.path.join(d, "00.parquet"), index=False)
    pdf.iloc[60:].to_parquet(os.path.join(d, "01.parquet"), index=False)

    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    q = (
        sampling.assign_serving_keys(stream)
        .writeStream.format("memory")
        .queryName("serving_keys_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["split_id"], r["shard_id"])
        for r in spark.table("serving_keys_sink").collect()
    }
    assert len(got) == 120

    static = spark.read.parquet(d)
    batch = {
        r["doc_id"]: (r["split_id"], r["shard_id"])
        for r in sampling.assign_serving_keys(static).collect()
    }
    splits = {
        r["doc_id"]: r["split_id"]
        for r in sampling.hash_split(static, id_col="doc_id").collect()
    }
    shards = {
        r["doc_id"]: r["shard_id"]
        for r in sampling.shuffle_shards(static).collect()
    }
    assert got == batch
    for i, (sp, sh) in got.items():
        assert (sp, sh) == (splits[i], shards[i]), i


def test_writer_round_trips_the_exact_serve_order(spark, tmp_path):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(400)]
    )
    path = str(tmp_path / "shards")
    writers.write_training_shards(docs, path, n_shards=4)
    back = spark.read.parquet(path)
    assert _rows(back) == _rows(sampling.shuffle_shards(docs, n_shards=4))
    assert {r["text"] for r in back.collect()} == {
        f"doc {i}" for i in range(400)
    }
    # each shard directory's files, read in lexicographic part order,
    # replay the shard in shard_pos order (the loader contract)
    import glob

    import pandas as pd

    for shard_dir in sorted(glob.glob(f"{path}/shard_id=*")):
        parts = [
            pd.read_parquet(f)
            for f in sorted(glob.glob(f"{shard_dir}/part-*"))
        ]
        poss = pd.concat(parts)["shard_pos"].tolist()
        assert poss == sorted(poss), shard_dir


def test_shard_manifest_attests_the_serve_order(spark, tmp_path):
    """The manifest must agree across reruns, count every row, and be
    position-SENSITIVE: swapping two documents' serve positions keeps
    row counts identical but must change content_sum."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(200)]
    )
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    writers.write_training_shards(docs, a, n_shards=4)
    writers.write_training_shards(docs, b, n_shards=4)
    ma = [tuple(r) for r in writers.shard_manifest(spark, a).collect()]
    mb = [tuple(r) for r in writers.shard_manifest(spark, b).collect()]
    assert ma == mb and len(ma) == 4
    assert sum(r[1] for r in ma) == 200
    for shard_id, n_rows, max_pos, _ in ma:
        assert max_pos == n_rows - 1, shard_id

    # tamper: swap the first two serve positions inside shard 0
    tampered = spark.read.parquet(a).withColumn(
        "shard_pos",
        F.when(
            (F.col("shard_id") == 0) & (F.col("shard_pos") < 2),
            F.lit(1) - F.col("shard_pos"),
        ).otherwise(F.col("shard_pos")),
    )
    t = str(tmp_path / "t")
    tampered.write.partitionBy("shard_id").parquet(t)
    mt = [tuple(r) for r in writers.shard_manifest(spark, t).collect()]
    assert [r[:3] for r in mt] == [r[:3] for r in ma]  # counts unchanged
    assert mt != ma  # ...but the digest sees the order change


def test_curriculum_writer_round_trips_score_order(spark, tmp_path):
    """layout='curriculum' materializes the score-ordered cut: reading
    the layout back gives every doc once, shard k's ranks all precede
    shard k+1's, and each shard directory's files in part order replay
    descending score."""
    import glob

    import pandas as pd

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=f"d {i}", score=float((i * 53) % 211))
            for i in range(400)
        ]
    )
    path = str(tmp_path / "cur")
    writers.write_training_shards(
        docs, path, n_shards=4, layout="curriculum", score_col="score"
    )
    back = spark.read.parquet(path).collect()
    assert len(back) == 400 and len({r["doc_id"] for r in back}) == 400
    by_shard: dict[int, list[int]] = {}
    for r in back:
        by_shard.setdefault(r["shard_id"], []).append(r["rank"])
    assert set(by_shard) == {0, 1, 2, 3}
    for k in range(3):
        assert max(by_shard[k]) < min(by_shard[k + 1]), k
    for shard_dir in sorted(glob.glob(f"{path}/shard_id=*")):
        parts = [
            pd.read_parquet(f)
            for f in sorted(glob.glob(f"{shard_dir}/part-*"))
        ]
        scores = pd.concat(parts)["score"].tolist()
        assert scores == sorted(scores, reverse=True), shard_dir


def test_writer_rerun_is_byte_identical(spark, tmp_path):
    """Two writes of the same corpus produce the same bytes shard for
    shard (file names carry fresh task UUIDs -- the digest walks files
    in directory order and hashes contents), substantiating the
    reproducible-layout claim rather than asserting it."""
    import glob
    import hashlib
    import os

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(300)]
    )

    def digest(path):
        h = hashlib.md5()
        for f in sorted(glob.glob(f"{path}/shard_id=*/part-*")):
            h.update(os.path.dirname(os.path.relpath(f, path)).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    writers.write_training_shards(docs, a, n_shards=4)
    writers.write_training_shards(docs, b, n_shards=4)
    assert digest(a) == digest(b)


def test_manifest_audits_curriculum_layout(spark, tmp_path):
    """The manifest must audit BOTH writer layouts: curriculum shards
    carry the global ``rank`` (no shard_pos column), auto-detected from
    the schema; reruns agree; and the digest stays position-sensitive
    on the rank (r9 advice finding -- the hardcoded shard_pos raised on
    curriculum layouts and no test noticed)."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=f"d {i}", score=float((i * 53) % 211))
            for i in range(200)
        ]
    )
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for p in (a, b):
        writers.write_training_shards(
            docs, p, n_shards=4, layout="curriculum", score_col="score"
        )
    ma = [tuple(r) for r in writers.shard_manifest(spark, a).collect()]
    mb = [tuple(r) for r in writers.shard_manifest(spark, b).collect()]
    assert ma == mb and len(ma) == 4
    assert sum(r[1] for r in ma) == 200
    # ranks are GLOBAL: shard k's max rank is the cumulative row count - 1
    cum = 0
    for shard_id, n_rows, max_pos, _ in ma:
        cum += n_rows
        assert max_pos == cum - 1, shard_id

    # tamper: swap the two best documents' ranks inside shard 0
    tampered = spark.read.parquet(a).withColumn(
        "rank",
        F.when(F.col("rank") < 2, F.lit(1) - F.col("rank")).otherwise(
            F.col("rank")
        ),
    )
    t = str(tmp_path / "t")
    tampered.write.partitionBy("shard_id").parquet(t)
    mt = [tuple(r) for r in writers.shard_manifest(spark, t).collect()]
    assert [r[:3] for r in mt] == [r[:3] for r in ma]
    assert mt != ma


def test_duplicate_id_rerun_is_byte_identical_with_tiebreak(spark, tmp_path):
    """Duplicate ids tie on (u, id), so differing payloads land on the
    tied positions in partition-sort order -- NOT rerun-stable by
    default (r9 advice finding).  ``tiebreak_cols`` restores the total
    order: two writes of a duplicate-id corpus under different input
    partitionings produce identical bytes."""
    import glob
    import hashlib
    import os

    rows = [Row(doc_id=i, text=f"doc {i}") for i in range(100)] + [
        Row(doc_id=7, text=f"dup payload {j}") for j in range(5)
    ]
    docs = spark.createDataFrame(rows)

    def digest(path):
        h = hashlib.md5()
        for f in sorted(glob.glob(f"{path}/shard_id=*/part-*")):
            h.update(os.path.dirname(os.path.relpath(f, path)).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    writers.write_training_shards(
        docs, a, n_shards=4, tiebreak_cols=("text",)
    )
    writers.write_training_shards(
        docs.repartition(7), b, n_shards=4, tiebreak_cols=("text",)
    )
    assert digest(a) == digest(b)
    # the tiebreak only refines tied positions: unique-id rows keep the
    # exact assignment the default order gives
    base = {
        (r["doc_id"], r["text"]): (r["shard_id"], r["shard_pos"])
        for r in sampling.shuffle_shards(docs, n_shards=4).collect()
        if r["doc_id"] != 7
    }
    tied = {
        (r["doc_id"], r["text"]): (r["shard_id"], r["shard_pos"])
        for r in sampling.shuffle_shards(
            docs, n_shards=4, tiebreak_cols=("text",)
        ).collect()
        if r["doc_id"] != 7
    }
    assert base == tied


def test_append_extends_serve_order_without_touching_history(spark, tmp_path):
    """The incremental writer: three admission batches over an initial
    layout.  Existing (shard_id, shard_pos) assignments never change, a
    new doc's shard equals what a full rewrite would assign (the stable
    md5 draw), positions stay contiguous 0..n-1 per shard (the manifest
    audit holds across appends), and within a batch the appended serve
    order is the batch's own shuffle_shards permutation."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(300)]
    )
    path = str(tmp_path / "shards")
    writers.write_training_shards(docs, path, n_shards=4)
    before = {
        r["doc_id"]: (r["shard_id"], r["shard_pos"])
        for r in spark.read.parquet(path).collect()
    }

    batches = [
        [Row(doc_id=i, text=f"doc {i}") for i in range(300, 360)],
        [Row(doc_id=i, text=f"doc {i}") for i in range(360, 400)],
    ]
    for rows in batches:
        writers.append_training_shards(
            spark.createDataFrame(rows), path, n_shards=4
        )

    back = spark.read.parquet(path).collect()
    assert len(back) == 400
    after = {r["doc_id"]: (r["shard_id"], r["shard_pos"]) for r in back}
    # history untouched
    assert {d: after[d] for d in before} == before
    # new docs' shard ids match a from-scratch assignment (stable draw)
    fresh = {
        r["doc_id"]: r["shard_id"]
        for r in sampling.shuffle_shards(
            spark.createDataFrame(
                [Row(doc_id=i, text=f"doc {i}") for i in range(400)]
            ),
            n_shards=4,
        ).collect()
    }
    for d in range(300, 400):
        assert after[d][0] == fresh[d], d
    # per-shard positions contiguous -- the manifest audit across appends
    m = [tuple(r) for r in writers.shard_manifest(spark, path).collect()]
    assert sum(r[1] for r in m) == 400
    for shard_id, n_rows, max_pos, _ in m:
        assert max_pos == n_rows - 1, shard_id
    # within each batch, appended order = the batch's own permutation
    b0 = spark.createDataFrame(batches[0])
    perm = {
        r["doc_id"]: (r["shard_id"], r["shard_pos"])
        for r in sampling.shuffle_shards(b0, n_shards=4).collect()
    }
    for shard in {s for s, _ in perm.values()}:
        batch_order = sorted(
            (after[d][1], d)
            for d in range(300, 360)
            if after[d][0] == shard
        )
        perm_order = sorted(
            (perm[d][1], d) for d in range(300, 360) if perm[d][0] == shard
        )
        assert [d for _, d in batch_order] == [d for _, d in perm_order]


def test_append_rejects_null_ids(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    docs = spark.createDataFrame([Row(doc_id=i) for i in range(50)])
    path = str(tmp_path / "s")
    writers.write_training_shards(docs, path, n_shards=2)
    bad = spark.createDataFrame(
        [(60,), (None,)],
        StructType([StructField("doc_id", LongType(), True)]),
    )
    import pytest

    with pytest.raises(ValueError, match="NULL doc_id"):
        writers.append_training_shards(bad, path, n_shards=2)


def test_writers_reject_reserved_layout_columns(spark, tmp_path):
    """A corpus already carrying a serve-layout column (shard_id /
    shard_pos / rank -- e.g. a payload column that happens to be named
    ``rank``) is rejected by BOTH sharded writers: otherwise
    shard_manifest's layout auto-detection could read the payload column
    as the serve order and silently mis-audit (r10 verdict nit)."""
    import pytest

    docs = spark.createDataFrame(
        [Row(doc_id=i, rank=i * 2) for i in range(20)]
    )
    with pytest.raises(ValueError, match="reserved serve-layout"):
        writers.write_training_shards(docs, str(tmp_path / "a"), n_shards=2)

    clean = spark.createDataFrame([Row(doc_id=i) for i in range(20)])
    path = str(tmp_path / "b")
    writers.write_training_shards(clean, path, n_shards=2)
    with pytest.raises(ValueError, match="reserved serve-layout"):
        writers.append_training_shards(
            spark.createDataFrame([Row(doc_id=100, shard_pos=0)]),
            path,
            n_shards=2,
        )


def test_append_rejects_curriculum_layout(spark, tmp_path):
    """Appends are layout='shuffle' only: a curriculum layout's serve
    order is a GLOBAL score rank an append cannot extend (continuing
    from max_pos would place every new doc after history regardless of
    score).  The target-schema check raises instead of mis-placing."""
    import pytest

    docs = spark.createDataFrame(
        [Row(doc_id=i, score=float(i % 7)) for i in range(60)]
    )
    path = str(tmp_path / "cur")
    writers.write_training_shards(
        docs, path, n_shards=2, layout="curriculum", score_col="score"
    )
    batch = spark.createDataFrame([Row(doc_id=100, score=9.0)])
    with pytest.raises(ValueError, match="curriculum"):
        writers.append_training_shards(batch, path, n_shards=2)


import pytest


@pytest.mark.scale
def test_serve_layout_write_append_audit_at_sf01(spark, tmp_path):
    """Opt-in nightly (the sf0.1 sweep discipline): the full serve-layout
    lifecycle at the bench decade -- write the sf0.1 documents corpus as
    shards, append a synthetic admission batch, and require the manifest
    audit (contiguous positions, total row count) plus untouched history
    on a sampled shard."""
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    path = str(tmp_path / "shards01")
    writers.write_training_shards(docs, path, n_shards=8)
    m0 = {r["shard_id"]: tuple(r) for r in writers.shard_manifest(spark, path).collect()}
    assert sum(v[1] for v in m0.values()) == n_docs

    batch = spark.createDataFrame(
        [Row(doc_id=10_000_000 + i, text=f"new doc {i}") for i in range(500)]
    )
    writers.append_training_shards(batch, path, n_shards=8)
    m1 = {r["shard_id"]: tuple(r) for r in writers.shard_manifest(spark, path).collect()}
    assert sum(v[1] for v in m1.values()) == n_docs + 500
    for shard_id, (_, n_rows, max_pos, _) in m1.items():
        assert max_pos == n_rows - 1, shard_id
    # history untouched: shard 0's original id->pos assignment survives
    before = {
        r["doc_id"]: r["shard_pos"]
        for r in spark.read.parquet(path)
        .filter((F.col("shard_id") == 0) & (F.col("doc_id") < 10_000_000))
        .collect()
    }
    fresh = {
        r["doc_id"]: r["shard_pos"]
        for r in sampling.shuffle_shards(docs, n_shards=8)
        .filter(F.col("shard_id") == 0)
        .collect()
    }
    assert before == fresh


def test_append_to_target_with_null_quarantine_partition(spark, tmp_path):
    """A target whose ORIGINAL write carried NULL-id rows has a NULL
    shard_id quarantine partition (shuffle_shards' documented policy).
    The append's per-shard base map must skip it -- NULL cannot be a
    create_map key, and the batch (NULL ids rejected) never maps to it
    (r11 advice: the literal-map rewrite would otherwise crash)."""
    from pyspark.sql.types import LongType, StructField, StructType

    docs = spark.createDataFrame(
        [(i,) for i in range(50)] + [(None,)],
        StructType([StructField("doc_id", LongType(), True)]),
    )
    path = str(tmp_path / "nullq")
    writers.write_training_shards(docs, path, n_shards=2)
    target = spark.read.parquet(path)
    assert target.filter(F.col("shard_id").isNull()).count() == 1
    batch = spark.createDataFrame([Row(doc_id=i) for i in range(100, 110)])
    writers.append_training_shards(batch, path, n_shards=2)
    after = spark.read.parquet(path)
    assert after.count() == 61
    # positions stay contiguous per NON-NULL shard; quarantine untouched
    for r in writers.shard_manifest(spark, path).collect():
        if r["shard_id"] is not None:
            assert r["max_pos"] == r["n_rows"] - 1
    assert after.filter(F.col("shard_id").isNull()).count() == 1
