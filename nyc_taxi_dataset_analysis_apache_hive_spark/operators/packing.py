"""Sequence packing: assign documents to fixed-token-budget training bins.

The last batch stage of an LLM data pipeline: concatenate documents into
training sequences without splitting a document across bins.  Greedy
first-fit-by-order packing is inherently a stateful scan (the running
budget resets when a bin closes), which plain window cumsums cannot
express -- so this is one of the few sanctioned Python-path operators:
``applyInPandas`` over hash shards (SURVEY §7.0's rule: built-ins first,
Arrow-batched Pandas only where semantics demand it).

Scale design: documents shard by a portable md5 hash of the id
(deterministic across reruns/engines/partitionings, same construction as
sampling.hash_split), each shard packs independently in one Arrow batch,
and the output keys bins by (shard, bin_in_shard) so no global coordination
or driver-side state exists.  Cross-shard packing efficiency loss is the
usual trade: with budget B and mean doc length L, expected waste per bin is
O(L/B) regardless of shard count.

The two CLOSED-FORM layouts sit alongside the greedy packer -- both
pure window arithmetic over the same shards, JVM-side end to end, and
therefore value-hashable against a DuckDB oracle (the s9 registry entry),
which the greedy fold structurally cannot be (its bin state threads
through a Python scan; it is gated in-plane via :func:`packing_audit`
instead):

* **concat-and-chunk** (:func:`pack_concat`): concatenate each shard's
  token stream in doc_id order and cut fixed ``context_len`` chunks,
  documents CROSSING chunk boundaries -- the GPT-2/3 pretraining layout
  (Brown et al. 2020 sec. 2.2: documents are packed into full-context
  sequences), near-zero padding, measured boundary-crossing cost.
* **length-bucketed bins** (:func:`pack_bucketed`): lengths round up to
  powers of two; a bin holds ``floor(context_len / bucket_len)``
  same-bucket documents -- a NO-SPLIT packing (the T5/instruction-tuning
  constraint, like :func:`pack_sequences`) whose per-bin capacity bound
  is arithmetic, not a packer invariant, at the cost of measured padding.

:func:`layout_stats` reports both layouts' economics per shard (padding,
crossings, truncations) -- the comparison that decides which layout a
run uses, with the greedy packer's :func:`packing_stats` fill-rate as
the third column of that decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..functions.text import token_count_ws


def _shard_col(id_col: str, n_shards: int):
    """Portable deterministic shard: md5-uniform of the id, mod n_shards
    (same hash family as sampling.hash_split -- NOT partitioning-dependent
    engine RNG)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("pack-v1:"), F.col(id_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % n_shards
    ).cast("int")


def pack_sequences(
    docs: DataFrame,
    budget: int,
    n_shards: int = 64,
    id_col: str = "doc_id",
    token_col: str | None = None,
) -> DataFrame:
    """Greedy first-fit packing of documents into token-budget bins.

    Returns (id_col, n_tokens, shard, bin_id, offset):

    * ``shard``   -- md5-hash shard the document packs within;
    * ``bin_id``  -- bin index within the shard (greedy, ascending id_col
      order: a bin closes when the next document would overflow
      ``budget``);
    * ``offset``  -- token offset of this document inside its bin.

    Documents longer than ``budget`` get a bin of their own (they are the
    caller's truncation problem; the operator never splits or drops).
    ``token_col`` supplies a precomputed token count; default counts
    whitespace tokens JVM-side before the Python stage, so the Arrow batch
    carries (id, n_tokens) only -- never the text.
    """
    if budget < 1:
        # fail fast: a zero/negative budget would silently pack every
        # nonzero-token document into its own bin (the used>0 guard always
        # fires) -- same validation posture as asof.range_join(bin_seconds)
        raise ValueError(f"budget must be >= 1, got {budget}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if token_col is None:
        raw_n = token_count_ws("text")
    else:
        raw_n = F.col(token_col).cast("long")
    # A caller-supplied token_col can carry NULLs or negatives -- both
    # pack as 0-token docs (still atomic rows) so they cannot corrupt
    # later offsets in the shard.  (token_count_ws itself needs no
    # guard: it coalesces NULL text to 0 internally.)
    # NULL ids drop: md5(NULL) -> NULL shard would pack them into
    # a phantom shard; the closed-form layouts drop them too, so the
    # two layout families keep the SAME row membership on a
    # contract-violating corpus.
    sized = (
        docs.filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col),
            F.greatest(F.coalesce(raw_n, F.lit(0)), F.lit(0)).alias(
                "n_tokens"
            ),
        )
        .withColumn("shard", _shard_col(id_col, n_shards))
    )

    # output id column keeps the input's type (ids are not always longs)
    id_field = StructField(id_col, docs.schema[id_col].dataType)
    out_schema = StructType(
        [
            id_field,
            StructField("n_tokens", LongType()),
            StructField("shard", IntegerType()),
            StructField("bin_id", LongType()),
            StructField("offset", LongType()),
        ]
    )

    def pack(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins, offsets = [], []
        bin_id, used = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if used > 0 and used + n > budget:
                bin_id += 1
                used = 0
            bins.append(bin_id)
            offsets.append(used)
            used += n
        pdf["bin_id"] = bins
        pdf["offset"] = offsets
        return pdf[[id_col, "n_tokens", "shard", "bin_id", "offset"]]

    return sized.groupBy("shard").applyInPandas(pack, schema=out_schema)


def packing_stats(packed: DataFrame, budget: int) -> DataFrame:
    """Utilization report over a :func:`pack_sequences` result: one global
    row (n_bins, n_docs, total_tokens, fill_rate, p50_fill, p90_fill,
    oversize_bins).

    The number a pipeline owner actually tunes ``budget`` with: fill_rate =
    packed tokens / (bins x budget); ``oversize_bins`` counts
    single-document bins exceeding the budget (the caller's truncation
    debt).  Two hash-aggregates -- per-(shard, bin) then global -- both
    map-side combinable; the quantiles run on the per-bin frame
    (O(bins), not O(docs)).
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    per_bin = packed.groupBy("shard", "bin_id").agg(
        F.sum("n_tokens").alias("bin_tokens"),
        F.count(F.lit(1)).alias("bin_docs"),
    )
    fill = F.col("bin_tokens") / F.lit(float(budget))
    return per_bin.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("bin_docs").alias("n_docs"),
        F.sum("bin_tokens").alias("total_tokens"),
        F.round(
            F.sum("bin_tokens") / (F.count(F.lit(1)) * budget), 4
        ).alias("fill_rate"),
        F.round(F.expr(f"percentile_approx(bin_tokens / {budget}.0D, 0.5)"), 4).alias(
            "p50_fill"
        ),
        F.round(F.expr(f"percentile_approx(bin_tokens / {budget}.0D, 0.9)"), 4).alias(
            "p90_fill"
        ),
        F.sum((fill > 1.0).cast("long")).alias("oversize_bins"),
    )


def packing_audit(
    docs: DataFrame,
    budget: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """One-row self-validation of :func:`pack_sequences`, shaped for a
    driver oracle (the bpe_roundtrip_audit pattern): a correct packer
    yields ``n_pack_docs == count(*)`` and every violation counter 0, so
    the oracle side needs no greedy replay -- only the corpus count and
    literal zeros.  The greedy fold itself is the one Python stage; every
    invariant below is checked with JVM-side windows/aggregates over its
    output:

    * ``n_pack_token_drift`` -- |sum of packed n_tokens - sum of the same
      JVM token count over the input|: 0 unless the Arrow boundary
      dropped/duplicated/resized a document.
    * ``n_pack_capacity_viol`` -- multi-document bins over ``budget``
      (single-doc bins MAY exceed it: the documented oversize rule).
    * ``n_pack_offset_viol`` -- docs whose ``offset`` differs from the
      running sum of preceding docs in their bin (ascending ``id_col``).
    * ``n_pack_greedy_viol`` -- bins whose first document would have fit
      in the previous bin (greedy first-fit never opens a bin early;
      0-token docs always fit, so every non-first bin must violate
      ``prev_bin_tokens + first_tokens <= budget``).
    * ``n_pack_bin_gap_viol`` -- shards whose bin ids are not contiguous
      from 0.

    Plan shape: ONE pass through the packed output (the windows and
    aggregates stack on a single lineage, so ``applyInPandas`` executes
    once), aggregated doc -> bin -> shard -> global, cross-joined with
    the 1-row input-side token total (J1 scalar shape)."""
    packed = pack_sequences(docs, budget, n_shards, id_col)
    in_total = docs.select(
        F.sum(token_count_ws("text")).alias("in_tokens")
    )
    w_prefix = (
        Window.partitionBy("shard", "bin_id")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_doc = packed.withColumn(
        "_off_viol",
        (
            F.col("offset")
            != F.coalesce(F.sum("n_tokens").over(w_prefix), F.lit(0))
        ).cast("long"),
    )
    per_bin = per_doc.groupBy("shard", "bin_id").agg(
        F.sum("n_tokens").alias("bin_tokens"),
        F.count(F.lit(1)).alias("bin_docs"),
        F.min_by("n_tokens", F.col(id_col)).alias("first_tokens"),
        F.sum("_off_viol").alias("off_viols"),
    )
    w_shard = Window.partitionBy("shard").orderBy("bin_id")
    per_bin = per_bin.withColumn(
        "prev_tokens", F.lag("bin_tokens").over(w_shard)
    )
    per_shard = per_bin.groupBy("shard").agg(
        F.sum("bin_docs").alias("docs"),
        F.sum("bin_tokens").alias("tokens"),
        F.sum("off_viols").alias("off_viols"),
        F.sum(
            (
                (F.col("bin_docs") > 1) & (F.col("bin_tokens") > budget)
            ).cast("long")
        ).alias("cap_viols"),
        F.sum(
            (
                F.col("prev_tokens").isNotNull()
                & (F.col("prev_tokens") + F.col("first_tokens") <= budget)
            ).cast("long")
        ).alias("greedy_viols"),
        F.count(F.lit(1)).alias("n_bins"),
        F.min("bin_id").alias("min_bin"),
        F.max("bin_id").alias("max_bin"),
    )
    audit = per_shard.agg(
        F.sum("docs").alias("n_pack_docs"),
        F.sum("tokens").alias("out_tokens"),
        F.sum("off_viols").alias("n_pack_offset_viol"),
        F.sum("cap_viols").alias("n_pack_capacity_viol"),
        F.sum("greedy_viols").alias("n_pack_greedy_viol"),
        F.sum(
            (
                (F.col("min_bin") != 0)
                | (F.col("max_bin") != F.col("n_bins") - 1)
            ).cast("long")
        ).alias("n_pack_bin_gap_viol"),
    )
    return audit.crossJoin(in_total).select(
        F.coalesce("n_pack_docs", F.lit(0)).alias("n_pack_docs"),
        F.abs(
            F.coalesce("out_tokens", F.lit(0))
            - F.coalesce("in_tokens", F.lit(0))
        ).alias("n_pack_token_drift"),
        F.coalesce("n_pack_capacity_viol", F.lit(0)).alias(
            "n_pack_capacity_viol"
        ),
        F.coalesce("n_pack_offset_viol", F.lit(0)).alias(
            "n_pack_offset_viol"
        ),
        F.coalesce("n_pack_greedy_viol", F.lit(0)).alias(
            "n_pack_greedy_viol"
        ),
        F.coalesce("n_pack_bin_gap_viol", F.lit(0)).alias(
            "n_pack_bin_gap_viol"
        ),
    )


# ---------------------------------------------------------------------------
# Closed-form layouts: window-expressible packings that value-hash
# against the DuckDB oracle.  Both take one (doc_id, n_tokens) count
# table, so a caller computes it once and feeds both.
# ---------------------------------------------------------------------------

#: gate-sized context window (tokens per training sequence) for the
#: closed-form layouts; deployment values are 2048/4096/8192 -- every
#: expression is parametric (the BLOOM_M gate-sizing convention).
DEFAULT_CONTEXT_LEN = 256

#: gate-sized shard fan-out for the closed-form layouts.  At deployment
#: this is the output-file count (thousands): the per-shard windows are
#: the ONLY sorts anywhere, so n_shards is the parallelism knob.
DEFAULT_PACK_SHARDS = 8

def doc_token_counts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens): the whitespace-token counts the closed-form
    layouts consume -- NULL text counts 0 (token_count_ws's policy).
    Zero-token documents are RETAINED here and excluded by each layout
    explicitly (a document contributing no tokens has no place in a
    token stream; keeping the exclusion in the layout keeps this frame
    reusable as a generic count table)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        token_count_ws(text_col).alias("n_tokens"),
    )


def _sharded_counts(counts: DataFrame, n_shards: int) -> DataFrame:
    """Shared front half of both closed-form layouts: positive token
    counts tagged with their deterministic shard (the module's one
    ``_shard_col`` hash, so greedy and closed-form layouts of the same
    corpus agree on shard membership)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    # doc_id IS NOT NULL mirrors the n_tokens > 0 exclusion: the
    # layouts' contract is unique NON-NULL ids, but a violating NULL id
    # would flow through to a NULL shard whose per-shard
    # orderBy('doc_id') then DIVERGES between engines (Spark sorts
    # NULLS FIRST, DuckDB NULLS LAST) -- silently breaking the
    # value-hash.  Dropping the row degrades a contract violation to
    # the same row-drop on both engines.
    return counts.filter(
        (F.col("n_tokens") > 0) & F.col("doc_id").isNotNull()
    ).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        _shard_col("doc_id", n_shards).cast("long").alias("shard"),
    )


def pack_concat(
    counts: DataFrame,
    context_len: int = DEFAULT_CONTEXT_LEN,
    n_shards: int = DEFAULT_PACK_SHARDS,
) -> DataFrame:
    """Concat-and-chunk placements of a :func:`doc_token_counts`-shaped
    frame ((doc_id, n_tokens)): where each document's tokens land
    when the shard's documents are concatenated in doc_id order and the
    stream is cut into ``context_len``-token chunks.

    Returns one row per token-bearing document::

        (doc_id, shard, n_tokens,
         start_offset,   -- 0-based token offset in the shard stream
         start_chunk,    -- start_offset div context_len
         end_chunk,      -- chunk of the LAST token
         chunk_offset)   -- start_offset % context_len

    ``end_chunk > start_chunk`` means the document crosses one or more
    sequence boundaries -- the layout's only cost (the crossing document
    trains against an attention reset mid-text), traded for near-zero
    padding (only each shard stream's final chunk pads).
    :func:`layout_stats` reports both.

    The exclusive running sum is ONE window per shard (rows unbounded
    preceding .. -1), ordered by doc_id -- deterministic given unique
    ids (the driver tables' contract; the span_runs unique-id discipline
    applies: a duplicated id would give two documents one offset).
    Zero-token documents are excluded -- they would otherwise alias
    their successor's offset."""
    if context_len < 1:
        raise ValueError(f"context_len must be >= 1, got {context_len}")
    sc = _sharded_counts(counts, n_shards)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    L = F.lit(int(context_len))
    placed = sc.withColumn(
        "start_offset",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
    )
    # `div`, not `/`: float division truncated back to long is exact
    # only while the offset fits a double's 53-bit mantissa -- a
    # deployment shard stream (~1e12 tokens) is fine today, but the
    # integral form costs nothing and can never round x.99999... across
    # a chunk edge.
    return placed.select(
        "doc_id",
        "shard",
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset div {int(context_len)}").alias("start_chunk"),
        F.expr(
            f"(start_offset + n_tokens - 1) div {int(context_len)}"
        ).alias("end_chunk"),
        (F.col("start_offset") % L).cast("long").alias("chunk_offset"),
    )


def _bucket_len(n, context_len: int):
    """Smallest power of two >= n, capped at ``context_len``.

    Integer-corrected: the float log2 only PROPOSES an exponent; the
    actual power-of-two comparison decides, so a 1-ulp log error can
    never mis-bucket (pow(2, int) is IEEE-exact through 2^52 and the
    exact integral double casts to the same long in both engines).  The
    cap keeps capacity >= 1 when context_len is not itself a power of
    two (a 300-token cap would otherwise bucket a 200-token doc at 256
    but a 257-token doc at 512 > cap)."""
    p = F.floor(F.log2(n.cast("double"))).cast("int")
    lo = F.pow(F.lit(2.0), p).cast("long")
    pow2 = F.when(lo >= n, lo).otherwise(F.pow(F.lit(2.0), p + 1).cast("long"))
    return F.least(pow2, F.lit(int(context_len)).cast("long"))


def pack_bucketed(
    counts: DataFrame,
    context_len: int = DEFAULT_CONTEXT_LEN,
    n_shards: int = DEFAULT_PACK_SHARDS,
) -> DataFrame:
    """Length-bucketed no-split bins: documents never cross sequence
    boundaries (:func:`pack_sequences`' constraint), but unlike the
    greedy fold the assignment is CLOSED-FORM -- two windows, no Python
    -- so it replays bit-for-bit on any engine and value-hashes against
    the oracle.  The trade is padding: greedy first-fit mixes lengths
    within a bin, bucketing pads each document to a power of two.

    Layout: a document of ``n`` tokens (truncated to ``context_len`` --
    ``truncated`` flags it; contrast pack_sequences' oversize-bin rule)
    occupies a bucket ``bucket_len = min(2^ceil(log2 n), context_len)``;
    a bin holds ``capacity = context_len div bucket_len`` same-bucket
    documents, filled in doc_id order.  ``capacity * bucket_len <=
    context_len`` always -- no bin ever exceeds the context window, by
    arithmetic.

    Returns one row per token-bearing document::

        (doc_id, shard, n_tokens,
         bucket_len,   -- the rounded slot size
         bin_id,       -- 0-based bin within the shard, dense across buckets
         bin_slot,     -- 0-based slot within the bin
         truncated)    -- 1 when n_tokens > context_len

    ``bin_id`` is dense PER SHARD (dense_rank over (bucket_len,
    bin_seq)) so a writer emits shard files of consecutively-numbered
    sequences; both windows ride ONE shard exchange (row_number within
    bucket, dense_rank across buckets) -- still no global sort.
    ``counts``: as :func:`pack_concat`.
    """
    if context_len < 1:
        raise ValueError(f"context_len must be >= 1, got {context_len}")
    sc = _sharded_counts(counts, n_shards)
    L = int(context_len)
    b = sc.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.least(F.col("n_tokens"), F.lit(L).cast("long")).alias("n_eff"),
        (F.col("n_tokens") > L).cast("long").alias("truncated"),
    ).withColumn("bucket_len", _bucket_len(F.col("n_eff"), L))
    wslot = Window.partitionBy("shard", "bucket_len").orderBy("doc_id")
    slotted = (
        b.withColumn("slot", (F.row_number().over(wslot) - 1).cast("long"))
        .withColumn("cap", F.expr(f"{L} div bucket_len"))
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            "truncated",
            "bucket_len",
            F.expr("slot div cap").alias("bin_seq"),
            (F.col("slot") % F.col("cap")).cast("long").alias("bin_slot"),
        )
    )
    wbin = Window.partitionBy("shard").orderBy("bucket_len", "bin_seq")
    return slotted.withColumn(
        "bin_id", (F.dense_rank().over(wbin) - 1).cast("long")
    ).select(
        "doc_id",
        "shard",
        "n_tokens",
        "bucket_len",
        "bin_id",
        "bin_slot",
        "truncated",
    )


def layout_stats(
    concat: DataFrame,
    bucketed: DataFrame,
    context_len: int = DEFAULT_CONTEXT_LEN,
) -> DataFrame:
    """Per-shard layout economics for both closed-form packings -- the
    number that decides which layout a run uses (alongside
    :func:`packing_stats`' greedy fill rate)::

        (op, shard, n_docs, n_seqs, pad_tokens, n_flagged)

    * ``op='concat'``: ``n_seqs`` = chunks the shard stream cuts into,
      ``pad_tokens`` = the final chunk's tail padding (the layout's ONLY
      padding), ``n_flagged`` = boundary-crossing documents.
    * ``op='bucket'``: ``n_seqs`` = bins, ``pad_tokens`` = L*bins minus
      the tokens actually stored (bucket rounding + unfilled tail
      slots; tokens a truncation DROPPED are lost, not padding --
      ``n_flagged`` counts the truncations).

    Pure group-bys over the placement frames; pass the frames you
    materialized -- stats never recompute a layout.  ``context_len``
    MUST match the one the layouts were built at (it is only used for
    the padding arithmetic; a mismatch miscounts pads silently, so
    registry callers thread one constant through all three calls)."""
    L = F.lit(int(context_len)).cast("long")
    c = concat.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("_tok"),
        F.sum(
            (F.col("end_chunk") > F.col("start_chunk")).cast("long")
        ).alias("n_flagged"),
    )
    nseq = F.expr(f"(_tok + {int(context_len) - 1}) div {int(context_len)}")
    c = c.select(
        F.lit("concat").alias("op"),
        "shard",
        "n_docs",
        nseq.alias("n_seqs"),
        (nseq * L - F.col("_tok")).cast("long").alias("pad_tokens"),
        "n_flagged",
    )
    bt = bucketed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.least(F.col("n_tokens"), L)).alias("_eff"),
        (F.max("bin_id") + 1).cast("long").alias("n_seqs"),
        F.sum("truncated").alias("n_flagged"),
    )
    b = bt.select(
        F.lit("bucket").alias("op"),
        "shard",
        "n_docs",
        "n_seqs",
        (F.col("n_seqs") * L - F.col("_eff")).cast("long").alias("pad_tokens"),
        "n_flagged",
    )
    return c.unionByName(b)
