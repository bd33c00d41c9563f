"""Deduplication operators over the ``documents`` table.

Training-data-pipeline extensions beyond the reference surface (the
reference is batch SQL only; dedup is the op a 100-TB corpus pipeline needs
most).  Four families, cheapest first:

* exact / fingerprint dedup -- one hash-aggregate, fully parallel.
* MinHash + LSH banding -- shingle -> signature -> band-bucket join;
  the scale path for near-dup at 100 TB (candidate pairs only, never all
  pairs).
* n-gram Jaccard -- exact verification, inverted-index join on shingles
  (used standalone at small scale and as the verify stage after LSH).
* SimHash -- bit-signature Hamming dedup (portable 60-bit md5 signature,
  full SQL oracle).

Design: all built-ins (split / explode / min / md5 / array ops).  The only
shuffles are on (doc, seed) and on shingle/bucket keys -- all combinable
map-side.  md5-string MinHash is used instead of murmur3 so the DuckDB
oracle can reproduce signatures exactly (md5 is identical everywhere).
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    distinct_tokens,
    fingerprint_md5,
    ngrams_from_tokens,
    tokens,
)


def token_table(
    docs: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, toks): the null-safe word-token arrays (NULL text
    tokenizes to an empty array, the scrub-leg convention) -- the one
    input of every word-token operator in this package.  A caller
    running several of them over one corpus materializes this frame
    once and feeds it to each.  Whether the materialization wins is a
    MEASURED question that flipped with consumer count: with two
    consumers (minhash signature + jaccard verify) recompute was
    cheaper at sf0.1 on local[32] (materializing 100k string arrays
    cost more than one extra split+filter pass), but with FOUR token
    consumers (d4's ngram index, span grams, rep grams, rep lengths)
    the shared eager checkpoint measured 9.5-10.9 s vs 10.0-11.9 s
    independent (5 interleaved reps, ~7%) -- adopted in the d4 entry.
    At 100-TB scale tokenization dominates CPU and sharing is the right
    default regardless.

    ``keep=``: extra payload columns carried alongside the token array
    (e.g. ``("source",)`` for the tv1 probe legs whose label rides the
    shared checkpoint)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    return docs.select("doc_id", *keep, tokens(text).alias("toks"))


def _shingle_sets(toks: DataFrame, shingle_n: int) -> DataFrame:
    """(doc_id, sh: array<string>) distinct word n-gram sets of a
    :func:`token_table` frame.

    The token array is its own projection on purpose, so the n-gram
    lambda reads a concrete array instead of re-running the tokenizer
    per element (see PERF note on ngrams_from_tokens -- 23x at sf0.1).
    """
    return toks.select(
        "doc_id",
        F.array_distinct(ngrams_from_tokens(F.col("toks"), shingle_n)).alias("sh"),
    )


def exact_dedup_groups(docs: DataFrame, key_col: str = "text") -> DataFrame:
    """Exact dedup: one row per distinct ``key_col`` with keeper + dupe count.

    ``keep_id`` is the smallest doc_id of the group (deterministic keeper
    policy).  Single hash-aggregate on the key -- at scale, dedup on a long
    text column should prefer :func:`fingerprint_dedup_groups` so the
    shuffle key is a 32-byte hash, not the document body.
    """
    return docs.groupBy(F.col(key_col)).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def fingerprint_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup on md5(normalized text) -- constant-width shuffle key."""
    return (
        docs.select("doc_id", fingerprint_md5("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


#: Mersenne prime 2^31-1: universal-hash modulus.  h and a,b < p, so
#: a*h+b < 2^62 -- no int64 overflow in Spark (wrap-free) or DuckDB (checked).
MINHASH_P = 2147483647


def minhash_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation constants, identical in the SQL
    oracle (generated from the same formula, embedded as literals)."""
    out = []
    for i in range(n_hashes):
        a = (i * 2654435761 + 105) % MINHASH_P or 1
        b = (i * 40503 + 17) % MINHASH_P
        out.append((a, b))
    return out


def shingle_base_hash(shingle: Column) -> Column:
    """Portable 60-bit base hash: first 15 hex chars of md5.

    One md5 per shingle (codegen'd JVM-side).  ``conv(hex,16,10)`` ==
    DuckDB ``CAST('0x'||substr(...) AS BIGINT)``.  The full 60-bit value is
    returned: as the d4 inverted-index join key, collisions merge two
    shingles' posting lists and inflate common-shingle counts, so the key
    space should be as wide as the engines can agree on (~2^60 keeps the
    birthday bound negligible up to ~10^8 distinct shingles; a 31-bit space
    would start colliding at ~10^4).  The MinHash permutation path reduces
    mod p separately (see :func:`minhash_reduced_hash`) because
    ``a * h + b`` must stay below 2^63.
    """
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long")


def minhash_reduced_hash(shingle: Column) -> Column:
    """Base hash reduced into the universal-hash field: ``h mod p``.

    Required by the permutation step: with h < p and a,b < p,
    ``a*h + b < 2^62`` -- no int64 overflow in Spark (wrap-free) or DuckDB
    (checked)."""
    return shingle_base_hash(shingle) % MINHASH_P


def minhash_signatures(
    docs: DataFrame, n_hashes: int = 16, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature per document: (doc_id, sig_0 .. sig_{n-1}).

    Shingles are word 3-grams; signature component i is
    ``min((a_i * h + b_i) mod p)`` over shingle base-hashes h -- the
    classic universal-hash MinHash, engine-portable by construction.

    Scale: explode(shingles) -> 1 md5 + n_hashes long-ops per shingle ->
    n_hashes parallel min-aggregates in ONE groupBy(doc_id).  Partial
    aggregation collapses everything map-side; the shuffle carries
    n_hashes longs per document.
    """
    sets = _shingle_sets(token_table(docs), shingle_n)
    return _signatures_from_sets(sets, n_hashes)


def _signatures_from_sets(sets: DataFrame, n_hashes: int) -> DataFrame:
    """Signature derivation from a (doc_id, sh) shingle-set frame -- split
    out so :func:`minhash_lsh_pairs` can share one persisted set frame
    between the signature and verify passes."""
    sh = sets.select("doc_id", F.explode("sh").alias("s"))
    rows = sh.select("doc_id", minhash_reduced_hash(F.col("s")).alias("h"))
    # expr-string spelling (guide §7 construction altitude): the
    # Column-algebra form paid ~6 py4j round-trips per permutation
    # (~100 for 16 hashes) at ~0.5-0.7 ms each on this gateway; one
    # parsed string per aggregate is 2.  Identical expression -- SQL
    # integer literals type exactly like F.lit ints (INT <= 2^31-1,
    # BIGINT above), so a*h+b stays the same BIGINT arithmetic.
    aggs = [
        F.expr(f"min(({a} * h + {b}) % {MINHASH_P})").alias(f"sig_{i}")
        for i, (a, b) in enumerate(minhash_params(n_hashes))
    ]
    return rows.groupBy("doc_id").agg(*aggs)


def minhash_band_buckets(
    signatures: DataFrame, n_hashes: int = 16, n_bands: int = 4
) -> DataFrame:
    """LSH banding: rows (doc_id, band, bucket), bucket = '|'-joined band
    signature components -- n_bands rows per doc via one explode."""
    rows_per_band = n_hashes // n_bands
    # expr-string spelling (guide §7): the nested
    # array(struct(concat_ws(cast...))) Column build was ~50 py4j
    # round-trips per call (and this is called once per side per
    # consumer -- d3, d7, the incremental admit leg); one parsed
    # string is 2.  named_struct/int literals type identically.
    bands = F.expr(
        "array("
        + ", ".join(
            "named_struct('band', {b}, 'bucket', concat_ws('|', {cols}))".format(
                b=b,
                cols=", ".join(
                    f"cast(sig_{j} as string)"
                    for j in range(b * rows_per_band, (b + 1) * rows_per_band)
                ),
            )
            for b in range(n_bands)
        )
        + ")"
    )
    return signatures.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _band_candidates(
    left: DataFrame, right: DataFrame, left_out: str, right_out: str,
    ordered: bool = False,
) -> DataFrame:
    """Distinct candidate id pairs from two band-bucket frames: collide
    only where a full band matches (never an all-pairs product).
    ``ordered=True`` adds the self-join dedup condition left_id < right_id.
    One definition shared by the self-join and cross-corpus operators."""
    a, b = left.alias("a"), right.alias("b")
    cond = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.bucket") == F.col("b.bucket")
    )
    if ordered:
        cond = cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias(left_out), F.col("b.doc_id").alias(right_out)
        )
        .distinct()
    )


def _jaccard_verified(
    cands: DataFrame,
    left_sets: DataFrame,
    right_sets: DataFrame,
    left_id: str,
    right_id: str,
    threshold: float,
) -> DataFrame:
    """Exact shingle-set Jaccard verification of candidate pairs -- the one
    definition of the verify stage (rounding, NULL semantics, threshold)
    shared by the self-join and cross-corpus operators."""
    sa = left_sets.select("doc_id", F.array_sort("sh").alias("sh")).alias("sa")
    sb = right_sets.select("doc_id", F.array_sort("sh").alias("sh")).alias("sb")
    jac = (
        F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
        / F.size(F.array_union(F.col("sa.sh"), F.col("sb.sh"))).cast("double")
    )
    return (
        cands.join(sa, F.col(left_id) == F.col("sa.doc_id"))
        .join(sb, F.col(right_id) == F.col("sb.doc_id"))
        .select(left_id, right_id, F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH + exact-Jaccard verification.

    candidate generation: self-join of band buckets (collides only docs
    sharing a full band -- never an all-pairs product); verification: exact
    shingle-set Jaccard on candidates only.  Returns
    (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.

    The shingle sets feed both the signature pass and the Jaccard verify,
    and are recomputed for each rather than persisted -- measured cheaper
    at sf0.1 on local[32], where materializing 260k string arrays costs
    more than re-running the tokenize+shingle projection (bench numbers
    in BASELINE.md).

    ``signatures``: an already-materialized :func:`minhash_signatures`
    frame (same n_hashes/shingle_n) skips the internal signature
    derivation -- the sharing hook for callers that also feed the same
    signatures to the admission path (the d3 registry entry).
    """
    shingle_frame = _shingle_sets(token_table(docs), shingle_n)
    sigs = (
        signatures
        if signatures is not None
        else _signatures_from_sets(shingle_frame, n_hashes)
    )
    buckets = minhash_band_buckets(sigs, n_hashes, n_bands)
    cands = _band_candidates(buckets, buckets, "doc_a", "doc_b", ordered=True)
    return _jaccard_verified(
        cands, shingle_frame, shingle_frame, "doc_a", "doc_b", jaccard_threshold
    )


def cross_corpus_minhash_pairs(
    corpus_toks: DataFrame,
    probe_toks: DataFrame,
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Decontamination: near-duplicate pairs ACROSS two corpora (e.g. does
    any training document match an eval/benchmark document?).

    Same banded-LSH shape as :func:`minhash_lsh_pairs` but the bucket join
    is corpus x probes instead of a self-join: candidates are generated
    only where a full band collides across the two sides, then verified
    with exact shingle-set Jaccard.  Returns (corpus_id, probe_id, jaccard)
    with jaccard >= threshold.

    Scale: the probe side (benchmarks) is typically tiny next to the
    training corpus -- its band table broadcasts, so the corpus is never
    shuffled; with a large probe side Catalyst falls back to a shuffled
    equi-join on (band, bucket), still never an all-pairs product.

    Both sides are :func:`token_table` frames (d7 slices one shared
    tokenize into the two sides).
    """
    c_sets = _shingle_sets(corpus_toks, shingle_n)
    p_sets = _shingle_sets(probe_toks, shingle_n)
    c_buckets = minhash_band_buckets(
        _signatures_from_sets(c_sets, n_hashes), n_hashes, n_bands
    )
    p_buckets = minhash_band_buckets(
        _signatures_from_sets(p_sets, n_hashes), n_hashes, n_bands
    )
    cands = _band_candidates(c_buckets, p_buckets, "corpus_id", "probe_id")
    return _jaccard_verified(
        cands, c_sets, p_sets, "corpus_id", "probe_id", jaccard_threshold
    )


def ngram_jaccard_pairs(
    toks: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via an inverted-index join
    over a :func:`token_table` frame.

    explode distinct shingles -> self-join on shingle (doc_a < doc_b) ->
    common-shingle count per pair -> jaccard = common / (|A| + |B| - common).
    No all-pairs product: pairs sharing zero shingles never materialise.

    ``max_doc_freq`` is the heavy-hitter control for 100-TB corpora: a
    shingle appearing in d documents contributes O(d^2) candidate rows to
    the self-join, and boilerplate stop-grams ("all rights reserved") can
    have d in the millions while carrying no near-dup signal.  When set,
    shingles with document frequency > max_doc_freq are dropped by an
    AGGREGATE + LEFT-ANTI join: document frequencies come from one
    groupBy(shingle) count (partial aggregation collapses a hot shingle
    map-side), and the index anti-joins against the over-threshold set --
    never a count-over-window on the shingle key, which would buffer/sort
    every row of the hot key on one task (see the inline comment below).
    This is a documented approximation: dropped shingles no
    longer count toward ``common``, so reported jaccard becomes a lower
    bound and pairs overlapping ONLY in boilerplate fall away -- which is
    the desired behaviour.  Default None = exact (the oracle-parity path);
    AQE skew-join splitting covers moderate skew either way.
    """
    sets = _shingle_sets(toks, shingle_n)
    sizes = sets.select("doc_id", F.size("sh").alias("n_sh"))
    # join key is the portable 60-bit md5 hash, not the shingle string: the
    # shuffle carries 8-byte longs instead of ~20-char strings, and the
    # oracle applies the identical hash so even collisions (which would
    # merge two shingles' postings) are bit-identical across engines
    inv = sets.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id", shingle_base_hash(F.col("s")).alias("shingle")
    )
    if max_doc_freq is not None:
        # Two-phase: aggregate document frequencies (partial aggregation
        # combines a hot shingle map-side -- ~1 row per partition reaches
        # the shuffle even for a 5M-doc boilerplate shingle), then anti-join
        # the index against the hot set.  NOT a window count: a
        # count-over-window would hash-partition every row of the hot key
        # onto one task and buffer/sort them there -- recreating exactly
        # the straggler this cap removes.  No broadcast hint: the hot set
        # is usually tiny and AQE sees its actual size at runtime, but a
        # pathological cap (most shingles hot) degrades to a shuffled
        # anti-join instead of a driver OOM.  The index lineage is
        # evaluated twice (counts + join input); that recompute is linear
        # and cheap next to the O(d^2) join rows it prevents.
        hot = (
            inv.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("shingle")
        )
        inv = inv.join(hot, "shingle", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    za = sizes.alias("za")
    zb = sizes.alias("zb")
    jac = F.col("common") / (
        F.col("za.n_sh") + F.col("zb.n_sh") - F.col("common")
    ).cast("double")
    return (
        common.join(za, F.col("doc_a") == F.col("za.doc_id"))
        .join(zb, F.col("doc_b") == F.col("zb.doc_id"))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


#: SimHash signature width.  60 bits = the md5-prefix hash width both
#: engines can represent as a signed BIGINT -- portable, so the operator
#: carries a full DuckDB value oracle (the round-1 xxhash64 variant was
#: rows-only).  4 chunks x 15 bits for the pigeonhole blocking.
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4


def simhash_64(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document: (doc_id, simhash).

    Tokens hashed with the portable 60-bit md5-prefix hash
    (:func:`shingle_base_hash` -- identical in DuckDB, which is what makes
    the d5 oracle exact); each bit position accumulates the token-hash bit
    and the majority sign packs into a BIGINT.
    """
    tok = docs.select("doc_id", F.explode(distinct_tokens(text_col)).alias("t"))
    h = tok.select("doc_id", shingle_base_hash(F.col("t")).alias("h"))
    # sum the raw bit (0/1) per position instead of a +/-1 CASE: the
    # conditional forced branchy when-exprs per row (measured 4x slower);
    # the +1/-1 majority sign is recovered as 2*ones > n_tokens.
    bit_cols = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    sums = h.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *bit_cols)
    packed = sums.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"s{i}") * 2 > F.col("n"),
                    F.shiftleft(F.lit(1).cast("long"), i),
                ).otherwise(F.lit(0).cast("long"))
                for i in range(SIMHASH_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return packed


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= max_hamming.

    Candidate generation blocks on ``max_hamming + 1`` near-equal-width
    chunks of the signature (pigeonhole: distance <= h over h+1 chunks ->
    at least one chunk equal), so the join is bucket-local, not all-pairs,
    and recall is exact for ANY max_hamming (with the default 3: the
    4 x 15-bit chunking the DuckDB oracle mirrors).  Larger max_hamming
    means more, narrower chunks -- wider buckets, more candidates: the
    usual recall/cost dial.

    The signature frame is cut with a lazy ``localCheckpoint``: the
    chunk self-join references the signature table twice, and
    recomputing it re-runs the whole tokenize+hash+bit-sum pipeline
    (measured ~half of d5's runtime at sf0.1).  The cut materializes
    inside the caller's first action and belongs to the returned plan
    alone, so a second call recomputes instead of reusing a session
    cache entry.  The frame is tiny -- (doc_id, long) per document,
    ~16 bytes/doc.
    """
    n_chunks = max_hamming + 1
    if n_chunks > SIMHASH_BITS:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_chunks} chunks but the "
            f"signature has only {SIMHASH_BITS} bits"
        )
    # near-equal widths summing to SIMHASH_BITS, e.g. 60/4 -> [15,15,15,15]
    base_w, extra = divmod(SIMHASH_BITS, n_chunks)
    widths = [base_w + (1 if i < extra else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    sh = simhash_64(docs).localCheckpoint(eager=False)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(F.col("simhash"), offsets[i])
                        .bitwiseAND(F.lit((1 << widths[i]) - 1))
                        .alias("val"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cands.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


#: auto mode flips pointer doubling on from this round if labels are
#: still moving: clique-ish dup graphs (diameter 2-3) converge well
#: before it, so they never pay the extra join; anything still
#: unconverged is diameter > ~6 -- exactly doubling's territory
_SHORTCUT_AUTO_AT = 6


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    on_nonconvergence: str = "raise",
    shortcut: bool | None = None,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (doc_id, cluster_id)
    with cluster_id = min doc_id reachable in the pair graph.

    Min-label propagation: every vertex starts as its own label; each
    iteration sends labels across edges (both directions) and keeps the
    minimum; converges in O(component diameter) iterations.  Near-dup
    graphs are dense clique-ish clusters, so diameter is tiny in practice.

    Scale notes: per iteration, one equi-join (labels x edges) + one
    min-aggregate -- both shuffle on vertex id, so AQE coalesces and
    co-partitions; a checkpoint truncates the growing lineage each round
    (the classic iterative-DataFrame trap); the convergence probe exploits
    monotonicity -- labels only ever decrease, so an unchanged label-sum
    (one 1-row aggregate per round) proves the fixpoint without joining
    old labels against new.

    ``shortcut``: add a pointer-doubling step per round (label <-
    label(label(v)), the large-star idea of Kiveris et al., MapReduce
    CC), turning O(diameter) rounds into O(log diameter)
    for one extra equi-join per round -- measured a wash-to-slight-loss
    on clique-ish near-dup graphs (diameter 2-3) and the difference
    between converging and NOT converging on long-chain graphs
    (BASELINE.md).  Default ``None`` = AUTO: start with plain
    propagation, and flip doubling on from round
    ``_SHORTCUT_AUTO_AT`` (6) if the labels have not converged by then
    -- a convergence-stall probe that needs no diameter estimate.
    Clique-ish graphs converge before the threshold and never pay the
    extra join (the measured reason doubling is not unconditional),
    while a chain graph converges in ~6 + log2(diameter) rounds without
    the caller guessing its component shape.  ``True``/``False`` force
    the respective mode unconditionally.

    ``on_nonconvergence``: labels converge in O(component diameter)
    rounds (O(log diameter) with ``shortcut``), so a graph whose
    diameter exceeds the round budget (e.g. a long chain of
    sliding-window shingle overlaps across a document family)
    would exit the loop with PARTIALLY-merged labels that look final.
    That state is never returned silently: ``"raise"`` (default) raises
    RuntimeError telling the caller to raise ``max_iter``; ``"warn"``
    emits a RuntimeWarning and returns the partial labels (the triage
    escape hatch).
    """
    if on_nonconvergence not in ("raise", "warn"):
        raise ValueError(
            f"on_nonconvergence must be 'raise' or 'warn', got {on_nonconvergence!r}"
        )
    # Materialize the edge list ONCE: every iteration's join re-evaluates
    # its inputs, and `pairs` is typically the whole LSH/Jaccard pipeline --
    # without this checkpoint each round would recompute it from scratch
    # (measured 5x slower at sf0.1).  Every cut in the loop is NON-eager
    # (guide §2.6 job-count discipline): the 1-row convergence probe is
    # the next action on every cut frame, so it materializes the
    # checkpoint AND reads the label sum in ONE job -- the eager spelling
    # paid a separate count() job per round.
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )

    # Convergence probe: labels are monotone non-increasing (each round's
    # new label is min(old label, incoming labels)), so the label-sum
    # strictly decreases until the fixpoint -- "sum unchanged" IS "no
    # label changed".  That turns the probe into a 1-row narrow aggregate
    # over the just-checkpointed labels instead of a label-x-label
    # equi-join per round (one fewer shuffle per iteration; at cluster
    # scale the join probe was the same size as the propagation step
    # itself).  decimal(38,0) keeps the sum exact: ~1e12 vertices x
    # 2^63-max ids ~ 1e31 << 1e38, where a bigint sum could wrap.
    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    prev_sum = _label_sum(labels)
    converged = False
    for round_idx in range(max_iter):
        msgs = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), F.col("label"))
        )
        propagated = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        if shortcut is True or (
            shortcut is None and round_idx >= _SHORTCUT_AUTO_AT
        ):
            # pointer doubling: label <- label(label(v)).  Every label IS
            # a vertex (it starts as an id and min() only selects existing
            # labels), so the inner self-join matches every row exactly
            # once; parent.label <= label by monotonicity.  The parent
            # side is re-projected under fresh names BEFORE the join:
            # a plain alias()-based self-join of this union+agg subtree
            # trips Catalyst's Union constraint rewrite (key-not-found
            # on the reused attribute ids).
            par = propagated.select(
                F.col("id").alias("_pid"), F.col("label").alias("_plabel")
            )
            propagated = propagated.join(
                par, F.col("label") == F.col("_pid")
            ).select("id", F.col("_plabel").alias("label"))
        new_labels = propagated.localCheckpoint(eager=False)
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # The last round still moved labels: components wider than
        # max_iter hops are split and the result LOOKS final -- never
        # return that silently.
        msg = (
            f"connected_components did not converge in max_iter={max_iter} "
            f"rounds (label sum still decreasing); the pair graph has "
            f"a component of diameter > {max_iter} -- raise max_iter"
        )
        if on_nonconvergence == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_keep_list(
    docs: DataFrame, pairs: DataFrame, doc_id: str = "doc_id"
) -> DataFrame:
    """Canonical-document selection: every doc mapped to its cluster's
    keeper (min doc_id).  Docs in no near-dup pair keep themselves.  The
    drop set is ``keep = false`` -- exactly what a 100-TB dedup pass feeds
    to the filter stage."""
    comp = connected_components(pairs)
    return (
        docs.select(doc_id)
        .join(comp, on=doc_id, how="left")
        .select(
            doc_id,
            F.coalesce("cluster_id", F.col(doc_id)).alias("cluster_id"),
        )
        .withColumn("keep", F.col(doc_id) == F.col("cluster_id"))
    )


def partitioned_components(
    pairs: DataFrame,
    part_col: str = "cell",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_group_edges: int = 50_000_000,
) -> DataFrame:
    """(doc_id, cluster_id) for a pair graph whose every edge is CONFINED
    to one partition key -- same label contract as
    :func:`connected_components` (cluster_id = min reachable id), zero
    iteration.

    When edges never cross ``part_col`` (SemDeDup cell pairs: both ends
    of every near pair share a centroid cell by construction), each
    component lives entirely inside one partition, so union-find runs
    per-group in an Arrow batch (``applyInPandas``): ONE shuffle on the
    partition key replaces the label-propagation loop's
    O(diameter)-or-O(log d) rounds of checkpoint + fixpoint-probe jobs
    -- measured 12-13 rounds (~8-9 s) vs one pass (<1.5 s) on the k3
    0.35-threshold graphs at sf0.1, and at cluster scale the loop's
    per-round stage barrier is the cost that never amortizes.

    Python-in-the-loop is justified here exactly once: union-find is
    iterative (inexpressible in one declarative pass), the input is the
    PAIR table (orders of magnitude smaller than the corpus), and the
    per-group working set is bounded by the cell size -- the same
    bounded-cell premise SemDeDup's within-cell quadratic already
    stands on (size n_centroids ~ N / target cell size).  A graph
    without a confining key (document near-dup graphs from LSH --
    cluster chains cross buckets) must keep using
    :func:`connected_components`; this operator trusts the caller's
    confinement guarantee and never checks it.

    Investigated and REJECTED (the pl1 question): routing the
    curation funnel's MinHash-LSH pair graph through this fast path by
    keying on the colliding band.  Confinement requires the key to
    PARTITION the vertex set -- every vertex in exactly ONE group --
    and banded MinHash places every document in ``b`` bands by
    construction: pair (a,b) may collide only in band 1 while (b,c)
    collides only in band 3, so one component legitimately spans bands
    and a band-keyed grouped union-find splits it (demonstrated
    executable in tests/test_semantic_dedup.py::
    test_lsh_band_is_not_a_confining_key).  Centroid assignment
    confines precisely because assignment is an argmax -- one cell per
    vector.  The generic loop (with AUTO pointer-doubling) stays the
    labeler for every LSH-derived graph; this is the same
    record-the-negative-result discipline as the pointer-doubling
    experiment above.

    Because one group = one task by construction (a grouped map cannot
    be AQE-skew-split), a pathologically hot partition would
    concentrate its whole edge list in one Python worker.  A group
    larger than ``max_group_edges`` raises with the instruction to
    re-shard the index (more centroids) or fall back to
    :func:`connected_components`.  Scope of that guard, precisely: it
    bounds the union-find DICT build, not the Arrow transfer -- the
    grouped map has already materialized the group's edge list as Arrow
    batches plus a pandas frame when the length check runs, so a group
    far past the bound can still OOM the worker before raising.  What
    the guard buys is a named, actionable error for the wide band of
    too-hot-but-allocatable groups (the default ~50M edges is a few GB
    of pandas -- far above any sane cell, usually allocatable, never
    sane).  A caller who cannot tolerate even the allocation should
    pre-gate with ``pairs.groupBy(part_col).count()`` -- one cheap
    aggregate -- before invoking this; the k3 gate does not, because
    its cell-balance pytest bounds cell sizes upstream.
    """
    import pandas as pd

    def _union_find(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_group_edges:
            raise ValueError(
                f"partitioned_components: partition "
                f"{pdf[part_col].iloc[0]!r} holds {len(pdf)} edges "
                f"(> max_group_edges={max_group_edges}); the confining "
                f"key is too hot for a single-task group -- re-shard "
                f"the index (more cells) or use connected_components"
            )
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for a, b in zip(pdf[a_col], pdf[b_col]):
            a, b = int(a), int(b)
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # min-id root: find() then IS the cluster label
                parent[max(ra, rb)] = min(ra, rb)
        ids = sorted(parent)
        return pd.DataFrame(
            {"doc_id": ids, "cluster_id": [find(i) for i in ids]}
        )

    return (
        pairs.select(part_col, a_col, b_col)
        .groupBy(part_col)
        .applyInPandas(_union_find, schema="doc_id long, cluster_id long")
    )


# ---------------------------------------------------------------------------
# Winnowing (rolling-hash document fingerprints, Schleimer et al. 2003)
# ---------------------------------------------------------------------------

#: winnowing defaults: k-char grams, window w -- guarantees any shared
#: substring of length >= k + w - 1 produces at least one shared print.
WINNOW_K = 8
WINNOW_W = 4


def winnow_prints(
    docs: DataFrame,
    k: int = WINNOW_K,
    window: int = WINNOW_W,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, prints: array<bigint>) winnowed rolling-hash fingerprints
    (the MOSS scheme, Schleimer/Wilkerson/Aiken SIGMOD'03 -- public).

    Every k-char gram of the lowercased text is hashed (the portable
    60-bit md5 prefix -- a true rolling polynomial hash only changes the
    CONSTANT per gram, not the shape; md5 keeps the value engine-portable
    like every other hash here), then each sliding window of ``window``
    consecutive gram hashes keeps its MINIMUM, and the kept values
    dedupe into the document's fingerprint set.  Guarantee: documents
    sharing any substring of length >= k + window - 1 share at least one
    print -- the local-sampling property n-gram MinHash lacks.

    Plan shape: entirely map-side array HOFs (one codegen'd projection,
    no shuffle, no Python); O(len * window) comparisons per document.
    Documents shorter than k + window - 1 chars get an empty print set.
    """
    def _positions(n):
        # guarded 1..n: Spark's sequence(1, 0) infers step -1 and yields
        # [1, 0] instead of empty, so short inputs need the explicit
        # empty-array branch
        return F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        )

    s = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    n_grams = (F.length(s) - F.lit(k - 1)).cast("int")
    hashes = F.transform(
        _positions(n_grams),
        lambda i: shingle_base_hash(s.substr(i, F.lit(k))),
    )
    prints = F.array_distinct(
        F.transform(
            _positions((F.size(F.col("_gh")) - F.lit(window - 1)).cast("int")),
            lambda j: F.array_min(F.slice(F.col("_gh"), j, window)),
        )
    )
    return (
        docs.select("doc_id", hashes.alias("_gh"))
        .select("doc_id", prints.alias("prints"))
    )


def winnow_prints_arrow(
    docs: DataFrame,
    k: int = WINNOW_K,
    window: int = WINNOW_W,
    text_col: str = "text",
) -> DataFrame:
    """:func:`winnow_prints` computed in ONE Arrow-batched Python pass
    (``mapInPandas``) instead of interpreted HOF lambdas -- same values,
    same schema, equality-tested (tests/test_winnow.py).

    Why this exists: the HOF form's cost is NOT the md5 digest but the
    ~1M-per-sf0.1 interpreted lambda evaluations (measured: a
    polynomial hash swap moved 5.12 -> 5.07 s; a relational
    explode+window-min rewrite LOST, 7.3 vs 6.1 s).  Per-gram hashing is
    exactly the sanctioned per-batch-Python shape (the heavy_hitters
    precedent): hashlib's C md5 over an Arrow text batch costs ~2 s
    single-threaded for the whole sf0.1 corpus vs ~5 s for the
    interpreted lambdas on 32 cores -- and it parallelizes per
    partition.  Values stay engine-portable (same 60-bit md5 prefix the
    DuckDB oracle recomputes).  Lowercasing happens JVM-SIDE before the
    Arrow boundary -- the same ``F.lower`` the HOF form applies -- so
    the two impls can never diverge on locale-sensitive case folding
    (Python ``str.lower`` is not bit-compatible with the JVM's on e.g.
    Turkish dotted/dotless I); Python's codepoint slicing then matches
    Spark's ``substr`` exactly (equality test + python-recompute golden
    are the gate).
    """
    import pandas as pd

    def gen(batches):
        import hashlib

        for pdf in batches:
            out = []
            for s in pdf["__t"]:
                n = len(s) - k + 1
                if n >= 1:
                    hs = [
                        int(
                            hashlib.md5(
                                s[i : i + k].encode("utf-8")
                            ).hexdigest()[:15],
                            16,
                        )
                        for i in range(n)
                    ]
                    m = len(hs) - window + 1
                    # dict.fromkeys == array_distinct: first-occurrence
                    # order preserved, so results are byte-identical
                    ps = (
                        list(
                            dict.fromkeys(
                                min(hs[j : j + window]) for j in range(m)
                            )
                        )
                        if m >= 1
                        else []
                    )
                else:
                    ps = []
                out.append(ps)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "prints": out}
            )

    return docs.select(
        "doc_id",
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("__t"),
    ).mapInPandas(gen, "doc_id bigint, prints array<bigint>")


def winnow_near_pairs(
    docs: DataFrame,
    k: int = WINNOW_K,
    window: int = WINNOW_W,
    threshold: float = 0.35,
    max_doc_freq: int | None = 50,
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs whose winnowed RARE-print sets
    overlap at >= ``threshold`` Jaccard -- near-dup detection over
    rolling-hash fingerprints, the character-level companion of the
    word-shingle d4 operator (robust to tokenization differences; catches
    shared long substrings by construction).

    ``max_doc_freq`` drops prints appearing in more than that many
    documents BEFORE the metric -- jaccard is then the EXACT jaccard of
    the filtered (rare-print) sets on both numerator and denominator, a
    cleaner semantic than d4's lower-bound form and the difference that
    makes the operator usable on templated corpora: short boilerplate
    docs share most raw prints corpus-wide (measured median print
    doc-freq 19 at sf0.1), so (a) raw-set jaccard of true copies is
    dominated by boilerplate anyway and (b) a hot print in d documents
    costs O(d^2) candidate rows -- the cap bounds the self-join at
    max_doc_freq^2 per print (measured 38 -> 7 s at sf0.1 with MORE true
    pairs surfaced).  None = raw-set jaccard.

    Same scale shape as d4: explode prints into an inverted index, ONE
    equi-join on the 60-bit print (never all-pairs), count common prints
    per candidate pair, verify against the filtered set sizes.

    The print table is materialized ONCE (the CC-loop idiom): it feeds
    the doc-frequency pass and BOTH sides of the self-join, and those
    subtrees cannot share an exchange -- without the cut the per-char
    md5 + winnow pass re-runs four times.  The prints come from the
    Arrow-batched gram-hash pass (:func:`winnow_prints_arrow`, measured
    2.5x faster than the HOF form it is equality-tested against).
    """
    ps = winnow_prints_arrow(docs, k, window, text_col).localCheckpoint(
        eager=True
    )
    inv = ps.select("doc_id", F.explode("prints").alias("p"))
    if max_doc_freq is not None:
        hot = (
            inv.groupBy("p")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("p")
        )
        inv = inv.join(hot, "p", "left_anti").localCheckpoint(eager=True)
    sizes = inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_p"))
    a = inv.select(F.col("doc_id").alias("doc_a"), "p")
    b = inv.select(F.col("doc_id").alias("doc_b"), "p")
    common = (
        a.join(b, "p")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_p").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_p").alias("nb"))
    jac = F.round(
        F.col("common")
        / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        6,
    )
    return (
        common.join(za, "doc_a")
        .join(zb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Boilerplate n-gram scrubbing (repeated-span REMOVAL, not pair detection)
# ---------------------------------------------------------------------------


def boilerplate_scrub(
    toks: DataFrame, ngram_n: int = 5, min_docs: int = 3
) -> DataFrame:
    """Remove word n-gram spans that repeat across >= ``min_docs`` distinct
    documents; per-doc scrub report ``(doc_id, n_tokens, n_kept,
    n_dropped, scrub_fp)``.

    The REWRITE companion of the detection operators (d3/d4/winnow): where
    those *find* near-duplicate documents, this scrubs *intra-corpus
    boilerplate spans* (headers, license blurbs, navigation chrome) out of
    otherwise-unique documents -- the span-level dedup of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499) approximated at word-``ngram_n`` granularity, which
    keeps every stage a built-in-function composition (no suffix arrays,
    no Python).

    Plan shape and the 100-TB story:

    1. gram pass -- map-side array HOFs build ``(start, md5(gram))`` per
       doc (1-based starts, the ``slice`` convention); the md5 keeps the
       shuffle key constant-width AND engine-portable (the oracle applies
       the identical hash, so hash collisions -- which would merge two
       grams' doc-frequencies -- are bit-identical across engines).
    2. heavy set -- ONE groupBy(gram) countDistinct(doc_id); partial
       aggregation collapses hot boilerplate grams map-side, so even a
       million-doc license line reaches the shuffle as ~1 row/partition.
       Boilerplate is by definition a tiny fraction of distinct grams
       (550 of 238k at sf0.1), so the heavy set BROADCASTS.
    3. hit starts -- broadcast-join the gram table against the heavy set,
       collect_set(start) per doc: shuffles only (doc_id, tiny int array)
       for docs that contain boilerplate at all.
    4. rebuild -- map-side: expand hit starts to covered positions
       (flatten/transform/sequence), keep uncovered tokens in original
       order via the index-lambda ``filter``, fingerprint the scrubbed
       text.  No second shuffle; docs with no hits left-join to NULL and
       keep everything.

    Token order is load-bearing: kept tokens rejoin in document order, so
    ``scrub_fp`` is the md5 of the text a downstream trainer would
    actually see (value-verified against the DuckDB oracle).  Both the
    gram pass and the rebuild read the :func:`token_table` frame; its
    NULL-to-empty convention keeps Spark's size(NULL) = -1 out of
    n_tokens (the DuckDB oracle's len(NULL) stays NULL).
    """
    toks = toks.select("doc_id", F.col("toks").alias("ws"))
    starts_seq = F.when(
        F.size("ws") >= ngram_n,
        F.sequence(F.lit(1), F.size("ws") - (ngram_n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    gram_structs = F.transform(
        starts_seq,
        lambda i: F.struct(
            i.alias("i"),
            F.md5(F.array_join(F.slice(F.col("ws"), i, ngram_n), " ")).alias(
                "g"
            ),
        ),
    )
    grams = toks.select("doc_id", F.explode(gram_structs).alias("x")).select(
        "doc_id", F.col("x.i").alias("i"), F.col("x.g").alias("g")
    )
    heavy = (
        grams.groupBy("g")
        .agg(F.count_distinct(F.col("doc_id")).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("g")
    )
    hits = (
        grams.join(F.broadcast(heavy), "g")
        .groupBy("doc_id")
        .agg(F.collect_set("i").alias("starts"))
    )
    starts = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    covered = F.array_distinct(
        F.flatten(
            F.transform(starts, lambda s: F.sequence(s, s + (ngram_n - 1)))
        )
    )
    kept = F.filter(
        F.col("ws"),
        lambda x, idx: ~F.array_contains(F.col("_cov"), idx + F.lit(1)),
    )
    return (
        toks.join(hits, "doc_id", "left")
        .select("doc_id", "ws", covered.alias("_cov"))
        .select(
            "doc_id",
            F.size("ws").alias("n_tokens"),
            kept.alias("_kept"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.size("_kept").cast("long").alias("n_kept"),
            (F.col("n_tokens") - F.size("_kept")).cast("long").alias("n_dropped"),
            F.md5(F.array_join(F.col("_kept"), " ")).alias("scrub_fp"),
        )
    )


def _null_safe_text(df: DataFrame, text_col: str) -> DataFrame:
    """NULL text would poison size() to -1 downstream; empty string
    tokenizes to an empty gram set instead (scrub-leg convention)."""
    return df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))


def corpus_gram_set(toks: DataFrame, ngram_n: int = 8) -> DataFrame:
    """The DISTINCT word n-grams of a :func:`token_table` frame as a
    one-column frame ``(g)`` -- the static side of every
    decontamination join (batch:
    :func:`ngram_overlap_contamination`; continuous ingest:
    ``streaming.curation.decontam_stream``).  One hash-aggregate with
    map-side partial dedup; at scale this is the table a deployment
    materializes once per protected set and re-reads per batch/trigger.
    """
    return (
        _shingle_sets(toks, ngram_n)
        .select(F.explode("sh").alias("g"))
        .distinct()
    )


def ngram_overlap_contamination(
    corpus_toks: DataFrame,
    probe_toks: DataFrame,
    ngram_n: int = 8,
    threshold: float = 0.2,
) -> DataFrame:
    """Direct n-gram-collision decontamination: for every probe (eval)
    document, the fraction of its distinct word n-grams that occur
    ANYWHERE in the training corpus -- the GPT-3 appendix-C style
    "13-gram overlap" check (Brown et al. 2020 use 13-grams on web-scale
    text; the order is a parameter and defaults to 8 here because the
    synthetic documents bottom out at 10 tokens).

    This complements :func:`cross_corpus_minhash_pairs`: MinHash finds
    WHICH corpus document a probe near-duplicates; the overlap fraction
    flags probes whose content leaks into the corpus in aggregate --
    piecewise contamination spread over many corpus documents that no
    single pairwise Jaccard would reach.

    Distributed shape: the corpus is reduced to its DISTINCT n-gram set
    first (hash-aggregate: map-side partial dedup, shuffle carries each
    distinct gram once), probe grams explode and equi-join that set
    (shuffle hash join keyed by the gram; never broadcast the corpus
    side, never all-pairs), then one groupBy(probe_id) counts hits.  A
    left join back onto the probe universe keeps zero-gram and zero-hit
    probes in the report.  Corpus-side state grows with distinct corpus
    n-grams -- at 100 TB that join is the same volume as any dedup
    inverted index here, and the gram key could be md5'd to fixed width
    if the raw grams dominate the shuffle.

    Returns (probe_id, n_grams, n_hits, overlap_frac, contaminated) --
    overlap_frac is an exact integer ratio (NULL when the probe has no
    n-grams), rounded to 6 decimals; contaminated = frac >= threshold.
    Both sides are :func:`token_table` frames.
    """
    c_grams = corpus_gram_set(corpus_toks, ngram_n)
    p_grams = _shingle_sets(probe_toks, ngram_n).select(
        F.col("doc_id").alias("probe_id"), "sh"
    )
    hits = (
        p_grams.select("probe_id", F.explode("sh").alias("g"))
        .join(c_grams, on="g")
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        p_grams.select(
            "probe_id", F.size("sh").cast("long").alias("n_grams")
        )
        .join(hits, on="probe_id", how="left")
        .select(
            "probe_id",
            "n_grams",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias(
                "n_hits"
            ),
            F.round(
                F.coalesce(F.col("n_hits").cast("double"), F.lit(0.0))
                / F.nullif(F.col("n_grams").cast("double"), F.lit(0.0)),
                6,
            ).alias("overlap_frac"),
        )
        .withColumn(
            "contaminated",
            F.coalesce(
                F.col("overlap_frac") >= F.lit(threshold), F.lit(False)
            ),
        )
    )


# --------------------------------------------------------------------------
# Exact substring spans (Lee et al. 2021, "Deduplicating Training Data
# Makes Language Models Better"): find -- and optionally cut -- maximal
# token spans shared VERBATIM between documents.  The set-overlap family
# above (Jaccard / MinHash / overlap_frac) is position-blind; these
# operators recover contiguity, which is what exact-substring dedup and
# benchmark decontamination actually care about.
#
# Distributed shape (the suffix-array of the paper is a single-machine
# construction; this is the shuffle-native equivalent): every document
# emits its word w-grams WITH their start position, boilerplate grams
# over the document-frequency cap are dropped, the inverted index
# self-joins on the gram (candidate hits only -- never all-pairs), and
# each hit lands on a DIAGONAL of the (pos_a, pos_b) match matrix.  A
# shared span of L >= w tokens is exactly a run of L-w+1 consecutive
# hits on one diagonal, so a gaps-and-islands window per
# (pair, pos_a - pos_b) reconstructs every MAXIMAL span with two
# shuffles (join + window/groupBy) and no per-row Python.
# --------------------------------------------------------------------------

#: Shared-span defaults: 6-token seed windows (vocab here is small, so
#: shorter windows admit chance collisions), spans reported at >= 12
#: tokens (a seed window must EXTEND to count -- chance 6-gram hits are
#: invisible), boilerplate grams dropped past 50 documents (d4's
#: hot-print posture).
SPAN_WINDOW = 6
SPAN_MIN_TOKENS = 12
SPAN_MAX_GRAM_DOCS = 50

def positional_ngrams(toks: DataFrame, window: int = SPAN_WINDOW) -> DataFrame:
    """(doc_id, pos, g): word ``window``-grams of a :func:`token_table`
    frame with their 0-based start position in the token stream.
    Unlike :func:`_shingle_sets` the grams are NOT distinct'd --
    position matters, and a gram repeated inside one document seeds one
    diagonal per occurrence.  Documents shorter than ``window`` tokens
    emit nothing (posexplode of the guarded empty array)."""
    return toks.select(
        "doc_id",
        F.posexplode(ngrams_from_tokens(F.col("toks"), window)).alias(
            "pos", "g"
        ),
    )


def _cold_positional_grams(
    grams: DataFrame, max_gram_docs: int
) -> DataFrame:
    """Drop grams whose document frequency exceeds the cap: boilerplate
    w-grams otherwise quadratically inflate the inverted-index self-join
    (a gram in D documents contributes D^2 hit rows).  Distinct-doc
    counting is a partial-aggregable groupBy; the anti-join broadcasts
    (the hot set is small by construction)."""
    hot = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > max_gram_docs)
        .select("g")
    )
    return grams.join(hot, on="g", how="left_anti")


def _diagonal_runs(
    hits: DataFrame, a_col: str, b_col: str, window: int
) -> DataFrame:
    """Merge gram hits into maximal spans: within one (pair, diagonal)
    a run of consecutive ``pa`` values is one span.  Island id = pa -
    row_number (pa is unique per diagonal: pb = pa - diff), span token
    length = run length + window - 1.  Returns (a, b, pa0, pb0,
    span_tokens) -- the 0-based start positions feed the scrub's
    interval merge."""
    from pyspark.sql.window import Window

    win = Window.partitionBy(a_col, b_col, "diff").orderBy("pa")
    return (
        hits.withColumn("diff", F.col("pa") - F.col("pb"))
        .withColumn("isl", F.col("pa") - F.row_number().over(win))
        .groupBy(a_col, b_col, "diff", "isl")
        .agg(
            F.min("pa").alias("pa0"),
            F.min("pb").alias("pb0"),
            (F.count(F.lit(1)) + F.lit(window - 1))
            .cast("long")
            .alias("span_tokens"),
        )
        .drop("diff", "isl")
    )


def span_runs(
    grams: DataFrame,
    window: int = SPAN_WINDOW,
    max_gram_docs: int = SPAN_MAX_GRAM_DOCS,
) -> DataFrame:
    """All maximal shared spans between document pairs (doc_a < doc_b):
    (doc_a, doc_b, pa0, pb0, span_tokens), UNFILTERED by a minimum span
    -- the shared precursor for :func:`shared_span_pairs`,
    :func:`span_scrub_stats` and :func:`span_scrub_text` (compute once,
    feed all three).

    Doc-id discipline (kmeans_train's convention): ``doc_id`` must be
    unique -- the island arithmetic relies on (doc_id, pos) identifying
    one gram occurrence, so a duplicated id interleaves two documents'
    diagonals and miscounts their runs.  The driver tables satisfy this
    by construction; dedupe ids first when they might not.

    ``grams`` is a :func:`positional_ngrams` frame built at the SAME
    ``window`` (the island arithmetic reads ``window`` to state span
    lengths, so the caller declares the grams' geometry); the
    doc-frequency cap applies to it here."""
    cold = _cold_positional_grams(grams, max_gram_docs)
    a = cold.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "g"
    )
    b = cold.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "g"
    )
    hits = (
        a.join(b, on="g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", "pb")
    )
    return _diagonal_runs(hits, "doc_a", "doc_b", window)


def shared_span_pairs(
    runs: DataFrame, min_span: int = SPAN_MIN_TOKENS
) -> DataFrame:
    """Per-pair exact-span report over a :func:`span_runs` table:
    (doc_a, doc_b, n_spans, max_span_tokens) for pairs sharing at least
    one verbatim token span >= ``min_span``."""
    return (
        runs.filter(F.col("span_tokens") >= min_span)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.max("span_tokens").cast("long").alias("max_span_tokens"),
        )
    )


def span_scrub_stats(
    toks: DataFrame, runs: DataFrame, min_span: int = SPAN_MIN_TOKENS
) -> DataFrame:
    """Span REMOVAL report under the keep-first policy: every span
    >= ``min_span`` is cut from the HIGHER doc_id of its pair (the
    keeper convention of :func:`exact_dedup_groups`), overlapping cut
    intervals within one document merge (a token is removed once no
    matter how many partners share it), and the report is one row per
    affected document: (doc_id, tokens_removed, n_tokens_after).

    This is the "except one occurrence" rewrite of Lee et al. sect. 4.1
    expressed as interval algebra: cut starts/ends live in doc_b token
    space (pb0 .. pb0 + span - 1), the merge is a second gaps-and-islands
    (new interval when start > running max end), and both engines do the
    whole thing in exact integers.  The rewritten TEXT itself is one
    ``filter(tokens, ...)`` + ``array_join`` away; the stats row is what
    the correctness gate can value-hash.  ``toks`` is the
    :func:`token_table` frame ``runs`` (a :func:`span_runs` table) was
    built from.
    """
    merged = _merged_cut_intervals(runs, min_span)
    lens = toks.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    return (
        merged.groupBy("doc_id")
        .agg(
            F.sum(F.col("e") - F.col("s") + 1)
            .cast("long")
            .alias("tokens_removed")
        )
        .join(lens, on="doc_id")
        .select(
            "doc_id",
            "tokens_removed",
            (F.col("n_tokens") - F.col("tokens_removed"))
            .cast("long")
            .alias("n_tokens_after"),
        )
    )


def _merged_cut_intervals(runs: DataFrame, min_span: int) -> DataFrame:
    """(doc_id, s, e): the keep-first cut intervals, overlap-merged.

    Cuts land in the HIGHER doc's token space (doc_b; 0-based inclusive
    bounds)."""
    return _merge_intervals(
        runs.filter(F.col("span_tokens") >= min_span).select(
            F.col("doc_b").alias("doc_id"),
            F.col("pb0").alias("s"),
            (F.col("pb0") + F.col("span_tokens") - 1).alias("e"),
        )
    )


def _merge_intervals_sql(src: str, out: str) -> str:
    """The ONE SQL spelling of :func:`_merge_intervals` (dialect-neutral:
    windows + CASE only), shared by the d4 scrub and rep chains of the
    DuckDB oracle -- two call sites, one merge semantics.  ``src`` must
    provide (doc_id, s, e)."""
    return f"""{out} AS (
      SELECT doc_id, min(s) AS s, max(e) AS e
      FROM (
        SELECT doc_id, s, e,
               sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS grp
        FROM (
          SELECT doc_id, s, e,
                 max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prev_max_e
          FROM {src}
        )
      )
      GROUP BY doc_id, grp
    )"""


def _merge_intervals(cuts: DataFrame) -> DataFrame:
    """Overlap-merge (doc_id, s, e) intervals: gaps-and-islands over the
    start-ordered intervals -- a new island opens when the start clears
    the running max end.  Exact integers throughout."""
    from pyspark.sql.window import Window

    order = Window.partitionBy("doc_id").orderBy("s", "e")
    running = order.rowsBetween(Window.unboundedPreceding, -1)
    return (
        cuts.withColumn("prev_max_e", F.max("e").over(running))
        .withColumn(
            "new_grp",
            F.when(
                F.col("prev_max_e").isNull()
                | (F.col("s") > F.col("prev_max_e")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "grp",
            F.sum("new_grp").over(
                order.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "grp")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .drop("grp")
    )


def span_scrub_text(
    toks: DataFrame, runs: DataFrame, min_span: int = SPAN_MIN_TOKENS
) -> DataFrame:
    """The span rewrite itself: (doc_id, text_scrubbed, n_tokens_after)
    for every AFFECTED document -- the token stream with all keep-first
    cut intervals removed, space-rejoined.  Untouched documents are not
    emitted (their text is not rewritten, so re-emitting a re-tokenized
    copy would be a lie about what changed).

    The interval test is an indexed ``filter`` lambda over the token
    array against the doc's merged-interval array (intervals per doc are
    few by construction -- they merged); everything stays JVM-side.
    Tokenization is the canonical lowercase/non-alnum split, so
    ``text_scrubbed`` is normalized text -- fingerprint it (md5) for
    cross-engine comparison rather than diffing against the raw input.
    Inputs as :func:`span_scrub_stats`.
    """
    ivs = (
        _merged_cut_intervals(runs, min_span)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("ivs"))
    )
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.exists(
            F.col("ivs"), lambda iv: (i >= iv.s) & (i <= iv.e)
        ),
    )
    return toks.join(ivs, on="doc_id").select(
        "doc_id",
        F.array_join(kept, " ").alias("text_scrubbed"),
        F.size(kept).cast("long").alias("n_tokens_after"),
    )


def cross_corpus_span_contamination(
    corpus_toks: DataFrame,
    probe_toks: DataFrame,
    window: int = SPAN_WINDOW,
    min_span: int = SPAN_MIN_TOKENS,
    max_gram_docs: int = SPAN_MAX_GRAM_DOCS,
) -> DataFrame:
    """Benchmark decontamination by VERBATIM span: (corpus_id, probe_id,
    n_spans, max_span_tokens) for cross-side pairs sharing an exact
    token span >= ``min_span`` -- the contiguity-aware complement of
    :func:`ngram_overlap_contamination` (which counts set hits and
    cannot distinguish a 50-token verbatim leak from 50 scattered
    grams).  The document-frequency cap counts BOTH sides: a gram that
    is boilerplate anywhere is boilerplate everywhere.  Sides never
    self-join, so a probe set small enough to broadcast keeps the
    corpus side shuffle-free on the hit join.  Both sides are
    :func:`token_table` frames."""
    grams_c = positional_ngrams(corpus_toks, window)
    grams_p = positional_ngrams(probe_toks, window)
    # the df count tags each side before the union: corpus and probe ids
    # come from separate keyspaces, so a bare count_distinct(doc_id)
    # would undercount a gram shared by colliding ids and let
    # boilerplate past the cap (when the id spaces ARE disjoint -- the
    # driver tables -- the tagged count equals the bare one)
    both = grams_c.select(
        "g", F.concat(F.lit("c:"), F.col("doc_id")).alias("side_id")
    ).unionByName(
        grams_p.select(
            "g", F.concat(F.lit("p:"), F.col("doc_id")).alias("side_id")
        )
    )
    hot = (
        both.groupBy("g")
        .agg(F.count_distinct("side_id").alias("df"))
        .filter(F.col("df") > max_gram_docs)
        .select("g")
    )
    c = grams_c.join(hot, on="g", how="left_anti").select(
        F.col("doc_id").alias("corpus_id"), F.col("pos").alias("pa"), "g"
    )
    p = grams_p.join(hot, on="g", how="left_anti").select(
        F.col("doc_id").alias("probe_id"), F.col("pos").alias("pb"), "g"
    )
    hits = c.join(p, on="g").select("corpus_id", "probe_id", "pa", "pb")
    runs = _diagonal_runs(hits, "corpus_id", "probe_id", window)
    return (
        runs.filter(F.col("span_tokens") >= min_span)
        .groupBy("corpus_id", "probe_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.max("span_tokens").cast("long").alias("max_span_tokens"),
        )
    )


def intradoc_repetition(
    toks: DataFrame, window: int = SPAN_WINDOW
) -> DataFrame:
    """Gopher-style duplicated-n-gram fraction (Rae et al. 2021, table
    A1: "fraction of characters in duplicate n-grams", here in tokens):
    per document, the fraction of the token stream covered by
    ``window``-grams that occur MORE THAN ONCE within that document --
    the repetition signal line-level dup_line_frac misses when the
    repeated run is not line-aligned.

    NOT a self-join: a gram occurring k times in one document would
    blow a pair join up k^2-fold (a pathological one-token document
    squared), but coverage only needs the occurrence POSITIONS -- one
    count window per (doc, gram) marks repeated occurrences, their
    [pos, pos + w - 1] extents overlap-merge, and the covered length
    divides by the token count.  Work is linear in grams; the only
    shuffles are the (doc, gram) count and the per-doc interval merge.

    Returns (doc_id, dup_span_tokens, n_tokens, dup_frac) for EVERY
    document (a screen needs the clean ones too): zero coverage for
    repeat-free or sub-window docs, NULL fraction for token-less ones.
    The :func:`token_table` frame feeds both the gram pipeline and the
    per-document token counts.
    """
    from pyspark.sql.window import Window

    grams = positional_ngrams(toks, window)
    lens = toks.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    occ = Window.partitionBy("doc_id", "g")
    repeated = (
        grams.withColumn("occ", F.count(F.lit(1)).over(occ))
        .filter(F.col("occ") >= 2)
        .select(
            "doc_id",
            F.col("pos").alias("s"),
            (F.col("pos") + F.lit(window - 1)).alias("e"),
        )
    )
    covered = (
        _merge_intervals(repeated)
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("e") - F.col("s") + 1)
            .cast("long")
            .alias("dup_span_tokens")
        )
    )
    return (
        lens.join(covered, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("dup_span_tokens"), F.lit(0).cast("long")).alias(
                "dup_span_tokens"
            ),
            "n_tokens",
            F.round(
                F.coalesce(F.col("dup_span_tokens").cast("double"), F.lit(0.0))
                / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


# --------------------------------------------------------------------------
# Portable Bloom-filter dedup admission: the 100-TB pre-screen.
# Admitting a batch against a multi-billion-document history with an
# exact anti-join shuffles the HISTORY's fingerprints every batch; the
# standard fix is a Bloom filter built once over the history and
# broadcast to the batch, with the exact join run only for the
# filter-positive candidates.  Spark's engine bloom (bloom_filter_agg)
# is internal-only and its bits are not reproducible elsewhere, so this
# is a PORTABLE bloom: k md5-slice hashes mod m, the filter represented
# as the SORTED ARRAY OF SET BIT POSITIONS (<= m entries -- tiny, and a
# plain value both engines can build bit-for-bit).  Same trade as the
# md5 MinHash above: a few engine cycles for an oracle-exact artifact.
# --------------------------------------------------------------------------

#: bloom geometry: m = 2^15 bits, k = 5 hashes.  FP rate ~ (1-e^(-kn/m))^k
#: -- ~0.006% at n = 1k history docs, ~17% at n = 8k (kn/m = 1.22).
#: These DEFAULTS are gate-sized; beyond the gate, size the filter to the
#: history with :func:`bloom_geometry` (the standard m = -n ln p / ln^2 2),
#: or the pre-screen silently degrades to the exact join it exists to
#: avoid (a 10M-doc history probed at m = 2^15 makes ~every doc a
#: candidate).
BLOOM_M = 1 << 15
BLOOM_K = 5


def bloom_geometry(n_docs: int, target_fp: float = 0.01) -> tuple[int, int]:
    """(k, m) for a Bloom filter over ``n_docs`` members at ``target_fp``
    false-positive rate: the textbook optimum m = ceil(-n ln p / ln^2 2),
    k = round(m/n * ln 2) (clamped >= 1).  ~9.6 bits/doc and k = 7 at
    p = 0.01 -- a 10M-doc history needs ~12 MiB of bits, still a
    broadcastable artifact.  Feed the result to
    :func:`bloom_filter_build`; the artifact carries its geometry, so
    every probe surface validates against it."""
    import math

    if n_docs < 1:
        raise ValueError("bloom_geometry needs n_docs >= 1")
    if not (0.0 < target_fp < 1.0):
        raise ValueError("target_fp must be in (0, 1)")
    m = math.ceil(-n_docs * math.log(target_fp) / (math.log(2) ** 2))
    k = max(1, round(m / n_docs * math.log(2)))
    return k, m


def bloom_bit_positions(fp: Column, k: int = BLOOM_K, m: int = BLOOM_M) -> Column:
    """array<long> of the ``k`` bloom bit positions for a fingerprint:
    position_i = md5('bloom{i}:' || fp) 60-bit prefix mod m.  Unrolled
    literal prefixes, so the same expression spells identically in the
    DataFrame operator and the DuckDB oracle."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"bloom{i}:"), fp)), 1, 15),
                    16,
                    10,
                ).cast("long")
                % m
            )
            for i in range(k)
        ]
    )


def bloom_filter_build(
    history: DataFrame,
    text_col: str = "text",
    k: int = BLOOM_K,
    m: int = BLOOM_M,
) -> DataFrame:
    """One-row (bits: sorted array<long>, k, m) bloom filter over the
    history's normalized-text fingerprints.  Distinct positions aggregate
    to at most ``m`` longs (256 KiB at the default geometry) -- build
    once, broadcast everywhere; merging two filters of the SAME geometry
    is array_union (:func:`bloom_filter_update`).

    The build geometry rides the artifact: every probe surface reads
    (k, m) from these columns and nowhere else, so a filter built at
    :func:`bloom_geometry` sizing can never be probed with a different
    hash family (the silent false-negative class)."""
    pos = (
        _null_safe_text(history, text_col)
        .select(
            F.explode(
                bloom_bit_positions(fingerprint_md5(text_col), k, m)
            ).alias("p")
        )
        .distinct()
    )
    return pos.agg(
        F.array_sort(F.collect_list("p")).alias("bits"),
        F.lit(int(k)).alias("k"),
        F.lit(int(m)).alias("m"),
    )


def bloom_filter_update(
    bloom_bits: DataFrame,
    admitted: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """The filter-maintenance half of the admission lifecycle: a new
    (bits, k, m) artifact = the old filter OR'd with the admitted
    batch's bit positions, at the geometry THE ARTIFACT CARRIES.  Bloom
    bits are a pure set union, so build -> admit -> update -> admit
    round-trips bit-for-bit equal to a from-scratch build over
    history + admitted (pytest-gated) -- the same maintained-state-
    equals-rebuild invariant as the d3 signature state and the a10
    sketch rollups.  The union is two one-row frames; the only
    data-sized work is hashing the admitted batch once."""
    k, m = _bloom_artifact_geometry(bloom_bits)
    new = bloom_filter_build(admitted, text_col, k, m)
    return (
        bloom_bits.select(F.col("bits").alias("_old"))
        .crossJoin(new.select(F.col("bits").alias("_new")))
        .select(
            F.array_sort(F.array_union("_old", "_new")).alias("bits"),
            F.lit(int(k)).alias("k"),
            F.lit(int(m)).alias("m"),
        )
    )


def bloom_pack_words(bloom_bits: DataFrame) -> DataFrame:
    """One-row (words: array<long>, k, m): the positions artifact packed
    into a DENSE 64-bit-word bitmap -- the PROBE representation.

    The sorted-positions array stays the cross-engine VALUE artifact
    (both engines build it bit-for-bit; merge is array_union), but
    probing it with ``array_contains`` scans O(set bits) per hash -- at
    gate geometry that is a 32k-long scan, at a :func:`bloom_geometry`-
    sized deployment filter (10M docs -> ~96M bits) it is quadratic
    death.  The packed form probes O(1) per hash: word = element_at
    (positional access into a primitive array), bit = getbit.  Packing
    is relational (explode -> div/mod -> bit_or per word -> one ordered
    collect into the artifact row), so it scales linearly and never
    single-threads through a per-row HOF over m words.

    Every probe surface accepts either representation; pack once and
    persist alongside the positions artifact when the filter is a
    maintained deployment object."""
    return _pack_words(bloom_bits, *_bloom_artifact_geometry(bloom_bits))


def _pack_words(bloom_bits: DataFrame, k: int, m: int) -> DataFrame:
    n_words = (m + 63) // 64
    spark = bloom_bits.sparkSession
    setw = bloom_bits.select(F.explode("bits").alias("p")).select(
        F.expr("p div 64").alias("w"),
        F.expr("shiftleft(1L, cast(p % 64 as int))").alias("b"),
    )
    dense = (
        spark.range(n_words)
        .select(F.col("id").alias("w"), F.lit(0).cast("long").alias("b"))
        .unionByName(setw)
        .groupBy("w")
        .agg(F.bit_or("b").alias("wb"))
    )
    return dense.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("w", "wb"))),
            lambda x: x["wb"],
        ).alias("words"),
        F.lit(int(k)).alias("k"),
        F.lit(int(m)).alias("m"),
    )


def save_bloom_filter(bloom_bits: DataFrame, path: str) -> None:
    """Persist a bloom artifact -- either representation (the sorted
    positions row from :func:`bloom_filter_build` / the packed words
    row from :func:`bloom_pack_words`) -- as one parquet row.  The
    filter is maintained deployment state (:func:`bloom_filter_update`
    folds batches into it), so a restart reads it back instead of
    re-hashing the history; geometry rides the row, so every probe
    surface still validates against it after the round-trip
    (pytest-gated in tests/test_artifact_persistence.py)."""
    bloom_bits.write.mode("overwrite").parquet(path)


def load_bloom_filter(spark, path: str) -> DataFrame:
    """Read back a :func:`save_bloom_filter` artifact, probe-ready for
    :func:`bloom_admission_rows` / the streaming twins."""
    return spark.read.parquet(path)


#: memoized (k, m) per artifact DataFrame: a WeakKeyDictionary keyed
#: by the frame object, so nothing is grafted onto a library object
#: and an unreferenced artifact's entry is collected with it
_BLOOM_GEOMETRY_CACHE: "weakref.WeakKeyDictionary[DataFrame, tuple[int, int]]" = (
    weakref.WeakKeyDictionary()
)


def _bloom_artifact_geometry(bloom_bits: DataFrame) -> tuple[int, int]:
    """(k, m) carried by a filter artifact -- the one source of the
    geometry for every probe, update and pack surface.  A bits-only
    frame (no k/m columns, or no row) raises: guessing its hash family
    would silently break the no-false-negative guarantee.  One-row
    collect -- the artifact is tiny by construction, and resolving the
    geometry eagerly raises BEFORE planning the probe join.

    The resolved pair is MEMOIZED per DataFrame object (held in a
    module-level WeakKeyDictionary, so no attribute is written into the
    DataFrame and the entry dies with the frame): a
    foreachBatch stream holds ONE static artifact frame and calls a
    probe surface per trigger, and without the cache every trigger paid
    a driver round-trip to re-read two constants off an immutable row.
    The cache key is the artifact OBJECT, so the rebuild contract is:
    a rebuilt/updated filter must be handed around as the NEW DataFrame
    the builder returned (a fresh object, fresh memo).  Overwriting a
    loaded artifact's backing path while still probing through the OLD
    DataFrame is outside the contract -- Spark's own file-listing
    snapshot makes any read through such a handle undefined (stale
    listings or FileNotFound), with or without this memo -- and is the
    one way to observe a stale (k, m) here."""
    cached = _BLOOM_GEOMETRY_CACHE.get(bloom_bits)
    if cached is not None:
        return cached
    row = (
        bloom_bits.select("k", "m").first()
        if {"k", "m"} <= set(bloom_bits.columns)
        else None
    )
    if row is None:
        raise ValueError(
            "bloom filter artifact carries no (k, m): probing, updating "
            "or packing needs a geometry-carrying artifact "
            "(bloom_filter_build); rebuild the filter"
        )
    geo = (int(row["k"]), int(row["m"]))
    _BLOOM_GEOMETRY_CACHE[bloom_bits] = geo
    return geo


def bloom_fingerprint_admission(
    history: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    bloom_bits: DataFrame | None = None,
) -> DataFrame:
    """Admit a batch against a document history by exact fingerprint,
    bloom-prescreened: (doc_id, fp, bloom_candidate, duplicate_exact,
    admitted).

    * ``bloom_candidate`` -- all k bloom positions set (the broadcast
      membership test; the only batch-side work for the clean majority).
    * ``duplicate_exact`` -- fingerprint present in the history, decided
      by an exact join OF THE CANDIDATES ONLY (the anti-join the bloom
      exists to shrink; no false negatives by construction, so
      non-candidates are exactly-clean without touching the history).
    * ``admitted`` = NOT duplicate_exact.

    Pass ``bloom_bits=`` (a :func:`bloom_filter_build` result) to reuse
    a prebuilt filter -- the deployment posture, where the filter is a
    maintained artifact (:func:`bloom_filter_update`), not per-batch
    work.  The probe hashes with the (k, m) the artifact carries; without
    one, the filter is built here at the module defaults."""
    if bloom_bits is None:
        k, m = BLOOM_K, BLOOM_M
        # eager checkpoint: the candidate/clean branches below both read
        # the filter row, and without a barrier each branch re-scans the
        # whole history to rebuild it (the d3 shared-signature posture)
        bloom_bits = bloom_filter_build(history, text_col, k, m).localCheckpoint(
            eager=True
        )
    else:
        k, m = _bloom_artifact_geometry(bloom_bits)
    return bloom_admission_rows(
        batch,
        bloom_bits,
        history_fingerprints(history, text_col),
        k=k,
        m=m,
        text_col=text_col,
        materialize_probe=True,
    )


def history_fingerprints(
    history: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Distinct normalized-text fingerprints of a history -- THE pinned
    spelling for the admission join side.  NULL text fingerprints as ''
    (matching :func:`bloom_filter_build`'s coalesce), so a NULL-text
    history document is present in BOTH artifacts; deriving the table
    any other way makes the bloom say candidate while the exact join
    misses -- a silent class-partition divergence."""
    return (
        _null_safe_text(history, text_col)
        .select(fingerprint_md5(text_col).alias("fp"))
        .distinct()
    )


def bloom_admission_rows(
    docs: DataFrame,
    bloom_bits: DataFrame,
    history_fps: DataFrame,
    k: int = BLOOM_K,
    m: int = BLOOM_M,
    text_col: str = "text",
    passthrough: tuple[str, ...] = (),
    materialize_probe: bool = False,
    broadcast_history: bool = False,
) -> DataFrame:
    """The shared probe/verify row builder behind
    :func:`bloom_fingerprint_admission` and the streaming twins
    (streaming.curation.bloom_admission_stream/_batch): (doc_id,
    *passthrough, fp, bloom_candidate, duplicate_exact, admitted).

    One definition on purpose: the dup/fp/clean election (hash family,
    candidate-only verify, NULL policy) must not drift between the
    batch operator and the stream.  ``bloom_bits`` may be either the
    positions artifact (packed here at the resolved geometry) or a
    prebuilt :func:`bloom_pack_words` row -- pass the packed form in a
    stream, where the static side re-evaluates per trigger.
    ``materialize_probe`` checkpoints
    the probed rows so the candidate/clean branches share one batch
    scan -- batch callers want it; a STREAMING caller must leave it
    False (checkpointing a streaming frame is illegal; a micro-batch
    recomputing its narrow probe twice is the cheap alternative).
    ``broadcast_history`` hints the verify join -- right for a
    per-trigger candidate trickle against a modest fp table, wrong for
    the batch operator's possibly-huge history (leave False and let the
    planner shuffle the candidate slice)."""
    base = _null_safe_text(docs, text_col).select(
        "doc_id", *passthrough, fingerprint_md5(text_col).alias("fp")
    )
    # probe the PACKED words form: element_at + getbit is O(1)
    # per hash, vs array_contains' O(set bits) linear scan -- the
    # difference between a 512-word lookup and a 50M-long scan per
    # position at deployment geometry.  A positions artifact is packed
    # here at the resolved geometry (tiny relational job); pass a
    # pre-packed bloom_pack_words artifact to skip even that.  Selecting
    # words only also keeps the artifact's k/m columns from colliding
    # with doc/passthrough columns.
    words = (
        bloom_bits if "words" in bloom_bits.columns else _pack_words(
            bloom_bits, k, m
        )
    ).select("words")
    probed = base.crossJoin(F.broadcast(words)).select(
        "doc_id",
        *passthrough,
        "fp",
        F.forall(
            bloom_bit_positions(F.col("fp"), k, m),
            lambda p: F.getbit(
                F.element_at(
                    F.col("words"), (F.floor(p / F.lit(64)) + 1).cast("int")
                ),
                p % 64,
            )
            == 1,
        ).alias("bloom_candidate"),
    )
    if materialize_probe:
        probed = probed.localCheckpoint(eager=True)
    hist = history_fps.select("fp").distinct().withColumn("_dup", F.lit(True))
    if broadcast_history:
        hist = F.broadcast(hist)
    cand = probed.filter(F.col("bloom_candidate")).join(
        hist, on="fp", how="left"
    )
    clean = probed.filter(~F.col("bloom_candidate")).withColumn(
        "_dup", F.lit(None).cast("boolean")
    )
    return cand.unionByName(clean).select(
        "doc_id",
        *passthrough,
        "fp",
        "bloom_candidate",
        F.coalesce(F.col("_dup"), F.lit(False)).alias("duplicate_exact"),
        (~F.coalesce(F.col("_dup"), F.lit(False))).alias("admitted"),
    )
