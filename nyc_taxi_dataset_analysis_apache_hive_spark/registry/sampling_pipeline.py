"""Sampling and pipeline entries: dup clusters (d6), hash split (s6), stratified/mix/cap/temp/qsamp (s7), SCD upserts (s8), pivot (p9), array HOFs, time ops (cx1), text stats (tv1), cross-corpus decontamination (d7), and the flagship curation funnel (pl1).

Split out of the monolithic registry.py in round 8 (registration
order preserved by the package __init__; see its docstring).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import caching
from ..functions.text import TOKEN_SPLIT_REGEX
from ..operators import (
    asof,
    bpe,
    cohorts,
    dedup,
    graph,
    packing,
    pipeline,
    retrieval,
    sampling,
    similarity,
    textops,
)
from .base import ORACLES, register, register_legs, _t
from .events_dedup import (
    _BAND_ROWS,
    _D4_NGRAM_SQL,
    _SIG_COLS,
    _SPAN_GRAMS_CTE,
    _TOKS_CTE,
)
from .text_similarity import (
    _EMAIL_PAT,
    _IP_PAT,
    _LINES_SQL,
    _PHONE_GRP,
    _PHONE_PAT,
    _hits_from_t_sql,
)


# embed hash_split's OWN float-exact cumulative bounds (one definition in
# sampling.cumulative_split_bounds) so Spark and the oracle compare u
# against bit-identical literals (shared by d6's grouped_split leg and s6)
_SPLIT_BOUNDS = sampling.cumulative_split_bounds((0.8, 0.1, 0.1))
_SPLIT_CASE = (
    f"CASE WHEN u < {_SPLIT_BOUNDS[0]!r} THEN 0 "
    f"WHEN u < {_SPLIT_BOUNDS[1]!r} THEN 1 ELSE 2 END"
)

#: BM25 constants + fixed term list embedded into the DuckDB oracle
#: (repr-roundtripped, the _SPLIT_BOUNDS precedent) so the doubles are
#: bit-identical to the ones the DataFrame leg folds into its plan.
_BM25_C1, _BM25_C2, _BM25_C3 = textops.bm25_constants()
_BM25_TERMS_SQL = ", ".join(
    f"'{t}'" for t in sorted(set(textops.BM25_QUERY_TERMS))
)
#: the retrieval leg's term universe + (query, term) map, from the ONE
#: definition (textops.BM25_TOPK_QUERIES)
_BM25_TOPK_TERMS_SQL = ", ".join(
    f"'{t}'"
    for t in sorted({t for ts in textops.BM25_TOPK_QUERIES.values() for t in ts})
)
_BM25_TOPK_QT_SQL = ", ".join(
    f"('{q}', '{t}')"
    for q, ts in sorted(textops.BM25_TOPK_QUERIES.items())
    for t in sorted(set(ts))
)

#: hybrid-retrieval constants (r11): the (query, seed-vector) map and
#: RRF constants repr-roundtripped from their ONE definitions
#: (operators.retrieval.HYBRID_QUERY_VECS, similarity.RRF_K/RRF_MICRO)
_HYBRID_QV_SQL = ", ".join(
    f"('{q}', {v})" for q, v in sorted(retrieval.HYBRID_QUERY_VECS.items())
)
_RRF_K_F = float(similarity.RRF_K)
_RRF_MICRO_F = float(similarity.RRF_MICRO)

#: the per-(query, doc) BM25 micro-sum relation of the tv1 retrieval
#: legs -- ONE text (query, doc_id, n_match_terms, sum_micro) shared by
#: the ``bm25_topk`` leg and the ``hybrid`` leg's lexical side, exactly
#: as the DataFrame program feeds ONE checkpointed bm25_topk table to
#: both legs
_TV1_LEX_GROUPED = f"""
        WITH ktok AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(coalesce(text, '')),
                                                '{TOKEN_SPLIT_REGEX}'),
                             x -> x <> '') AS t
          FROM documents
        ),
        kdl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM ktok),
        kstats AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
          FROM kdl
        ),
        ktf AS (
          SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(t) AS token FROM ktok)
          WHERE token IN ({_BM25_TOPK_TERMS_SQL})
          GROUP BY doc_id, token
        ),
        kdf AS (
          SELECT token, CAST(count(*) AS BIGINT) AS df FROM ktf GROUP BY token
        ),
        ksc AS (
          SELECT ktf.doc_id, dl, token,
                 CAST(floor(
                   ln(((CAST(n_docs AS DOUBLE) - df + 0.5)
                       / (CAST(df AS DOUBLE) + 0.5)) + 1.0)
                   * ((CAST(ktf.tf AS DOUBLE) * {_BM25_C1!r})
                      / (CAST(ktf.tf AS DOUBLE) + {_BM25_C2!r}
                         + {_BM25_C3!r} * (dl / avgdl)))
                   * 1000000.0 + 1e-9) AS BIGINT) AS s_micro
          FROM ktf
          JOIN kdf USING (token)
          JOIN kdl USING (doc_id)
          CROSS JOIN kstats
        ),
        kqt(query, token) AS (VALUES {_BM25_TOPK_QT_SQL})
        SELECT query, ksc.doc_id,
               CAST(count(*) AS BIGINT) AS n_match_terms,
               sum(s_micro) AS sum_micro
        FROM ksc JOIN kqt USING (token)
        GROUP BY query, ksc.doc_id, dl
"""


@register(
    "d6_dup_clusters",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_D4_NGRAM_SQL})
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(v, r) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.v = e.b
    ),
    comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
    {graph.graph_sql_ctes()}
    SELECT 'cluster' AS op, doc_id, cluster_id AS v FROM comp
    UNION ALL
    -- graph analytics over the SAME pair graph (r17,
    -- operators/graph.py): exact micro-unit PageRank (canonical-member
    -- ranking) + per-vertex triangle counts (clique-vs-chain density)
    SELECT 'pagerank' AS op, v AS doc_id, pr AS v
    FROM gpr{graph.PAGERANK_ITERS}
    UNION ALL
    SELECT 'triangles' AS op, verts.v AS doc_id,
           coalesce(gtcnt.n_tri, CAST(0 AS BIGINT)) AS v
    FROM verts LEFT JOIN gtcnt ON gtcnt.v = verts.v
    UNION ALL
    -- canonical-member election (r17): each cluster's max-PageRank
    -- member, the keeper verb the module's ranking exists for
    SELECT 'pr_keeper' AS op, doc_id, cluster_id AS v
    FROM ({graph.pr_keeper_sql()})
    UNION ALL
    -- leakage-safe split (r7): the split draw hashes the CLUSTER
    -- representative (min reachable id; singletons hash their own id),
    -- so near-dup cluster members always share a split
    SELECT 'grouped_split' AS op, doc_id, CAST({_SPLIT_CASE} AS BIGINT) AS v
    FROM (
      SELECT d.doc_id,
             CAST(CAST('0x' || substr(md5('split-v1:' ||
                    CAST(coalesce(comp.cluster_id, d.doc_id) AS VARCHAR)),
                    1, 15) AS BIGINT) AS DOUBLE)
               / 1152921504606846976.0 AS u
      FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id
    )
    UNION ALL
    -- cross-split contamination audit (r10, sampling.split_leakage_report)
    -- of the PER-DOC split against the near-dup pair graph: the boundary
    -- key is split_lo*10+split_hi (canonicalized), v the pair count --
    -- off-diagonal rows are exactly the leakage grouped_split prevents
    SELECT 'leakage' AS op,
           CAST(split_lo * 10 + split_hi AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS v
    FROM (
      SELECT least(sa.s, sb.s) AS split_lo, greatest(sa.s, sb.s) AS split_hi
      FROM pairs p
      JOIN (
        SELECT doc_id, CAST({_SPLIT_CASE} AS BIGINT) AS s FROM (
          SELECT doc_id,
                 CAST(CAST('0x' || substr(md5('split-v1:' ||
                        CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
                   / 1152921504606846976.0 AS u
          FROM documents
        )
      ) sa ON p.doc_a = sa.doc_id
      JOIN (
        SELECT doc_id, CAST({_SPLIT_CASE} AS BIGINT) AS s FROM (
          SELECT doc_id,
                 CAST(CAST('0x' || substr(md5('split-v1:' ||
                        CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
                   / 1152921504606846976.0 AS u
          FROM documents
        )
      ) sb ON p.doc_b = sb.doc_id
    )
    GROUP BY 1, 2
    """,
)
def d6_dup_clusters(spark, sf):
    """Near-dup clustering + its downstream consumer, tagged and stacked.
    ``cluster`` = connected components (min-label propagation,
    lineage-checkpointed iterative joins) over the exact n-gram-Jaccard
    pair graph -- pairs -> clusters -> canonical keeper, the stage that
    turns pairwise dedup into an actionable drop-list.  Oracle: DuckDB
    recursive CTE computing min reachable id per vertex.
    ``grouped_split`` (r7) = leakage-safe train/val/test assignment
    (sampling.grouped_hash_split): the md5 split draw hashes the cluster
    representative instead of the doc id, so a training document's
    near-copy can never land in the eval split; singletons hash their
    own id, making the assignment IDENTICAL to s6's per-doc split
    exactly where no duplicate structure exists.  The component table is
    checkpoint-materialized once and reused by both legs.
    ``leakage`` (r10) = the cross-split contamination audit
    (sampling.split_leakage_report) run where it has something to find:
    the PER-DOC hash split over the same near-dup pair graph.  Rows are
    (boundary key = split_lo*10+split_hi, pair count); off-diagonal
    keys are exactly the train/eval leakage grouped_split prevents by
    construction, and the oracle replays every count (deterministic
    pairs x deterministic md5 splits).  Example columns and the
    NULL-member policy are pytest-gated (test_split_leakage).
    ``pagerank`` / ``triangles`` (r17, operators/graph.py) = graph
    analytics over the same pair graph: fixed-iteration PageRank in
    exact BIGINT micro-units (oracle replays the unrolled chain through
    the shared PR_SHARE/PR_UPDATE expressions) and per-vertex triangle
    counts via the degree-ordered orientation (every triangle counted
    once at its (deg, id)-minimal apex; exact integers).
    ``pr_keeper`` (r17) = the canonical-member election: each
    cluster's max-PageRank member, ties -> min id (the oracle spells
    it with graph.pr_keeper_sql)."""
    docs = _t(spark, sf, "documents")
    # the pair list (tiny) feeds BOTH the CC legs and the r10 leakage
    # audit: materialize it once, or the whole gram-join pair pipeline
    # runs a second time under the audit subtree (measured d6
    # 4.8 -> 7.2 s at sf0.1 before this checkpoint)
    pairs = dedup.ngram_jaccard_pairs(
        dedup.token_table(docs), shingle_n=3, threshold=0.2
    ).localCheckpoint(eager=True)

    # the CC label loop (eager, O(diameter) checkpoint+probe rounds) and
    # the graph chain (edges checkpoint -> 5-iteration pagerank
    # checkpoint) are INDEPENDENT consumers of the materialized pair
    # table: run them overlapped (r17, caching.run_overlapped -- guide
    # §2.6) instead of serializing two multi-job chains.
    def _cc():
        return dedup.connected_components(pairs)

    def _graph_chain():
        # the edge list is vertex-bounded; checkpoint it so the pagerank
        # iterations and the two triangle joins share one
        # materialization instead of re-deriving it per consumer.  The
        # vertex-sized (v, pr) table feeds BOTH the pagerank leg and the
        # keeper election: checkpoint it so the 5-iteration join chain
        # runs once per entry invocation, not once per consumer (r17
        # review -- the tv1 unigram-sharing discipline applied here too).
        # The edge checkpoint is NON-eager (r18): the pagerank
        # checkpoint is the chain's next action and materializes both
        # in ONE job instead of paying a separate scheduling round-trip
        # for the vertex-bounded edge list first.
        e = graph.symmetric_edges(pairs).localCheckpoint(eager=False)
        return e, graph.pagerank(e).localCheckpoint(eager=True)

    comps, (edges, ranks) = caching.run_overlapped(_cc, _graph_chain)
    cluster = comps.select(
        F.lit("cluster").alias("op"),
        "doc_id",
        F.col("cluster_id").cast("long").alias("v"),
    )
    grouped = sampling.grouped_hash_split(
        docs.select("doc_id"),
        comps,
        weights=(0.8, 0.1, 0.1),
        salt="split-v1",
    ).select(
        F.lit("grouped_split").alias("op"),
        "doc_id",
        F.col("split_id").cast("long").alias("v"),
    )
    per_doc = sampling.hash_split(
        docs.select("doc_id"), "doc_id", weights=(0.8, 0.1, 0.1),
        salt="split-v1",
    ).select("doc_id", "split_id")
    leak = sampling.split_leakage_report(per_doc, pairs).select(
        F.lit("leakage").alias("op"),
        (F.col("split_lo").cast("long") * 10 + F.col("split_hi"))
        .cast("long")
        .alias("doc_id"),
        F.col("n_pairs").cast("long").alias("v"),
    )
    # graph analytics over the SAME checkpointed pair graph (r17,
    # operators/graph.py, built in the overlapped batch above):
    # ``pagerank`` = exact BIGINT-micro-unit PageRank (the
    # canonical-member ranking signal -- a principled alternative to
    # min-id keeper election), ``triangles`` = per-vertex triangle
    # counts via the degree-ordered orientation (hub-proof O(sqrt E)
    # wedge bound), the clique-vs-chain density signal.
    prank = ranks.select(
        F.lit("pagerank").alias("op"),
        F.col("v").cast("long").alias("doc_id"),
        F.col("pr").cast("long").alias("v"),
    )
    tri = graph.triangle_counts(edges).select(
        F.lit("triangles").alias("op"),
        F.col("v").cast("long").alias("doc_id"),
        F.col("n_tri").cast("long").alias("v"),
    )
    # canonical-member election (r17): each cluster's max-PageRank
    # member (ties -> min id) -- the keeper verb, over the shared
    # checkpointed rank table.
    keeper = graph.pagerank_keepers(ranks, comps).select(
        F.lit("pr_keeper").alias("op"),
        F.col("keeper").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("v"),
    )
    return (
        cluster.unionByName(grouped)
        .unionByName(leak)
        .unionByName(prank)
        .unionByName(tri)
        .unionByName(keeper)
    )


# ---------------------------------------------------------------------------
# Sampling / dataset splitting
# ---------------------------------------------------------------------------
# (_SPLIT_BOUNDS/_SPLIT_CASE are defined above d6_dup_clusters, whose
# grouped_split leg shares them)


#: s6 shard leg (r9): serving-shard count for sampling.shuffle_shards --
#: the md5 permutation cut into N contiguous chunks (REF:255's bucketed
#: sink with a salted-hash key).  The oracle replays shard = floor(u*N)
#: and the within-shard rank with DuckDB's own window; CAST-to-DOUBLE
#: before the multiply keeps it off decimal arithmetic (the oracle rule).
_S6_N_SHARDS = sampling.DEFAULT_N_SHARDS

#: s6 pack-leg geometry (r15), gate-sized: context 64 tokens makes BOTH
#: flag paths non-degenerate on the driver corpus (max doc = 99 ws
#: tokens -> real truncations in the bucket leg AND real chunk-boundary
#: crossers in the concat leg; at 256 neither fires below sf1).
#: Deployment values are 2048-8192 -- every expression is parametric.
_S6_PACK_CTX = 64


@register(
    "s6_hash_split",
    f"""
    WITH pk_sc AS (
      SELECT doc_id, n_tokens,
             CAST('0x' || substr(md5('pack-v1:' || CAST(doc_id AS VARCHAR)),
                                 1, 15) AS BIGINT) % {_S6_N_SHARDS} AS shard
      FROM (
        SELECT doc_id,
               CAST(len(list_filter(
                      string_split_regex(lower(coalesce(text, '')),
                                         '{TOKEN_SPLIT_REGEX}'),
                      x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
      ) WHERE n_tokens > 0 AND doc_id IS NOT NULL
    ),
    pk_concat AS (
      SELECT doc_id, shard, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_offset
      FROM pk_sc
    ),
    pk_bl AS (
      SELECT doc_id, shard, n_tokens, truncated,
             least(CASE WHEN CAST(power(2, p) AS BIGINT) >= n_eff
                        THEN CAST(power(2, p) AS BIGINT)
                        ELSE CAST(power(2, p + 1) AS BIGINT) END,
                   {_S6_PACK_CTX}) AS bucket_len
      FROM (
        SELECT *, CAST(floor(log2(CAST(n_eff AS DOUBLE))) AS INTEGER) AS p
        FROM (
          SELECT doc_id, shard, n_tokens,
                 least(n_tokens, {_S6_PACK_CTX}) AS n_eff,
                 CAST(n_tokens > {_S6_PACK_CTX} AS BIGINT) AS truncated
          FROM pk_sc
        )
      )
    ),
    pk_binid AS (
      SELECT doc_id, shard, n_tokens, truncated, bucket_len, bin_seq,
             bin_slot,
             dense_rank() OVER (PARTITION BY shard
                                ORDER BY bucket_len, bin_seq) - 1 AS bin_id
      FROM (
        SELECT *, slot // cap AS bin_seq, slot % cap AS bin_slot
        FROM (
          SELECT *, row_number() OVER (PARTITION BY shard, bucket_len
                                       ORDER BY doc_id) - 1 AS slot,
                 {_S6_PACK_CTX} // bucket_len AS cap
          FROM pk_bl
        )
      )
    )
    SELECT 'split' AS op, doc_id, CAST({_SPLIT_CASE} AS BIGINT) AS v,
           CAST(NULL AS BIGINT) AS pos, CAST(NULL AS BIGINT) AS v2,
           CAST(NULL AS BIGINT) AS v3, CAST(NULL AS BIGINT) AS v4
    FROM (
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS u
      FROM documents
    )
    UNION ALL
    SELECT 'shard' AS op, doc_id,
           CAST(floor(u * CAST({float(_S6_N_SHARDS)!r} AS DOUBLE)) AS BIGINT) AS v,
           CAST(row_number() OVER (
                  PARTITION BY floor(u * CAST({float(_S6_N_SHARDS)!r} AS DOUBLE))
                  ORDER BY u, doc_id) - 1 AS BIGINT) AS pos,
           CAST(NULL AS BIGINT) AS v2, CAST(NULL AS BIGINT) AS v3,
           CAST(NULL AS BIGINT) AS v4
    FROM (
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5('shard-v1:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS u
      FROM documents
    )
    UNION ALL
    SELECT 'curriculum' AS op, doc_id,
           CAST((rn * {int(_S6_N_SHARDS)}) // total AS BIGINT) AS v,
           rn AS pos,
           CAST(NULL AS BIGINT) AS v2, CAST(NULL AS BIGINT) AS v3,
           CAST(NULL AS BIGINT) AS v4
    FROM (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY n_chars DESC NULLS LAST,
                                              doc_id ASC NULLS LAST)
                  - 1 AS BIGINT) AS rn,
             count(*) OVER () AS total
      FROM documents
    )
    UNION ALL
    SELECT 'pack_concat' AS op, doc_id, shard AS v, start_offset AS pos,
           n_tokens AS v2, CAST(NULL AS BIGINT) AS v3,
           CAST(NULL AS BIGINT) AS v4
    FROM pk_concat
    UNION ALL
    SELECT 'pack_bucket' AS op, doc_id, shard AS v, bin_id AS pos,
           bucket_len AS v2, bin_slot AS v3, truncated AS v4
    FROM pk_binid
    UNION ALL
    SELECT 'pack_stats_concat' AS op, CAST(NULL AS BIGINT) AS doc_id,
           shard AS v,
           CAST((sum(n_tokens) + {_S6_PACK_CTX - 1}) // {_S6_PACK_CTX}
                AS BIGINT) AS pos,
           CAST(count(*) AS BIGINT) AS v2,
           CAST((sum(n_tokens) + {_S6_PACK_CTX - 1}) // {_S6_PACK_CTX}
                  * {_S6_PACK_CTX} - sum(n_tokens) AS BIGINT) AS v3,
           CAST(sum(CAST((start_offset + n_tokens - 1) // {_S6_PACK_CTX}
                    > start_offset // {_S6_PACK_CTX} AS BIGINT)) AS BIGINT)
             AS v4
    FROM pk_concat GROUP BY shard
    UNION ALL
    SELECT 'pack_stats_bucket' AS op, CAST(NULL AS BIGINT) AS doc_id,
           shard AS v,
           CAST(max(bin_id) + 1 AS BIGINT) AS pos,
           CAST(count(*) AS BIGINT) AS v2,
           CAST((max(bin_id) + 1) * {_S6_PACK_CTX}
             - sum(least(n_tokens, {_S6_PACK_CTX})) AS BIGINT) AS v3,
           CAST(sum(truncated) AS BIGINT) AS v4
    FROM pk_binid GROUP BY shard
    """,
)
def s6_hash_split(spark, sf):
    """Deterministic splits family, two tagged legs over documents:

    * ``op='split'``: hash-based train/val/test assignment (80/10/10) --
      same id -> same split across reruns, engines, partitionings, and
      appends; ``v`` = split_id.  The oracle reproduces the md5-uniform
      and the exact float boundaries.
    * ``op='shard'`` (r9): sampling.shuffle_shards' deterministic global
      shuffle into N = sampling.DEFAULT_N_SHARDS serving shards --
      ``v`` = shard_id
      (floor of the shard-salted uniform times N), ``pos`` = 0-based
      rank within the shard under the global md5 permutation.  The
      oracle replays both with DuckDB's window, pinning the full serve
      ORDER cross-engine, not just the membership.
    * ``op='curriculum'`` (r9): sampling.curriculum_shards' score-ordered
      layout over the same N (curriculum key: n_chars DESC, longest
      first, doc_id tie-break; NULLS LAST spelled on every surface) --
      ``v`` = (rank * N) div total (engine-exact integer cut), ``pos`` =
      the exact global rank that sampling.global_rank computes with a
      range exchange + broadcast offsets instead of the single-task sort
      a bare global window would plan; the oracle replays it with
      DuckDB's one-partition window, proving the distributed rank equals
      the naive definition.
    * ``op='pack_concat'`` / ``op='pack_bucket'`` (r15): the closed-form
      sequence-packing layouts (operators/packing.py) -- the
      VALUE-HASHED counterparts of pl1's in-plane-audited greedy packer
      (a greedy fold cannot be oracled; a window layout can, row for
      row).  pack_concat is the GPT concat-and-chunk stream (``v`` =
      shard, ``pos`` = start_offset in the shard's token stream, ``v2``
      = token count; the chunk columns are pure arithmetic on pos so
      hashing pos pins them); pack_bucket is the length-bucketed
      no-split layout (``v`` = shard, ``pos`` = bin, ``v2`` = bucket,
      ``v3`` = slot, ``v4`` = truncated).
    * ``op='pack_stats_concat'`` / ``op='pack_stats_bucket'`` (r15):
      layout economics per shard (``pos`` = sequences, ``v2`` = docs,
      ``v3`` = pad tokens, ``v4`` = flagged docs: crossers /
      truncations) -- measured at this gate geometry (_S6_PACK_CTX=64,
      live truncation AND crossing on the driver corpus): concat pads
      <2%, bucket ~40%, the reason pretraining concats and fine-tuning
      buckets.  ONE eagerly-checkpointed token-count table feeds all
      four pack legs (the d4 token_table discipline); each layout is
      then window arithmetic on (doc_id, n_tokens, shard) only.

    The three r9 legs carry NULL v2..v4 (schema union with the pack
    legs)."""
    nul = F.lit(None).cast("long")
    docs = _t(spark, sf, "documents").select("doc_id")
    split = sampling.hash_split(
        docs, id_col="doc_id", weights=(0.8, 0.1, 0.1), salt="split-v1"
    ).select(
        F.lit("split").alias("op"),
        "doc_id",
        F.col("split_id").cast("long").alias("v"),
        nul.alias("pos"),
        nul.alias("v2"),
        nul.alias("v3"),
        nul.alias("v4"),
    )
    shard = sampling.shuffle_shards(
        docs, id_col="doc_id", n_shards=_S6_N_SHARDS, salt="shard-v1"
    ).select(
        F.lit("shard").alias("op"),
        "doc_id",
        F.col("shard_id").cast("long").alias("v"),
        F.col("shard_pos").alias("pos"),
        nul.alias("v2"),
        nul.alias("v3"),
        nul.alias("v4"),
    )
    curriculum = sampling.curriculum_shards(
        _t(spark, sf, "documents").select("doc_id", "n_chars"),
        score_col="n_chars",
        n_shards=_S6_N_SHARDS,
    ).select(
        F.lit("curriculum").alias("op"),
        "doc_id",
        F.col("shard_id").cast("long").alias("v"),
        F.col("rank").alias("pos"),
        nul.alias("v2"),
        nul.alias("v3"),
        nul.alias("v4"),
    )
    counts = packing.doc_token_counts(
        _t(spark, sf, "documents")
    ).localCheckpoint(eager=True)
    pc = packing.pack_concat(
        counts, context_len=_S6_PACK_CTX, n_shards=_S6_N_SHARDS
    )
    pb = packing.pack_bucketed(
        counts, context_len=_S6_PACK_CTX, n_shards=_S6_N_SHARDS
    )
    pack_concat = pc.select(
        F.lit("pack_concat").alias("op"),
        "doc_id",
        F.col("shard").alias("v"),
        F.col("start_offset").alias("pos"),
        F.col("n_tokens").alias("v2"),
        nul.alias("v3"),
        nul.alias("v4"),
    )
    pack_bucket = pb.select(
        F.lit("pack_bucket").alias("op"),
        "doc_id",
        F.col("shard").alias("v"),
        F.col("bin_id").alias("pos"),
        F.col("bucket_len").alias("v2"),
        F.col("bin_slot").alias("v3"),
        F.col("truncated").alias("v4"),
    )
    pack_stats = packing.layout_stats(
        pc, pb, context_len=_S6_PACK_CTX
    ).select(
        F.concat(F.lit("pack_stats_"), F.col("op")).alias("op"),
        nul.alias("doc_id"),
        F.col("shard").alias("v"),
        F.col("n_seqs").alias("pos"),
        F.col("n_docs").cast("long").alias("v2"),
        F.col("pad_tokens").alias("v3"),
        F.col("n_flagged").cast("long").alias("v4"),
    )
    return (
        split.unionByName(shard)
        .unionByName(curriculum)
        .unionByName(pack_concat)
        .unionByName(pack_bucket)
        .unionByName(pack_stats)
    )


#: s7 per-stratum target rates + the absolute tolerance the gate asserts.
#: |realised - target| <= 0.15 absolute: loose enough for the smallest
#: stratum (~70 docs at the pytest/driver sfs, where seeded Bernoulli rates
#: deviate up to ~0.08), tight enough that a grossly wrong fraction wiring
#: (e.g. rates applied to the wrong strata at scale, double sampling)
#: trips it.  The band alone cannot see a DROPPED stratum whose target is
#: below the tolerance (|0 - 0.1| < 0.15), so the gate additionally
#: requires n_samp >= 1 per stratum.
_S7_FRACTIONS = {"en": 0.5, "es": 0.25, "fr": 0.25, "de": 0.1}
_S7_TOL = 0.15


#: s7 mix leg: relative domain weights + the exact output size target.
#: Spark normalizes weights in Python (w / sum); the oracle embeds the
#: same normalized literals so the ratio arithmetic is bit-identical.
_S7_MIX_WEIGHTS = {"src0": 2.0, "src1": 1.0, "src2": 1.0}
_S7_MIX_TARGET = 120
_S7_CAP_N = 40

_S7_MIX_WN = {
    k: v / sum(_S7_MIX_WEIGHTS.values()) for k, v in _S7_MIX_WEIGHTS.items()
}
_S7_U15 = float(16**15)  # md5 15-hex-char uniform denominator

#: s7 temp leg: temperature exponent + output size for the lang-balanced
#: resample (lang is the skewed column in the synthetic corpus -- en is
#: ~3x fr -- so alpha < 1 visibly up-weights the low-resource strata).
_S7_TEMP_ALPHA = 0.5
_S7_TEMP_TARGET = 150

#: s7 qsamp leg: per-doc (lang, quality_score, md5-uniform) -- the t1
#: oracle's proven quality formula verbatim, paired with the qs-v1 draw.
_S7_QS_SQL = rf"""
      SELECT doc_id, lang,
             floor((least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) * 0.4
                   + least(coalesce({{hits}}
                           / nullif(CAST(len(t) AS DOUBLE), 0), 0) * 5,
                           1.0) * 0.3
                   + (1 - least(coalesce(
                         CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]',
                                                    '', 'g')) AS DOUBLE)
                         / nullif(CAST(length(text) AS DOUBLE), 0), 0)
                         * 10, 1.0)) * 0.3)
                   * 10000.0 + 1e-7) / 10000.0 AS qs,
             CAST(CAST('0x' || substr(md5('qs-v1:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS DOUBLE) / {{u15}} AS u
      FROM (
        SELECT doc_id, lang, coalesce(text, '') AS text,
               list_filter(string_split_regex(lower(coalesce(text, '')),
                                              '{TOKEN_SPLIT_REGEX}'),
                           x -> x <> '') AS t
        FROM documents
      )
"""


#: s7 dsir leg (r9): DuckDB replay of the WHOLE sampling.dsir_select
#: selection (hashed unigram+bigram buckets, micro-quantized log-ratios
#: as order-independent BIGINT sums, micro-quantized Gumbel top-k) --
#: THE single definition; tests/test_dsir.py imports it for the
#: operator-level row-for-row parity gate.  Target distribution =
#: source='src0' (NULL source coalesces to candidate, never target).
_S7_DSIR_DUCK_SQL = f"""
WITH d AS (
  SELECT doc_id, coalesce((source = 'src0'), false) AS tgt,
         list_filter(string_split_regex(lower(coalesce(text, '')),
                                        '{TOKEN_SPLIT_REGEX}'),
                     x -> x <> '') AS t
  FROM documents
),
g0 AS (
  SELECT doc_id, tgt, unnest(t) AS gram FROM d
  UNION ALL
  SELECT doc_id, tgt,
         unnest(CASE WHEN len(t) >= 2 THEN
                  list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                ELSE [] END) AS gram
  FROM d
),
g AS (
  SELECT doc_id, tgt,
         CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % 1024 AS bucket
  FROM g0
),
counts AS (
  SELECT bucket,
         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt,
         sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS c_raw
  FROM g GROUP BY bucket
),
tot AS (SELECT sum(c_tgt) AS n_tgt, sum(c_raw) AS n_raw FROM counts),
ratios AS (
  SELECT bucket,
         CAST(floor((ln((c_tgt + 1.0) / (n_tgt + 1024.0))
                     - ln((c_raw + 1.0) / (n_raw + 1024.0)))
                    * 1000000.0 + 1e-9) AS BIGINT) AS lr_micro
  FROM counts CROSS JOIN tot
),
scores AS (
  SELECT g.doc_id, sum(lr_micro) AS sc
  FROM g JOIN ratios USING (bucket) WHERE NOT tgt GROUP BY g.doc_id
),
cands AS (
  SELECT raw.doc_id, coalesce(s.sc, 0) AS sc,
         coalesce(s.sc, 0) + CAST(floor(-ln(-ln(
             CAST(CAST('0x' || substr(md5('dsir-v1:' ||
                    CAST(raw.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                  AS DOUBLE) / {_S7_U15!r}))
             * 1000000.0 + 1e-9) AS BIGINT) AS key
  FROM (SELECT doc_id FROM documents
        WHERE NOT coalesce((source = 'src0'), false)) raw
  LEFT JOIN scores s ON raw.doc_id = s.doc_id
)
SELECT doc_id, sc AS dsir_score_micro, key AS dsir_key
FROM cands ORDER BY key DESC, doc_id LIMIT 200
"""


@register(
    "s7_stratified_rates",
    f"""
    SELECT 'rate' AS op, lang AS key, true AS rate_ok,
           CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS id_sum
    FROM (SELECT DISTINCT lang FROM documents
          WHERE lang IN ({", ".join(f"'{k}'" for k in sorted(_S7_FRACTIONS))}))
    UNION ALL
    SELECT 'mix' AS op, source || ':' || epoch AS key,
           CAST(NULL AS BOOLEAN) AS rate_ok,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM (
      SELECT doc_id, source,
             unnest(range(n_copies)) AS epoch
      FROM (
        SELECT d.doc_id, d.source,
               CAST(floor(ratio)
                    + CASE WHEN u < ratio - floor(ratio) THEN 1 ELSE 0 END
                 AS INT) AS n_copies
        FROM (
          SELECT doc_id, source,
                 (CASE source
                    {" ".join(f"WHEN '{k}' THEN {v!r}" for k, v in sorted(_S7_MIX_WN.items()))}
                  END * {float(_S7_MIX_TARGET)!r})
                 / (count(*) OVER (PARTITION BY source)) AS ratio,
                 CAST(CAST('0x' || substr(md5('mix-v1:' || CAST(doc_id AS VARCHAR)), 1, 15)
                      AS BIGINT) AS DOUBLE) / {_S7_U15!r} AS u
          FROM documents
          WHERE source IN ({", ".join(f"'{k}'" for k in sorted(_S7_MIX_WEIGHTS))})
        ) d
      )
      WHERE n_copies > 0
    )
    GROUP BY 1, 2
    UNION ALL
    SELECT 'cap' AS op, lang AS key, CAST(NULL AS BOOLEAN) AS rate_ok,
           CAST(count(*) AS BIGINT) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('cap-v1:' || CAST(doc_id AS VARCHAR))) AS rn
      FROM documents
    )
    WHERE rn <= {_S7_CAP_N}
    GROUP BY lang
    UNION ALL
    -- temperature rebalancing (r7): w_lang ~ n_lang^alpha, normalized
    -- then 1e-6-truncated BEFORE any ratio arithmetic (pow and the
    -- per-domain float sum are the only engine-varying steps; after the
    -- quantize every floor/compare is bit-identical)
    SELECT 'temp' AS op, coalesce(lang, 'NULL') || ':' || epoch AS key,
           CAST(NULL AS BOOLEAN) AS rate_ok,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM (
      SELECT doc_id, lang, unnest(range(n_copies)) AS epoch
      FROM (
        SELECT dd.doc_id, dd.lang,
               CAST(floor(ratio)
                    + CASE WHEN u < ratio - floor(ratio) THEN 1 ELSE 0 END
                 AS INT) AS n_copies
        FROM (
          SELECT d0.doc_id, d0.lang,
                 w.wq * {float(_S7_TEMP_TARGET)!r} / w.n AS ratio,
                 CAST(CAST('0x' || substr(md5('temp-v1:' || CAST(d0.doc_id AS VARCHAR)), 1, 15)
                      AS BIGINT) AS DOUBLE) / {_S7_U15!r} AS u
          FROM documents d0
          JOIN (
            SELECT lang, n,
                   floor(pow(CAST(n AS DOUBLE), {_S7_TEMP_ALPHA!r}) / psum
                         * 1000000.0 + 1e-9) / 1000000.0 AS wq
            FROM (
              SELECT lang, count(*) AS n,
                     sum(pow(CAST(count(*) AS DOUBLE), {_S7_TEMP_ALPHA!r}))
                       OVER () AS psum
              FROM documents GROUP BY lang
            )
          ) w ON d0.lang IS NOT DISTINCT FROM w.lang
        ) dd
      )
      WHERE n_copies > 0
    )
    GROUP BY 1, 2
    UNION ALL
    -- quality-weighted sampling (r7): keep-prob == quality score, draw
    -- = md5-uniform(qs-v1, id); membership replays exactly (id_sum)
    SELECT 'qsamp' AS op, lang AS key, CAST(NULL AS BOOLEAN) AS rate_ok,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM ({_S7_QS_SQL.format(hits=_hits_from_t_sql("en"), u15=repr(_S7_U15))})
    WHERE u < qs GROUP BY lang
    UNION ALL
    -- DSIR data selection (r9): membership of the micro-quantized
    -- Gumbel-top-k replays id-for-id, so per-lang sizes AND id_sum gate
    -- the whole hashed-ngram importance pipeline
    SELECT 'dsir' AS op, coalesce(lang, 'NULL') AS key,
           CAST(NULL AS BOOLEAN) AS rate_ok,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM ({_S7_DSIR_DUCK_SQL}) sel JOIN documents USING (doc_id)
    GROUP BY 1, 2
    """,
)
def s7_stratified_rates(spark, sf):
    """The sampling/reweighting surface, tagged and stacked (u1/r1
    precedent, one driver slot):

    - ``op='rate'``: per-language stratified sample (seeded ``sampleBy``)
      with an IN-PLANE rate gate -- the sampled row set is
      engine-RNG-specific, but ``rate_ok`` is deterministic for a fixed
      seed and dataset, so the oracle expects ``true`` per stratum.
    - ``op='mix'``: domain reweighting (``sampling.mix_domains``) --
      md5-deterministic copy counts, so the per-(domain, epoch) sizes AND
      the exact membership (id_sum) replay in the oracle bit-for-bit.
    - ``op='cap'``: deterministic per-key cap (``sampling.cap_per_key``)
      run in its SALTED two-phase form (n_salts=4); the oracle computes
      the plain unsalted rank -- equality driver-gates the salted ≡
      unsalted property on top of the pytest gate
      (tests/test_cap_per_key.py).
    - ``op='temp'`` (r7): temperature rebalancing over the skewed
      ``lang`` column (``sampling.temperature_mix``, w ~ n^0.5):
      corpus-derived weights quantized to the 1e-6 grid before the same
      md5-Bernoulli copy-count machinery as mix, so per-(lang, epoch)
      sizes AND membership replay bit-for-bit.
    - ``op='qsamp'`` (r7): quality-weighted sampling
      (``sampling.quality_weighted_sample``, the GPT-3 appendix-A soft
      filter): keep-probability == the t1 composite quality score,
      Bernoulli draw = md5-uniform of (qs-v1, id) -- per-lang sizes and
      exact membership (id_sum) replay in the oracle.
    - ``op='dsir'`` (r9): DSIR data selection
      (``sampling.dsir_select``, Xie et al. 2023, arXiv:2302.03169):
      hashed unigram+bigram importance weights of the raw pool against
      the ``source='src0'`` target slice, Gumbel-top-200
      without-replacement resampling; every float step micro-quantized
      to BIGINT, so per-lang sizes AND membership (id_sum) replay in
      the oracle id-for-id (operator-level row parity in
      tests/test_dsir.py)."""
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "source")
    in_strata = docs.filter(F.col("lang").isin(*_S7_FRACTIONS))
    totals = in_strata.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    sampled = (
        sampling.stratified_sample(in_strata, "lang", _S7_FRACTIONS, seed=42)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_samp"))
    )
    target = F.create_map(
        *[F.lit(x) for kv in _S7_FRACTIONS.items() for x in kv]
    )
    n_samp = F.coalesce("n_samp", F.lit(0))
    rate = totals.join(sampled, "lang", "left").select(
        F.lit("rate").alias("op"),
        F.col("lang").alias("key"),
        (
            (n_samp >= 1)  # a silently dropped stratum must trip the gate
            & (
                F.abs(
                    n_samp / F.col("n_total").cast("double")
                    - target[F.col("lang")]
                )
                <= _S7_TOL
            )
        ).alias("rate_ok"),
        F.lit(None).cast("long").alias("n"),
        F.lit(None).cast("long").alias("id_sum"),
    )
    mixed = sampling.mix_domains(
        docs.filter(F.col("source").isin(*_S7_MIX_WEIGHTS)),
        domain_col="source",
        weights=_S7_MIX_WEIGHTS,
        target_rows=_S7_MIX_TARGET,
        id_col="doc_id",
        salt="mix-v1",
    )
    mix = mixed.groupBy("source", "epoch").agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("id_sum")
    ).select(
        F.lit("mix").alias("op"),
        F.concat_ws(":", "source", "epoch").alias("key"),
        F.lit(None).cast("boolean").alias("rate_ok"),
        F.col("n").cast("long"),
        F.col("id_sum").cast("long"),
    )
    capped = sampling.cap_per_key(
        docs.select("doc_id", "lang"),
        key_col="lang",
        n=_S7_CAP_N,
        id_col="doc_id",
        salt="cap-v1",
        n_salts=4,
    )
    cap = capped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("id_sum")
    ).select(
        F.lit("cap").alias("op"),
        F.col("lang").alias("key"),
        F.lit(None).cast("boolean").alias("rate_ok"),
        F.col("n").cast("long"),
        F.col("id_sum").cast("long"),
    )
    temp = (
        sampling.temperature_mix(
            docs,
            domain_col="lang",
            alpha=_S7_TEMP_ALPHA,
            target_rows=_S7_TEMP_TARGET,
            id_col="doc_id",
            salt="temp-v1",
        )
        .groupBy("lang", "epoch")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("id_sum"))
        .select(
            F.lit("temp").alias("op"),
            # NULL lang is a real stratum since r8 -- surface it as a
            # visible key on all three parity engines (concat_ws would
            # silently skip it; DuckDB's || would NULL the whole key)
            F.concat_ws(
                ":", F.coalesce(F.col("lang"), F.lit("NULL")), "epoch"
            ).alias("key"),
            F.lit(None).cast("boolean").alias("rate_ok"),
            F.col("n").cast("long"),
            F.col("id_sum").cast("long"),
        )
    )
    qdocs = _t(spark, sf, "documents")
    qsamp = (
        sampling.quality_weighted_sample(
            qdocs.select("doc_id", "lang").join(
                textops.quality_scores(qdocs).select(
                    "doc_id", "quality_score"
                ),
                on="doc_id",
            ),
            score_col="quality_score",
            id_col="doc_id",
            salt="qs-v1",
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("id_sum"))
        .select(
            F.lit("qsamp").alias("op"),
            F.col("lang").alias("key"),
            F.lit(None).cast("boolean").alias("rate_ok"),
            F.col("n").cast("long"),
            F.col("id_sum").cast("long"),
        )
    )
    dsir = (
        sampling.dsir_select(
            qdocs.withColumn("_is_t", F.col("source") == "src0"),
            target_col="_is_t",
        )
        .join(qdocs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("id_sum"))
        .select(
            F.lit("dsir").alias("op"),
            F.coalesce(F.col("lang"), F.lit("NULL")).alias("key"),
            F.lit(None).cast("boolean").alias("rate_ok"),
            F.col("n").cast("long"),
            F.col("id_sum").cast("long"),
        )
    )
    return (
        rate.unionByName(mix)
        .unionByName(cap)
        .unionByName(temp)
        .unionByName(qsamp)
        .unionByName(dsir)
    )


#: s8 scd2 leg: one fixed effective timestamp for the whole update batch
#: (literal on both sides, so timestamp parity is trivial).
_S8_EFF = "1999-01-01 00:00:00"


@register(
    "s8_upsert",
    f"""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price
      FROM orders
    ),
    updates AS (
      SELECT o_orderkey, 'UPDATED' AS o_orderpriority,
             round(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, 'NEW' AS o_orderpriority,
             round(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey % 17 = 0
    ),
    dim AS (
      SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price,
             CAST(o_orderdate AS TIMESTAMP) AS valid_from
      FROM orders
    ),
    upd2 AS (
      SELECT o_orderkey, 'CHANGED' AS o_orderpriority,
             round(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey % 10 <> 0
      UNION ALL
      SELECT o_orderkey + 200000000, 'NEW2' AS o_orderpriority,
             round(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey % 17 = 0
    ),
    j AS (
      SELECT d.o_orderkey AS dk, d.o_orderpriority AS dp, d.price AS dprice,
             d.valid_from AS dvf, u.o_orderkey AS uk,
             u.o_orderpriority AS up, u.price AS uprice,
             (u.o_orderkey IS NOT NULL AND d.o_orderkey IS NOT NULL
              AND (u.o_orderpriority IS DISTINCT FROM d.o_orderpriority
                   OR u.price IS DISTINCT FROM d.price)) AS changed
      FROM dim d FULL JOIN upd2 u ON d.o_orderkey = u.o_orderkey
    )
    SELECT 'scd1' AS op,
           coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           coalesce(u.o_orderpriority, b.o_orderpriority) AS o_orderpriority,
           coalesce(u.price, b.price) AS price,
           CAST(NULL AS TIMESTAMP) AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to,
           CAST(NULL AS BOOLEAN) AS is_current
    FROM base b FULL JOIN updates u ON b.o_orderkey = u.o_orderkey
    UNION ALL
    SELECT 'scd2' AS op, dk AS o_orderkey, dp AS o_orderpriority,
           dprice AS price, dvf AS valid_from,
           CASE WHEN changed THEN TIMESTAMP '{_S8_EFF}' END AS valid_to,
           NOT changed AS is_current
    FROM j WHERE dk IS NOT NULL
    UNION ALL
    SELECT 'scd2' AS op, uk AS o_orderkey, up AS o_orderpriority,
           uprice AS price, TIMESTAMP '{_S8_EFF}' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
    FROM j WHERE uk IS NOT NULL AND (dk IS NULL OR changed)
    """,
)
def s8_upsert(spark, sf):
    """The merge surface, tagged and stacked (u1/r1 precedent):

    - ``op='scd1'``: type-1 merge (MERGE INTO semantics) -- updated rows
      win, new keys insert, untouched rows carry forward; full-outer join
      + coalesce, one shuffle on the key (``etl.upsert``).
    - ``op='scd2'``: type-2 history merge (``etl.scd2_upsert``) over the
      same orders dim: changed keys (%10, new priority) CLOSE the current
      version (valid_to = effective, is_current = false) and append an
      open one; no-op updates (%13, attributes unchanged) carry forward
      untouched -- the idempotency case; brand-new keys (%17 + 2e8) open
      their first version.  The oracle replays close/append/no-op with a
      full-outer join + null-safe DISTINCT FROM comparisons."""
    from ..operators.etl import scd2_upsert, upsert

    o = _t(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", F.round("o_totalprice", 2).alias("price")
    )
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderpriority", F.lit("UPDATED"))
        .unionByName(
            o.filter(F.col("o_orderkey") % 17 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                F.lit("NEW").alias("o_orderpriority"),
                "price",
            )
        )
    )
    nullts = F.lit(None).cast("timestamp")
    scd1 = upsert(o, updates, ["o_orderkey"]).select(
        F.lit("scd1").alias("op"),
        "o_orderkey",
        "o_orderpriority",
        "price",
        nullts.alias("valid_from"),
        nullts.alias("valid_to"),
        F.lit(None).cast("boolean").alias("is_current"),
    )

    eff = F.lit(_S8_EFF).cast("timestamp")
    dim = _t(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("price"),
        F.col("o_orderdate").cast("timestamp").alias("valid_from"),
        nullts.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    upd2 = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderpriority", F.lit("CHANGED"))
        .unionByName(
            o.filter(
                (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") % 10 != 0)
            )
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 17 == 0).select(
                (F.col("o_orderkey") + 200000000).alias("o_orderkey"),
                F.lit("NEW2").alias("o_orderpriority"),
                "price",
            )
        )
        .withColumn("effective_ts", eff)
    )
    scd2 = scd2_upsert(dim, upd2, ["o_orderkey"]).select(
        F.lit("scd2").alias("op"),
        "o_orderkey",
        "o_orderpriority",
        "price",
        "valid_from",
        "valid_to",
        "is_current",
    )
    return scd1.unionByName(scd2)


@register(
    "p9_pivot",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2)
             AS qty_f,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2)
             AS qty_o,
           count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS cnt_f,
           count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS cnt_o
    FROM lineitem GROUP BY l_returnflag
    """,
)
def p9_pivot(spark, sf):
    """Pivot (wide crosstab): one row per returnflag, one column pair per
    linestatus.  Explicit value list so the plan is a single pass (no
    distinct-values pre-query) -- Catalyst rewrites to conditional
    aggregation, exactly the oracle's CASE form."""
    li = _t(spark, sf, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return piv.select(
        "l_returnflag",
        F.col("F_qty").alias("qty_f"),
        F.col("O_qty").alias("qty_o"),
        F.col("F_cnt").alias("cnt_f"),
        F.col("O_cnt").alias("cnt_o"),
    )


@register(
    "f_array_hof",
    """
    SELECT vec_id,
           CAST(len(list_filter(emb, x -> x > 0)) AS INT) AS n_pos,
           round(list_aggregate(list_transform(emb, x -> x * x), 'sum'), 6)
             AS sum_sq,
           round(list_aggregate(emb, 'max'), 6) AS max_dim,
           round(list_aggregate(list_transform(emb, x -> abs(x)), 'sum'), 6)
             AS l1_norm
    FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    WHERE vec_id % 100 = 0
    """,
)
def f_array_hof(spark, sf):
    """Array higher-order functions (filter/transform/aggregate) over the
    embedding column -- the JVM-side vector-math building blocks."""
    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") % 100 == 0)
    arr = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        F.size(F.filter(arr, lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.aggregate(
                F.transform(arr, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("sum_sq"),
        F.round(F.array_max(arr), 6).alias("max_dim"),
        F.round(
            F.aggregate(
                F.transform(arr, lambda x: F.abs(x)), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("l1_norm"),
    )


# ---------------------------------------------------------------------------
# Round-4 driver widening: previously pytest-only operators get first-class
# registry entries (cohorts, range join, text hygiene, TF-IDF, vocabulary,
# cross-corpus decontamination, the end-to-end curation funnel).
# ---------------------------------------------------------------------------

#: day-width epoch bin in portable BIGINT arithmetic -- the exact DuckDB
#: mirror of functions.exprs.epoch_bin (see tests/test_cohorts.py for why
#: `//` floor-division is NOT usable here).
_DAY_US = 86_400 * 1_000_000
_DAY_FLOOR = f"(e - (((e % {_DAY_US}) + {_DAY_US}) % {_DAY_US}))"


@register(
    "cx1_time_ops",
    f"""
    WITH f0 AS (
      SELECT user_id, epoch_us(min(ts)) AS e FROM events GROUP BY user_id
    ),
    firsts AS (SELECT user_id, {_DAY_FLOOR} AS cohort_us FROM f0),
    a0 AS (SELECT DISTINCT user_id, epoch_us(ts) AS e FROM events),
    active AS (SELECT DISTINCT user_id, {_DAY_FLOOR} AS act_us FROM a0),
    iv AS (
      SELECT user_id, min(ts) AS start_ts,
             min(ts) + INTERVAL 4 HOUR AS end_ts
      FROM events GROUP BY user_id
    )
    SELECT 'cohort' AS op, CAST(NULL AS BIGINT) AS k1,
           CAST((act_us - cohort_us) // {_DAY_US} AS BIGINT) AS k2,
           make_timestamp(cohort_us) AS ts1,
           CAST(NULL AS TIMESTAMP) AS ts2, CAST(NULL AS TIMESTAMP) AS ts3,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n
    FROM active a JOIN firsts f USING (user_id)
    GROUP BY cohort_us, k2
    UNION ALL
    SELECT 'range' AS op, e.user_id AS k1, e.event_id AS k2,
           e.ts AS ts1, iv.start_ts AS ts2, iv.end_ts AS ts3,
           CAST(NULL AS BIGINT) AS n
    FROM events e JOIN iv ON e.user_id = iv.user_id
    WHERE e.ts BETWEEN iv.start_ts AND iv.end_ts
    """,
)
def cx1_time_ops(spark, sf):
    """The two time-axis relational extensions, tagged and stacked (u1/r1
    precedent, one driver slot).  ``cohort`` = the daily cohort-retention
    triangle (first-seen day x days-since x active users): two user-keyed
    aggregates + one co-keyed join over epoch-aligned true-floor day bins
    (hour/week/month variants share the operator; tests/test_cohorts.py).
    ``range`` = interval join via time-bin equi-join: each event matched to
    its user's first-4-hours window -- the BETWEEN predicate becomes an
    equi-join on (user, bin) with an exact post-filter, never Spark's
    default nested-loop plan (no-cartesian plan-tested in
    tests/test_asof_skew.py)."""
    ev = _t(spark, sf, "events")
    nullts = F.lit(None).cast("timestamp")
    cohort = cohorts.cohort_retention(ev, period="day").select(
        F.lit("cohort").alias("op"),
        F.lit(None).cast("long").alias("k1"),
        F.col("periods_since").alias("k2"),
        F.col("cohort_start").alias("ts1"),
        nullts.alias("ts2"),
        nullts.alias("ts3"),
        F.col("n_active_users").alias("n"),
    )
    evs = ev.select("user_id", "event_id", "ts")
    iv = (
        evs.groupBy("user_id")
        .agg(F.min("ts").alias("start_ts"))
        .withColumn("end_ts", F.col("start_ts") + F.expr("INTERVAL 4 HOURS"))
    )
    rng = asof.range_join(
        evs, iv, "ts", "start_ts", "end_ts", bin_seconds=3600, keys=["user_id"]
    ).select(
        F.lit("range").alias("op"),
        F.col("user_id").alias("k1"),
        F.col("event_id").alias("k2"),
        F.col("ts").alias("ts1"),
        F.col("start_ts").alias("ts2"),
        F.col("end_ts").alias("ts3"),
        F.lit(None).cast("long").alias("n"),
    )
    return cohort.unionByName(rng)


#: shared tokenize + per-doc term-frequency CTE (DuckDB mirror of
#: functions.text.tokens + the tf aggregate in textops)
_TF_CTE = f"""
  toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_REGEX}'),
                       x -> x <> '') AS t
    FROM documents
  ),
  tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
  tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token)
"""


@register(
    "tv1_text_stats",
    f"""
    WITH {_TF_CTE},
    dfreq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY token),
    total AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
             round(tf * ln(n_docs / CAST(doc_freq AS DOUBLE)), 6) AS tfidf
      FROM tf JOIN dfreq USING (token) CROSS JOIN total
    ),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, token ASC
             ) AS BIGINT) AS rank
      FROM scored
    )
    SELECT 'tfidf' AS op, doc_id, token, tf AS n, rank AS m, tfidf AS score
    FROM ranked WHERE rank <= 3
    UNION ALL
    SELECT 'vocab' AS op, CAST(NULL AS BIGINT) AS doc_id, token,
           CAST(sum(tf) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS m,
           CAST(NULL AS DOUBLE) AS score
    FROM tf GROUP BY token HAVING sum(tf) >= 20
    UNION ALL
    SELECT 'scrub' AS op, doc_id, scrub_fp AS token,
           CAST(n_kept AS BIGINT) AS n, CAST(n_dropped AS BIGINT) AS m,
           CAST(NULL AS DOUBLE) AS score
    FROM (
      WITH stoks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(coalesce(text, '')),
                                              '{TOKEN_SPLIT_REGEX}'),
                           x -> x <> '') AS t
        FROM documents
      ),
      sg AS (
        SELECT doc_id, i, md5(array_to_string(t[i:i+4], ' ')) AS g
        FROM stoks,
             unnest(CASE WHEN len(t) >= 5 THEN range(1, len(t) - 3)
                    ELSE [] END) AS u(i)
      ),
      sheavy AS (
        SELECT g FROM sg GROUP BY g HAVING count(DISTINCT doc_id) >= 3
      ),
      shits AS (
        SELECT doc_id, list(DISTINCT i) AS starts
        FROM sg JOIN sheavy USING (g) GROUP BY doc_id
      ),
      scov AS (
        SELECT stoks.doc_id, t,
               list_distinct(flatten(list_transform(coalesce(starts, []),
                                                    s -> range(s, s + 5))))
                 AS covered
        FROM stoks LEFT JOIN shits USING (doc_id)
      ),
      sscrub AS (
        SELECT doc_id, t,
               list_filter(t, (x, i) -> NOT list_contains(covered, i)) AS kept
        FROM scov
      )
      SELECT doc_id,
             CAST(len(kept) AS BIGINT) AS n_kept,
             CAST(len(t) - len(kept) AS BIGINT) AS n_dropped,
             md5(coalesce(array_to_string(kept, ' '), '')) AS scrub_fp
      FROM sscrub
    )
    UNION ALL
    -- bigram-LM corpus scoring (r7): add-one-smoothed transition
    -- log-probs, each truncated to BIGINT micro-units BEFORE the per-doc
    -- sum so the aggregate is exact integer arithmetic in both engines
    SELECT 'lm' AS op, doc_id, CAST(NULL AS VARCHAR) AS token,
           n_tokens AS n, n_transitions AS m, score
    FROM (
      WITH ltok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(coalesce(text, '')),
                                              '{TOKEN_SPLIT_REGEX}'),
                           x -> x <> '') AS t
        FROM documents
      ),
      lc1 AS (
        SELECT token, count(*) AS c1
        FROM (SELECT unnest(t) AS token FROM ltok) GROUP BY token
      ),
      lv AS (SELECT count(*) AS v FROM lc1),
      ltrans AS (
        SELECT doc_id, len(t) AS n_tokens, t[i] AS prev, t[i + 1] AS cur
        FROM ltok,
             unnest(CASE WHEN len(t) >= 2 THEN range(1, len(t))
                    ELSE [] END) AS u(i)
      ),
      lc2 AS (
        SELECT prev, cur, count(*) AS c2 FROM ltrans GROUP BY prev, cur
      ),
      lsc AS (
        SELECT lt.doc_id, lt.n_tokens,
               CAST(floor(ln((c2 + 1) / CAST(c1 + v AS DOUBLE))
                          * 1000000.0 + 1e-9) AS BIGINT) AS lp_micro
        FROM ltrans lt
        JOIN lc2 ON lt.prev = lc2.prev AND lt.cur = lc2.cur
        JOIN lc1 ON lt.prev = lc1.token
        CROSS JOIN lv
      ),
      lagg AS (
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_transitions,
               sum(lp_micro) AS sum_micro
        FROM lsc GROUP BY doc_id, n_tokens
        UNION ALL
        SELECT doc_id, CAST(len(t) AS BIGINT), CAST(0 AS BIGINT),
               CAST(NULL AS BIGINT)
        FROM ltok WHERE len(t) < 2
      )
      SELECT doc_id, n_tokens, n_transitions,
             floor((CAST(sum_micro AS DOUBLE) / 1000000.0)
                   / CAST(n_transitions AS DOUBLE) * 10000.0 + 1e-7)
               / 10000.0 AS score
      FROM lagg
    )
    UNION ALL
    -- closed-form linear quality probe (r7): 1e-4-quantized features ->
    -- exact DECIMAL normal-equation sums -> one Cramer expression; the
    -- same expression text as the Spark side, so weights are
    -- bit-identical
    SELECT op, doc_id, token, n, m, score
    FROM (
      WITH ptok AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(lower(coalesce(text, '')),
                                              '{TOKEN_SPLIT_REGEX}'),
                           x -> x <> '') AS t
        FROM documents
      ),
      pf AS (
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_tokens,
               floor(least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
                     * 10000.0 + 1e-7) / 10000.0 AS x1,
               floor(coalesce({_hits_from_t_sql("en")}
                              / nullif(CAST(len(t) AS DOUBLE), 0), 0)
                     * 10000.0 + 1e-7) / 10000.0 AS x2,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y
        FROM ptok
      ),
      psum AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x1 AS DECIMAL(14,4))) AS DOUBLE) AS a,
               CAST(sum(CAST(x2 AS DECIMAL(14,4))) AS DOUBLE) AS b,
               CAST(sum(CAST(x1 AS DECIMAL(14,4))
                        * CAST(x1 AS DECIMAL(14,4))) AS DOUBLE) AS c,
               CAST(sum(CAST(x1 AS DECIMAL(14,4))
                        * CAST(x2 AS DECIMAL(14,4))) AS DOUBLE) AS d,
               CAST(sum(CAST(x2 AS DECIMAL(14,4))
                        * CAST(x2 AS DECIMAL(14,4))) AS DOUBLE) AS e,
               CAST(sum(CAST(y AS DECIMAL(14,4))) AS DOUBLE) AS sy,
               CAST(sum(CAST(x1 AS DECIMAL(14,4))
                        * CAST(y AS DECIMAL(14,4))) AS DOUBLE) AS s1y,
               CAST(sum(CAST(x2 AS DECIMAL(14,4))
                        * CAST(y AS DECIMAL(14,4))) AS DOUBLE) AS s2y
        FROM pf
      ),
      pw AS (
        SELECT
          (sy * (c * e - d * d) - a * (s1y * e - d * s2y)
           + b * (s1y * d - c * s2y))
          / (n * (c * e - d * d) - a * (a * e - d * b)
             + b * (a * d - c * b)) AS w0,
          (n * (s1y * e - s2y * d) - sy * (a * e - b * d)
           + b * (a * s2y - b * s1y))
          / (n * (c * e - d * d) - a * (a * e - d * b)
             + b * (a * d - c * b)) AS w1,
          (n * (c * s2y - d * s1y) - a * (a * s2y - b * s1y)
           + sy * (a * d - b * c))
          / (n * (c * e - d * d) - a * (a * e - d * b)
             + b * (a * d - c * b)) AS w2
        FROM psum
      )
      SELECT 'probe' AS op, doc_id, CAST(NULL AS VARCHAR) AS token,
             n_tokens AS n, CAST(y AS BIGINT) AS m,
             floor((w0 + w1 * x1 + w2 * x2) * 10000.0 + 1e-7) / 10000.0
               AS score
      FROM pf CROSS JOIN pw
      UNION ALL
      SELECT 'probe_w' AS op, CAST(NULL AS BIGINT) AS doc_id,
             wn AS token, CAST(NULL AS BIGINT) AS n,
             CAST(NULL AS BIGINT) AS m,
             floor(wv * 10000.0 + 1e-7) / 10000.0 AS score
      FROM (
        SELECT 'w0' AS wn, w0 AS wv FROM pw
        UNION ALL SELECT 'w1', w1 FROM pw
        UNION ALL SELECT 'w2', w2 FROM pw
      )
    )
    UNION ALL
    -- sliding-window chunking (r7): 32-token windows at stride 24;
    -- chunk_idx derived arithmetically ((start-1)/stride) so it is
    -- row-order independent; fp = md5 of the rebuilt window
    SELECT 'chunk' AS op, doc_id, chunk_fp AS token,
           chunk_idx AS n, n_ctok AS m, CAST(NULL AS DOUBLE) AS score
    FROM (
      WITH cctok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(coalesce(text, '')),
                                              '{TOKEN_SPLIT_REGEX}'),
                           x -> x <> '') AS t
        FROM documents
      )
      SELECT doc_id,
             CAST((s - 1) // 24 AS BIGINT) AS chunk_idx,
             CAST(len(t[s:s+31]) AS BIGINT) AS n_ctok,
             md5(array_to_string(t[s:s+31], ' ')) AS chunk_fp
      FROM cctok,
           unnest(CASE WHEN len(t) >= 1 THEN range(1, len(t) + 1, 24)
                  ELSE [] END) AS u(s)
    )
    UNION ALL
    -- Okapi BM25 (r9): query-targeted relevance (textops.bm25_scores);
    -- each per-term partial score truncated to BIGINT micro-units BEFORE
    -- the per-doc sum; k1/b-derived constants repr-roundtripped from
    -- textops.bm25_constants so both engines fold identical doubles
    SELECT 'bm25' AS op, doc_id, CAST(NULL AS VARCHAR) AS token,
           n_match_terms AS n, n_tokens AS m, score
    FROM (
      WITH btok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(coalesce(text, '')),
                                              '{TOKEN_SPLIT_REGEX}'),
                           x -> x <> '') AS t
        FROM documents
      ),
      bdl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM btok),
      bstats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM bdl
      ),
      btf AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(t) AS token FROM btok)
        WHERE token IN ({_BM25_TERMS_SQL})
        GROUP BY doc_id, token
      ),
      bdf AS (
        SELECT token, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY token
      ),
      bsc AS (
        SELECT btf.doc_id, dl,
               CAST(floor(
                 ln(((CAST(n_docs AS DOUBLE) - df + 0.5)
                     / (CAST(df AS DOUBLE) + 0.5)) + 1.0)
                 * ((CAST(btf.tf AS DOUBLE) * {_BM25_C1!r})
                    / (CAST(btf.tf AS DOUBLE) + {_BM25_C2!r}
                       + {_BM25_C3!r} * (dl / avgdl)))
                 * 1000000.0 + 1e-9) AS BIGINT) AS s_micro
        FROM btf
        JOIN bdf USING (token)
        JOIN bdl USING (doc_id)
        CROSS JOIN bstats
      )
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_match_terms,
             dl AS n_tokens,
             floor((CAST(sum(s_micro) AS DOUBLE) / 1000000.0) * 10000.0
                   + 1e-7) / 10000.0 AS score
      FROM bsc GROUP BY doc_id, dl
    )
    UNION ALL
    -- BM25 multi-query top-k retrieval (r10, textops.bm25_topk): one
    -- pass over the union of query terms, (query, term) map joined on
    -- the term, per-(query, doc) BIGINT micro sums, rank on the RAW
    -- micro sum with a doc_id tie-break
    SELECT 'bm25_topk' AS op, doc_id, query AS token,
           rank AS n, n_match_terms AS m, score
    FROM (
      SELECT query, doc_id, n_match_terms,
             CAST(row_number() OVER (
               PARTITION BY query
               ORDER BY sum_micro DESC, doc_id ASC) AS BIGINT) AS rank,
             floor((CAST(sum_micro AS DOUBLE) / 1000000.0) * 10000.0
                   + 1e-7) / 10000.0 AS score
      FROM ({_TV1_LEX_GROUPED})
    ) WHERE rank <= {textops.BM25_TOPK_K}
    UNION ALL
    -- hybrid (lexical + dense) retrieval (r12, operators/retrieval.py):
    -- ``dense`` = cosine top-k for each named seed vector (seed
    -- excluded; NULL/zero-norm seeds dropped by the inner join against
    -- the normalized relation, similarity.normalized_with_bucket's
    -- policy); ``hybrid`` = RRF fusion of the bm25_topk lexical ranks
    -- (the SAME grouped relation above -- one definition) with the
    -- dense ranks: floor(micro/(rrf_k+rank)) BIGINT contributions,
    -- fused rank on the raw micro sum (ties by doc_id); constants
    -- interpolated from retrieval.HYBRID_QUERY_VECS and
    -- similarity.RRF_K/RRF_MICRO
    SELECT op, doc_id, token, n, m, score FROM (
      WITH hnorm0 AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS nrm
        FROM embeddings WHERE embedding IS NOT NULL
      ),
      hnorm AS (
        SELECT vec_id, list_transform(emb, x -> x / nrm) AS emb_n
        FROM hnorm0 WHERE nrm > 0
      ),
      hqv(query, seed) AS (VALUES {_HYBRID_QV_SQL}),
      hq AS (
        SELECT query, seed, emb_n AS q_emb
        FROM hqv JOIN hnorm ON hqv.seed = hnorm.vec_id
      ),
      hdense AS (
        SELECT query, doc_id, cosine,
               CAST(row_number() OVER (
                 PARTITION BY query
                 ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS rank
        FROM (
          SELECT hq.query, c.vec_id AS doc_id,
                 round(list_dot_product(hq.q_emb, c.emb_n), 6) AS cosine
          FROM hq CROSS JOIN hnorm c
          WHERE c.vec_id <> hq.seed
        )
      ),
      hdense_k AS (SELECT * FROM hdense WHERE rank <= {retrieval.HYBRID_K}),
      hlex_k AS (
        SELECT query, doc_id, rank FROM (
          SELECT query, doc_id,
                 CAST(row_number() OVER (
                   PARTITION BY query
                   ORDER BY sum_micro DESC, doc_id ASC) AS BIGINT) AS rank
          FROM ({_TV1_LEX_GROUPED})
        ) WHERE rank <= {textops.BM25_TOPK_K}
      ),
      hlegs AS (
        SELECT query, doc_id, rank FROM hlex_k
        UNION ALL
        SELECT query, doc_id, rank FROM hdense_k
      ),
      hfused AS (
        SELECT query, doc_id, sum_micro,
               CAST(row_number() OVER (
                 PARTITION BY query
                 ORDER BY sum_micro DESC, doc_id ASC) AS BIGINT) AS rank
        FROM (
          SELECT query, doc_id,
                 sum(CAST(floor({_RRF_MICRO_F!r}
                                / ({_RRF_K_F!r} + rank)) AS BIGINT))
                   AS sum_micro
          FROM hlegs GROUP BY query, doc_id
        )
      ),
      -- IVF-probed dense leg (r12, retrieval.dense_topk(method='ivf'),
      -- the billion-vector scale path): corpus assigned to its
      -- max-cosine fixed-slice centroid (NULL sims dropped BEFORE the
      -- argmax -- a directionless centroid never wins), each seed
      -- probes its 3 nearest centroids, candidates = probed cells'
      -- members only; cosines exact on scored candidates
      hcents AS (
        SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cent_emb
        FROM embeddings
        WHERE vec_id >= 100 AND vec_id < 116 AND embedding IS NOT NULL
      ),
      hassign AS (
        SELECT vec_id, cent_id FROM (
          SELECT vec_id, cent_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, cent_id ASC) AS crank
          FROM (
            SELECT v.vec_id, c.cent_id,
                   round(list_dot_product(v.emb, c.cent_emb)
                         / nullif(sqrt(list_dot_product(v.emb, v.emb))
                                  * sqrt(list_dot_product(c.cent_emb,
                                                          c.cent_emb)), 0),
                         6) AS sim
            FROM hnorm0 v CROSS JOIN hcents c
          ) WHERE sim IS NOT NULL
        ) WHERE crank = 1
      ),
      hprobes AS (
        SELECT query, seed, q_emb, cent_id FROM (
          SELECT query, seed, q_emb, cent_id,
                 row_number() OVER (PARTITION BY query
                   ORDER BY psim DESC, cent_id ASC) AS prank
          FROM (
            SELECT hq.query, hq.seed, hq.q_emb, c.cent_id,
                   round(list_dot_product(hq.q_emb, c.cent_emb)
                         / nullif(sqrt(list_dot_product(hq.q_emb, hq.q_emb))
                                  * sqrt(list_dot_product(c.cent_emb,
                                                          c.cent_emb)), 0),
                         6) AS psim
            FROM hq CROSS JOIN hcents c
          ) WHERE psim IS NOT NULL
        ) WHERE prank <= 3
      ),
      hivf AS (
        SELECT query, doc_id, cosine,
               CAST(row_number() OVER (
                 PARTITION BY query
                 ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS rank
        FROM (
          SELECT DISTINCT p.query, a.vec_id AS doc_id,
                 round(list_dot_product(p.q_emb, n.emb_n), 6) AS cosine
          FROM hprobes p
          JOIN hassign a ON p.cent_id = a.cent_id
          JOIN hnorm n ON n.vec_id = a.vec_id
          WHERE a.vec_id <> p.seed
        )
      ),
      -- the deployment-path fusion (r13): probed dense + lexical.  Same
      -- RRF arithmetic as hfused, the dense side swapped for the
      -- IVF-probed ranks -- the composition a billion-vector corpus
      -- actually serves (brute dense is the small-corpus oracle path)
      hivf_k AS (
        SELECT query, doc_id, rank FROM hivf
        WHERE rank <= {retrieval.HYBRID_K}
      ),
      hlegs_ivf AS (
        SELECT query, doc_id, rank FROM hlex_k
        UNION ALL
        SELECT query, doc_id, rank FROM hivf_k
      ),
      hfused_ivf AS (
        SELECT query, doc_id, sum_micro,
               CAST(row_number() OVER (
                 PARTITION BY query
                 ORDER BY sum_micro DESC, doc_id ASC) AS BIGINT) AS rank
        FROM (
          SELECT query, doc_id,
                 sum(CAST(floor({_RRF_MICRO_F!r}
                                / ({_RRF_K_F!r} + rank)) AS BIGINT))
                   AS sum_micro
          FROM hlegs_ivf GROUP BY query, doc_id
        )
      )
      SELECT 'dense' AS op, doc_id, query AS token, rank AS n,
             CAST(NULL AS BIGINT) AS m, cosine AS score
      FROM hdense_k
      UNION ALL
      SELECT 'dense_ivf' AS op, doc_id, query AS token, rank AS n,
             CAST(NULL AS BIGINT) AS m, cosine AS score
      FROM hivf WHERE rank <= {retrieval.HYBRID_K}
      UNION ALL
      SELECT 'hybrid' AS op, doc_id, query AS token, rank AS n,
             CAST(NULL AS BIGINT) AS m,
             CAST(sum_micro AS DOUBLE) / {_RRF_MICRO_F!r} AS score
      FROM hfused WHERE rank <= {retrieval.HYBRID_K}
      UNION ALL
      SELECT 'hybrid_ivf' AS op, doc_id, query AS token, rank AS n,
             CAST(NULL AS BIGINT) AS m,
             CAST(sum_micro AS DOUBLE) / {_RRF_MICRO_F!r} AS score
      FROM hfused_ivf WHERE rank <= {retrieval.HYBRID_K}
    )
    """,
)
def tv1_text_stats(spark, sf):
    """Corpus token statistics, tagged and stacked (u1/r1 precedent, one
    driver slot).  ``tfidf`` = top-3 characteristic terms per document:
    corpus size via a broadcast 1-row cross join (never a collect),
    doc-frequencies from the shared tf relation, per-document window
    for the top-k, ranked on the ROUNDED tfidf with a token tie-break so
    both engines produce the identical row set.  ``vocab`` = the corpus
    vocabulary at min_count=20 -- the two-stage aggregate whose first
    stage collapses within-document repeats map-side, so the shuffle
    carries distinct (doc, token) pairs only (the upstream stats pass for
    stop-token lists and d4's heavy-hitter cap).  ``scrub`` (r7) =
    boilerplate-span REMOVAL (dedup.boilerplate_scrub, Lee et al. 2021 at
    word-5-gram granularity): word 5-grams in >= 3 distinct documents are
    scrubbed from every doc and the per-doc report -- kept/dropped token
    counts plus the md5 of the REBUILT text, sensitive to token order,
    coverage arithmetic, and the 1-based slice convention at once -- is
    value-verified (4 stages: map-side gram HOFs, ONE gram countDistinct
    with map-side partial agg, broadcast heavy-set join, map-side ordered
    rebuild via the index-lambda filter; grouping key is the portable
    md5 of the gram, constant-width and bit-identical in the oracle).
    ``lm`` (r7) = bigram-LM corpus scoring (textops.ngram_lm_scores, the
    CCNet perplexity-as-quality-signal shape): add-one-smoothed
    transition log-probs from corpus-trained count tables, each
    truncated to BIGINT micro-units BEFORE the per-doc sum so the
    aggregate is exact integer arithmetic -- partitioning- and
    engine-independent.  ``probe`` / ``probe_w`` (r7) = closed-form
    linear quality probe (textops.linear_probe_scores): least-squares
    source-membership fit on 1e-4-quantized features via exact DECIMAL
    normal-equation sums + one Cramer expression (bit-identical weights
    in both engines); train = one aggregate, apply = broadcast join --
    no collect, no iteration.  ``chunk`` (r7) = sliding-window document
    chunking (textops.chunk_documents, the embedding/RAG primitive):
    32-token windows at stride 24, pure map stage, chunk ids derived
    arithmetically so the value set is row-order independent and the
    md5 of each rebuilt window is value-verified.  ``bm25`` (r9) =
    Okapi BM25 relevance to the fixed BM25_QUERY_TERMS set
    (textops.bm25_scores, the query-targeted corpus-selection scorer):
    posting list filtered to the query terms before any shuffle, 1-row
    (N, avgdl) statistics broadcast back, per-term partials truncated
    to BIGINT micro-units before the per-doc sum so the aggregate is
    exact integer arithmetic in both engines; the k1/b-derived float
    constants come from ONE definition (textops.bm25_constants),
    repr-roundtripped into the oracle.  ``bm25_topk`` (r10) =
    multi-query BM25 retrieval (textops.bm25_topk): top-10 documents
    per named query of BM25_TOPK_QUERIES from ONE corpus pass over the
    union of query terms -- the broadcast (query, term) map joined on
    the term, per-(query, doc) BIGINT micro sums, rank on the RAW micro
    sum with a doc_id tie-break (WindowGroupLimit plan-tested: map
    tasks pre-prune to local top-k per query before the shuffle).
    ``dense`` / ``dense_ivf`` / ``hybrid`` / ``hybrid_ivf`` (r12-r13) =
    hybrid lexical+dense
    retrieval (operators/retrieval.py): ``dense`` is the cosine top-10
    for each named seed vector of HYBRID_QUERY_VECS (seed excluded from
    its own ranking; NULL/zero-norm seeds dropped), ``dense_ivf`` the
    same ranking on the billion-vector scale path (seeds probe their 3
    nearest fixed-slice centroids, candidates = probed cells' members
    only, cosines exact on scored candidates), ``hybrid`` the RRF
    fusion (similarity.rrf_fuse, BIGINT micro-unit contract) of the
    checkpointed bm25_topk rank table -- ONE table feeding both its
    output rows and the fusion -- with the checkpointed dense ranks,
    and ``hybrid_ivf`` (r13) the SAME fusion over the checkpointed
    IVF-probed dense ranks instead -- the deployment-path pair a
    billion-vector corpus actually serves; every fused rank is oracled
    on the raw micro sums in the oracle."""
    docs = _t(spark, sf, "documents")
    nulll = F.lit(None).cast("long")
    # ONE corpus tokenize (r18, guide §2.4/§6 one-scan discipline; the
    # d4 token_table pattern at tv1 scale): every word-token leg below
    # -- tfidf, vocab, scrub, lm, probe (train + score), chunk, the
    # bm25 shared pass, and the four collocation legs -- used to run
    # its own scan+split of the documents table inside the one union
    # job (12 tokenize passes).  The checkpointed token table (carrying
    # ``source`` for the probe label) replaces all of them; at 100-TB
    # scale tokenization dominates CPU and runs once instead of 12x.
    # The independent dense-retrieval builds (embeddings table, not
    # documents) overlap with the token chain (guide §2.6).
    union_terms = sorted(
        set(textops.BM25_QUERY_TERMS)
        | {t for ts in textops.BM25_TOPK_QUERIES.values() for t in ts}
    )
    emb = _t(spark, sf, "embeddings")

    def _tok_chain():
        tt = dedup.token_table(docs, keep=("source",)).localCheckpoint(
            eager=True
        )

        # everything downstream of the token checkpoint forks into two
        # independent chains (r18): the LEXICAL chain (probe weights ||
        # bm25 term relation, then the topk rank table off the term
        # relation) and the COLLOCATION chain (unigram counts, then the
        # bigram || windowed scorers) -- overlapped so the build's
        # sequential depth is the longest chain, not the sum
        def _lex_chain():
            w_, ts_ = caching.checkpoint_overlapped(
                textops.linear_probe_weights(tt),
                textops.bm25_term_scores(tt, union_terms),
            )
            # ONE bm25_topk rank table feeds BOTH the bm25_topk output
            # rows and the hybrid legs' lexical side: materialize it
            # (30 rows) so the fusion subtrees never recompute the
            # lexical retrieval
            tk_ = textops.bm25_topk(ts_).localCheckpoint(eager=True)
            return w_, ts_, tk_

        def _colloc_chain():
            ucnt_ = textops.unigram_counts(tt).localCheckpoint(eager=True)
            sc_, wsc_ = caching.checkpoint_overlapped(
                textops.collocation_scores(tt, unigrams=ucnt_),
                textops.windowed_collocation_scores(tt, unigrams=ucnt_),
            )
            return sc_, wsc_

        lex, coll = caching.run_overlapped(_lex_chain, _colloc_chain)
        return (tt,) + lex + coll

    (
        (tt, w, shared_ts, topk_tbl, colloc_scored, colloc_wscored),
        dense_tbl,
        dense_ivf_tbl,
    ) = caching.run_overlapped(
        _tok_chain,
        lambda: retrieval.dense_topk(emb).localCheckpoint(eager=True),
        lambda: retrieval.dense_topk(emb, method="ivf").localCheckpoint(
            eager=True
        ),
    )
    # ONE (doc_id, token, tf) aggregate feeds BOTH the tfidf leg (its
    # tf relation) and the vocab leg (its stage-1 per-doc counts) --
    # identical grouping, previously computed twice (textops.
    # term_frequencies); cut with the same lazy localCheckpoint
    # tfidf_top_terms gives its private copy.
    tf = textops.term_frequencies(tt).localCheckpoint(eager=False)
    tfidf = textops.tfidf_top_terms(tt, k=3, tf=tf).select(
        F.lit("tfidf").alias("op"),
        "doc_id",
        "token",
        F.col("tf").alias("n"),
        F.col("rank").alias("m"),
        F.col("tfidf").alias("score"),
    )
    vocab = textops.vocabulary(tf, min_count=20).select(
        F.lit("vocab").alias("op"),
        nulll.alias("doc_id"),
        "token",
        F.col("count").alias("n"),
        F.col("doc_freq").alias("m"),
        F.lit(None).cast("double").alias("score"),
    )
    scrub = dedup.boilerplate_scrub(tt, ngram_n=5, min_docs=3).select(
        F.lit("scrub").alias("op"),
        "doc_id",
        F.col("scrub_fp").alias("token"),
        F.col("n_kept").alias("n"),
        F.col("n_dropped").alias("m"),
        F.lit(None).cast("double").alias("score"),
    )
    nulls = F.lit(None).cast("string")
    lm = textops.ngram_lm_scores(tt).select(
        F.lit("lm").alias("op"),
        "doc_id",
        nulls.alias("token"),
        F.col("n_tokens").alias("n"),
        F.col("n_transitions").alias("m"),
        F.col("avg_logprob").alias("score"),
    )
    # the weights row (trained once, in the overlapped build above)
    # feeds two union branches: probe scoring + the probe_w rows
    probe = textops.linear_probe_scores(tt, weights=w).select(
        F.lit("probe").alias("op"),
        "doc_id",
        nulls.alias("token"),
        F.col("n_tokens").alias("n"),
        F.col("y").alias("m"),
        F.col("yhat").alias("score"),
    )
    wrows = w.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("token"),
                        textops._trunc4(F.col(name)).alias("score"),
                    )
                    for name in ("w0", "w1", "w2")
                ]
            )
        ).alias("s")
    ).select(
        F.lit("probe_w").alias("op"),
        nulll.alias("doc_id"),
        F.col("s.token").alias("token"),
        nulll.alias("n"),
        nulll.alias("m"),
        F.col("s.score").alias("score"),
    )
    chunk = textops.chunk_documents(tt, chunk_tokens=32, stride=24).select(
        F.lit("chunk").alias("op"),
        "doc_id",
        F.col("chunk_fp").alias("token"),
        F.col("chunk_idx").alias("n"),
        F.col("n_tokens").alias("m"),
        F.lit(None).cast("double").alias("score"),
    )
    # ONE term-scoring pass feeds BOTH bm25 legs: the shared relation
    # (materialized above) is computed over the union of the scoring
    # terms and every retrieval query's terms -- without the checkpoint
    # each leg's subtree would scan+explode documents twice (measured
    # +2.3 s on the tv1 fold at sf0.1)
    bm25 = textops.bm25_scores(
        shared_ts, list(textops.BM25_QUERY_TERMS)
    ).select(
        F.lit("bm25").alias("op"),
        "doc_id",
        nulls.alias("token"),
        F.col("n_match_terms").alias("n"),
        F.col("n_tokens").alias("m"),
        F.col("score").alias("score"),
    )
    # topk_tbl was materialized in the overlapped lexical chain above
    topk = topk_tbl.select(
        F.lit("bm25_topk").alias("op"),
        "doc_id",
        F.col("query").alias("token"),
        F.col("rank").alias("n"),
        F.col("n_match_terms").alias("m"),
        F.col("score").alias("score"),
    )
    # hybrid retrieval (r12, operators/retrieval.py): the dense rank
    # table is likewise materialized once (30 rows, in the overlapped
    # build batch above) because it feeds its own output rows AND the
    # fusion -- without the checkpoint the embeddings scan would run
    # twice
    dense = dense_tbl.select(
        F.lit("dense").alias("op"),
        "doc_id",
        F.col("query").alias("token"),
        F.col("rank").alias("n"),
        nulll.alias("m"),
        F.col("cosine").alias("score"),
    )
    # the billion-vector scale path, fully oracled too: probe-bounded
    # candidates, exact cosines on whatever it scores.  Materialized
    # (r13, overlapped build batch) because the IVF rank table feeds its
    # own output rows AND the hybrid_ivf fusion -- the dense_tbl
    # discipline
    dense_ivf = dense_ivf_tbl.select(
        F.lit("dense_ivf").alias("op"),
        "doc_id",
        F.col("query").alias("token"),
        F.col("rank").alias("n"),
        nulll.alias("m"),
        F.col("cosine").alias("score"),
    )
    hybrid = retrieval.hybrid_topk(topk_tbl, dense_tbl).select(
        F.lit("hybrid").alias("op"),
        "doc_id",
        F.col("query").alias("token"),
        F.col("rank").alias("n"),
        nulll.alias("m"),
        F.col("rrf_score").alias("score"),
    )
    # the deployment-path fusion (r13): probed dense + lexical ranks
    # through the SAME rrf arithmetic -- at billion-vector scale this
    # pair (bm25_topk + dense_topk(method='ivf')) is what actually
    # serves; both rank tables above are checkpointed, so the fusion
    # touches only 30-row inputs
    hybrid_ivf = retrieval.hybrid_topk(topk_tbl, dense_ivf_tbl).select(
        F.lit("hybrid_ivf").alias("op"),
        "doc_id",
        F.col("query").alias("token"),
        F.col("rank").alias("n"),
        nulll.alias("m"),
        F.col("rrf_score").alias("score"),
    )
    return (
        tfidf.unionByName(vocab)
        .unionByName(scrub)
        .unionByName(lm)
        .unionByName(probe)
        .unionByName(wrows)
        .unionByName(chunk)
        .unionByName(bm25)
        .unionByName(topk)
        .unionByName(dense)
        .unionByName(dense_ivf)
        .unionByName(hybrid)
        .unionByName(hybrid_ivf)
        .unionByName(_tv1_colloc_legs(colloc_scored, colloc_wscored))
    )


# ---------------------------------------------------------------------------
# Collocation mining (r16): PMI / NPMI over adjacent-token bigrams,
# folded into tv1 as the colloc / colloc_pmi / colloc_npmi legs (the
# 50-entry driver budget; COVERAGE.md).  A bigram rides tv1's token
# column as the two-word phrase string.
# ---------------------------------------------------------------------------

#: ranking depth shared by all three legs (one definition, every surface)
_TV2_TOP_K = 20

#: engine-NEUTRAL collocation scoring CTEs: count tables, the shared
#: textops.PMI_EXPR doubles, and the three rankings.  Both engines get
#: this text verbatim; only the ``cuni``/``cbg`` extraction CTEs are
#: engine-specific (DuckDB list_zip vs Spark's indexed transform).
_TV1_COLLOC_SCORE_CTES = f"""
    cucnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM cuni GROUP BY w),
    cutot AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM cuni),
    cbcnt AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM cbg GROUP BY 1, 2
    ),
    cbtot AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM cbg),
    cjoined AS (
      SELECT b.w1, b.w2, b.c_ab, ua.c AS ac, ub.c AS bc, nu, nb
      FROM cbcnt b
      JOIN cucnt ua ON ua.w = b.w1
      JOIN cucnt ub ON ub.w = b.w2
      CROSS JOIN cutot CROSS JOIN cbtot
    ),
    cscored AS (
      SELECT w1, w2, c_ab,
             round({textops.PMI_EXPR}, 6) AS pmi,
             round({textops.NPMI_EXPR}, 6) AS npmi
      FROM cjoined
    ),
    cfreq AS (
      SELECT w1, w2, c_ab, CAST(row_number() OVER (
               ORDER BY c_ab DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank
      FROM cscored
    ),
    cpmir AS (
      SELECT w1, w2, c_ab, pmi, CAST(row_number() OVER (
               ORDER BY pmi DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank
      FROM cscored WHERE c_ab >= {textops.COLLOCATION_MIN_COUNT}
    ),
    cnpmir AS (
      SELECT w1, w2, c_ab, npmi, CAST(row_number() OVER (
               ORDER BY npmi DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank
      FROM cscored WHERE c_ab >= {textops.COLLOCATION_MIN_COUNT}
    )
"""

#: the WINDOWED scoring CTEs (r17, verdict task 7): same shared
#: PMI_EXPR doubles over the forward +-COLLOCATION_WINDOW pair stream
#: ``cwin``, reusing the unigram count CTEs (cucnt/cutot) from the
#: adjacent-bigram block above.  Engine-neutral; only the ``cwin``
#: extraction differs per engine.
_TV1_COLLOC_WIN_SCORE_CTES = f"""
    cwbcnt AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM cwin GROUP BY 1, 2
    ),
    cwbtot AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM cwin),
    cwjoined AS (
      SELECT b.w1, b.w2, b.c_ab, ua.c AS ac, ub.c AS bc, nu, nb
      FROM cwbcnt b
      JOIN cucnt ua ON ua.w = b.w1
      JOIN cucnt ub ON ub.w = b.w2
      CROSS JOIN cutot CROSS JOIN cwbtot
    ),
    cwscored AS (
      SELECT w1, w2, c_ab, round({textops.PMI_EXPR}, 6) AS pmi
      FROM cwjoined
    ),
    cwpmir AS (
      SELECT w1, w2, c_ab, pmi, CAST(row_number() OVER (
               ORDER BY pmi DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank
      FROM cwscored WHERE c_ab >= {textops.COLLOCATION_MIN_COUNT}
    )
"""

#: the three collocation legs in tv1's (op, doc_id, token, n, m, score)
#: schema, as the tv1 oracle spells them
_TV1_COLLOC_SELECTS = f"""
    SELECT 'colloc' AS op, CAST(NULL AS BIGINT) AS doc_id,
           w1 || ' ' || w2 AS token, c_ab AS n, rank AS m,
           CAST(NULL AS DOUBLE) AS score
    FROM cfreq WHERE rank <= {_TV2_TOP_K}
    UNION ALL
    SELECT 'colloc_pmi' AS op, CAST(NULL AS BIGINT) AS doc_id,
           w1 || ' ' || w2 AS token, c_ab AS n, rank AS m, pmi AS score
    FROM cpmir WHERE rank <= {_TV2_TOP_K}
    UNION ALL
    SELECT 'colloc_npmi' AS op, CAST(NULL AS BIGINT) AS doc_id,
           w1 || ' ' || w2 AS token, c_ab AS n, rank AS m, npmi AS score
    FROM cnpmir WHERE rank <= {_TV2_TOP_K}
    UNION ALL
    SELECT 'colloc_win' AS op, CAST(NULL AS BIGINT) AS doc_id,
           w1 || ' ' || w2 AS token, c_ab AS n, rank AS m, pmi AS score
    FROM cwpmir WHERE rank <= {_TV2_TOP_K}
"""

#: DuckDB bigram/unigram extraction (reuses _TF_CTE's ``toks``)
_TV1_COLLOC_DUCK_CTES = f"""
    cuni AS (SELECT unnest(t) AS w FROM toks),
    cbg AS (
      SELECT z[1] AS w1, z[2] AS w2 FROM (
        SELECT unnest(list_zip(t[1:len(t) - 1], t[2:])) AS z
        FROM toks WHERE len(t) >= 2
      )
    ),
    cwin AS (
      SELECT t[i] AS w1, t[i + d] AS w2
      FROM (
        SELECT t, unnest(range(1, len(t))) AS i
        FROM toks WHERE len(t) >= 2
      )
      CROSS JOIN (
        SELECT unnest(range(1, {textops.COLLOCATION_WINDOW} + 1)) AS d
      )
      WHERE i + d <= len(t)
    ),
    {_TV1_COLLOC_SCORE_CTES},
    {_TV1_COLLOC_WIN_SCORE_CTES}
"""


def _tv1_colloc_legs(scored, wscored):
    """Collocation mining over the document corpus (tv1's phrase legs):
    ``colloc`` = top bigrams by raw count; ``colloc_pmi`` /
    ``colloc_npmi`` = top bigrams by (normalized) pointwise mutual
    information among those with count >= COLLOCATION_MIN_COUNT (PMI
    maxes out on hapax pairs without the floor).  The double arithmetic
    is ONE shared expression (textops.PMI_EXPR) evaluated verbatim by
    Spark and DuckDB over exact integer counts, then rounded to 6 dp --
    so all three legs value-hash.  The phrase-mining step a
    tokenizer/vocab pipeline runs before merging multiword units; count
    tables are vocabulary-sized (SF-invariant ~900 bigrams here), so
    the scoring join broadcasts at any corpus scale
    (operators/textops.collocation_scores).

    ``scored`` / ``wscored``: the bigram and windowed scored relations,
    checkpointed in tv1's overlapped build batch -- vocabulary-sized
    (~900 bigrams at every sf) over two corpus-sized hash aggregates
    each, so every ranking leg is a row_number over a cached table and
    this function does no corpus work at all."""
    w_freq = Window.orderBy(
        F.col("c_ab").desc(), F.col("w1").asc(), F.col("w2").asc()
    )
    w_pmi = Window.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    )
    w_npmi = Window.orderBy(
        F.col("npmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    )
    filt = scored.filter(F.col("c_ab") >= textops.COLLOCATION_MIN_COUNT)
    nulld = F.lit(None).cast("double")
    nulli = F.lit(None).cast("long")
    phrase = F.concat("w1", F.lit(" "), "w2").alias("token")

    def leg(src, op, rank_w, score_col):
        return (
            src.withColumn("m", F.row_number().over(rank_w).cast("long"))
            .filter(F.col("m") <= _TV2_TOP_K)
            .select(
                F.lit(op).alias("op"),
                nulli.alias("doc_id"),
                phrase,
                F.col("c_ab").alias("n"),
                "m",
                score_col.alias("score"),
            )
        )

    # colloc_win (r17, verdict task 7): the same PMI ranking over the
    # forward +-COLLOCATION_WINDOW pair stream -- the standard
    # collocation setting beyond adjacency.  Pair stream is window x
    # tokens (one explode, no join); count tables stay
    # vocabulary-sized, so nothing about the broadcast plan changes;
    # the unigram side reuses the checkpointed ucnt above (checkpoint
    # overlapped with the bigram scorer's, see the batch above).
    wfilt = wscored.filter(F.col("c_ab") >= textops.COLLOCATION_MIN_COUNT)
    return (
        leg(scored, "colloc", w_freq, nulld)
        .unionByName(leg(filt, "colloc_pmi", w_pmi, F.col("pmi")))
        .unionByName(leg(filt, "colloc_npmi", w_npmi, F.col("npmi")))
        .unionByName(leg(wfilt, "colloc_win", w_pmi, F.col("pmi")))
    )


# tv1 is registered ABOVE this fragment block (module execution order),
# so the collocation legs are folded into its ALREADY-REGISTERED oracle
# here: the DuckDB CTEs append to the WITH list (after ``toks`` exists)
# and the shared leg selects append to the top-level union.
_tv1_oracle = ORACLES["tv1_text_stats"]
_tv1_cut = _tv1_oracle.index("SELECT 'tfidf' AS op,")
ORACLES["tv1_text_stats"] = (
    _tv1_oracle[:_tv1_cut].rstrip()  # ...the last CTE's closing paren
    + ",\n"
    + _TV1_COLLOC_DUCK_CTES
    + "\n    "
    + _tv1_oracle[_tv1_cut:]
    + "\n    UNION ALL\n"
    + _TV1_COLLOC_SELECTS
)


@register(
    "d7_cross_corpus_decontam",
    f"""
    WITH {_TOKS_CTE},
    exploded AS (SELECT doc_id, unnest(sh) AS shingle FROM grams),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h
      FROM exploded
    ),
    sigs AS (SELECT doc_id, {_SIG_COLS} FROM hashed GROUP BY doc_id),
    bands AS ({_BAND_ROWS}),
    cands AS (
      SELECT DISTINCT c.doc_id AS corpus_id, p.doc_id AS probe_id
      FROM bands c JOIN bands p
        ON c.band = p.band AND c.bucket = p.bucket
       AND c.doc_id % 2 = 0 AND p.doc_id % 2 = 1
    ),
    sets AS (SELECT doc_id, list_distinct(sh) AS s FROM grams)
    SELECT 'minhash' AS op, corpus_id, probe_id,
           CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS m,
           round(CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
                 / (len(sa.s) + len(sb.s)
                    - len(list_filter(sa.s, x -> list_contains(sb.s, x)))), 6)
             AS score
    FROM cands
    JOIN sets sa ON cands.corpus_id = sa.doc_id
    JOIN sets sb ON cands.probe_id = sb.doc_id
    WHERE round(CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
                 / (len(sa.s) + len(sb.s)
                    - len(list_filter(sa.s, x -> list_contains(sb.s, x)))), 6) >= 0.5
    UNION ALL
    -- direct n-gram-collision decontam (r7): fraction of each probe
    -- doc's distinct word-8-grams occurring anywhere in the corpus side
    SELECT 'overlap' AS op, CAST(NULL AS BIGINT) AS corpus_id, probe_id,
           n_grams AS n, n_hits AS m, score
    FROM (
      WITH otok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(coalesce(text, '')),
                                              '{TOKEN_SPLIT_REGEX}'),
                           x -> x <> '') AS t
        FROM documents
      ),
      ogr AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 8 THEN
                 list_distinct(list_transform(range(1, len(t) - 6),
                   i -> array_to_string(t[i:i+7], ' ')))
               ELSE [] END AS sh
        FROM otok
      ),
      ocg AS (
        SELECT DISTINCT g
        FROM (SELECT unnest(sh) AS g FROM ogr WHERE doc_id % 2 = 0)
      ),
      opg AS (SELECT doc_id AS probe_id, sh FROM ogr WHERE doc_id % 2 = 1),
      ohits AS (
        SELECT probe_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM (SELECT probe_id, unnest(sh) AS g FROM opg) pg
        JOIN ocg USING (g) GROUP BY probe_id
      )
      SELECT probe_id, CAST(len(sh) AS BIGINT) AS n_grams,
             coalesce(n_hits, CAST(0 AS BIGINT)) AS n_hits,
             round(coalesce(CAST(n_hits AS DOUBLE), 0)
                   / nullif(CAST(len(sh) AS DOUBLE), 0), 6) AS score
      FROM opg LEFT JOIN ohits USING (probe_id)
    )
    UNION ALL
    -- verbatim-span decontam (r14): maximal exact shared token spans
    -- across the parity split (dedup.cross_corpus_span_contamination;
    -- the grams CTE chain is d4's, shared from events_dedup)
    SELECT 'spans' AS op, corpus_id, probe_id, n, m,
           CAST(NULL AS DOUBLE) AS score
    FROM (
      WITH {_SPAN_GRAMS_CTE},
      xhits AS (
        SELECT c.doc_id AS corpus_id, p.doc_id AS probe_id,
               c.pos AS pa, p.pos AS pb
        FROM pcold c JOIN pcold p
          ON c.g = p.g AND c.doc_id % 2 = 0 AND p.doc_id % 2 = 1
      ),
      xruns AS (
        SELECT corpus_id, probe_id,
               CAST(count(*) + {dedup.SPAN_WINDOW} - 1 AS BIGINT)
                 AS span_tokens
        FROM (
          SELECT corpus_id, probe_id, pa, pb,
                 pa - row_number() OVER (PARTITION BY corpus_id, probe_id,
                                         pa - pb ORDER BY pa) AS isl
          FROM xhits
        )
        GROUP BY corpus_id, probe_id, pa - pb, isl
      )
      SELECT corpus_id, probe_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(max(span_tokens) AS BIGINT) AS m
      FROM xruns WHERE span_tokens >= {dedup.SPAN_MIN_TOKENS}
      GROUP BY corpus_id, probe_id
    )
    """,
)
def d7_cross_corpus_decontam(spark, sf):
    """Cross-corpus decontamination, two tagged legs (corpus = even
    doc_ids, probes = odd -- a split the sf0.01 near-dup families
    straddle).  ``minhash`` = banded-MinHash candidates generated only
    where a full band collides ACROSS the two sides, then exact-Jaccard
    verified; the corpus side is never self-joined and never shuffled
    when the probe side broadcasts (similarity/dedup cross-corpus plan
    tests).  ``overlap`` (r7) = direct n-gram-collision check
    (dedup.ngram_overlap_contamination, the GPT-3 appendix-C shape at
    word-8-grams): per probe doc, the fraction of its distinct 8-grams
    occurring ANYWHERE in the corpus -- catches piecewise leakage spread
    over many corpus documents that no single pairwise Jaccard reaches.
    Corpus reduced to its distinct gram set first (map-side partial
    dedup), one equi-join on the gram, one groupBy(probe_id); exact
    integer counts, so the whole leg value-hashes.

    ``spans`` (r14) = dedup.cross_corpus_span_contamination: maximal
    VERBATIM token spans >= 12 shared across the split -- the
    contiguity-aware check the two set metrics cannot express (a
    50-token quoted leak and 50 scattered gram hits score alike for
    ``overlap``; only ``spans`` tells them apart).  n = n_spans,
    m = max_span_tokens, score NULL."""
    docs = _t(spark, sf, "documents")
    # ONE corpus tokenize (r18, the tv1/d4 token_table discipline):
    # the three legs each tokenized BOTH sides independently -- the
    # minhash 3-gram shingles, the overlap 8-gram sets, and the span
    # 6-gram positional index made six scan+split passes over the
    # documents inside one union job.  The checkpointed token table is
    # built once and sliced into the even/odd sides; every gram pass
    # reads the materialized arrays (the gram ORDERS differ per leg, so
    # tokens -- not grams -- are the sharable base).
    tt = dedup.token_table(docs).localCheckpoint(eager=True)
    c_toks = tt.filter(F.col("doc_id") % 2 == 0)
    p_toks = tt.filter(F.col("doc_id") % 2 == 1)
    nulll = F.lit(None).cast("long")
    mh = dedup.cross_corpus_minhash_pairs(
        c_toks, p_toks, jaccard_threshold=0.5
    ).select(
        F.lit("minhash").alias("op"),
        "corpus_id",
        "probe_id",
        nulll.alias("n"),
        nulll.alias("m"),
        F.col("jaccard").alias("score"),
    )
    ov = dedup.ngram_overlap_contamination(
        c_toks, p_toks, ngram_n=8, threshold=0.2
    ).select(
        F.lit("overlap").alias("op"),
        nulll.alias("corpus_id"),
        "probe_id",
        F.col("n_grams").alias("n"),
        F.col("n_hits").alias("m"),
        F.col("overlap_frac").alias("score"),
    )
    sp = dedup.cross_corpus_span_contamination(c_toks, p_toks).select(
        F.lit("spans").alias("op"),
        "corpus_id",
        "probe_id",
        F.col("n_spans").alias("n"),
        F.col("max_span_tokens").alias("m"),
        F.lit(None).cast("double").alias("score"),
    )
    return mh.unionByName(ov).unionByName(sp)


#: pl1 split bounds: the funnel's (0.98, 0.01, 0.01) split, float-exact
#: from the ONE definition in sampling.cumulative_split_bounds.
_PL1_BOUNDS = sampling.cumulative_split_bounds((0.98, 0.01, 0.01))
_PL1_R = pipeline.DEFAULT_RULES


def _fmt_safe(pat: str) -> str:
    """Brace-escape a regex for templates that still pass through
    ``str.format`` after f-interpolation (quantifiers like ``{2,}``
    would otherwise read as format fields)."""
    return pat.replace("{", "{{").replace("}", "}}")

_PL1_ORACLE = rf"""
    WITH RECURSIVE pairs AS (
      -- d3's tagged union: only the near-dup PAIR rows feed the funnel
      SELECT doc_a, doc_b FROM ({{d3}}) WHERE op = 'pairs'
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(v, r) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.v = e.b
    ),
    comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
    ftoked AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(coalesce(text, '')),
                                            '{TOKEN_SPLIT_REGEX}'),
                         x -> x <> '') AS t,
             {_LINES_SQL} AS lines, text
      FROM documents
    ),
    feat0 AS (
      SELECT doc_id, lines,
             CAST(len(t) AS BIGINT) AS n_tokens_ws,
             CAST({_hits_from_t_sql("en")} AS BIGINT) AS hits_en,
             coalesce(CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
                 AS DOUBLE) / nullif(CAST(length(text) AS DOUBLE), 0), 0) AS pr,
             -- staged PII counts (textops._pii_staged): each stage counts
             -- on the previous stage's redacted text; phone counts its
             -- boundary-capture group (RE2-compatible since r8)
             CAST(len(regexp_extract_all(coalesce(text, ''),
                    '{_fmt_safe(_EMAIL_PAT)}')) AS BIGINT)
               + CAST(len(regexp_extract_all(
                    regexp_replace(coalesce(text, ''),
                                   '{_fmt_safe(_EMAIL_PAT)}', '<EMAIL>', 'g'),
                    '{_fmt_safe(_IP_PAT)}')) AS BIGINT)
               + CAST(len(regexp_extract_all(
                    regexp_replace(
                      regexp_replace(coalesce(text, ''),
                                     '{_fmt_safe(_EMAIL_PAT)}', '<EMAIL>', 'g'),
                      '{_fmt_safe(_IP_PAT)}', '<IP>', 'g'),
                    '{_fmt_safe(_PHONE_PAT)}', {_PHONE_GRP})) AS BIGINT)
               AS n_pii_hits
      FROM ftoked
    ),
    feat AS (
      SELECT doc_id, n_tokens_ws, n_pii_hits,
             floor((least(CAST(n_tokens_ws AS DOUBLE) / 100.0, 1.0) * 0.4
                   + least(coalesce(hits_en / nullif(CAST(n_tokens_ws AS DOUBLE), 0), 0) * 5, 1.0) * 0.3
                   + (1 - least(pr * 10, 1.0)) * 0.3) * 10000.0 + 1e-7) / 10000.0 AS quality_score,
             CASE WHEN len(lines) > 0 THEN
               round(1.0 - len(list_distinct(lines)) / CAST(len(lines) AS DOUBLE), 4)
             ELSE 0.0 END AS dup_line_frac
      FROM feat0
    ),
    flagged AS (
      SELECT f.doc_id, coalesce(c.cluster_id, f.doc_id) AS cluster_id,
             CAST(CASE WHEN u < {_PL1_BOUNDS[0]!r} THEN 0
                       WHEN u < {_PL1_BOUNDS[1]!r} THEN 1 ELSE 2 END AS INT)
               AS split_id,
             (f.n_tokens_ws < {_PL1_R["min_tokens"]}) AS drop_short,
             (f.dup_line_frac > {_PL1_R["max_dup_line_frac"]!r}) AS drop_repetitive,
             (f.quality_score < {_PL1_R["min_quality_score"]!r}) AS drop_low_quality,
             (f.n_pii_hits > {_PL1_R["max_pii_hits"]}) AS drop_pii_heavy,
             (NOT (f.n_tokens_ws < {_PL1_R["min_tokens"]})
              AND NOT (f.dup_line_frac > {_PL1_R["max_dup_line_frac"]!r})
              AND NOT (f.quality_score < {_PL1_R["min_quality_score"]!r})
              AND NOT (f.n_pii_hits > {_PL1_R["max_pii_hits"]}))
               AS hygiene_ok
      FROM feat f
      LEFT JOIN comp c ON f.doc_id = c.doc_id
      JOIN (
        SELECT doc_id,
               CAST(CAST('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS u
        FROM documents
      ) s ON f.doc_id = s.doc_id
    ),
    keepers AS (
      SELECT cluster_id, min(doc_id) AS keeper FROM flagged
      WHERE hygiene_ok GROUP BY cluster_id
    ),
    final AS (
      SELECT fl.*, coalesce(fl.doc_id = k.keeper, FALSE) AS is_canonical
      FROM flagged fl LEFT JOIN keepers k ON fl.cluster_id = k.cluster_id
    ),
    -- cross-split contamination audit (r12, split_leakage_report folded
    -- into the funnel row): every near-dup pair, and those whose two
    -- members drew DIFFERENT per-doc splits
    leak AS (
      SELECT CAST(count(*) AS BIGINT) AS n_dup_pairs,
             CAST(coalesce(sum(CASE WHEN fa.split_id <> fb.split_id
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_split_leaks
      FROM pairs p
      JOIN final fa ON p.doc_a = fa.doc_id
      JOIN final fb ON p.doc_b = fb.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN drop_short THEN 1 ELSE 0 END) AS BIGINT)
             AS n_short,
           CAST(sum(CASE WHEN drop_repetitive THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repetitive,
           CAST(sum(CASE WHEN drop_low_quality THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_quality,
           CAST(sum(CASE WHEN drop_pii_heavy THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pii_heavy,
           CAST(sum(CASE WHEN hygiene_ok AND NOT is_canonical THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dedup_dropped,
           CAST(sum(CASE WHEN hygiene_ok AND is_canonical THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN hygiene_ok AND is_canonical AND split_id = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_train,
           CAST(sum(CASE WHEN hygiene_ok AND is_canonical AND split_id = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_val,
           CAST(sum(CASE WHEN hygiene_ok AND is_canonical AND split_id = 2
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_test,
           (SELECT n_dup_pairs FROM leak) AS n_dup_pairs,
           (SELECT n_split_leaks FROM leak) AS n_split_leaks,
           CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_bpe_docs,
           CAST((SELECT count(*) FROM documents) AS BIGINT)
             AS n_bpe_roundtrip,
           CAST((SELECT count(*) FROM documents) AS BIGINT)
             AS n_bpe_token_sane,
           CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_pack_docs,
           CAST(0 AS BIGINT) AS n_pack_token_drift,
           CAST(0 AS BIGINT) AS n_pack_capacity_viol,
           CAST(0 AS BIGINT) AS n_pack_offset_viol,
           CAST(0 AS BIGINT) AS n_pack_greedy_viol,
           CAST(0 AS BIGINT) AS n_pack_bin_gap_viol
    FROM final
""".format(d3=ORACLES["d3_minhash_lsh_pairs"])


@register("pl1_curation_funnel", _PL1_ORACLE)
def pl1_curation_funnel(spark, sf):
    """End-to-end corpus curation funnel (the flagship pipeline):
    profile + hygiene + LSH dedup + canonical election + split, reported
    as the one-row audit funnel (docs in, per-rule drops, near-dup drops,
    kept per split).

    Driver-oracled since r6: the oracle replays the WHOLE funnel --
    banded-MinHash pairs (the d3 oracle as a subquery), connected
    components via recursive CTE (the d6 precedent), the t1 feature
    formulas, hygiene flags, canonical election among survivors, and the
    md5 split -- as one DuckDB statement.  Since r8 that includes the
    staged PII rule at its DEFAULT threshold: the phone pattern is
    RE2-compatible now (boundary capture group, no lookarounds), so the
    oracle computes n_email+n_ip+n_phone per document and replays
    ``drop_pii_heavy`` -- the funnel runs with ALL default rules live on
    both sides (redaction OUTPUT stays hand-golden gated in
    tests/test_text_hygiene.py; the oracle counts, it does not rewrite).

    Since r7 the funnel row also carries the tokenizer-stage audit
    (``n_bpe_docs`` / ``n_bpe_roundtrip`` / ``n_bpe_token_sane``): BPE is
    trained on the corpus and every document's encode is
    roundtrip-verified in-plane (bpe.bpe_roundtrip_audit) -- the oracle
    expects all three counts to equal ``count(*)``, so any encode defect
    turns the driver row red.  The 1x1 cross joins of the single-row
    sides are the J1 scalar-join shape (all sides broadcast).

    r7 also adds the sequence-PACKING stage audit
    (packing.packing_audit): greedy first-fit packing at budget=256 ws
    tokens over 8 md5 shards, with doc conservation, token drift across
    the Arrow boundary, bin capacity, offset prefix-sums, greedy
    tightness, and bin contiguity all checked in-plane -- the oracle
    expects ``n_pack_docs == count(*)`` and zero violations.

    r12 folds the cross-split contamination audit into the row
    (``n_dup_pairs`` / ``n_split_leaks``, sampling.split_leakage_report
    over the funnel's per-doc split): ONE checkpointed pair table feeds
    the curation's connected components AND the audit (the d6
    pair-table discipline), so the two can never disagree about what a
    near-dup pair is."""
    docs = _t(spark, sf, "documents")

    # the curation chain (pair-table checkpoint -> connected-components
    # loop -> report) and the two stage audits (BPE training, packing)
    # are independent eager builds: overlap them (r17, guide §2.6)
    def _curation():
        pairs = dedup.minhash_lsh_pairs(
            docs, jaccard_threshold=0.5
        ).localCheckpoint(eager=True)
        curated = pipeline.curate_corpus(docs, pairs=pairs)
        return pipeline.curation_report(curated, pairs=pairs)

    report, bpe_audit, pack_audit = caching.run_overlapped(
        _curation,
        lambda: bpe.bpe_roundtrip_audit(docs),
        lambda: packing.packing_audit(docs, budget=256, n_shards=8),
    )
    return report.crossJoin(bpe_audit).crossJoin(pack_audit)


# ---------------------------------------------------------------------------
# Leg declarations (r15): tagged-union entries, for bench.py's per-leg
# timing breakdown (pinned by tests/test_bench_legs.py).
register_legs(
    "d6_dup_clusters",
    "op",
    (
        "cluster",
        "grouped_split",
        "leakage",
        "pagerank",
        "pr_keeper",
        "triangles",
    ),
)
register_legs(
    "s6_hash_split",
    "op",
    (
        "curriculum",
        "pack_bucket",
        "pack_concat",
        "pack_stats_bucket",
        "pack_stats_concat",
        "shard",
        "split",
    ),
)
register_legs(
    "s7_stratified_rates", "op", ("cap", "dsir", "mix", "qsamp", "rate", "temp")
)
register_legs("s8_upsert", "op", ("scd1", "scd2"))
register_legs("cx1_time_ops", "op", ("cohort", "range"))
register_legs(
    "tv1_text_stats",
    "op",
    (
        "bm25",
        "bm25_topk",
        "chunk",
        "colloc",
        "colloc_npmi",
        "colloc_pmi",
        "colloc_win",
        "dense",
        "dense_ivf",
        "hybrid",
        "hybrid_ivf",
        "lm",
        "probe",
        "probe_w",
        "scrub",
        "tfidf",
        "vocab",
    ),
)
register_legs(
    "d7_cross_corpus_decontam", "op", ("minhash", "overlap", "spans")
)
