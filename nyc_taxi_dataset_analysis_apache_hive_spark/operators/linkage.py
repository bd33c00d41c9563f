"""Fuzzy entity resolution: dictionary-level blocked edit-distance linkage.

The record-linkage shape a curation pipeline needs when an entity column
(product names, author strings, site hostnames) carries typo/variant
noise: find near-identical name variants, pick each name's best fuzzy
match, and canonicalize every variant onto the heaviest spelling of its
neighborhood.

Design for 100 TB -- link the DICTIONARY, not the records:

* ``name_dictionary`` first collapses the record table to DISTINCT
  names + their record counts.  Real entity vocabularies are
  sublinear in record count (here SF-invariant: 64 names at every sf),
  so the quadratic-ish fuzzy stage runs over a vocabulary-sized,
  usually broadcastable relation while record mass rides along as a
  count column.  Linking raw records directly would re-compare
  identical spellings millions of times -- the classic mistake this
  module exists to avoid.
* ``blocked_pairs`` never goes all-pairs even over the dictionary:
  multi-pass blocking (one pass per blocking key; standard record-
  linkage practice, e.g. Christen's "Data Matching", Springer 2012)
  generates candidates as equi-joins on each key, unions the passes,
  and only then pays ``levenshtein`` on the distinct survivors.  A
  block key with a hot value degrades to a bounded within-block join,
  never a cartesian (no-cartesian plan shape pinned in
  tests/test_linkage.py) -- and ``max_block`` (r17) bounds even that:
  a degenerate key value shared by d names costs O(d^2) candidate
  rows, so blocks over the cap are dropped with the dropped mass
  observable via ``dropped_blocks`` (the d4 ``max_doc_freq``
  discipline).
* ``apply_canonical`` closes the loop at record scale: a broadcast
  map join rewrites the record table onto the canonical spellings --
  the records themselves never shuffle.
* Scoring is Spark's built-in ``levenshtein`` (JVM codegen; DuckDB has
  the identical integer-exact function, so every leg value-hashes).

Reference parity note: the reference (Surabhi_Srinath_NYC_Taxi_Assignment_FInal.txt)
has no fuzzy matching -- this is part of the beyond-the-reference
training-data-pipeline surface, like dedup/similarity/packing.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: a blocking key: either a SQL expression string over the column
#: identifier ``name`` (the x3 DuckDB oracle spells the same keys), or a
#: Column callable applied to the name column (r17 -- no textual
#: rewrite, so string literals in the key are unrestricted)
BlockKey = str | Callable[[Column], Column]


def _block_key_col(key: BlockKey) -> Column:
    """Resolve one blocking key to a Column over the dictionary.

    String keys are SQL over the identifier ``name`` -- evaluated
    directly against the dictionary frame (whose name column IS
    ``name``), so nothing is rewritten and literals containing the word
    ``name`` are fine (the r16 word-bounded-regex rewrite is gone).
    Callables receive the name Column and must return a Column.
    """
    if callable(key):
        return key(F.col("name"))
    return F.expr(key)


def name_dictionary(
    records: DataFrame, name_col: str, id_col: str
) -> DataFrame:
    """Collapse a record table to ``(name, n_records, min_id)``.

    ``min_id`` is the deterministic witness record (useful for joining
    canonical metadata back); ``n_records`` is the record mass that the
    pair/canonicalization stages weight by.  NULL/empty names are
    dropped (a NULL name is unmatchable and would otherwise diverge
    between engines on NULL sort order -- the packing r16 rule).
    """
    return (
        records.filter(
            F.col(name_col).isNotNull() & (F.col(name_col) != "")
        )
        .groupBy(F.col(name_col).alias("name"))
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min(id_col).alias("min_id"),
        )
    )


#: default blocking keys for "adjective noun"-shaped names: a pair is a
#: candidate iff it shares the first OR the last whitespace token.
#: (Multi-pass blocking: each key is one pass; missed-by-all-keys pairs
#: are the recall tradeoff every blocked linkage makes.)
DEFAULT_BLOCK_KEYS: tuple[str, ...] = (
    "split_part(name, ' ', 1)",
    "split_part(name, ' ', -1)",
)


def blocked_pairs(
    dictionary: DataFrame,
    max_dist: int = 3,
    block_keys: tuple[BlockKey, ...] = DEFAULT_BLOCK_KEYS,
    max_block: int | None = None,
) -> DataFrame:
    """Candidate near-variant pairs from multi-pass blocking.

    Each blocking key contributes one self-equi-join pass over the
    dictionary (the key is materialized as a column and the pass joins
    on its equality -- always an equi-join, never a product); passes
    are unioned and DISTINCTed BEFORE the levenshtein filter so a pair
    sharing several keys is scored once.  Output: ``(name_a, name_b,
    lev, pair_mass)`` with ``name_a < name_b`` (each unordered pair
    once) and ``pair_mass = n_records_a * n_records_b`` -- the number
    of record-level pairs this dictionary pair represents.

    Block-key forms (see :func:`_block_key_col`): a SQL expression
    string over the identifier ``name``, or a ``Column -> Column``
    callable (r17).  NULL block keys never pair (equi-join semantics) --
    a key that cannot be computed for a name simply skips that pass.

    ``max_block`` (r17) is the hot-block control for 100-TB-derived
    dictionaries, the linkage twin of ``ngram_jaccard_pairs``'s
    ``max_doc_freq``: a blocking key shared by d names contributes
    O(d^2) within-block candidate rows, and one degenerate key value (a
    stop-word first token, an empty-string normalization) can dominate
    the whole stage.  When set, blocks whose key frequency exceeds
    ``max_block`` are DROPPED from that pass by an aggregate +
    left-anti join (frequencies from one groupBy -- partial aggregation
    collapses the hot key map-side; never a count-over-window, which
    would buffer the hot block on one task).  Dropping is a documented
    recall trade: pairs blocked ONLY by a hot key fall away.  Per the
    no-silent-caps house rule the dropped mass is observable --
    :func:`dropped_blocks` names every dropped block and its size from
    the same frequency aggregate.  Default None = exact (the
    oracle-parity path).
    """
    if not block_keys:
        raise ValueError(
            "block_keys must be non-empty: blocking is what keeps the "
            "pair stage off the all-pairs product"
        )

    passes = None
    for key in block_keys:
        keyed = dictionary.select(
            _block_key_col(key).alias("bk"),
            "name",
            "n_records",
        )
        if max_block is not None:
            # NULL keys are excluded from the frequency aggregate: they
            # never form pairs (NULL-unsafe equi-join below), and the
            # left_anti join could not remove them anyway (same
            # NULL-unsafe equality) -- counting them would make the cap
            # claim drops that lose zero recall (review r17)
            hot = (
                keyed.filter(F.col("bk").isNotNull())
                .groupBy("bk")
                .agg(F.count(F.lit(1)).alias("bf"))
                .filter(F.col("bf") > max_block)
                .select("bk")
            )
            keyed = keyed.join(hot, "bk", "left_anti")
        left = keyed.select(
            "bk",
            F.col("name").alias("name_a"),
            F.col("n_records").alias("cnt_a"),
        )
        right = keyed.select(
            F.col("bk").alias("bk_b"),
            F.col("name").alias("name_b"),
            F.col("n_records").alias("cnt_b"),
        )
        p = left.join(
            right,
            (F.col("bk") == F.col("bk_b"))
            & (F.col("name_a") < F.col("name_b")),
        ).select("name_a", "name_b", "cnt_a", "cnt_b")
        passes = p if passes is None else passes.unionByName(p)
    return (
        passes.distinct()
        .withColumn("lev", F.levenshtein("name_a", "name_b"))
        .filter(F.col("lev") <= max_dist)
        .select(
            "name_a",
            "name_b",
            F.col("lev").cast("long").alias("lev"),
            (F.col("cnt_a") * F.col("cnt_b"))
            .cast("long")
            .alias("pair_mass"),
        )
    )


def dropped_blocks(
    dictionary: DataFrame,
    max_block: int,
    block_keys: tuple[BlockKey, ...] = DEFAULT_BLOCK_KEYS,
) -> DataFrame:
    """Name every block :func:`blocked_pairs` would drop at this
    ``max_block`` -- the observability half of the cap (no-silent-caps
    house rule; the d4 ``max_doc_freq`` family's discipline).

    Output: ``(key_idx, block, n_names)`` -- the 0-based index of the
    blocking key, the hot key value, and how many dictionary names
    share it.  Same frequency aggregate as the cap itself, so the two
    cannot disagree; empty means the cap dropped nothing.  ``block`` is
    cast to string so heterogeneous key types union cleanly.  NULL
    keys are excluded exactly as the cap excludes them (a NULL block
    never pairs, so "dropping" it loses nothing -- reporting it would
    overstate the dropped mass).
    """
    if not block_keys:
        raise ValueError("block_keys must be non-empty")
    out = None
    for i, key in enumerate(block_keys):
        hot = (
            dictionary.select(_block_key_col(key).alias("bk"))
            .filter(F.col("bk").isNotNull())
            .groupBy("bk")
            .agg(F.count(F.lit(1)).cast("long").alias("n_names"))
            .filter(F.col("n_names") > max_block)
            .select(
                F.lit(i).alias("key_idx"),
                F.col("bk").cast("string").alias("block"),
                "n_names",
            )
        )
        out = hot if out is None else out.unionByName(hot)
    return out


def _symmetrize(pairs: DataFrame) -> DataFrame:
    """Both directions of each unordered pair (for per-name windows)."""
    fwd = pairs.select(
        F.col("name_a").alias("name"), F.col("name_b").alias("other"), "lev"
    )
    rev = pairs.select(
        F.col("name_b").alias("name"), F.col("name_a").alias("other"), "lev"
    )
    return fwd.unionByName(rev)


def best_match(pairs: DataFrame) -> DataFrame:
    """Each name's single best fuzzy neighbor.

    min ``lev``, ties broken by ``other`` ascending -- one
    ``min_by``-shaped window over the symmetrized pair list (names with
    no candidate pair are absent: no match is a valid linkage outcome).
    Output: ``(name, match, lev)``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("name").orderBy(
        F.col("lev").asc(), F.col("other").asc()
    )
    return (
        _symmetrize(pairs)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("name", F.col("other").alias("match"), "lev")
    )


def canonical_map(pairs: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Canonicalize each name onto the HEAVIEST spelling among itself
    and its fuzzy neighbors (max ``n_records``, ties by name ascending).

    The merge-into-the-most-frequent-variant rule: one window over the
    symmetrized pairs plus a self row per name (lev 0), so an isolated
    name canonicalizes to itself and a typo variant folds into the
    dominant spelling.  Single-hop by design -- a transitive chain
    a~b~c with no a~c pair keeps a and c apart (chasing chains is the
    connected-components job; see dedup.connected_components).
    Output: ``(name, canon, canon_records)``.  Rewrite a record table
    onto this map with :func:`apply_canonical` -- the verb a pipeline
    actually runs.
    """
    from pyspark.sql import Window

    self_rows = dictionary.select(
        F.col("name"), F.col("name").alias("other"), F.lit(0).alias("lev")
    )
    sym = _symmetrize(pairs).unionByName(self_rows)
    weighted = sym.join(
        dictionary.select(
            F.col("name").alias("other"),
            F.col("n_records").alias("other_records"),
        ),
        "other",
    )
    w = Window.partitionBy("name").orderBy(
        F.col("other_records").desc(), F.col("other").asc()
    )
    return (
        weighted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "name",
            F.col("other").alias("canon"),
            F.col("other_records").cast("long").alias("canon_records"),
        )
    )


#: reserved join-side column prefix for apply_canonical (the __cms_
#: precedent: internals never collide with user columns because user
#: columns carrying the prefix are rejected up front)
_LINK_PREFIX = "__link_"


def apply_canonical(
    records: DataFrame, canon_map: DataFrame, name_col: str
) -> DataFrame:
    """Rewrite a record table's ``name_col`` onto canonical spellings --
    the one-line deployment verb that ends the linkage family (build
    the map once per dictionary, then canonicalize record mass with a
    broadcast join).

    ``canon_map`` is a :func:`canonical_map` result (``name -> canon``);
    it is vocabulary-sized by construction, so the join is explicitly
    broadcast -- records never shuffle.  Names with no map row (NULL,
    empty, or absent from the dictionary the map was built over) keep
    their original spelling (left join + coalesce): canonicalization
    must never invent or drop records.  Output: the records schema
    unchanged, with ``name_col`` replaced in place.
    """
    clash = [c for c in records.columns if c.startswith(_LINK_PREFIX)]
    if clash:
        raise ValueError(
            f"records columns {clash} collide with the reserved "
            f"{_LINK_PREFIX!r} prefix apply_canonical uses for its "
            "join side; rename them"
        )
    cm = F.broadcast(
        canon_map.select(
            F.col("name").alias(f"{_LINK_PREFIX}name"),
            F.col("canon").alias(f"{_LINK_PREFIX}canon"),
        )
    )
    return (
        records.join(
            cm,
            F.col(name_col) == F.col(f"{_LINK_PREFIX}name"),
            "left",
        )
        .withColumn(
            name_col,
            F.coalesce(F.col(f"{_LINK_PREFIX}canon"), F.col(name_col)),
        )
        .drop(f"{_LINK_PREFIX}name", f"{_LINK_PREFIX}canon")
    )
