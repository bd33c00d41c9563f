"""Fuzzy entity resolution (operators/linkage.py) semantics + plan shape.

Cross-engine value parity for the x3 entry rides the auto-parametrized
oracle gates (test_oracle_parity*.py); these tests pin the
operator-level CONTRACT on a hand-built corpus where every answer is
checkable by eye, plus the no-cartesian plan shape the 100 TB posture
depends on.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import linkage


@pytest.fixture(scope="module")
def records(spark):
    # "cold widget" dominates; "colt widget" is its typo (lev 2);
    # "old bolt" is isolated from both blocks' neighborhoods except via
    # the widget/bolt last-token split; NULL/empty rows must drop.
    rows = (
        [("cold widget", i) for i in range(5)]
        + [("colt widget", 100), ("old bolt", 200), ("cold bolt", 300)]
        + [(None, 900), ("", 901)]
    )
    return spark.createDataFrame(rows, "name string, rid long")


@pytest.fixture(scope="module")
def dictionary(records):
    return linkage.name_dictionary(records, "name", "rid")


def test_dictionary_drops_null_and_empty(dictionary):
    d = {r["name"]: (r["n_records"], r["min_id"]) for r in dictionary.collect()}
    assert d == {
        "cold widget": (5, 0),
        "colt widget": (1, 100),
        "old bolt": (1, 200),
        "cold bolt": (1, 300),
    }


def test_blocked_pairs_block_and_threshold(dictionary):
    pairs = linkage.blocked_pairs(dictionary, max_dist=3)
    got = {
        (r["name_a"], r["name_b"]): (r["lev"], r["pair_mass"])
        for r in pairs.collect()
    }
    # cold/colt widget share the last token, lev 1; cold widget/cold bolt
    # share the first token but lev("widget","bolt")-ish = 5 > 3 -> cut;
    # old bolt/cold bolt share the last token, lev 1.
    assert got == {
        ("cold widget", "colt widget"): (1, 5),
        ("cold bolt", "old bolt"): (1, 1),
    }


def test_multi_pass_blocking_scores_shared_key_pairs_once(dictionary):
    # cold widget / colt widget share BOTH the first and last token with
    # max_dist high enough to keep everything: the distinct() must keep
    # exactly one row per unordered pair
    pairs = linkage.blocked_pairs(dictionary, max_dist=99)
    counted = (
        pairs.groupBy("name_a", "name_b").count().filter(F.col("count") > 1)
    )
    assert counted.count() == 0


def test_best_match_min_lev_name_tiebreak(spark):
    dictionary = linkage.name_dictionary(
        spark.createDataFrame(
            [("aa x", 1), ("ab x", 2), ("ba x", 3)], "name string, rid long"
        ),
        "name",
        "rid",
    )
    pairs = linkage.blocked_pairs(dictionary, max_dist=2)
    best = {r["name"]: (r["match"], r["lev"]) for r in
            linkage.best_match(pairs).collect()}
    # all three pairwise lev are 1 ("aa x"/"ab x") or 2; ties at equal
    # lev break on match name ascending
    assert best["ab x"] == ("aa x", 1)
    assert best["aa x"] == ("ab x", 1)
    assert best["ba x"][1] <= 2


def test_canonical_map_folds_typo_into_heaviest(dictionary):
    pairs = linkage.blocked_pairs(dictionary, max_dist=3)
    canon = {r["name"]: (r["canon"], r["canon_records"]) for r in
             linkage.canonical_map(pairs, dictionary).collect()}
    # the typo folds into the 5-record dominant spelling
    assert canon["colt widget"] == ("cold widget", 5)
    # the dominant spelling is its own canon
    assert canon["cold widget"] == ("cold widget", 5)
    # equal-mass neighbors (1 vs 1) break on name ascending
    assert canon["old bolt"] == ("cold bolt", 1)
    # every dictionary name gets a canon row (isolated names included)
    assert set(canon) == {"cold widget", "colt widget", "old bolt",
                          "cold bolt"}


def test_blocked_pairs_plan_has_no_cartesian(dictionary):
    plan = linkage.blocked_pairs(dictionary)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_j5_fuzzy_legs_on_testdata(spark, sf0001_dir):
    from nyc_taxi_dataset_analysis_apache_hive_spark import registry

    df = registry.QUERIES["j5_join_surface"](spark, sf0001_dir).filter(
        F.col("op").startswith("fuzzy_")
    )
    by_op = {r["op"]: r["count"] for r in df.groupBy("op").count().collect()}
    n_names = 62  # distinct part names at sf0.001
    # every name canonicalizes (to itself or a neighbor)
    assert by_op["fuzzy_canon"] == n_names
    # best only covers names with at least one candidate
    assert 0 < by_op["fuzzy_best"] <= n_names
    assert by_op["fuzzy_pairs"] > 0
    # canon is total and idempotent-shaped: every canon target is a name
    canon = df.filter(F.col("op") == "fuzzy_canon").collect()
    names = {r["name"].split(">")[0] for r in canon}
    targets = {r["name"].split(">")[1] for r in canon}
    assert targets <= names


# ---------------------------------------------------------------------------
# Hypothesis-randomized parity (the pack-layouts discipline): random
# name corpora from a colliding alphabet against a brute-force Python
# linkage replay.  derandomize=True keeps CI deterministic.
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_ADJ = ["cold", "colt", "old", "bold", "small"]
_NOUN = ["bolt", "bold", "widget", "ring"]


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _python_linkage(names, max_dist=3):
    from collections import Counter

    cnt = Counter(names)
    dic = sorted(cnt)
    pairs = {}
    for i, a in enumerate(dic):
        for b in dic[i + 1 :]:
            blocked = (
                a.split()[0] == b.split()[0] or a.split()[-1] == b.split()[-1]
            )
            if blocked and _lev(a, b) <= max_dist:
                pairs[(a, b)] = (_lev(a, b), cnt[a] * cnt[b])
    sym = {}
    for (a, b), (lev, _) in pairs.items():
        sym.setdefault(a, []).append((lev, b))
        sym.setdefault(b, []).append((lev, a))
    best = {n: min(v)[::-1] for n, v in sym.items()}
    canon = {}
    for n in dic:
        cands = [(cnt[n], n)] + [
            (cnt[o], o) for (lev, o) in sym.get(n, [])
        ]
        # max records, ties by name ascending
        target = sorted(cands, key=lambda t: (-t[0], t[1]))[0]
        canon[n] = (target[1], target[0])
    return pairs, best, canon


@pytest.mark.scale
@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    names=st.lists(
        st.tuples(st.sampled_from(_ADJ), st.sampled_from(_NOUN)).map(
            " ".join
        ),
        min_size=1,
        max_size=25,
    )
)
def test_hypothesis_linkage_matches_python(spark, names):
    records = spark.createDataFrame(
        [(n, i) for i, n in enumerate(names)], "name string, rid long"
    )
    d = linkage.name_dictionary(records, "name", "rid")
    p = linkage.blocked_pairs(d, max_dist=3)
    want_pairs, want_best, want_canon = _python_linkage(names)
    got_pairs = {
        (r["name_a"], r["name_b"]): (r["lev"], r["pair_mass"])
        for r in p.collect()
    }
    assert got_pairs == want_pairs
    got_best = {
        r["name"]: (r["match"], r["lev"])
        for r in linkage.best_match(p).collect()
    }
    assert got_best == want_best
    got_canon = {
        r["name"]: (r["canon"], r["canon_records"])
        for r in linkage.canonical_map(p, d).collect()
    }
    assert got_canon == want_canon


# ---------------------------------------------------------------------------
# r17 hardening: hot-block cap, callable block keys, apply_canonical
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hot_block_dictionary(spark):
    # 500 names share the first token "hot" (distinct last tokens, so
    # no pair forms via the last-token pass) plus one small real block
    rows = [(f"hot v{i:03d}", i) for i in range(500)] + [
        ("cold widget", 900),
        ("colt widget", 901),
    ]
    return linkage.name_dictionary(
        spark.createDataFrame(rows, "name string, rid long"), "name", "rid"
    )


def test_max_block_drops_hot_block_and_bounds_pairs(hot_block_dictionary):
    # uncapped, the hot first-token block alone contributes
    # C(500, 2) = 124,750 candidate rows; capped, only the small
    # widget block survives the pair stage
    pairs = linkage.blocked_pairs(
        hot_block_dictionary, max_dist=99, max_block=10
    ).collect()
    got = {(r["name_a"], r["name_b"]) for r in pairs}
    assert got == {("cold widget", "colt widget")}


def test_dropped_blocks_names_the_hot_block(hot_block_dictionary):
    dropped = linkage.dropped_blocks(
        hot_block_dictionary, max_block=10
    ).collect()
    assert [(r["key_idx"], r["block"], r["n_names"]) for r in dropped] == [
        (0, "hot", 500)
    ]


def test_dropped_blocks_empty_below_cap(dictionary):
    assert linkage.dropped_blocks(dictionary, max_block=10).count() == 0


def test_null_block_key_is_not_reported_dropped(hot_block_dictionary):
    # a key that is NULL for every hot name: NULL keys never pair (the
    # equi-join is NULL-unsafe), so the audit must NOT claim the NULL
    # "block" as dropped recall (r17 review) -- and the capped pair
    # stage must behave as if the pass simply skipped those names
    null_key = (
        "CASE WHEN name LIKE 'hot %' THEN NULL"
        " ELSE split_part(name, ' ', 1) END",
    )
    dropped = linkage.dropped_blocks(
        hot_block_dictionary, max_block=10, block_keys=null_key
    )
    assert dropped.count() == 0
    pairs = linkage.blocked_pairs(
        hot_block_dictionary, max_dist=99, block_keys=null_key, max_block=10
    ).collect()
    assert {(r["name_a"], r["name_b"]) for r in pairs} == set()


def test_max_block_none_is_exact(dictionary):
    base = set(
        map(tuple, linkage.blocked_pairs(dictionary, max_dist=3).collect())
    )
    capped = set(
        map(
            tuple,
            linkage.blocked_pairs(
                dictionary, max_dist=3, max_block=1000
            ).collect(),
        )
    )
    assert base == capped


def test_callable_block_keys_match_string_keys(dictionary):
    # the callable form of the default keys; the second key's fallback
    # literal contains the word "name", which the r16 textual rewrite
    # could not express -- the column form has no such restriction
    keys = (
        lambda c: F.split(c, " ").getItem(0),
        lambda c: F.coalesce(
            F.element_at(F.split(c, " "), -1), F.lit("no name")
        ),
    )
    got = set(
        map(
            tuple,
            linkage.blocked_pairs(
                dictionary, max_dist=3, block_keys=keys
            ).collect(),
        )
    )
    want = set(
        map(tuple, linkage.blocked_pairs(dictionary, max_dist=3).collect())
    )
    assert got == want


def test_string_block_key_with_name_in_literal(dictionary):
    # string keys are evaluated against the dictionary frame directly
    # (no rewrite), so a literal containing "name" is now legal too
    got = set(
        map(
            tuple,
            linkage.blocked_pairs(
                dictionary,
                max_dist=3,
                block_keys=(
                    "coalesce(split_part(name, ' ', 1), 'the name')",
                    "split_part(name, ' ', -1)",
                ),
            ).collect(),
        )
    )
    want = set(
        map(tuple, linkage.blocked_pairs(dictionary, max_dist=3).collect())
    )
    assert got == want


def test_apply_canonical_end_to_end(spark, records, dictionary):
    pairs = linkage.blocked_pairs(dictionary, max_dist=3)
    cmap = linkage.canonical_map(pairs, dictionary)
    out = linkage.apply_canonical(records, cmap, "name")
    assert out.columns == records.columns
    assert out.count() == records.count()
    got = {r["rid"]: r["name"] for r in out.collect()}
    # the typo folds into the dominant spelling; equal-mass neighbor
    # folds by name-ascending tie-break; dominants stay themselves
    assert got[100] == "cold widget"  # was "colt widget"
    assert got[200] == "cold bolt"  # was "old bolt"
    assert got[0] == "cold widget"
    assert got[300] == "cold bolt"
    # NULL/empty names have no map row and must survive unchanged
    assert got[900] is None
    assert got[901] == ""


def test_apply_canonical_rejects_reserved_prefix(spark, dictionary):
    cmap = linkage.canonical_map(
        linkage.blocked_pairs(dictionary, max_dist=3), dictionary
    )
    bad = spark.createDataFrame(
        [("x", 1)], "name string, __link_name long"
    )
    with pytest.raises(ValueError, match="__link_"):
        linkage.apply_canonical(bad, cmap, "name")


def test_apply_canonical_plan_is_broadcast(records, dictionary):
    cmap = linkage.canonical_map(
        linkage.blocked_pairs(dictionary, max_dist=3), dictionary
    )
    plan = (
        linkage.apply_canonical(records, cmap, "name")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the RECORDS-side join (the only data-sized one; LeftOuter) must
    # be broadcast -- joins inside the vocabulary-sized canon-map build
    # are free to shuffle, so the pin targets the outer join line only
    assert any(
        "BroadcastHashJoin" in ln and "LeftOuter" in ln
        for ln in plan.splitlines()
    ), plan[:2000]
