"""Exact substring-span operators (dedup.span_runs family): semantics
against hand-built corpora, a randomized parity gate against an
INDEPENDENT pure-Python maximal-common-substring reference (O(n*m)
match-matrix DP -- a different algorithm than the operator's
gram-diagonal islands), and the policy edges (hot-gram cap, min_span
boundary, interval merge, cross-corpus side discipline)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup


def _docs(spark, texts: dict[int, str | None]):
    return spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )


def _runs(
    docs,
    window: int = dedup.SPAN_WINDOW,
    max_gram_docs: int = dedup.SPAN_MAX_GRAM_DOCS,
):
    """The span_runs table of a raw documents frame."""
    grams = dedup.positional_ngrams(dedup.token_table(docs), window)
    return dedup.span_runs(grams, window, max_gram_docs)


def _maximal_common_spans(a: list[str], b: list[str]) -> list[tuple[int, int, int]]:
    """Independent reference: every (i, j, length) with a[i:i+L] == b[j:j+L]
    maximal in both directions, via the classic match-matrix diagonal DP."""
    out = []
    n, m = len(a), len(b)
    # run[j] = length of common suffix ending at (i-1, j-1) from prev row
    prev = [0] * (m + 1)
    ends = {}  # (i_end, j_end) -> run length, for maximality check
    for i in range(1, n + 1):
        cur = [0] * (m + 1)
        for j in range(1, m + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                ends[(i - 1, j - 1)] = cur[j]
        prev = cur
    for (ie, je), ln in ends.items():
        # maximal iff it cannot extend right (no longer run ends one step later)
        if (ie + 1, je + 1) in ends:
            continue
        out.append((ie - ln + 1, je - ln + 1, ln))
    return out


def test_known_shared_span(spark):
    shared = " ".join(f"s{i}" for i in range(20))
    docs = _docs(
        spark,
        {
            1: "alpha beta " + shared + " gamma",
            2: "delta " + shared + " epsilon zeta",
            3: "totally unrelated words here " * 5,
        },
    )
    rows = dedup.shared_span_pairs(_runs(docs, max_gram_docs=50)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b, r.n_spans, r.max_span_tokens) == (1, 2, 1, 20)


def test_identical_docs_full_length_span(spark):
    text = " ".join(f"w{i}" for i in range(30))
    docs = _docs(spark, {1: text, 2: text})
    rows = dedup.shared_span_pairs(_runs(docs)).collect()
    assert [(r.doc_a, r.doc_b, r.n_spans, r.max_span_tokens) for r in rows] == [
        (1, 2, 1, 30)
    ]
    scrub = dedup.span_scrub_stats(
        dedup.token_table(docs), _runs(docs)
    ).collect()
    # keep-first: doc 2 loses everything
    assert [(r.doc_id, r.tokens_removed, r.n_tokens_after) for r in scrub] == [
        (2, 30, 0)
    ]


def test_scrub_text_rebuild(spark):
    """The rewrite drops exactly the cut intervals, keeps order, and a
    fully-scrubbed doc rebuilds to the empty string (its fingerprint
    must be md5('') on every engine -- the driver leg coalesces DuckDB's
    NULL-on-empty array_to_string)."""
    text = " ".join(f"w{i}" for i in range(30))
    docs = _docs(
        spark,
        {1: "pre " + text, 2: text + " post tail", 3: text},
    )
    tokt, runs = dedup.token_table(docs), _runs(docs)
    rows = {r.doc_id: r for r in dedup.span_scrub_text(tokt, runs).collect()}
    assert set(rows) == {2, 3}
    assert rows[2].text_scrubbed == "post tail"
    assert rows[2].n_tokens_after == 2
    assert rows[3].text_scrubbed == ""
    assert rows[3].n_tokens_after == 0
    # n_tokens_after agrees with the stats derivation (one truth)
    stats = {
        r.doc_id: r.n_tokens_after
        for r in dedup.span_scrub_stats(tokt, runs).collect()
    }
    assert stats == {d: r.n_tokens_after for d, r in rows.items()}


def test_min_span_boundary(spark):
    """11 shared tokens < min_span=12 -> invisible; 12 -> reported."""
    s11 = " ".join(f"x{i}" for i in range(11))
    s12 = " ".join(f"y{i}" for i in range(12))
    docs = _docs(
        spark,
        {
            1: "a b " + s11 + " c d",
            2: "e f " + s11 + " g h",
            3: "p q " + s12 + " r s",
            4: "t u " + s12 + " v w",
        },
    )
    rows = dedup.shared_span_pairs(_runs(docs)).collect()
    assert [(r.doc_a, r.doc_b, r.max_span_tokens) for r in rows] == [(3, 4, 12)]


def test_repeated_span_two_diagonals(spark):
    """doc 1 contains the span twice -> two maximal runs vs doc 2's one
    occurrence (two diagonals), and the scrub merges the overlapping cut
    intervals on doc 2 into one."""
    span = " ".join(f"r{i}" for i in range(15))
    docs = _docs(
        spark,
        {
            1: span + " filler one two three " + span,
            2: "pad " + span + " tail words here now",
        },
    )
    rows = dedup.shared_span_pairs(_runs(docs)).collect()
    assert [(r.doc_a, r.doc_b, r.n_spans, r.max_span_tokens) for r in rows] == [
        (1, 2, 2, 15)
    ]
    scrub = dedup.span_scrub_stats(
        dedup.token_table(docs), _runs(docs)
    ).collect()
    # both cuts cover the SAME 15 tokens of doc 2 -> merged, removed once
    assert [(r.doc_id, r.tokens_removed) for r in scrub] == [(2, 15)]


def test_hot_gram_cap_drops_boilerplate(spark):
    """A span made of a gram present in > cap documents never pairs."""
    boiler = " ".join(f"b{i}" for i in range(14))
    docs = _docs(spark, {i: "u%d " % i + boiler + " z%d" % i for i in range(8)})
    assert dedup.shared_span_pairs(_runs(docs, max_gram_docs=3)).count() == 0
    # and with the cap above the df, all 28 pairs report
    assert dedup.shared_span_pairs(_runs(docs, max_gram_docs=50)).count() == 28


def test_short_and_null_docs_are_silent(spark):
    docs = _docs(spark, {1: "a b c", 2: None, 3: "", 4: "a b c"})
    runs = _runs(docs)
    assert dedup.shared_span_pairs(runs).count() == 0
    assert dedup.span_scrub_stats(dedup.token_table(docs), runs).count() == 0


def test_cross_corpus_sides_never_self_pair(spark):
    span = " ".join(f"c{i}" for i in range(16))
    corpus = _docs(spark, {2: "x " + span, 4: "y " + span})
    probes = _docs(spark, {1: "z " + span, 3: "unrelated " * 10})
    rows = dedup.cross_corpus_span_contamination(
        dedup.token_table(corpus), dedup.token_table(probes)
    ).collect()
    # (2,1) and (4,1) only -- never (2,4) within-corpus, never (1,3)
    assert sorted((r.corpus_id, r.probe_id) for r in rows) == [(2, 1), (4, 1)]
    assert all(r.max_span_tokens == 16 for r in rows)


def test_randomized_parity_vs_match_matrix_reference(spark):
    """Randomized corpora (small vocab to force collisions): the
    operator's per-pair (n_spans, max_span) over spans >= min_span must
    equal the DP reference's maximal common substrings, and the scrub's
    removed-token count must equal the reference's merged doc_b
    intervals."""
    rng = random.Random(1405)
    vocab = [f"v{i}" for i in range(6)]
    texts = {}
    for d in range(14):
        n = rng.randint(4, 40)
        texts[d] = " ".join(rng.choice(vocab) for _ in range(n))
    # plant one long verbatim span to guarantee signal
    planted = " ".join(rng.choice(vocab) for _ in range(18))
    texts[20] = texts[0] + " " + planted
    texts[21] = planted + " " + texts[1]

    W, MS = 4, 6
    toks = {d: t.split() for d, t in texts.items()}
    expect_pairs = {}
    cuts = {}
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            spans = [
                s for s in _maximal_common_spans(toks[a], toks[b]) if s[2] >= MS
            ]
            if spans:
                expect_pairs[(a, b)] = (
                    len(spans),
                    max(s[2] for s in spans),
                )
                cuts.setdefault(b, []).extend(
                    (j, j + ln - 1) for (_, j, ln) in spans
                )
    expect_scrub = {}
    for d, iv in cuts.items():
        iv.sort()
        covered, cur_s, cur_e = 0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s + 1
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        covered += cur_e - cur_s + 1
        expect_scrub[d] = (covered, len(toks[d]) - covered)

    docs = _docs(spark, texts)
    tokt = dedup.token_table(docs)
    runs = _runs(docs, window=W, max_gram_docs=1000)
    got_pairs = {
        (r.doc_a, r.doc_b): (r.n_spans, r.max_span_tokens)
        for r in dedup.shared_span_pairs(runs, min_span=MS).collect()
    }
    got_scrub = {
        r.doc_id: (r.tokens_removed, r.n_tokens_after)
        for r in dedup.span_scrub_stats(tokt, runs, min_span=MS).collect()
    }
    assert got_pairs == expect_pairs
    assert got_scrub == expect_scrub

    # and the rebuilt text equals the reference's interval-cut rebuild
    expect_text = {}
    for d, iv in cuts.items():
        cut = set()
        for s, e in iv:
            cut.update(range(s, e + 1))
        expect_text[d] = " ".join(
            t for i, t in enumerate(toks[d]) if i not in cut
        )
    got_text = {
        r.doc_id: r.text_scrubbed
        for r in dedup.span_scrub_text(tokt, runs, min_span=MS).collect()
    }
    assert got_text == expect_text


def test_span_plan_has_no_cartesian(spark, sf0001_dir):
    docs = spark.read.parquet(f"{sf0001_dir}/documents.parquet")
    tokt = dedup.token_table(docs)
    for df in (
        dedup.shared_span_pairs(_runs(docs)),
        dedup.cross_corpus_span_contamination(
            tokt.filter(F.col("doc_id") % 2 == 0),
            tokt.filter(F.col("doc_id") % 2 == 1),
        ),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def _ref_dup_coverage(toks: list[str], w: int) -> int:
    """Independent reference for intradoc_repetition: token coverage of
    w-grams occurring >= 2x, via a plain position-set union."""
    from collections import Counter

    grams = [tuple(toks[i : i + w]) for i in range(len(toks) - w + 1)]
    counts = Counter(grams)
    covered: set[int] = set()
    for i, g in enumerate(grams):
        if counts[g] >= 2:
            covered.update(range(i, i + w))
    return len(covered)


def test_intradoc_repetition_goldens(spark):
    span = " ".join(f"z{i}" for i in range(8))
    docs = _docs(
        spark,
        {
            1: span + " mid " + span,          # one 8-token span twice
            2: "all unique tokens here really truly distinct words",
            3: "a b c",                         # sub-window
            4: None,                            # token-less
            5: " ".join(["loop"] * 20),         # pathological self-repeat
        },
    )
    rows = {
        r.doc_id: r
        for r in dedup.intradoc_repetition(dedup.token_table(docs)).collect()
    }
    assert set(rows) == {1, 2, 3, 4, 5}
    # doc 1: both occurrences of the 8-gram are covered (8 + 8 tokens)
    assert (rows[1].dup_span_tokens, rows[1].n_tokens) == (16, 17)
    assert rows[1].dup_frac == round(16 / 17, 6)
    assert (rows[2].dup_span_tokens, rows[2].dup_frac) == (0, 0.0)
    assert (rows[3].dup_span_tokens, rows[3].dup_frac) == (0, 0.0)
    assert rows[4].n_tokens == 0 and rows[4].dup_frac is None
    # doc 5: every token sits in a repeated 6-gram
    assert (rows[5].dup_span_tokens, rows[5].n_tokens) == (20, 20)
    assert rows[5].dup_frac == 1.0


def test_intradoc_repetition_randomized_vs_reference(spark):
    rng = random.Random(1406)
    vocab = [f"t{i}" for i in range(4)]
    texts = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 35)))
        for d in range(25)
    }
    W = 5
    docs = _docs(spark, texts)
    got = {
        r.doc_id: (r.dup_span_tokens, r.n_tokens)
        for r in dedup.intradoc_repetition(
            dedup.token_table(docs), window=W
        ).collect()
    }
    want = {
        d: (_ref_dup_coverage(t.split(), W), len(t.split()))
        for d, t in texts.items()
    }
    assert got == want


from hypothesis import given, settings
from hypothesis import strategies as st


@pytest.mark.scale
@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    docs_toks=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=3),  # 4-token vocab
            min_size=0,
            max_size=24,
        ),
        min_size=2,
        max_size=8,
    )
)
def test_span_pairs_match_dp_reference_hypothesis(spark, docs_toks):
    """Hypothesis-randomized parity (the partitioned_components
    discipline): on ANY corpus over a tiny vocab -- empty docs,
    sub-window docs, heavy internal repetition -- the gram-diagonal
    islands must equal the O(n*m) match-matrix DP's maximal common
    substrings, pair for pair."""
    W, MS = 3, 4
    texts = {
        i: " ".join(f"t{t}" for t in toks) for i, toks in enumerate(docs_toks)
    }
    docs = _docs(spark, texts)
    got = {
        (r.doc_a, r.doc_b): (r.n_spans, r.max_span_tokens)
        for r in dedup.shared_span_pairs(
            _runs(docs, window=W, max_gram_docs=10**6), min_span=MS
        ).collect()
    }
    want = {}
    ids = sorted(texts)
    toks = {i: texts[i].split() for i in ids}
    for x, a in enumerate(ids):
        for b in ids[x + 1 :]:
            spans = [
                s
                for s in _maximal_common_spans(toks[a], toks[b])
                if s[2] >= MS
            ]
            if spans:
                want[(a, b)] = (len(spans), max(s[2] for s in spans))
    assert got == want


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    hits=st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),   # diff
            st.integers(min_value=0, max_value=20),   # pb
        ),
        min_size=0,
        max_size=30,
        unique=True,
    ),
    hb_count=st.integers(min_value=0, max_value=2),
)
def test_streaming_fold_matches_python_islands(spark, hits, hb_count):
    """The aggregate-HOF fold vs a python islands reference over
    arbitrary (diff, pb) hit sets, with 0-2 heartbeat elements mixed in
    (they must fold to nothing wherever array_sort places them)."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.streaming.curation import (
        _span_run_cols,
    )

    W, MS = 4, 5
    # python reference: runs of consecutive pb per diff
    runs = []
    by_diff: dict[int, list[int]] = {}
    for d, p in hits:
        by_diff.setdefault(d, []).append(p)
    for d, ps in by_diff.items():
        ps.sort()
        run = 1
        for i in range(1, len(ps)):
            if ps[i] == ps[i - 1] + 1:
                run += 1
            else:
                runs.append(run)
                run = 1
        runs.append(run)
    qual = [r + W - 1 for r in runs if r + W - 1 >= MS]
    want = (len(qual), max(qual) if qual else None)

    arr = [(d, p) for d, p in hits] + [(None, None)] * hb_count
    df = spark.createDataFrame(
        [(arr,)], "hits_arr array<struct<diff: long, pb: long>>"
    )
    # the production path array_sorts before folding
    from pyspark.sql import functions as F

    r = df.select(F.array_sort("hits_arr").alias("hits_arr")).select(
        *_span_run_cols(W, MS)
    ).collect()[0]
    got = (r.n_spans, r.max_span_tokens if r.n_spans > 0 else None)
    assert got == want, (hits, hb_count, got, want)


def test_shared_token_table_overloads_equal_direct(spark, sf0001_dir):
    """d4's adopted shape -- one checkpointed token table feeding the
    ngram index, the span grams, rep and the two scrub legs -- must be
    a pure plan change: every consumer returns the rows it returns over
    an inline (unmaterialized) token table."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, sf0001_dir, "documents")
    inline = dedup.token_table(docs)
    tokt = dedup.token_table(docs).localCheckpoint(eager=True)

    def same(op):
        assert sorted(map(tuple, op(inline).collect())) == sorted(
            map(tuple, op(tokt).collect())
        )

    def runs(t):
        return dedup.span_runs(dedup.positional_ngrams(t))

    same(lambda t: dedup.ngram_jaccard_pairs(t, shingle_n=3, threshold=0.2))
    same(runs)
    same(dedup.intradoc_repetition)
    same(lambda t: dedup.span_scrub_stats(t, runs(t)))
    same(lambda t: dedup.span_scrub_text(t, runs(t)))
