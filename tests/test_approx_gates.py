"""Quantitative accuracy gates for the approximate 100-TB paths.

The registry's self-validating queries (a9_percentile / a10_distinct_counts
/ s7_stratified_rates) assert tolerance booleans inside the driver gate;
these tests assert the underlying NUMERIC errors at sf0.01 so a sketch
regression is visible as a measured epsilon, not just a flipped flag.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import sampling
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table


def test_percentile_approx_within_epsilon(spark, sf001_dir):
    """A9 approx path (REF:318): GK-sketch quantiles within 1% relative of
    the exact interpolated percentiles."""
    li = load_table(spark, sf001_dir, "lineitem")
    row = li.agg(
        F.expr("percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D))").alias(
            "exact"
        ),
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        ).alias("approx"),
    ).collect()[0]
    for e, a in zip(row["exact"], row["approx"]):
        assert abs(a - e) <= 0.01 * abs(e), (e, a)


def test_approx_count_distinct_within_epsilon(spark, sf001_dir):
    """HLL++ estimates within max(5%, 2) of exact distinct counts per group
    (rsd=0.02; small cardinalities resolve exactly via the sparse path)."""
    li = load_table(spark, sf001_dir, "lineitem")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("exact"),
            F.approx_count_distinct("l_suppkey", rsd=0.02).alias("approx"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= max(0.05 * r["exact"], 2), r


def test_stratified_sample_rates(spark, sf001_dir):
    """Realised per-stratum rates land within 0.15 absolute of target (the
    s7 in-plane gate's tolerance) for the fixed seed and dataset."""
    fractions = {"en": 0.5, "es": 0.25, "fr": 0.25, "de": 0.1}
    docs = (
        load_table(spark, sf001_dir, "documents")
        .select("doc_id", "lang")
        .filter(F.col("lang").isin(*fractions))
    )
    totals = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    sampled = {
        r["lang"]: r["count"]
        for r in sampling.stratified_sample(docs, "lang", fractions, seed=42)
        .groupBy("lang")
        .count()
        .collect()
    }
    for lang, target in fractions.items():
        rate = sampled.get(lang, 0) / totals[lang]
        assert rate == pytest.approx(target, abs=0.15), (lang, rate, target)


def test_ngram_doc_freq_cap_drops_boilerplate_pairs(spark):
    """The heavy-hitter control: docs overlapping ONLY in a universal
    boilerplate phrase stop pairing once the hot shingles are capped, while
    true near-dups (distinctive overlap) survive with jaccard reported as a
    lower bound."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup

    boiler = "all rights reserved by the original publisher of record"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma delta epsilon zeta eta theta"),
            (2, f"{boiler} alpha beta gamma delta epsilon zeta eta iota"),
            (3, f"{boiler} one two three four five six seven eight"),
            (4, f"{boiler} red orange yellow green blue indigo violet pink"),
        ],
        "doc_id long, text string",
    )
    kw = dict(shingle_n=3, threshold=0.05)
    toks = dedup.token_table(docs)
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(toks, **kw).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(toks, max_doc_freq=2, **kw).collect()
    }
    # every pair shares the boilerplate shingles -> all 6 pairs uncapped
    assert set(exact) == {(a, b) for a in (1, 2, 3) for b in (2, 3, 4) if a < b}
    # capped: only the true near-dup pair (distinctive alpha..eta overlap)
    assert set(capped) == {(1, 2)}
    assert capped[(1, 2)] <= exact[(1, 2)]  # jaccard is now a lower bound


def test_text_profile_matches_standalone_featurisers(spark, sf0001_dir):
    """The fused t1 operator and the four standalone featurisers must agree
    column-for-column -- the drift gate for the shared score/argmax
    helpers."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import textops

    docs = load_table(spark, sf0001_dir, "documents")
    fused = {r["doc_id"]: r.asDict() for r in textops.text_profile(docs).collect()}
    tok = {r["doc_id"]: r.asDict() for r in textops.token_counts(docs).collect()}
    qual = {r["doc_id"]: r.asDict() for r in textops.quality_scores(docs).collect()}
    lang = {r["doc_id"]: r.asDict() for r in textops.lang_id(docs).collect()}
    fp = {r["doc_id"]: r.asDict() for r in textops.fingerprints(docs).collect()}
    assert set(fused) == set(tok)
    for d, f in fused.items():
        assert f["n_tokens_ws"] == tok[d]["n_tokens_ws"]
        assert f["n_tokens_bpe"] == tok[d]["n_tokens_bpe"]
        assert f["n_chars"] == tok[d]["n_chars"]
        assert f["fingerprint"] == fp[d]["fingerprint"]
        for c in ("mean_token_len", "punct_ratio", "stopword_ratio", "quality_score"):
            assert f[c] == qual[d][c], (d, c)
        assert f["lang_pred"] == lang[d]["lang_pred"]
        assert f["lang_true"] == lang[d]["lang_true"]


def test_cross_corpus_decontamination(spark, sf0001_dir):
    """Cross-corpus near-dup detection: probes that are exact or
    near-duplicates of corpus docs are found; novel probes are not.
    Compared against the self-join operator as ground truth: splitting the
    corpus odd/even and probing one half with the other must reproduce
    exactly the cross-parity subset of the self-join's pairs."""
    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup

    docs = load_table(spark, sf0001_dir, "documents")
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    even = docs.filter(F.col("doc_id") % 2 == 0)
    kw = dict(n_hashes=16, n_bands=4, shingle_n=3, jaccard_threshold=0.5)
    cross = {
        (r["corpus_id"], r["probe_id"], r["jaccard"])
        for r in dedup.cross_corpus_minhash_pairs(
            dedup.token_table(odd), dedup.token_table(even), **kw
        ).collect()
    }
    self_pairs = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(docs, **kw).collect()
    }
    expected = {
        (a, b, j) if a % 2 == 1 else (b, a, j)
        for a, b, j in self_pairs
        if (a % 2) != (b % 2)
    }
    assert cross == expected and cross


def test_vocabulary_counts_match_python(spark):
    """vocabulary() totals and doc-freqs match a Python recompute."""
    import collections
    import re

    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup, textops

    texts = ["the cat and the hat", "a cat sat", "the end"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    tf = textops.term_frequencies(dedup.token_table(docs))
    got = {
        r["token"]: (r["count"], r["doc_freq"])
        for r in textops.vocabulary(tf).collect()
    }
    counts: collections.Counter = collections.Counter()
    dfreq: collections.Counter = collections.Counter()
    for t in texts:
        toks = [x for x in re.split("[^a-z0-9]+", t.lower()) if x]
        counts.update(toks)
        dfreq.update(set(toks))
    assert got == {t: (counts[t], dfreq[t]) for t in counts}
    # min_count filters the tail
    top = textops.vocabulary(tf, min_count=2).collect()
    assert {r["token"] for r in top} == {t for t, c in counts.items() if c >= 2}
    assert top[0]["token"] == "the"  # count-desc ordering


def test_tfidf_top_terms_match_python(spark):
    """tfidf_top_terms matches a full python recompute (tf, ln(N/df)
    weighting, rounded ranking with token tie-break)."""
    import collections
    import math
    import re

    from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup, textops

    texts = [
        "apple banana apple cherry",
        "banana cherry cherry date",
        "apple date egg egg egg",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["rank"]): (r["token"], r["tf"], r["tfidf"])
        for r in textops.tfidf_top_terms(dedup.token_table(docs), k=2).collect()
    }
    # half-boundary rounding can differ between Python round() (half-even
    # on the binary double) and Spark round (HALF_UP on the shortest
    # decimal) -- compare weights with tolerance, identity fields exactly
    n_docs = len(texts)
    toks = [
        [x for x in re.split("[^a-z0-9]+", t.lower()) if x] for t in texts
    ]
    dfreq = collections.Counter()
    for ts in toks:
        dfreq.update(set(ts))
    expected = {}
    for d, ts in enumerate(toks):
        tf = collections.Counter(ts)
        scored = sorted(
            (
                (round(c * math.log(n_docs / dfreq[t]), 6), t, c)
                for t, c in tf.items()
            ),
            key=lambda x: (-x[0], x[1]),
        )
        for rank, (w, t, c) in enumerate(scored[:2], start=1):
            expected[(d, rank)] = (t, c, w)
    assert set(got) == set(expected)
    for key, (t, c, w) in expected.items():
        gt, gc, gw = got[key]
        assert (gt, gc) == (t, c), key
        assert gw == pytest.approx(w, abs=1e-6), key
