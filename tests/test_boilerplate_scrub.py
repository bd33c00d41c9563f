"""Boilerplate n-gram scrubbing (tv1_text_stats ``op='scrub'``): python
recompute parity on real and hand-crafted corpora, span/coverage
semantics, order preservation, the short-document sequence pitfall, and
the broadcast plan shape."""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup
from nyc_taxi_dataset_analysis_apache_hive_spark.plans.explain import explain_str
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table


def _py_scrub(texts: dict[int, str], n: int = 5, min_docs: int = 3):
    """Reference recompute of the operator's whole contract in ~20 lines
    of obviously-correct python (grouping on the gram STRING -- md5 in the
    operator is injective-for-our-purposes, so the heavy sets agree)."""
    toks = {
        d: [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]
        for d, s in texts.items()
    }
    docs_of = defaultdict(set)
    for d, ws in toks.items():
        for i in range(len(ws) - n + 1):
            docs_of[" ".join(ws[i : i + n])].add(d)
    heavy = {g for g, ds in docs_of.items() if len(ds) >= min_docs}
    out = {}
    for d, ws in toks.items():
        cov: set[int] = set()
        for i in range(len(ws) - n + 1):
            if " ".join(ws[i : i + n]) in heavy:
                cov.update(range(i, i + n))
        kept = [w for j, w in enumerate(ws) if j not in cov]
        out[d] = (
            len(ws),
            len(kept),
            len(ws) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    return out


def _collect(df):
    return {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["n_dropped"], r["scrub_fp"])
        for r in df.collect()
    }


BOILER = "all rights reserved by the publisher company inc 2024"


def test_scrub_hand_crafted_spans(spark):
    """A 10-token boilerplate block shared by 4 docs is removed exactly;
    unique tails survive in order; a doc that IS the block scrubs to
    empty; a block-free doc is untouched."""
    rows = [
        (1, BOILER + " alpha beta gamma delta epsilon"),
        (2, BOILER + " zeta eta theta iota kappa"),
        (3, BOILER + " unique tail three here now"),
        (4, "totally different content with no shared spans at all ok"),
        (5, BOILER),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = _collect(dedup.boilerplate_scrub(dedup.token_table(docs)))
    want = _py_scrub(dict(rows))
    assert got == want
    # the semantics the recompute encodes, asserted directly too:
    assert got[4][2] == 0  # untouched
    assert got[5][1] == 0  # fully scrubbed
    assert got[1][3] == hashlib.md5(b"alpha beta gamma delta epsilon").hexdigest()


def test_scrub_short_docs_untouched(spark):
    """< 5 tokens -> no grams -> kept verbatim (the guarded sequence(1,0)
    edge), including the empty document and NULL text (coalesced to '' --
    without it Spark's size(NULL) = -1 leaks into the counts)."""
    docs = spark.createDataFrame(
        [(1, "one two three four"), (2, ""), (3, "solo"), (4, None)],
        "doc_id long, text string",
    )
    got = _collect(dedup.boilerplate_scrub(dedup.token_table(docs)))
    assert got == _py_scrub({1: "one two three four", 2: "", 3: "solo", 4: ""})
    assert all(v[2] == 0 for v in got.values())
    assert got[4][0] == 0  # NULL text behaves as the empty document


def test_scrub_matches_python_on_real_docs(spark, sf0001_dir):
    """Full-contract recompute parity on real synthetic documents, with
    min_docs=2 so heavy grams exist even in the 60-doc slice."""
    docs = load_table(spark, sf0001_dir, "documents").limit(60)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = _collect(
        dedup.boilerplate_scrub(dedup.token_table(docs), min_docs=2)
    )
    assert got == _py_scrub(texts, min_docs=2)
    # the slice genuinely exercises scrubbing (not vacuously green)
    assert any(v[2] > 0 for v in got.values())


def test_scrub_plan_broadcasts_heavy_set(spark, sf0001_dir):
    """The heavy-set join is a BroadcastHashJoin (the boilerplate set is
    tiny by definition); no cartesian anywhere; the scan prunes to the
    two columns the operator reads."""
    docs = load_table(spark, sf0001_dir, "documents")
    plan = explain_str(dedup.boilerplate_scrub(dedup.token_table(docs)))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {"doc_id", "text"}
