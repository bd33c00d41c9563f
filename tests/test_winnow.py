"""Winnowing rolling-hash fingerprints (Schleimer et al. 2003): python
recompute parity, the scheme's substring-match guarantee, and the
short-document edges (Spark's sequence(1, 0) pitfall)."""

from __future__ import annotations

import hashlib

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup
from nyc_taxi_dataset_analysis_apache_hive_spark.sources.readers import load_table

K, W = dedup.WINNOW_K, dedup.WINNOW_W


def _py_prints(text: str) -> list[int]:
    s = (text or "").lower()
    hs = [
        int(hashlib.md5(s[i : i + K].encode()).hexdigest()[:15], 16)
        for i in range(len(s) - K + 1)
    ]
    if len(hs) < W:
        return []
    return sorted({min(hs[j : j + W]) for j in range(len(hs) - W + 1)})


def test_winnow_prints_match_python_recompute(spark, sf0001_dir):
    docs = load_table(spark, sf0001_dir, "documents").limit(40)
    got = {
        r["doc_id"]: sorted(r["prints"])
        for r in dedup.winnow_prints(docs).collect()
    }
    for r in docs.select("doc_id", "text").collect():
        assert got[r["doc_id"]] == _py_prints(r["text"]), r["doc_id"]


def test_winnow_shared_substring_guarantee(spark):
    """Any common substring of length >= k + w - 1 must yield at least one
    shared print -- the local-sampling guarantee the scheme exists for."""
    common = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, "prefix one " + common + " suffix alpha"),
            (2, "other start " + common + " different end"),
            (3, "completely unrelated content with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    ps = {r["doc_id"]: set(r["prints"]) for r in dedup.winnow_prints(df).collect()}
    assert ps[1] & ps[2], "shared 43-char substring must share a print"
    assert not (ps[1] & ps[3]) and not (ps[2] & ps[3])


def test_winnow_short_and_empty_docs_are_empty_not_garbage(spark):
    """Docs shorter than k (no full gram) or with fewer than w grams must
    produce EMPTY print sets -- Spark's sequence(1, 0) yields [1, 0]
    (inferred step -1), so the guard matters."""
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "tiny"), (4, "elevenchars"), (5, "x" * 30)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: list(r["prints"]) for r in dedup.winnow_prints(df).collect()}
    assert got[1] == [] and got[2] == [] and got[3] == []
    # "elevenchars" = 11 chars -> 4 grams -> exactly one window
    assert got[4] == _py_prints("elevenchars") and len(got[4]) == 1
    assert got[5] == _py_prints("x" * 30) == [
        _py_prints("x" * 30)[0]
    ]  # constant text: one distinct gram hash -> one print


def test_winnow_near_pairs_finds_planted_near_dups(spark, sf0001_dir):
    """The pair operator surfaces the corpus' planted near-dup families at
    high overlap, and never pairs a doc with itself."""
    docs = load_table(spark, sf0001_dir, "documents")
    rows = dedup.winnow_near_pairs(docs, threshold=0.35).collect()
    assert rows
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0.35 <= r["jaccard"] <= 1.0


from hypothesis import given, settings, strategies as st  # noqa: E402

_LOWER = st.text(
    alphabet=st.characters(min_codepoint=97, max_codepoint=122), max_size=30
)


@settings(max_examples=200, deadline=None)
@given(
    common=st.text(
        alphabet=st.characters(min_codepoint=97, max_codepoint=122),
        min_size=K + W - 1,
        max_size=60,
    ),
    pre1=_LOWER,
    suf1=_LOWER,
    pre2=_LOWER,
    suf2=_LOWER,
)
def test_winnow_guarantee_holds_for_arbitrary_strings(
    common, pre1, suf1, pre2, suf2
):
    """Schleimer et al.'s theorem, property-tested: two strings sharing
    ANY substring of length >= k + w - 1 share at least one winnowed
    print (a full window of gram hashes lies inside the common region,
    and its minimum is selected on both sides)."""
    a = _py_prints(pre1 + common + suf1)
    b = _py_prints(pre2 + common + suf2)
    assert set(a) & set(b), (pre1, common, suf1, pre2, suf2)


def test_arrow_prints_equal_hof_prints(spark, sf0001_dir):
    """The Arrow-batched pass must be byte-identical to the HOF form --
    same hashes (md5 over utf-8), same winnow minima, same
    first-occurrence dedup order -- including empty/short/NULL texts."""
    docs = load_table(spark, sf0001_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(10**9, None), (10**9 + 1, ""), (10**9 + 2, "short"),
         (10**9 + 3, "exactly8"), (10**9 + 4, "UPPER case Text 123")],
        "doc_id long, text string",
    )
    both = docs.unionByName(extra)
    hof = {r["doc_id"]: list(r["prints"])
           for r in dedup.winnow_prints(both).collect()}
    arrow = {r["doc_id"]: list(r["prints"])
             for r in dedup.winnow_prints_arrow(both).collect()}
    assert hof == arrow


import pytest  # noqa: E402  (appended section: unicode boundary pins)

#: adversarial unicode inputs, each long enough (>= K + W - 1 = 11
#: codepoints) to produce prints.  These pin the docstring's two
#: arguments as fixtures: (1) lowercasing happens JVM-side in BOTH
#: impls, so locale-sensitive folds (Turkish dotted capital I U+0130 ->
#: 'i' + U+0307 under the full mapping both Python and the JVM apply)
#: can never diverge between them; (2) astral-plane chars (4-byte UTF-8,
#: UTF-16 surrogate pairs) count as ONE position in both Spark's
#: codepoint-based substr/length and Python slicing, so gram boundaries
#: line up even when byte- and UTF-16-lengths disagree.
UNICODE_ADVERSARIAL = [
    pytest.param("İstanbul İİ DOTTED İ istanbul", id="turkish-dotted-I"),
    pytest.param("😀😁😂🤣😃 astral 😀 plane 𝕊𝕡𝕒𝕣𝕜 grams", id="astral-emoji"),
    pytest.param("Naïve CAFÉ Straße ДАННЫЕ 中文文本处理", id="bmp-mixed"),
    pytest.param("a😀" * 8, id="alternating-ascii-astral"),
]


@pytest.mark.parametrize("text", UNICODE_ADVERSARIAL)
def test_winnow_impls_agree_on_unicode_boundaries(spark, text):
    """HOF and Arrow prints byte-identical (values AND first-occurrence
    order) on locale-fold and astral-slicing adversaries, and both match
    the pure-Python recompute (Python lower == JVM lower on these)."""
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    [hof] = dedup.winnow_prints(df).collect()
    [arrow] = dedup.winnow_prints_arrow(df).collect()
    assert list(hof["prints"]) == list(arrow["prints"])
    assert hof["prints"], f"adversarial input produced no prints: {text!r}"
    assert sorted(set(hof["prints"])) == _py_prints(text)
