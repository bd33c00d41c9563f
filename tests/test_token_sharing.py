"""The token table is the one input of every word-token operator: NULL,
empty and whitespace-only text must tokenize to the empty array and
leave each consumer's rows for those documents exactly as pinned here
(size() = 0 vs -1 is exactly the class the adversarial sweep exists
for)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_dataset_analysis_apache_hive_spark.operators import dedup, textops

#: NULL text, empty, whitespace-only, sub-n-gram short docs, repeats
#: (so the scrub heavy set and colloc min-count legs are non-empty),
#: and an odd/even doc_id mix for the two-sided d7 operators.
_ROWS = [
    (0, "the quick brown fox jumps over the lazy dog again and again", "src0"),
    (1, "the quick brown fox jumps over the lazy dog again and again", "src1"),
    (2, "the quick brown fox jumps over the lazy dog once more", "src0"),
    (3, None, "src1"),
    (4, "", "src0"),
    (5, "   \t  ", None),
    (6, "one", "src2"),
    (7, "dup dup join query spark scan filter column sort merge window", "src0"),
    (8, "dup hash group scan filter column sort merge window dup", "src1"),
    (9, "a b a b a b a b a b a b", "src2"),
]

#: the NULL, empty and whitespace-only documents
_EDGE = (3, 4, 5)
_MD5_EMPTY = "d41d8cd98f00b204e9800998ecf8427e"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_ROWS, "doc_id long, text string, source string")


@pytest.fixture(scope="module")
def tt(docs):
    return dedup.token_table(docs, keep=("source",))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_token_table_keep_carries_payload(docs, tt):
    assert tt.columns == ["doc_id", "source", "toks"]
    base = _rows(docs.select("doc_id", "source"))
    assert _rows(tt.select("doc_id", "source")) == base


def _sides(op):
    """A two-sided operator over the even (corpus) / odd (probe) split."""
    return lambda t: op(
        t.filter(F.col("doc_id") % 2 == 0), t.filter(F.col("doc_id") % 2 == 1)
    )


#: (consumer, scope, rows).  scope "doc": the consumer runs over the
#: whole corpus and the rows are those whose doc_id (or corpus_id /
#: probe_id) is an edge document.  scope "edge": the consumer has no
#: doc_id column, so it runs over the three edge documents alone.  The
#: rows were captured while each consumer still also accepted raw
#: documents, where both inputs returned exactly these rows.
_CASES = {
    "term_frequencies": (textops.term_frequencies, "doc", []),
    "vocabulary": (
        lambda t: textops.vocabulary(textops.term_frequencies(t)),
        "edge",
        [],
    ),
    "tfidf_top_terms": (lambda t: textops.tfidf_top_terms(t, k=3), "doc", []),
    "ngram_lm_scores": (
        textops.ngram_lm_scores,
        "doc",
        [(3, 0, 0, None), (4, 0, 0, None), (5, 0, 0, None)],
    ),
    "linear_probe_scores": (
        textops.linear_probe_scores,
        "doc",
        [(3, 0, 0, 0.2341), (4, 0, 1, 0.2341), (5, 0, 0, 0.2341)],
    ),
    "linear_probe_weights": (
        textops.linear_probe_weights,
        "edge",
        [(None, None, None)],
    ),
    "chunk_documents": (
        lambda t: textops.chunk_documents(t, chunk_tokens=4, stride=3),
        "doc",
        [],
    ),
    "boilerplate_scrub": (
        lambda t: dedup.boilerplate_scrub(t, ngram_n=5, min_docs=2),
        "doc",
        [(d, 0, 0, 0, _MD5_EMPTY) for d in _EDGE],
    ),
    "bm25_term_scores": (
        lambda t: textops.bm25_term_scores(t, ["dup", "join", "fox"]),
        "doc",
        [],
    ),
    "unigram_counts": (textops.unigram_counts, "edge", []),
    "collocation_scores": (textops.collocation_scores, "edge", []),
    "windowed_collocation_scores": (
        lambda t: textops.windowed_collocation_scores(t, window=3),
        "edge",
        [],
    ),
    "minhash": (
        _sides(
            lambda c, p: dedup.cross_corpus_minhash_pairs(
                c, p, jaccard_threshold=0.2
            )
        ),
        "doc",
        [],
    ),
    "overlap": (
        _sides(
            lambda c, p: dedup.ngram_overlap_contamination(
                c, p, ngram_n=5, threshold=0.2
            )
        ),
        "doc",
        [(3, 0, 0, None, False), (5, 0, 0, None, False)],
    ),
    "spans": (
        _sides(
            lambda c, p: dedup.cross_corpus_span_contamination(
                c, p, window=3, min_span=6
            )
        ),
        "doc",
        [],
    ),
}


@pytest.mark.parametrize("name", list(_CASES))
def test_edge_document_rows_pinned(tt, name):
    op, scope, want = _CASES[name]
    if scope == "edge":
        assert _rows(op(tt.filter(F.col("doc_id").isin(*_EDGE)))) == want
        return
    out = op(tt)
    ids = [c for c in ("doc_id", "corpus_id", "probe_id") if c in out.columns]
    edge = F.lit(False)
    for c in ids:
        edge = edge | F.col(c).isin(*_EDGE)
    assert _rows(out.filter(edge)) == want
