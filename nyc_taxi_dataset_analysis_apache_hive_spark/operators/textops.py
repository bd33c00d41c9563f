"""Text-analysis operators over the ``documents`` table.

Language-ID (stopword heuristic), quality scoring, token counting, and
fingerprinting -- the per-document featurisation stage of a training-data
pipeline.  All narrow (no shuffle): scan -> project, perfectly parallel at
any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.localrel import inline_rows
from ..functions.text import (
    STOPWORDS,
    fingerprint_md5,
    punct_ratio,
    stopword_hits_from_tokens,
    token_count_bpe,
    token_count_ws,
    tokens,
)


def _composite_quality(n_tok_d, sw_ratio, pr):
    """The one definition of the composite quality score (bounded weighted
    sum of length, stopword, and punctuation signals) -- shared by the
    standalone ``quality_scores`` and the fused ``text_profile`` so the two
    can never drift (equivalence-tested in tests/test_approx_gates.py)."""
    return (
        F.least(n_tok_d / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.least(sw_ratio * 5, F.lit(1.0)) * 0.3
        + (1 - F.least(pr * 10, F.lit(1.0))) * 0.3
    )


def _trunc4(col):
    """4-decimal TRUNCATION via pure IEEE arithmetic: floor(x*1e4)/1e4.

    Used for ``quality_score`` instead of ``round(x, 4)`` because the
    0.4/0.3/0.3 weights over nice token counts synthesize values sitting
    EXACTLY on a decimal half boundary (e.g. n_tokens=96, 10 stopword
    hits -> 0.384 + 5/32 + 0.3 = 0.84025), where decimal-rounding
    functions legitimately diverge across engines: Spark's round() works
    on the exact binary expansion (0.84024999...), DuckDB's on the
    shortest decimal representation (0.84025) -- observed 0.8402 vs
    0.8403 at sf0.1.  floor(x*1e4)/1e4 is the same IEEE multiply/floor/
    divide everywhere, so identical input doubles give identical output
    in every engine.

    The ``+ 1e-7`` nudge keeps truncation from undershooting a full
    bucket when the exact decimal value sits ON a 1e-4 boundary but its
    binary expansion lands just below (0.3 computed as 0.2999999999...93
    would otherwise truncate to 0.2999, not 0.3000).  1e-7 is three
    decimal orders below the bucket width, so it can never promote a
    value that is genuinely inside a bucket; it must appear IDENTICALLY
    in this function and in the registry's DuckDB oracles or parity
    breaks."""
    return F.floor(col * 10000.0 + 1e-7) / 10000.0


def _lang_pred(langs: list[str], hits: dict):
    """The one definition of the language-ID argmax with deterministic
    tie-break (ascending language code; 'und' on zero hits) -- shared by
    ``lang_id`` and ``text_profile``."""
    best = F.greatest(*[hits[lang] for lang in langs])
    pred = F.when(best == 0, "und")
    for lang in langs:  # first (ascending) language achieving the max wins
        pred = pred.when(hits[lang] == best, lang)
    return pred


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace and BPE-ish token counts per document."""
    return docs.select(
        "doc_id",
        token_count_ws("text").alias("n_tokens_ws"),
        token_count_bpe("text").alias("n_tokens_bpe"),
        F.length("text").cast("long").alias("n_chars"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + a composite score per document.

    Features: char length, token count, mean token length, punctuation
    ratio, English-stopword ratio.  The composite is a simple bounded sum --
    a placeholder for a learned quality model, but the *shape* (narrow
    projection producing a float score column) is the production shape.
    """
    # Tokenize ONCE in its own projection (PERF note on ngrams_from_tokens);
    # every feature below reads the materialized array/counts.  NULL text
    # scores as '' (0 tokens, 0 chars) here and in the DuckDB oracles.
    toked = docs.select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        tokens(F.coalesce(F.col("text"), F.lit(""))).alias("toks"),
    )
    n_tok = F.size("toks").cast("long")
    n_chars = F.length("text").cast("double")
    mean_tok_len = n_chars / F.nullif(n_tok.cast("double"), F.lit(0.0))
    sw_ratio = stopword_hits_from_tokens(F.col("toks"), "en") / F.nullif(
        n_tok.cast("double"), F.lit(0.0)
    )
    pr = F.coalesce(punct_ratio("text"), F.lit(0.0))
    score = _composite_quality(
        n_tok.cast("double"), F.coalesce(sw_ratio, F.lit(0.0)), pr
    )
    return toked.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
        F.round(pr, 4).alias("punct_ratio"),
        F.round(F.coalesce(sw_ratio, F.lit(0.0)), 4).alias("stopword_ratio"),
        _trunc4(score).alias("quality_score"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """N-gram/stopword language-ID heuristic: argmax stopword hits.

    Computes a hit count per candidate language and takes the argmax with a
    deterministic tie-break (language code ascending, 'und' when no hits).
    """
    langs = sorted(STOPWORDS)
    toked = docs.select("doc_id", "lang", tokens("text").alias("toks"))
    hit_cols = [
        stopword_hits_from_tokens(F.col("toks"), lang).alias(f"hits_{lang}")
        for lang in langs
    ]
    scored = toked.select("doc_id", F.col("lang").alias("lang_true"), *hit_cols)
    pred = _lang_pred(langs, {lang: F.col(f"hits_{lang}") for lang in langs})
    return scored.select("doc_id", "lang_true", pred.alias("lang_pred"))


def fingerprints(docs: DataFrame) -> DataFrame:
    """md5 fingerprint of normalized text per document."""
    return docs.select("doc_id", fingerprint_md5("text").alias("fingerprint"))


def term_frequencies(toks: DataFrame) -> DataFrame:
    """(doc_id, token, tf): per-document term counts of a
    :func:`~..operators.dedup.token_table` frame -- the input of
    :func:`vocabulary` AND the tf relation of :func:`tfidf_top_terms`
    (identical grouping, one spelling).  A caller running both over one
    corpus computes this once (one lazy cut) and feeds it to each -- one
    explode+aggregate instead of two (the tv1 shared pass)."""
    return (
        toks.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def vocabulary(tf: DataFrame, min_count: int = 1) -> DataFrame:
    """Corpus vocabulary: (token, count, doc_freq) sorted by count desc,
    from a :func:`term_frequencies` relation (doc_id, token, tf).

    Two hash-aggregates because doc_freq needs per-document distinctness:
    stage 1 (the tf relation) groups by (doc_id, token) -- partial
    aggregation collapses within-document repeats map-side, so the
    shuffle carries O(distinct (doc, token) pairs), the same volume a
    countDistinct(doc_id) rewrite would shuffle; stage 2 (here)
    re-aggregates by token alone (tiny).  This is the upstream stats
    pass for stop-token lists and the ``max_doc_freq`` heavy-hitter cap
    in dedup.ngram_jaccard_pairs.
    """
    return (
        tf.groupBy("token")
        .agg(
            F.sum("tf").alias("count"),
            F.count(F.lit(1)).alias("doc_freq"),
        )
        .filter(F.col("count") >= min_count)
        .orderBy(F.col("count").desc(), F.col("token").asc())
    )


def tfidf_top_terms(
    toks: DataFrame,
    k: int = 5,
    *,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF:
    (doc_id, token, tf, tfidf, rank).

    tf = in-document count; idf = ln(N / doc_freq); ranking by rounded
    tfidf desc with token tie-break for cross-run determinism.  All
    distributed: the corpus size N arrives via a broadcast 1-row cross
    join (never a driver-side collect), doc-frequencies by one token
    aggregate, and the top-k by a per-document window.  The token-keyed
    join is linear in corpus tokens -- stop-token skew degrades to a large
    (AQE-splittable) hash join, never a product.

    The tf frame is cut with a lazy ``localCheckpoint``: doc-frequencies
    derive from it, so the join would otherwise re-run the dominant
    tokenize + explode + (doc, token) aggregation a second time (column
    pruning makes the two subtrees non-identical, so exchange reuse does
    not apply).  The cut materializes inside the caller's first action
    and belongs to the returned plan alone; the tf frame is the compact
    (doc, token, count) relation -- far smaller than the corpus text.

    ``toks`` is the :func:`~..operators.dedup.token_table` frame (one
    row per document, so it also gives the corpus size N).  ``tf=``: a
    precomputed (already cut) :func:`term_frequencies` relation replaces
    the tf subtree entirely.
    """
    if tf is None:
        tf = term_frequencies(toks).localCheckpoint(eager=False)
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    total = toks.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs") / F.col("doc_freq").cast("double")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "tfidf", "rank")
    )


#: PII patterns.  Deliberately simple/auditable: recall-oriented screens,
#: not a compliance system -- the docstring owns the caveat.  Order
#: matters TWICE: emails redact first so their dots/digits can't
#: half-match the later patterns, and each stage COUNTS on the previous
#: stage's output, so a span only ever counts as the first pattern that
#: claims it (an IPv4 is n_ip=1, never also n_phone=1).
#:
#: Every pattern runs VERBATIM on both regex engines in play -- Java
#: (the Spark DataFrame operator) and RE2 (the DuckDB driver oracle) -- so
#: no lookarounds (RE2 lacks them).  Entries are
#: ``(name, pattern, replacement, count_group)``: counts take
#: ``regexp_extract_all(text, pattern, count_group)`` and redaction
#: replaces with ``replacement`` (which may carry ``$n`` backreferences
#: to restore consumed boundary characters -- Spark-side only; the
#: oracle never redacts phones, it only counts group matches).
PII_PATTERNS: list[tuple[str, str, str, int]] = [
    (
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
        0,
    ),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>", 0),
    # Phone boundaries without lookarounds: the LEADING "not preceded by
    # digit/dot" guard is a consumed-and-restored capture (group 1, put
    # back by $1); the TRAILING "not followed by a digit" guard is
    # automatic under greedy matching (a following digit would have
    # extended the match).  Net semantics change vs the old lookahead:
    # a digit run followed by '.' now matches (sentence-final phones
    # redact -- a recall gain the screens want anyway).
    # Intra-number whitespace is HORIZONTAL only ([ \t], not \s): \s would
    # match newlines, so digit runs on consecutive lines (numeric tables)
    # would collapse into one cross-line <PHONE> redaction.
    ("phone", r"(\A|[^\d.])(\+?\d[\d\- \t().]{7,}\d)", "$1<PHONE>", 2),
]


def _count0(col: Column, pat: str, group: int = 0) -> Column:
    """Match count with NULL text counting as 0 (never the legacy -1
    sentinel size() can emit for NULL arrays under non-ANSI confs)."""
    return F.greatest(
        F.coalesce(
            F.size(F.regexp_extract_all(col, F.lit(pat), group)), F.lit(0)
        ),
        F.lit(0),
    ).cast("long")


def _pii_staged(base: DataFrame, text_attr: str) -> DataFrame:
    """Chained redaction stages over a materialized text attribute: stage i
    counts pattern i on the (i-1)-times-redacted text, then redacts it.
    Each stage reads the previous stage's ATTRIBUTE (not a re-inlined
    expression), so counts reflect exactly what the redaction saw.
    Adds n_<name> columns and ``_t<n>`` (the fully redacted text)."""
    staged = base.withColumnRenamed(text_attr, "_t0")
    for i, (name, pat, token, group) in enumerate(PII_PATTERNS):
        staged = staged.select(
            "*",
            _count0(F.col(f"_t{i}"), pat, group).alias(f"n_{name}"),
            F.regexp_replace(F.col(f"_t{i}"), pat, token).alias(f"_t{i + 1}"),
        ).drop(f"_t{i}")
    return staged


def _lines_col(text: Column) -> Column:
    """Trimmed non-empty lines array.  Splits on ``\\r?\\n`` (CRLF-safe --
    Spark ``trim`` strips spaces only, so a bare ``\\r`` would survive and
    count as a non-empty line) and treats NULL text as no lines."""
    return F.filter(
        F.transform(
            F.split(F.coalesce(text, F.lit("")), r"\r?\n"), lambda x: F.trim(x)
        ),
        lambda x: x != "",
    )


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing stage: (doc_id, text_redacted, n_email, n_ip, n_phone).

    Emails, IPv4 addresses, and phone-number-shaped digit runs are replaced
    by typed placeholder tokens; per-document match counts ride along so the
    pipeline can route heavy-PII documents to review instead of silently
    scrubbing them.  Counts are PER STAGE on the progressively redacted
    text, so each span counts once under the first pattern that claims it;
    NULL text yields NULL ``text_redacted`` with zero counts.  All JVM-side
    (``regexp_extract_all`` for counts, chained ``regexp_replace`` for the
    rewrite) -- a narrow map, no shuffle.

    Scope caveat: these are auditable recall-oriented screens (the standard
    pre-training hygiene pass), NOT a compliance-grade PII system -- names,
    addresses, and exotic formats need a learned tagger at the marked
    pattern list.
    """
    staged = _pii_staged(
        docs.select("doc_id", F.col(text_col).alias("_raw")), "_raw"
    )
    n = len(PII_PATTERNS)
    return staged.select(
        "doc_id",
        F.col(f"_t{n}").alias("text_redacted"),
        *[f"n_{name}" for name, *_ in PII_PATTERNS],
    )


def _repetition_cols() -> list[Column]:
    """The C4/Gopher fraction columns over a materialized ``lines``
    attribute -- shared by the standalone and fused featurisers."""
    n_lines = F.size("lines")
    nd = n_lines.cast("double")
    dup_frac = F.when(
        n_lines > 0, 1.0 - F.size(F.array_distinct("lines")) / nd
    ).otherwise(0.0)

    def line_frac(pred):
        return F.when(
            n_lines > 0, F.size(F.filter(F.col("lines"), pred)) / nd
        ).otherwise(0.0)

    return [
        n_lines.cast("long").alias("n_lines"),
        F.round(dup_frac, 4).alias("dup_line_frac"),
        F.round(line_frac(lambda x: x.rlike('[.!?"”]$')), 4).alias(
            "terminal_punct_line_frac"
        ),
        F.round(line_frac(lambda x: x.rlike(r"^[-*•]")), 4).alias(
            "bullet_line_frac"
        ),
        F.round(line_frac(lambda x: x.rlike(r"\.\.\.$")), 4).alias(
            "ellipsis_line_frac"
        ),
    ]


def repetition_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """C4/Gopher-style structural repetition + formatting signals per
    document: (doc_id, n_lines, dup_line_frac, terminal_punct_line_frac,
    bullet_line_frac, ellipsis_line_frac).

    The standard public corpus-filter rules (C4 drops lines without
    terminal punctuation and pages with boilerplate repetition; Gopher
    bounds duplicate-line fractions).  Everything derives from ONE CRLF-safe
    split of the text into trimmed non-empty lines, materialized in its own
    projection (the multiply-referenced-non-cheap-expression rule), then
    array HOFs -- narrow, shuffle-free, JVM-side.  NULL text = zero lines.
    """
    lined = docs.select("doc_id", _lines_col(F.col(text_col)).alias("lines"))
    return lined.select("doc_id", *_repetition_cols())


def hygiene_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition + PII signals fused into ONE corpus scan:
    (doc_id, n_lines, dup_line_frac, terminal_punct_line_frac,
    bullet_line_frac, ellipsis_line_frac, n_email, n_ip, n_phone,
    text_redacted).

    The same fusion argument as :func:`text_profile`: the curation pipeline
    wants both signal families, and separately they re-read (and re-split)
    the corpus.  Equivalent to joining :func:`repetition_features` and
    :func:`redact_pii` (equivalence-tested), minus one scan and one
    doc_id shuffle join.
    """
    base = docs.select(
        "doc_id",
        F.col(text_col).alias("_raw"),
        _lines_col(F.col(text_col)).alias("lines"),
    )
    staged = _pii_staged(base, "_raw")
    n = len(PII_PATTERNS)
    return staged.select(
        "doc_id",
        *_repetition_cols(),
        *[f"n_{name}" for name, *_ in PII_PATTERNS],
        F.col(f"_t{n}").alias("text_redacted"),
    )


def text_profile(docs: DataFrame, include_hygiene: bool = False) -> DataFrame:
    """The full per-document featurisation stage in ONE scan: token counts,
    fingerprint, quality features + composite score, and language ID.

    At 100 TB this is the shape that matters: each of the four featurisers
    above re-reads (and re-tokenizes) the corpus; a training-data pipeline
    runs them together, so the fused operator tokenizes once and computes
    every feature from the materialized token array.  Still a narrow
    projection -- no shuffle, perfectly parallel.

    ``include_hygiene=True`` fuses :func:`hygiene_features`'s columns
    (C4/Gopher repetition fractions + staged PII counts + the redacted
    text) into the SAME scan -- the curation pipeline wants every
    per-document signal family, and separately-run featurisers re-read the
    corpus once each.  Equivalence with the standalone operators is
    pytest-gated (tests/test_text_hygiene.py).
    """
    langs = sorted(STOPWORDS)
    # NULL text featurizes as the empty document (0 tokens, 0 hits,
    # 'und') while the identity-ish columns (n_chars, fingerprint) stay
    # NULL-preserving -- the quality_scores policy, applied here because
    # size(NULL) = -1 would otherwise leak into n_tokens_ws / lang_pred /
    # quality_score on NULL-text docs (the adversarial sweep's find).
    head = [
        "doc_id",
        "lang",
        "text",
        tokens(F.coalesce(F.col("text"), F.lit(""))).alias("toks"),
    ]
    if include_hygiene:
        head += [
            _lines_col(F.col("text")).alias("lines"),
            F.col("text").alias("_raw"),
        ]
    toked = docs.select(*head)
    hygiene_cols: list[Column] = []
    if include_hygiene:
        toked = _pii_staged(toked, "_raw")
        hygiene_cols = [
            *_repetition_cols(),
            *[F.col(f"n_{name}") for name, *_ in PII_PATTERNS],
            F.col(f"_t{len(PII_PATTERNS)}").alias("text_redacted"),
        ]
    # Materialize the per-language hit counts (and the token count) in their
    # own projection: each is re-referenced below, and CollapseProject would
    # otherwise inline the non-cheap array filters once per reference.
    base = toked.select(
        "doc_id",
        "lang",
        "text",
        F.size("toks").cast("long").alias("n_tokens_ws"),
        token_count_bpe("text").alias("n_tokens_bpe"),
        F.length("text").cast("long").alias("n_chars"),
        fingerprint_md5("text").alias("fingerprint"),
        F.coalesce(punct_ratio("text"), F.lit(0.0)).alias("pr"),
        *[
            stopword_hits_from_tokens(F.col("toks"), lang).alias(f"hits_{lang}")
            for lang in langs
        ],
        *hygiene_cols,
    )
    n_tok_d = F.col("n_tokens_ws").cast("double")
    sw_ratio = F.coalesce(
        F.col("hits_en") / F.nullif(n_tok_d, F.lit(0.0)), F.lit(0.0)
    )
    score = _composite_quality(n_tok_d, sw_ratio, F.col("pr"))
    pred = _lang_pred(langs, {lang: F.col(f"hits_{lang}") for lang in langs})
    return base.select(
        "doc_id",
        "n_tokens_ws",
        "n_tokens_bpe",
        "n_chars",
        "fingerprint",
        F.round(
            F.col("n_chars").cast("double") / F.nullif(n_tok_d, F.lit(0.0)), 4
        ).alias("mean_token_len"),
        F.round("pr", 4).alias("punct_ratio"),
        F.round(sw_ratio, 4).alias("stopword_ratio"),
        _trunc4(score).alias("quality_score"),
        F.col("lang").alias("lang_true"),
        pred.alias("lang_pred"),
        *(
            [
                "n_lines",
                "dup_line_frac",
                "terminal_punct_line_frac",
                "bullet_line_frac",
                "ellipsis_line_frac",
                *[f"n_{name}" for name, *_ in PII_PATTERNS],
                "text_redacted",
            ]
            if include_hygiene
            else []
        ),
    )


def _micro6(col: Column) -> Column:
    """6-decimal truncation to exact BIGINT micro-units:
    ``floor(x * 1e6 + 1e-9)``.

    Why integers: per-token log-probabilities must be SUMMED per document,
    and a sum of doubles is addition-order dependent -- Spark's partial
    aggregates and DuckDB's single-threaded fold would drift in the last
    ulps, which the oracle's value hash cannot tolerate.  Quantizing each
    term to an exact integer first makes the sum associative/commutative
    and therefore bit-identical in any engine and any partitioning.  The
    ``+ 1e-9`` nudge mirrors :func:`_trunc4`'s boundary rule at the 1e-6
    grid (three decimal orders below the bucket, so it can never promote
    an interior value)."""
    return F.floor(col * 1000000.0 + 1e-9).cast("long")


def ngram_lm_scores(toks: DataFrame) -> DataFrame:
    """Bigram language-model scoring: train on the corpus (a
    :func:`~..operators.dedup.token_table` frame), score every
    document -- the CCNet-style "perplexity as a quality signal" stage
    (Wenzek et al. 2020 use a KenLM 5-gram; the distributed shape --
    count tables + one join per order -- is the same at any order).

    Model: add-one-smoothed bigram LM estimated from the corpus itself,
    ``logp(w2 | w1) = ln((c2(w1,w2) + 1) / (c1(w1) + V))`` with V the
    corpus vocabulary size.  Per document the score is the mean
    transition log-probability (higher = more typical of the corpus; a
    perplexity is just ``exp(-score)``).

    Distributed shape, token table to result:
      1. The token table carries the token array.
      2. Unigram counts ``c1`` and vocab size V: hash-aggregate over the
         exploded tokens (map-side partial combine carries distinct
         tokens per partition).
      3. Bigram counts ``c2``: hash-aggregate over the per-doc transition
         structs.
      4. Scoring: transitions equi-join ``c2`` on (prev, cur) and ``c1``
         on prev -- both plain shuffle hash joins keyed by token text
         (Catalyst broadcasts them when small; neither is ever collected)
         -- then one groupBy(doc_id) mean.
    Nothing is all-pairs and no state lives on the driver, so the same
    plan holds at any corpus size; the count tables are the only state
    and they grow with the VOCABULARY, not the corpus.

    Determinism across engines: each transition's log-probability is a
    fixed expression over integers (exact in both engines up to the final
    ``ln``), truncated to BIGINT micro-units (:func:`_micro6`) BEFORE the
    per-document sum, so the aggregate is exact integer arithmetic --
    immune to partitioning/order -- and the final
    ``avg = (sum_micro / 1e6) / n_transitions`` is one deterministic
    double expression, reported through :func:`_trunc4`.

    Returns (doc_id, n_tokens, n_transitions, avg_logprob); documents
    with fewer than 2 tokens have n_transitions = 0 and NULL score.
    """
    toked = toks.select("doc_id", F.col("toks").alias("t"))
    trans = toked.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.explode_outer(
            F.when(
                F.size("t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), i).alias("prev"),
                        F.element_at(F.col("t"), i + 1).alias("cur"),
                    ),
                ),
            ).otherwise(
                F.lit(None).cast("array<struct<prev:string,cur:string>>")
            )
        ).alias("bg"),
    )
    tok = toked.select(F.explode("t").alias("token"))
    c1 = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c1"))
    vocab_n = c1.agg(F.count(F.lit(1)).cast("long").alias("v"))
    scored_trans = (
        trans.filter(F.col("bg").isNotNull())
        .join(
            trans.filter(F.col("bg").isNotNull())
            .groupBy("bg")
            .agg(F.count(F.lit(1)).alias("c2")),
            on="bg",
        )
        .join(c1, F.col("bg.prev") == F.col("token"))
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "doc_id",
            "n_tokens",
            _micro6(
                F.log(
                    (F.col("c2") + F.lit(1)).cast("double")
                    / (F.col("c1") + F.col("v")).cast("double")
                )
            ).alias("lp_micro"),
        )
    )
    per_doc = scored_trans.groupBy("doc_id", "n_tokens").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.sum("lp_micro").alias("sum_micro"),
    )
    short = trans.filter(F.col("bg").isNull()).select(
        "doc_id",
        "n_tokens",
        F.lit(0).cast("long").alias("n_transitions"),
        F.lit(None).cast("long").alias("sum_micro"),
    )
    return per_doc.unionByName(short).select(
        "doc_id",
        "n_tokens",
        "n_transitions",
        _trunc4(
            (F.col("sum_micro").cast("double") / F.lit(1000000.0))
            / F.col("n_transitions").cast("double")
        ).alias("avg_logprob"),
    )


#: the probe's feature/label definitions -- ONE definition shared by the
#: Spark operator and mirrored verbatim in the registry oracle so the
#: two cannot drift.
PROBE_LABEL_SOURCE = "src0"


def _probe_features(toks: DataFrame) -> DataFrame:
    """Per-document (x1, x2, y) for the linear probe, each feature
    truncated to the 1e-4 grid (:func:`_trunc4`) so it is representable
    EXACTLY as DECIMAL(14,4) -- the precondition for the exact-decimal
    normal-equation sums in :func:`linear_probe_scores`.  ``toks`` is a
    token table CARRYING ``source`` (token_table's ``keep=`` -- the
    label column rides the checkpoint)."""
    n_tok = F.size("toks").cast("long")
    n_tok_d = n_tok.cast("double")
    sw_ratio = F.coalesce(
        stopword_hits_from_tokens(F.col("toks"), "en")
        / F.nullif(n_tok_d, F.lit(0.0)),
        F.lit(0.0),
    )
    return toks.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        _trunc4(F.least(n_tok_d / F.lit(100.0), F.lit(1.0))).alias("x1"),
        _trunc4(sw_ratio).alias("x2"),
        F.when(F.col("source") == PROBE_LABEL_SOURCE, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("y"),
    )


def linear_probe_scores(
    toks: DataFrame, weights: DataFrame | None = None
) -> DataFrame:
    """Closed-form linear quality probe: least-squares fit of a
    source-membership label on two text features, trained AND applied in
    one distributed job (the fastText-classifier slot of a curation
    pipeline -- e.g. GPT-3's WebText-vs-CommonCrawl quality filter --
    reduced to its linear-probe core so it stays a pure DataFrame
    program).

    Features x1 = min(n_tokens/100, 1), x2 = English-stopword ratio
    (both 1e-4-truncated); label y = 1 iff source == 'src0'.  The normal
    equations ``(X'X) w = X'y`` for [1, x1, x2] need nine sums; with the
    features exact on the 1e-4 grid the sums are computed in DECIMAL
    (products exact at scale 8), so they are EXACT integers under the
    hood -- independent of partitioning and engine -- and one Cramer
    solve expressed as a fixed double expression yields bit-identical
    weights everywhere.  The weights row is broadcast-joined back onto
    the corpus for scoring: train = one aggregate, apply = one narrow
    projection; no driver-side state, no collect, no iteration.

    Returns per-document (doc_id, n_tokens, y, yhat) with
    ``yhat = w0 + w1 x1 + w2 x2`` (1e-4-truncated), plus the fitted
    weights exposed via :func:`linear_probe_weights`.  Pass ``weights``
    (a (w0, w1, w2) one-row frame) to score with an already-fitted
    probe -- the registry does this so training runs once for both the
    score and weight surfaces.  ``toks``: see :func:`_probe_features`.
    """
    feats = _probe_features(toks)
    w = _probe_weights_row(feats) if weights is None else weights
    return feats.crossJoin(F.broadcast(w)).select(
        "doc_id",
        "n_tokens",
        "y",
        _trunc4(
            F.col("w0")
            + F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2")
        ).alias("yhat"),
    )


def _probe_weights_row(feats: DataFrame) -> DataFrame:
    """One-row DataFrame (w0, w1, w2): exact-decimal normal-equation sums
    -> double -> Cramer's rule, as ONE fixed expression tree (identical
    text in the DuckDB oracle)."""
    d4 = "decimal(14,4)"
    x1d, x2d = F.col("x1").cast(d4), F.col("x2").cast(d4)
    yd = F.col("y").cast("decimal(14,4)")
    sums = feats.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x1d).cast("double").alias("a"),
        F.sum(x2d).cast("double").alias("b"),
        F.sum(x1d * x1d).cast("double").alias("c"),
        F.sum(x1d * x2d).cast("double").alias("d"),
        F.sum(x2d * x2d).cast("double").alias("e"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(x1d * yd).cast("double").alias("s1y"),
        F.sum(x2d * yd).cast("double").alias("s2y"),
    )
    det = (
        F.col("n") * (F.col("c") * F.col("e") - F.col("d") * F.col("d"))
        - F.col("a") * (F.col("a") * F.col("e") - F.col("d") * F.col("b"))
        + F.col("b") * (F.col("a") * F.col("d") - F.col("c") * F.col("b"))
    )
    w0 = (
        F.col("sy") * (F.col("c") * F.col("e") - F.col("d") * F.col("d"))
        - F.col("a") * (F.col("s1y") * F.col("e") - F.col("d") * F.col("s2y"))
        + F.col("b") * (F.col("s1y") * F.col("d") - F.col("c") * F.col("s2y"))
    ) / det
    w1 = (
        F.col("n") * (F.col("s1y") * F.col("e") - F.col("s2y") * F.col("d"))
        - F.col("sy") * (F.col("a") * F.col("e") - F.col("b") * F.col("d"))
        + F.col("b") * (F.col("a") * F.col("s2y") - F.col("b") * F.col("s1y"))
    ) / det
    w2 = (
        F.col("n") * (F.col("c") * F.col("s2y") - F.col("d") * F.col("s1y"))
        - F.col("a") * (F.col("a") * F.col("s2y") - F.col("b") * F.col("s1y"))
        + F.col("sy") * (F.col("a") * F.col("d") - F.col("b") * F.col("c"))
    ) / det
    return sums.select(w0.alias("w0"), w1.alias("w1"), w2.alias("w2"))


def linear_probe_weights(toks: DataFrame) -> DataFrame:
    """The fitted probe weights as one (w0, w1, w2) row -- the training
    half of :func:`linear_probe_scores`, exposed for inspection.
    ``toks``: see :func:`_probe_features`."""
    return _probe_weights_row(_probe_features(toks))


def chunk_documents(
    toks: DataFrame, chunk_tokens: int = 32, stride: int = 24
) -> DataFrame:
    """Sliding-window document chunking: the embedding/RAG-pipeline
    primitive that splits long documents into overlapping token windows
    (``stride < chunk_tokens`` overlaps adjacent chunks so no span is
    cut mid-context; ``stride == chunk_tokens`` partitions exactly).

    One narrow pass over a :func:`~..operators.dedup.token_table`
    frame: ``sequence(1, n, stride)`` of window starts (guarded:
    Spark's sequence would COUNT DOWN on an empty doc) -> explode ->
    per-chunk slice/rebuild with array HOFs.  No shuffle,
    no UDF; at 100 TB this is a pure map stage whose output feeds the
    embedding encoder.

    ``chunk_idx`` is derived arithmetically as ``(start - 1) / stride``
    rather than by position-of-explode, so the value is independent of
    row order and identical in the SQL oracle.  Returns
    (doc_id, chunk_idx, start_token, n_tokens, chunk_fp, chunk_text);
    documents with zero tokens produce no chunks.
    """
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    toked = toks.select("doc_id", F.col("toks").alias("t"))
    starts = toked.select(
        "doc_id",
        "t",
        F.explode(
            F.when(
                F.size("t") >= 1,
                F.sequence(F.lit(1), F.size("t"), F.lit(stride)),
            ).otherwise(F.lit(None).cast("array<int>"))
        ).alias("start"),
    )
    chunk = F.slice(F.col("t"), F.col("start"), chunk_tokens)
    text = F.array_join(chunk, " ")
    return starts.select(
        "doc_id",
        ((F.col("start") - 1) / stride).cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_token"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(text).alias("chunk_fp"),
        text.alias("chunk_text"),
    )


#: BM25 defaults -- the Robertson/Lucene constants.
BM25_K1 = 1.2
BM25_B = 0.75

#: The fixed query-term set the driver-gated tv1 ``bm25`` leg scores
#: against -- one definition shared by the DataFrame leg and the DuckDB
#: oracle.  Three common terms plus one rare term
#: ("dup", ~5% document frequency in the synthetic corpus) so the idf
#: leg of the formula is exercised across its range, not just at the
#: near-stopword end.
BM25_QUERY_TERMS = ("dup", "join", "query", "spark")


def bm25_scores(term_scores: DataFrame, query_terms: list[str]) -> DataFrame:
    """Okapi BM25 relevance of every document to a fixed term set:
    (doc_id, n_match_terms, n_tokens, score) -- the standard retrieval
    scorer a curation pipeline uses to SELECT corpus slices relevant to
    a target task (query-targeted sampling) or to rank dedup survivors.
    ``term_scores`` is a :func:`bm25_term_scores` relation covering
    every query term; k1/b are fixed there.

    Formula (the Lucene formulation, non-negative idf)::

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
        s(d, t) = idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Cross-engine exactness: the float constants ``k1+1`` / ``k1*(1-b)``
    / ``k1*b`` are computed ONCE (:func:`bm25_constants`) and reused verbatim
    by the DuckDB oracle, and each per-term partial score is truncated to
    BIGINT micro-units BEFORE the per-document sum (:func:`_micro6` --
    the ngram_lm_scores precedent), so the aggregate is exact integer
    arithmetic: partitioning- and engine-independent.

    Scale shape: the posting list is filtered to the query terms BEFORE
    any shuffle (the only per-token work on the corpus is the narrow
    explode+filter), and the document length RIDES the posting rows
    (``size(t)`` is projected map-side next to the explode), so the
    only per-doc relation in any join is the term-matched slice --
    there is no corpus-sized probe side at all.  (The previous shape
    joined a corpus-sized ``(doc_id, dl)`` relation to the tiny tf
    table; below the broadcast threshold Spark even chose to broadcast
    the CORPUS side, and at scale it would have been a full shuffle a
    runtime bloom filter only mitigates -- closed by removing the join
    instead of pinning the filter.)  The 1-row
    (N, avgdl) statistics come from one narrow aggregate broadcast
    back, and the score is one groupBy(doc_id) over |terms| rows per
    matching document.  Documents matching no query term are absent
    from the output (score 0 by definition).  ``avgdl`` is computed as
    exact-integer sum(dl)/count(*) -- NOT ``avg()``, whose
    accumulation order is engine-dependent.

    Reference analogue: the score-and-slice segment-share queries
    (REF:349-361 rank trip segments by a derived score and read off
    shares) -- here the score is retrieval relevance and the slice is
    query-targeted corpus selection.  Driver-gated as the tv1 ``bm25``
    leg (registry/sampling_pipeline.py) with the DuckDB oracle embedding
    :func:`bm25_constants` repr-roundtripped.
    """
    if not query_terms:
        raise ValueError("bm25_scores needs at least one query term")
    terms = sorted(set(query_terms))
    _validate_term_scores(term_scores, terms, "bm25_scores")
    scored = term_scores.filter(F.col("token").isin(terms))
    return (
        scored.groupBy("doc_id", "dl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_match_terms"),
            F.sum("s_micro").alias("sum_micro"),
        )
        .select(
            "doc_id",
            "n_match_terms",
            F.col("dl").alias("n_tokens"),
            _trunc4(F.col("sum_micro").cast("double") / 1000000.0).alias(
                "score"
            ),
        )
    )


def _validate_term_scores(
    term_scores: DataFrame, requested_terms: list[str], caller: str
) -> None:
    """Guard the ``term_scores`` contract: the relation must carry
    :func:`bm25_term_scores`' provenance metadata (its term UNIVERSE)
    covering every requested term.  Without this, a stale shared pass
    -- built before a query gained a term -- would be silently
    filtered down and score documents WITHOUT the missing terms (the
    ``isin`` keeps only what exists; nothing errors).  Closed by
    raising loudly here.

    The check reads schema metadata only -- no job runs, so the guard is
    free even when the relation is a checkpointed multi-query pass."""
    field = next(
        (f for f in term_scores.schema.fields if f.name == "s_micro"), None
    )
    meta = dict(field.metadata) if field is not None else {}
    if "bm25_terms" not in meta:
        raise ValueError(
            f"{caller}: term_scores relation carries no bm25_term_scores "
            "provenance metadata -- build it with bm25_term_scores() (the "
            "term universe rides the s_micro column's metadata so "
            "coverage is checkable); an unattributed relation cannot be "
            "verified to cover the requested terms"
        )
    missing = sorted(set(requested_terms) - set(meta["bm25_terms"]))
    if missing:
        raise ValueError(
            f"{caller}: term_scores relation was built over terms "
            f"{sorted(meta['bm25_terms'])} and does not cover requested "
            f"term(s) {missing}; rebuild the shared pass over the union "
            "of every caller's terms"
        )


def bm25_term_scores(
    toks: DataFrame,
    query_terms,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """The shared BM25 core over a :func:`~..operators.dedup.token_table`
    frame: (doc_id, dl, token, s_micro) per matched (document, query
    term), with ``s_micro`` the BIGINT micro-unit partial score.
    :func:`bm25_scores` sums it per document; :func:`bm25_topk` joins a
    query-term map and sums it per (query, document).  The scale shape
    documented on bm25_scores lives here.

    It is the one input both scorers take: a caller scoring SEVERAL
    term sets over one corpus computes this relation once over the
    UNION of all terms -- it is tiny (matched (doc, term) rows only),
    so ``localCheckpoint`` it and pass it to each, and the corpus is
    tokenized exactly twice total instead of twice per term set.
    Value-identical to per-set runs: df is per-token
    (independent of which other tokens the filter kept) and (N, avgdl)
    are corpus-level."""
    terms = sorted(set(query_terms))
    c1, c2, c3 = bm25_constants(k1, b)
    toked = toks.select("doc_id", F.col("toks").alias("t"))
    stats = toked.select(F.size("t").cast("long").alias("dl")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    # dl is grouped alongside (doc_id, token): functionally dependent on
    # doc_id, it adds no groups -- and carrying it here is what removes
    # the corpus-sized dl join
    tf = (
        toked.select(
            "doc_id",
            F.size("t").cast("long").alias("dl"),
            F.explode("t").alias("token"),
        )
        .filter(F.col("token").isin(terms))
        .groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # df = docs-per-term as a window over the TINY tf relation (|terms|
    # partitions): a separate tf.groupBy('token') branch would re-derive
    # the whole posting subtree -- column pruning makes the two branches
    # non-identical, so not even AQE stage reuse merges them, and the
    # corpus would be scanned (and exploded) a third time
    from pyspark.sql.window import Window

    with_df = tf.withColumn(
        "df",
        F.count(F.lit(1))
        .over(Window.partitionBy("token"))
        .cast("long"),
    )
    idf = F.log(
        (
            (F.col("n_docs").cast("double") - F.col("df") + 0.5)
            / (F.col("df").cast("double") + 0.5)
        )
        + 1.0
    )
    frac = (F.col("tf") * F.lit(c1)) / (
        F.col("tf").cast("double")
        + F.lit(c2)
        + F.lit(c3) * (F.col("dl") / F.col("avgdl"))
    )
    # provenance rides the s_micro FIELD METADATA (not a payload column:
    # an empty match set must still carry its universe, and metadata
    # survives select/filter/localCheckpoint) -- bm25_scores/bm25_topk
    # validate coverage against it before filtering
    provenance = {"bm25_terms": list(terms)}
    return with_df.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        "dl",
        "token",
        _micro6(idf * frac).alias("s_micro", metadata=provenance),
    )


#: The fixed named-query set the driver-gated tv1 ``bm25_topk`` leg
#: retrieves for -- ONE definition shared by the DataFrame leg and the
#: DuckDB oracle.  Each query mixes the rare
#: "dup" / distinct common terms so per-query rankings differ.
BM25_TOPK_QUERIES: dict[str, tuple[str, ...]] = {
    "q_dedup": ("dup", "hash", "group"),
    "q_scan": ("scan", "filter", "column"),
    "q_sort": ("sort", "merge", "window"),
}

#: top-k depth of the driver-gated retrieval leg
BM25_TOPK_K = 10


def bm25_topk(
    term_scores: DataFrame,
    queries: dict[str, tuple[str, ...]] | None = None,
    k: int = BM25_TOPK_K,
) -> DataFrame:
    """Multi-query BM25 retrieval: the top-``k`` documents for EACH of a
    small set of named term queries -- (query, doc_id, rank,
    n_match_terms, score).  This is the retrieval shape a curation
    pipeline runs to pull task-targeted corpus slices for many target
    tasks in one pass (k1's broadcast-queries ANN pattern, re-expressed
    for lexical relevance).

    ``term_scores`` is a :func:`bm25_term_scores` relation over (at
    least) the UNION of all query terms -- idf/df/dl are
    query-independent, so sharing one pass across queries is free; the
    tiny (query, term) map is broadcast-joined on the term, per-(query,
    doc) scores are exact BIGINT micro-unit sums, and the per-query
    top-k ranks on the RAW micro sum (engine-exact; the displayed score
    is the 1e-4-truncated double) with a doc_id tie-break.  The rank
    window filters ``row_number() <= k``, which Spark plans as
    WindowGroupLimit: every map task pre-prunes to its local top-k per
    query BEFORE the shuffle, so a query matching half the corpus still
    only shuffles k rows per task (plan-tested).

    Queries default to :data:`BM25_TOPK_QUERIES`.  Documents matching
    no term of a query are absent from that query's ranking; ties on
    the micro score break by ascending doc_id, making the order total.
    """
    from pyspark.sql.window import Window

    if queries is None:
        queries = BM25_TOPK_QUERIES
    if not queries or any(not ts for ts in queries.values()):
        raise ValueError("bm25_topk needs >= 1 term per named query")
    universe = sorted({t for ts in queries.values() for t in ts})
    _validate_term_scores(term_scores, universe, "bm25_topk")
    per_term = term_scores.filter(F.col("token").isin(universe))
    # JVM literal, not createDataFrame: a python-backed local relation
    # would put a 32-task python stage inside every tv1 build job
    # (see functions/localrel.py)
    qt = inline_rows(
        term_scores.sparkSession,
        ("query", "token"),
        [(q, t) for q, ts in sorted(queries.items()) for t in sorted(set(ts))],
    )
    pair = (
        per_term.join(F.broadcast(qt), "token")
        .groupBy("query", "doc_id", "dl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_match_terms"),
            F.sum("s_micro").alias("sum_micro"),
        )
    )
    w = Window.partitionBy("query").orderBy(
        F.col("sum_micro").desc(), F.col("doc_id").asc()
    )
    return (
        pair.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query",
            "doc_id",
            "rank",
            "n_match_terms",
            _trunc4(F.col("sum_micro").cast("double") / 1000000.0).alias(
                "score"
            ),
        )
    )


def bm25_constants(
    k1: float = BM25_K1, b: float = BM25_B
) -> tuple[float, float, float]:
    """The three derived BM25 float constants (k1+1, k1*(1-b), k1*b),
    computed ONCE here so the DataFrame operator and the DuckDB oracle
    embed bit-identical doubles (repr-roundtripped into the oracle
    SQL)."""
    return (float(k1) + 1.0, float(k1) * (1.0 - float(b)), float(k1) * float(b))


# ---------------------------------------------------------------------------
# Collocation mining: PMI / NPMI over adjacent-token bigrams
# ---------------------------------------------------------------------------

#: PMI is unstable below this bigram count (a hapax pair maxes the
#: score by construction); the pmi/npmi rankings filter on it.  ONE
#: definition, embedded into the tv1 oracle.  (Collocation mining is
#: beyond-the-reference extension surface -- the reference HiveQL
#: script has no text processing at all.)
COLLOCATION_MIN_COUNT = 5

#: the bigram -> struct(w1, w2) extraction as a Spark SQL expression,
#: evaluated by the DataFrame operator through F.expr.  The indexed-lambda
#: spelling (transform over the first n-1 slots, element_at i+2 for the
#: right neighbor) keeps the struct fields NAMED, which arrays_zip's
#: positional "0"/"1" fields would not.
BIGRAM_EXPR = (
    "explode(transform(slice(t, 1, size(t) - 1),"
    " (x, i) -> named_struct('w1', x, 'w2', element_at(t, i + 2))))"
)

#: the PMI / NPMI scoring expressions over the count columns
#: (c_ab = bigram count, ac/bc = unigram counts, nb/nu = totals) --
#: pure double arithmetic from exact integer counts, spelled ONCE and
#: evaluated verbatim by Spark and DuckDB so the doubles are
#: bit-identical before the 6-dp round.
PMI_EXPR = (
    "ln((CAST(c_ab AS DOUBLE) / nb) /"
    " ((CAST(ac AS DOUBLE) / nu) * (CAST(bc AS DOUBLE) / nu)))"
)
NPMI_EXPR = f"({PMI_EXPR}) / (-ln(CAST(c_ab AS DOUBLE) / nb))"


#: forward co-occurrence window (tokens to the right) for the windowed
#: collocation variant -- the standard collocation setting beyond
#: adjacency (a +-k symmetric window is this directional table plus its
#: swap, so the directional table is the primitive; word2vec-style
#: skip-gram co-occurrence uses exactly this shape).  ONE definition,
#: embedded into the tv1 oracle.
COLLOCATION_WINDOW = 3


def window_pair_expr(window: int) -> str:
    """The (w1, w2) forward-window pair extraction as a Spark SQL
    expression over a token-array column ``t`` -- one row per
    (position, offset<=window) slot, the windowed generalization of
    BIGRAM_EXPR (window=1 is exactly the bigram table), evaluated by
    the DataFrame operator through F.expr."""
    return (
        "explode(flatten(transform(slice(t, 1, size(t) - 1),"
        f" (x, i) -> transform(slice(t, i + 2, {int(window)}),"
        " y -> named_struct('w1', x, 'w2', y)))))"
    )


def bigram_table(toks: DataFrame) -> DataFrame:
    """Adjacent-token bigrams of a :func:`~..operators.dedup.token_table`
    frame, one row per occurrence: ``(w1, w2)``.

    Docs with fewer than two tokens contribute nothing.  Linear in
    corpus tokens -- the explode is the scan itself, no join.
    """
    return (
        toks.select(F.col("toks").alias("t"))
        .filter(F.size("t") >= 2)
        .select(F.expr(BIGRAM_EXPR).alias("z"))
        .select("z.w1", "z.w2")
    )


def window_pair_table(
    toks: DataFrame, window: int = COLLOCATION_WINDOW
) -> DataFrame:
    """Forward-window co-occurrence pairs, one row per (position,
    offset) slot: ``(w1, w2)`` with w2 at most ``window`` tokens to the
    right of w1, never crossing a document boundary.

    Linear in corpus tokens x window (the explode IS the scan, no
    join); ``window=1`` degenerates to :func:`bigram_table`.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    return (
        toks.select(F.col("toks").alias("t"))
        .filter(F.size("t") >= 2)
        .select(F.expr(window_pair_expr(window)).alias("z"))
        .select("z.w1", "z.w2")
    )


def unigram_counts(toks: DataFrame) -> DataFrame:
    """Vocabulary-sized unigram count table ``(w, c)`` of a
    :func:`~..operators.dedup.token_table` frame -- the sharable input
    to every collocation scorer.  Its sum IS the corpus token total, so
    scorers derive the P(a) denominator from this table instead of
    paying a second corpus pass; callers scoring several pair streams
    (the tv1 bigram + windowed legs) compute it once, checkpoint, and
    pass it to each scorer, as the oracle shares one CTE."""
    return (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def collocation_scores(
    toks: DataFrame, unigrams: DataFrame | None = None
) -> DataFrame:
    """Bigram collocation statistics: ``(w1, w2, c_ab, pmi, npmi)``.

    pmi = ln(P(ab) / (P(a) P(b))) with P(ab) over bigram slots and
    P(a) over corpus tokens; npmi = pmi / -ln(P(ab))  (Bouma 2009,
    "Normalized (pointwise) mutual information in collocation
    extraction").  Scores are rounded to 6 dp AFTER evaluating the one
    shared double expression (PMI_EXPR) both engines run verbatim.

    Scale: two hash aggregates over the token stream (bigram counts,
    unigram counts) + two scalar totals broadcast via cross join -- the
    count tables are vocabulary-sized (SF-invariant here: ~900 bigrams
    at every sf), so the scoring join is a broadcast over tiny
    relations no matter the corpus size.  ``unigrams``: a precomputed
    :func:`unigram_counts` table to share across scorers.
    """
    return _score_pair_table(toks, bigram_table(toks), unigrams)


def windowed_collocation_scores(
    toks: DataFrame,
    window: int = COLLOCATION_WINDOW,
    unigrams: DataFrame | None = None,
) -> DataFrame:
    """Windowed collocation statistics: ``(w1, w2, c_ab, pmi, npmi)``
    with c_ab counting (w1, w2) co-occurrences where w2 follows w1
    within ``window`` tokens (the standard +-k collocation setting;
    Bouma 2009 computes the same PMI estimator over windowed slots).

    P(ab) is over window-pair slots, P(a) over corpus tokens -- the
    same estimator family as :func:`collocation_scores`, which this
    reduces to at ``window=1``.  Same scale shape: the pair stream is
    window x corpus-tokens (still one explode, no join) and the count
    tables stay vocabulary-sized, so the scoring join broadcasts at
    any corpus scale.  ``unigrams``: a precomputed
    :func:`unigram_counts` table to share across scorers.
    """
    return _score_pair_table(toks, window_pair_table(toks, window), unigrams)


def _score_pair_table(
    toks: DataFrame, pairs: DataFrame, unigrams: DataFrame | None = None
) -> DataFrame:
    """Shared PMI/NPMI scoring stage over any (w1, w2) pair stream:
    two hash aggregates (pair counts, unigram counts), the totals
    derived from the count tables themselves (sum of a vocabulary-sized
    table, never a second corpus pass), then the one shared double
    expression (PMI_EXPR) both engines evaluate verbatim."""
    ucnt = unigram_counts(toks) if unigrams is None else unigrams
    utot = ucnt.agg(F.sum("c").cast("long").alias("nu"))
    bcnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    btot = bcnt.agg(F.sum("c_ab").cast("long").alias("nb"))
    # explicit broadcast on the unigram side: both count tables are
    # vocabulary-bounded, but after an aggregate Spark's size estimate
    # is a guess -- at corpus scale a flipped estimate would turn these
    # into shuffle joins of two tiny tables.  (Locked here; the 0-SMJ
    # plan shape is what the plan capture showed at gate scale too.)
    scored = (
        bcnt.join(F.broadcast(ucnt.selectExpr("w AS w1", "c AS ac")), "w1")
        .join(F.broadcast(ucnt.selectExpr("w AS w2", "c AS bc")), "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
    )
    return scored.select(
        "w1",
        "w2",
        F.col("c_ab").cast("long").alias("c_ab"),
        F.round(F.expr(PMI_EXPR), 6).alias("pmi"),
        F.round(F.expr(NPMI_EXPR), 6).alias("npmi"),
    )
