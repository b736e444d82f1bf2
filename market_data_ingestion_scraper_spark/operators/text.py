"""Text-analysis operators for LLM-data pipelines (SURVEY.md §2.11 X4 +
driver-mandated extensions): tokenization, term counting, quality scoring,
language-ID heuristic, document fingerprinting.

Everything is built-in Catalyst expressions over the ``documents`` table —
array/lambda functions (``split``/``filter``/``transform``/``aggregate``)
run JVM-side inside codegen; there are no Python UDFs in any hot path.

Scale notes (100 TB): all operators are embarrassingly parallel per-row
projections (no shuffle at all) except term counting, which is an
explode + groupBy — Spark does map-side partial aggregation on the
exploded terms, so the shuffle carries only (term, partial_count) pairs,
bounded by vocabulary size per partition, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import bounded_window

# Modulus for rolling hashes: largest 31-bit prime.  Keeps every
# intermediate product < 2^63 so ANSI-mode arithmetic cannot overflow.
HASH_P = 2_147_483_647

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Real lists would be hundreds of words; the mechanism —
# per-language token-set intersection scoring — is what scales.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour"),
    "zh": ("de5", "shi4", "bu4", "le5", "wo3", "you3", "zai4", "ta1"),
}


def tokens(text: Column | str = "text") -> Column:
    """Whitespace/punctuation tokenizer: lowercase, split on runs of
    non-alphanumerics, drop empties.  Oracle twin:
    ``list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')``."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), r"[^a-z0-9]+"), lambda t: t != "")


def quality_features(
    documents: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Per-document quality signals: char/token counts, average token
    length, punctuation ratio, stopword ratio, and a composite score.
    All ratios rounded for cross-engine reproducibility.

    Staged through aliased columns so the tokenizer and each ratio run
    once per row — a single Project would inline the token array into
    every downstream reference (see :func:`repetition_scores`).

    ``keep`` carries extra input columns through unchanged (streaming
    admission filters need the original row beside its score — a stream
    cannot join back to itself)."""
    t = tokens("text")
    en = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    raw = documents.select(
        "doc_id",
        *keep,
        F.length("text").alias("_n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
        ).alias("_n_punct"),
        F.size(t).alias("_n_tok"),
        F.aggregate(t, F.lit(0), lambda a, w: a + F.length(w)).alias("_tok_len"),
        F.size(F.filter(t, lambda w: F.array_contains(en, w))).alias("_n_stop"),
    )
    ratios = raw.select(
        "doc_id",
        *keep,
        "_n_chars",
        "_n_tok",
        F.round(
            F.col("_tok_len") / F.greatest(F.col("_n_tok"), F.lit(1)), 6
        ).alias("_avg_tok"),
        F.round(
            F.col("_n_punct") / F.greatest(F.col("_n_chars"), F.lit(1)), 6
        ).alias("_punct_ratio"),
        F.round(
            F.col("_n_stop") / F.greatest(F.col("_n_tok"), F.lit(1)), 6
        ).alias("_stop_ratio"),
    )
    # Composite: long-enough, low-punctuation, some stopwords → "clean text".
    score = F.round(
        F.least(F.col("_n_tok") / F.lit(100.0), F.lit(1.0)) * 0.5
        + (F.lit(1.0) - F.col("_punct_ratio")) * 0.3
        + F.least(F.col("_stop_ratio") * 5.0, F.lit(1.0)) * 0.2,
        6,
    )
    return ratios.select(
        "doc_id",
        *keep,
        F.col("_n_chars").alias("n_chars_obs"),
        F.col("_n_tok").alias("n_tokens"),
        F.col("_avg_tok").alias("avg_token_len"),
        F.col("_punct_ratio").alias("punct_ratio"),
        F.col("_stop_ratio").alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def repetition_scores(documents: DataFrame, k: int = 3) -> DataFrame:
    """Gopher-style intra-document repetition signal: the fraction of
    word k-gram occurrences that are repeats of an earlier k-gram —
    1 - distinct/total (0 for docs shorter than k tokens).  Boilerplate,
    keyword stuffing, and template spam score high; clean prose scores
    near 0.  Pure per-row projection, no shuffle.

    Grams are counted via the arithmetic field-hash shape (hash each
    token once, combine k consecutive hashes — O(n·k) integer ops), NOT
    slice+concat string building, which is O(n²) array copies per doc and
    measured ~10 s single-threaded on the 5k-doc fixture.  The distinct
    count equals the string-gram distinct count absent 31-bit collisions
    — the same (oracle-verified) identity the Jaccard family rests on.

    The computation is staged through aliased columns on purpose: a
    single Project would inline the token-hash array into every ``F.get``
    inside the gram lambda, and lambda bodies re-evaluate their subtrees
    PER ELEMENT — tokenizing the document once per gram position turned
    the projection O(n²) (this was the dominant cost in the r03 plan).
    Catalyst's CollapseProject keeps the stages separate because each
    intermediate alias is non-cheap and referenced more than once, so the
    hash array materializes exactly once per row."""
    # conditional local spread (see operators.spread): the fixture scan is
    # one partition; at scale this is a no-op pass-through
    from .spread import spread_scan

    documents = spread_scan(documents)

    th = F.transform(
        tokens("text"), lambda w: F.pmod(F.xxhash64(w), F.lit(HASH_P))
    )
    hashed = documents.select("doc_id", th.alias("_th"))

    ta = F.col("_th")
    n = F.size(ta)
    total = F.greatest(n - (k - 1), F.lit(0))

    def gram(i):  # 0-based start; null past the end (ANSI-safe F.get)
        acc = F.get(ta, i)
        for j in range(1, k):
            acc = (acc * 131 + F.get(ta, i + j)) % HASH_P
        return acc

    grams = F.transform(F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))), gram)
    n_distinct = F.when(
        n >= k,
        F.size(F.array_distinct(F.filter(grams, lambda g: g.isNotNull()))),
    ).otherwise(F.lit(0))
    counted = hashed.select(
        "doc_id",
        total.alias("n_grams"),
        n_distinct.alias("n_distinct_grams"),
    )
    rep = F.when(
        F.col("n_grams") > 0,
        F.round(F.lit(1.0) - F.col("n_distinct_grams") / F.col("n_grams"), 6),
    ).otherwise(F.lit(0.0))
    return counted.select(
        "doc_id", "n_grams", "n_distinct_grams", rep.alias("repetition_ratio")
    )


# Gopher-rule stopword probe (Rae et al. 2021, §A1.1): a document must
# contain at least two of these common English words to pass the rule.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(
    documents: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Gopher-style quality-filter rule flags (Rae et al. 2021 §A1.1),
    the published heuristic gate most LLM data pipelines run before
    training: per document, compute the rule features and an integer
    flag per rule plus the composite ``keep``.

    Rules implemented (the subset meaningful for plain text bodies):
    word count in [50, 100 000]; mean word length in [3, 10]; >= 80 % of
    words contain an alphabetic character; >= 2 hits from an 8-word
    common-English stopword probe.

    Pure per-row projection (no shuffle; scan-bandwidth-bound at 100 TB).
    Staged through aliased columns so the tokenizer runs once per row
    (see :func:`repetition_scores` for the re-evaluation rule).
    ``keep`` carries extra columns through (the house passthrough
    convention — streaming serving keeps the original row beside its
    verdict)."""
    t = tokens("text")
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    raw = documents.select(
        "doc_id",
        *keep,
        F.size(t).alias("n_words"),
        F.aggregate(t, F.lit(0), lambda a, w: a + F.length(w)).alias("_len_sum"),
        F.size(F.filter(t, lambda w: w.rlike("[a-z]"))).alias("_n_alpha"),
        F.size(F.filter(t, lambda w: F.array_contains(stop_arr, w))).alias(
            "n_stop_hits"
        ),
    )
    feats = raw.select(
        "doc_id",
        *keep,
        "n_words",
        "n_stop_hits",
        F.round(
            F.col("_len_sum") / F.greatest(F.col("n_words"), F.lit(1)), 6
        ).alias("mean_word_len"),
        F.round(
            F.col("_n_alpha") / F.greatest(F.col("n_words"), F.lit(1)), 6
        ).alias("frac_alpha_words"),
    )
    ok_count = F.col("n_words").between(50, 100_000)
    ok_len = F.col("mean_word_len").between(3.0, 10.0)
    ok_alpha = F.col("frac_alpha_words") >= 0.8
    ok_stops = F.col("n_stop_hits") >= 2
    flagged = feats.select(
        "doc_id",
        *keep,
        "n_words",
        "mean_word_len",
        "frac_alpha_words",
        "n_stop_hits",
        ok_count.cast("int").alias("ok_word_count"),
        ok_len.cast("int").alias("ok_mean_len"),
        ok_alpha.cast("int").alias("ok_alpha"),
        ok_stops.cast("int").alias("ok_stops"),
    )
    keep_flag = (  # named apart from the passthrough parameter (r16)
        F.col("ok_word_count")
        * F.col("ok_mean_len")
        * F.col("ok_alpha")
        * F.col("ok_stops")
    )
    return flagged.withColumn("keep", keep_flag.cast("int"))


def boilerplate_grams(
    documents: DataFrame, k: int = 5, min_docs: int = 2
) -> DataFrame:
    """Boilerplate detection: word ``k``-grams occurring in >= ``min_docs``
    DISTINCT documents, with their document frequency — the discovery
    stage of repeated-span removal (the line-dedup analog for corpora
    whose duplication unit is a phrase, not a line).

    Dataflow: per-doc DISTINCT shingles (``string_shingles`` — so a plain
    COUNT(*) after the explode IS the document frequency; no expensive
    count-distinct agg) → explode → groupBy(gram) with map-side combine.
    The shuffle carries (gram, partial_count) pairs bounded by the
    distinct-gram vocabulary per partition, not corpus size; at 100 TB
    the gram strings would shuffle as 8-byte ``xxhash64`` keys instead
    (the :func:`~.dedup.shingles` hashed path), with the string kept only
    for the surviving boilerplate rows."""
    from .dedup import string_shingles

    grams = documents.select(
        "doc_id", F.explode(string_shingles("text", k)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
    )


# PII patterns: email and international-ish phone numbers.  Character-class
# only (no lookaround, no shorthand classes that differ between RE2/PCRE/
# Java) so the identical pattern string runs in Spark AND the DuckDB oracle.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PHONE_RE = "[+][0-9][0-9-]{7,14}[0-9]"


def scrub_pii(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction pass: replace emails/phone numbers with typed tags and
    count what was removed — the curation step every shared corpus runs
    before training.  Per-row regexp projection, no shuffle; at 100 TB
    this is scan-bandwidth-bound, exactly as it should be."""
    c = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0)))
    scrubbed_email = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    n_phone = F.size(F.regexp_extract_all(scrubbed_email, F.lit(PHONE_RE), F.lit(0)))
    return documents.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        F.regexp_replace(scrubbed_email, PHONE_RE, "<PHONE>").alias("scrubbed"),
    )


def language_id(documents: DataFrame) -> DataFrame:
    """Stopword-intersection language ID: score = |tokens ∩ stopwords(lang)|
    per language; argmax with deterministic alphabetical tie-break.
    A per-row projection — no shuffle, scales linearly.

    Staged: tokens once, then one score column per language, then the
    argmax over plain column references.  A single Project would inline
    the tokenizer into every score AND every score into both ``greatest``
    and each branch of the tie-break chain — tens of tokenizer runs per
    row (see :func:`repetition_scores`)."""
    toks = documents.select(
        "doc_id", "lang", tokens("text").alias("_toks")
    )
    langs = sorted(LANG_STOPWORDS)  # alphabetical order = tie-break order

    def _score(words: tuple[str, ...]) -> Column:
        arr = F.array(*[F.lit(x) for x in words])
        return F.size(F.filter(F.col("_toks"), lambda w: F.array_contains(arr, w)))

    scored = toks.select(
        "doc_id",
        "lang",
        *[_score(LANG_STOPWORDS[lang]).alias(f"_s_{lang}") for lang in langs],
    )
    best = F.greatest(*[F.col(f"_s_{lang}") for lang in langs])
    with_best = scored.select("doc_id", "lang", *[f"_s_{lang}" for lang in langs],
                              best.alias("_best"))
    pred = None
    for lang in reversed(langs):
        cond = F.col(f"_s_{lang}") == F.col("_best")
        pred = F.when(cond, lang) if pred is None else F.when(cond, lang).otherwise(pred)
    # reversed + overwrite-on-match makes the FIRST alphabetical max win
    return with_best.select(
        "doc_id", "lang", pred.alias("pred_lang"), F.col("_best").alias("best_score")
    )


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document: tf(doc,term) · ln(N/df(term)),
    ranked per doc (ties broken by term).

    Dataflow: explode → per-(doc,term) counts (map-side combined) →
    document frequencies (one more bounded-by-vocabulary aggregation) →
    broadcast the df table back — the corpus-sized shuffle happens once,
    on (doc,term), everything else is vocabulary-sized."""
    tf = (
        documents.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = documents.count()  # scalar: one number to the driver
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tfidf", "rnk")
    )


def _bm25_corpus_side(
    documents: DataFrame, dl_col: str | None
) -> tuple[DataFrame, DataFrame]:
    """(doclen, corpus-stats) frames shared by the single- and
    multi-query BM25 operators — ONE source for the doc-length branch
    and the (N, avgdl) aggregate so the two cannot drift (r16 review
    finding)."""
    dl_expr = (
        F.col(dl_col).cast("long") if dl_col else F.size(tokens("text"))
    )
    doclen = documents.select("doc_id", dl_expr.alias("_dl"))
    corpus = doclen.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.round(
            F.sum("_dl").cast("double") / F.count(F.lit(1)), 6
        ).alias("_avgdl"),
    )
    return doclen, corpus


def _bm25_part_micro(k1: float, b: float):
    """The per-(doc, term) BM25 contribution in exact micro-units, from
    the staged columns (_tf, _df, _dl, _avgdl, _n_docs): 6-dp idf ×
    6-dp weight, re-rounded, × 1e6 as int64 — the ONE copy of the
    formula both operators compile (r16 review finding: the multi-query
    form initially duplicated these ~40 lines)."""
    idf = F.round(
        F.log(
            (F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            + 1.0
        ),
        6,
    )
    weight = F.round(
        F.col("_tf")
        * F.lit(float(k1) + 1.0)
        / (
            F.col("_tf")
            + F.lit(float(k1))
            * (
                F.lit(1.0 - float(b))
                + F.lit(float(b)) * F.col("_dl") / F.col("_avgdl")
            )
        ),
        6,
    )
    part = F.round(F.round(idf, 6) * weight, 6)
    return F.round(part * 1e6).cast("long")


def bm25_scores(
    documents: DataFrame,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    dl_col: str | None = None,
) -> DataFrame:
    """Okapi BM25 ranking of documents for a literal query term set
    (Robertson-Sparck Jones probabilistic IR — textbook public):
    ``score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1-b+b*|d|/avgdl))``
    with ``idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)``.

    Scale shape: the token explode FILTERS to the query terms before
    aggregating, so the per-(doc, term) shuffle carries only matching
    occurrences (|query| columns of the inverted index, not the
    vocabulary); per-term df and the corpus (N, avgdl) row are
    |query|-row / 1-row broadcasts; the final top-k is
    ``orderBy().limit()`` — TakeOrderedAndProject, no single-partition
    window.  Determinism: idf and the per-term weight are rounded to 6
    decimals, the per-document sum runs in exact micro-unit ints
    (order-independent), ties break by doc_id.

    ``dl_col`` names a PRECOMPUTED token-count column (gold-layer
    metadata — the profile-on-ingest sidecar pattern): when supplied,
    the doc-length branch is a column-pruned (doc_id, dl) projection
    instead of a second full tokenization of the corpus text — at
    100 TB that deletes the more expensive of the two text scans (the
    r13 SCALE.md self-identified double scan).  Semantics are identical
    as long as the stored count equals ``size(tokens(text))``."""
    terms = [t.lower() for t in query_terms]
    qlit = F.array(*[F.lit(t) for t in terms])
    doclen, corpus = _bm25_corpus_side(documents, dl_col)
    tf = (
        documents.select("doc_id", F.explode(tokens("text")).alias("term"))
        .where(F.array_contains(qlit, F.col("term")))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("_df")
    )
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", _bm25_part_micro(k1, b).alias("_pm"))
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.round(F.sum("_pm").cast("double") / 1e6, 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(int(top_k))
    )


def bm25_scores_multi(
    documents: DataFrame,
    query_terms: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    dl_col: str | None = None,
) -> DataFrame:
    """Okapi BM25 for MANY queries in one plan — the batch-eval / RAG
    serving form of :func:`bm25_scores` (which takes one literal term
    set).  ``query_terms`` carries (query_id, term) rows; output is
    ``(query_id, doc_id, bm25, n_terms_matched, lex_rank)`` — the
    per-query top-``top_k`` with rank 1-based, ordered ties by doc_id.

    Arithmetic is IDENTICAL to the single-query operator (same 6-dp idf
    and weight rounding, same exact micro-unit per-document sum, same
    tie order), pinned by a pytest differential: per query, the multi
    output slice equals ``bm25_scores(documents, terms)`` exactly.

    Scale shape: the corpus token explode SEMI-joins the DISTINCT query
    vocabulary BEFORE aggregating (the literal isin filter becomes a
    broadcast semi-join — same pruning, query-set-sized instead of
    hand-typed), per-term df is global (shared across queries, computed
    once), the (query, term) fan-out joins the |union vocab|-bounded
    inverted-index slice, and the final top-k is a per-query window over
    candidate rows only — never corpus-sized."""
    qt = query_terms.select(
        "query_id", F.lower(F.col("term")).alias("term")
    ).distinct()
    doclen, corpus = _bm25_corpus_side(documents, dl_col)
    vocab = qt.select("term").distinct()
    tf = (
        documents.select("doc_id", F.explode(tokens("text")).alias("term"))
        .join(F.broadcast(vocab), "term", "left_semi")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("_df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .join(F.broadcast(qt), "term")
        .select("query_id", "doc_id", _bm25_part_micro(k1, b).alias("_pm"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.asc("doc_id")
    )
    return (
        contrib.groupBy("query_id", "doc_id")
        .agg(
            F.round(F.sum("_pm").cast("double") / 1e6, 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
        .withColumn("lex_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("lex_rank") <= int(top_k))
    )


def bow_fingerprint(text: Column | str = "text") -> Column:
    """Bag-of-words fingerprint: sha256 over the sorted distinct token set —
    order-insensitive content identity (catches shuffled near-dups).
    Oracle twin: ``sha256(array_to_string(list_sort(list_distinct(toks)), ' '))``."""
    return F.sha2(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))), 256
    )


def rolling_fingerprint(text: Column | str = "text") -> Column:
    """Polynomial rolling hash over token stream (order-sensitive document
    fingerprint): fold acc = (acc*131 + token_char_hash) mod p.  Built-in
    ``aggregate`` fold — modular arithmetic keeps ANSI mode overflow-free."""
    per_token = F.transform(
        tokens(text),
        lambda w: F.aggregate(
            F.split(w, ""),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * 131 + F.ascii(ch)) % HASH_P,
        ),
    )
    return F.aggregate(
        per_token,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 131 + h) % HASH_P,
    )


def fingerprints(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id",
        bow_fingerprint("text").alias("bow_fp"),
        rolling_fingerprint("text").alias("rolling_fp"),
    )


def bigram_merge_candidates(
    documents: DataFrame, k: int = 20, min_count: int = 2
) -> DataFrame:
    """BPE-style merge discovery: the top-k most frequent adjacent token
    pairs across the corpus (what one byte-pair-encoding training round
    would merge), ranked by count with lexicographic tie-break.

    Scale shape: per-row pair explode → groupBy(pair) with map-side
    combine (shuffle bounded by distinct-pair vocabulary), then the
    top-k itself is ``orderBy().limit(k)`` — Spark plans
    ``TakeOrderedAndProject``, a distributed per-partition top-k + merge,
    so NO single-partition window ever sees the pair table (at web scale
    distinct word-pairs run to 10⁹ rows; a global rank window would
    funnel them through one partition).  The rank column is derived from
    the already-reduced k rows."""
    staged = documents.select(tokens("text").alias("_toks"))
    n = F.size("_toks")
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - F.lit(1))).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("_toks"), i),
            F.element_at(F.col("_toks"), i + F.lit(1)),
        ),
    )
    counted = (
        staged.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    topk = counted.orderBy(F.desc("n"), F.asc("pair")).limit(k)
    # rank over the k surviving rows only — bounded by construction
    # (a literal lit(0) key folds back to the empty spec; see
    # functions.bounded_window)
    w = bounded_window("pair", F.desc("n"), F.asc("pair"))
    return topk.withColumn("rnk", F.row_number().over(w).cast("int"))


def unigram_logprob(
    documents: DataFrame, lp_table: DataFrame | None = None
) -> DataFrame:
    """CCNet-style perplexity proxy: per-document mean log-probability of
    its tokens under the corpus unigram distribution.  Low (very negative)
    means rare/garbage vocabulary; high means common fluent text.

    Per-term log-probs are snapped to int64 micro-units before the per-doc
    sum so the result is independent of partitioning / addition order (the
    house exact-aggregation pattern); only the two ``ROUND(·, 6)``-stable
    ``ln`` calls touch floating point.

    Dataflow at 100 TB: TWO corpus passes — one explode to build the
    vocabulary-bounded term counts (map-side combined, then a tiny 1-row
    total broadcast onto the term table), and a second explode for the
    scoring join, because Spark does not reuse the exchange between the
    aggregate and the join.  That is inherent to scoring with a model
    derived from the same corpus in one plan; a production pipeline
    computes the tf table ONCE, persists it, and amortizes it across
    every scoring run, making scoring single-pass — exactly what
    ``lp_table=`` enables: pass a persisted
    :func:`unigram_lp_table` relation and scoring is one pass (the
    :func:`~.ensemble.write_quality_artifacts` fit uses it so the LM is
    derived once, not twice — r16 review finding).

    OOV policy — ``lp_table=`` is FIT-SIDE ONLY: this scorer inner-joins
    the LM, so tokens absent from ``lp_table`` are silently excluded
    from both the sum and the token count.  On the fit corpus itself the
    two policies coincide (every token is in its own vocabulary —
    pytest-pinned), but scoring FOREIGN text against a frozen LM here
    would inflate avg_logprob for OOV-heavy garbage.  Serve foreign
    shards through
    :func:`~..streaming.pipeline.stream_quality_tag`, which floors OOV
    tokens at the vocabulary-minimum ``lp_micro`` and divides by ALL
    tokens (r16 advice)."""
    toks = documents.select("doc_id", F.explode(tokens("text")).alias("term"))
    lp = lp_table if lp_table is not None else unigram_lp_table(documents)
    return (
        toks.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lp_micro") / F.count(F.lit(1)) / 1e6, 6).alias(
                "avg_logprob"
            ),
        )
    )


def unigram_lp_table(documents: DataFrame) -> DataFrame:
    """The unigram LM as a relation: (term, lp_micro) — per-term log-prob
    under the corpus unigram distribution, snapped to int64 micro-units.
    Factored out of :func:`unigram_logprob` (r16) so the FROZEN-artifact
    serve (:func:`~..streaming.pipeline.stream_quality_tag`) scores with
    byte-identical per-term values: persist this table once, score every
    later shard/stream against it without re-deriving the model.
    Vocabulary-bounded (map-side combined count + one 1-row total
    broadcast)."""
    tf = (
        documents.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = tf.agg(F.sum("n").alias("total"))
    return tf.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(F.log(F.col("n") / F.col("total")) * 1e6)
        .cast("long")
        .alias("lp_micro"),
    )


def ppl_tercile_cutoffs(
    documents: DataFrame, lp_table: DataFrame | None = None
) -> DataFrame:
    """FROZEN per-language tercile cutoffs: (lang, head_min, mid_min) —
    the minimum ``avg_logprob`` of the head and middle buckets from
    :func:`ppl_score_buckets` over a reference corpus (the CCNet serve
    shape: bucket thresholds derive from a reference distribution once,
    then any later document buckets by comparison).  Because score
    groups are atomic and buckets are rank-contiguous, comparing a
    reference-corpus document's score against these cutoffs reproduces
    its histogram bucket EXACTLY (pytest-pinned); ``mid_min`` is NULL
    for languages too small to have a middle bucket.  |langs| rows.

    Documents with a NULL lang are EXCLUDED: the serve maps an unknown
    language to tail anyway, and a NULL-lang cutoffs row would make the
    persisted artifact unservable (stream_quality_tag refuses null-lang
    cutoffs — r16 review finding).  ``lp_table=`` passes a precomputed
    :func:`unigram_lp_table` through to the scorer so a fit that
    already persisted the LM never re-derives it."""
    lp = unigram_logprob(documents, lp_table=lp_table)
    scored = (
        documents.select("doc_id", "lang")
        .filter(F.col("lang").isNotNull())
        .join(lp, "doc_id")
    )
    b = ppl_score_buckets(scored)
    return b.groupBy("lang").agg(
        F.min(
            F.when(F.col("ppl_bucket") == "head", F.col("avg_logprob"))
        ).alias("head_min"),
        F.min(
            F.when(F.col("ppl_bucket") == "middle", F.col("avg_logprob"))
        ).alias("mid_min"),
    )


def bigram_logprob(documents: DataFrame, lam: float = 0.75) -> DataFrame:
    """Interpolated bigram LM quality (the CCNet-style perplexity signal
    one order up from :func:`unigram_logprob`; Jelinek-Mercer smoothing —
    textbook public): per-document mean log p(w_i | w_{i-1}) with
    ``p = lam * c(w1,w2)/c(w1) + (1-lam) * c(w2)/N``; each document's
    first token scores under the unigram model alone.

    Exactness: the per-occurrence log-prob snaps to int64 micro-units
    before the per-doc mean (the house pattern — order-independent sums;
    only the round-6-stable ``ln`` touches floating point).

    Scale shape: bigram pairs derive SHUFFLE-FREE from the token array
    (``arrays_zip`` of two slices) — no self-join of the occurrence
    table; the count tables are vocabulary- / bigram-vocabulary-bounded
    (the latter runs to ~1e9 rows at web scale — a real but
    partitionable shuffle, stated up front); scoring joins occurrences
    against them by key.  Like the unigram scorer, deriving the model
    and scoring with it in ONE plan costs two corpus passes; production
    persists the count tables once and scores single-pass."""
    lam = float(lam)
    staged = documents.select("doc_id", tokens("text").alias("_t")).where(
        F.size("_t") > 0
    )
    n_tok = F.size("_t")
    firsts = staged.select(
        "doc_id", F.element_at("_t", 1).alias("term")
    )
    pairs = staged.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("_t", 1, n_tok - 1).alias("prev"),
                F.slice("_t", 2, n_tok - 1).alias("term"),
            )
        ).alias("_p"),
    ).select("doc_id", F.col("_p.prev").alias("prev"), F.col("_p.term").alias("term"))
    occ = staged.select("doc_id", F.explode("_t").alias("term"))
    cu = occ.groupBy("term").agg(F.count(F.lit(1)).alias("cu"))
    total = cu.agg(F.sum("cu").alias("total"))
    cb = pairs.groupBy("prev", "term").agg(F.count(F.lit(1)).alias("cb"))

    uni_p = F.col("cu").cast("double") / F.col("total")
    first_scored = (
        firsts.join(cu, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(F.log(uni_p) * 1e6).cast("long").alias("lp_micro"),
        )
    )
    cu_prev = cu.select(
        F.col("term").alias("prev"), F.col("cu").alias("cu_prev")
    )
    big_p = (
        F.lit(lam) * (F.col("cb").cast("double") / F.col("cu_prev"))
        + F.lit(1.0 - lam) * uni_p
    )
    pair_scored = (
        pairs.join(cb, ["prev", "term"])
        .join(cu, "term")
        .join(cu_prev, "prev")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(F.log(big_p) * 1e6).cast("long").alias("lp_micro"),
        )
    )
    return (
        first_scored.unionByName(pair_scored)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lp_micro") / F.count(F.lit(1)) / 1e6, 6).alias(
                "avg_logprob"
            ),
        )
    )


def _staged_tokens(documents: DataFrame) -> DataFrame:
    """(doc_id, _t) for documents with at least one token."""
    return documents.select("doc_id", tokens("text").alias("_t")).where(
        F.size("_t") > 0
    )


def _ngram_pairs(df: DataFrame) -> DataFrame:
    """Adjacent (w1, w2) pairs, shuffle-free from the token array."""
    n_tok = F.size("_t")
    return df.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("_t", 1, n_tok - 1).alias("w1"),
                F.slice("_t", 2, n_tok - 1).alias("w2"),
            )
        ).alias("_p"),
    ).select("doc_id", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))


def _ngram_tris(df: DataFrame) -> DataFrame:
    """Adjacent (w1, w2, w3) triples, shuffle-free from the token array."""
    n_tok = F.size("_t")
    return (
        df.where(F.size("_t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("_t", 1, n_tok - 2).alias("w1"),
                    F.slice("_t", 2, n_tok - 2).alias("w2"),
                    F.slice("_t", 3, n_tok - 2).alias("w3"),
                )
            ).alias("_p"),
        )
        .select(
            "doc_id",
            F.col("_p.w1").alias("w1"),
            F.col("_p.w2").alias("w2"),
            F.col("_p.w3").alias("w3"),
        )
    )


def trigram_counts(
    staged: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(cu, cb, ct, total) count tables from a staged token corpus.  Each
    is a map-side-combined groupBy bounded by the n-gram vocabulary, not
    corpus size; ``total`` is the 1-row unigram sum."""
    cu = (
        staged.select(F.explode("_t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    total = cu.agg(F.sum("cu").alias("total"))
    cb = _ngram_pairs(staged).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    ct = (
        _ngram_tris(staged)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    return cu, cb, ct, total


def _score_trigram_staged(
    ev: DataFrame,
    cu: DataFrame,
    cb: DataFrame,
    ct: DataFrame,
    total: DataFrame,
    alpha: float,
) -> DataFrame:
    """Stupid-backoff scoring of a staged token corpus against count
    tables — the single-pass serving plan.  Per-occurrence log-scores
    snap to int64 micro-units before the per-doc mean (the house exact
    pattern); every join keys on a vocabulary-bounded table; the 1-row
    total broadcasts; the backoff CASE is a per-row projection."""
    alpha = float(alpha)

    def _p_uni(cu_col: str) -> Column:
        # OOV floor 0.5/N: deterministic, engine-portable, never log(0)
        return F.when(
            F.col(cu_col).isNotNull(),
            F.col(cu_col).cast("double") / F.col("total"),
        ).otherwise(F.lit(0.5) / F.col("total"))

    def _micro(score: Column) -> Column:
        return F.round(F.log(score) * 1e6).cast("long").alias("lp_micro")

    first_s = (
        ev.select("doc_id", F.element_at("_t", 1).alias("_k1"))
        .join(
            cu.select(F.col("term").alias("_k1"), F.col("cu").alias("cu1")),
            "_k1",
            "left",
        )
        .crossJoin(F.broadcast(total))
        .select("doc_id", _micro(_p_uni("cu1")))
    )
    second_s = (
        ev.where(F.size("_t") >= 2)
        .select(
            "doc_id",
            F.element_at("_t", 1).alias("w1"),
            F.element_at("_t", 2).alias("w2"),
        )
        .join(cb, ["w1", "w2"], "left")
        .join(
            cu.select(F.col("term").alias("w1"), F.col("cu").alias("cu_w1")),
            "w1",
            "left",
        )
        .join(
            cu.select(F.col("term").alias("w2"), F.col("cu").alias("cu_w2")),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            _micro(
                F.when(
                    F.col("cb").isNotNull(),
                    F.col("cb").cast("double") / F.col("cu_w1"),
                ).otherwise(F.lit(alpha) * _p_uni("cu_w2"))
            ),
        )
    )
    cb_back = cb.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("cb").alias("cbb")
    )
    third_s = (
        _ngram_tris(ev)
        .join(ct, ["w1", "w2", "w3"], "left")
        .join(cb.select("w1", "w2", F.col("cb").alias("cbp")), ["w1", "w2"], "left")
        .join(cb_back, ["w2", "w3"], "left")
        .join(
            cu.select(F.col("term").alias("w2"), F.col("cu").alias("cu_w2")),
            "w2",
            "left",
        )
        .join(
            cu.select(F.col("term").alias("w3"), F.col("cu").alias("cu_w3")),
            "w3",
            "left",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            _micro(
                F.when(
                    F.col("ct").isNotNull(),
                    F.col("ct").cast("double") / F.col("cbp"),
                )
                .when(
                    F.col("cbb").isNotNull(),
                    F.lit(alpha) * (F.col("cbb").cast("double") / F.col("cu_w2")),
                )
                .otherwise(F.lit(alpha) * F.lit(alpha) * _p_uni("cu_w3"))
            ),
        )
    )
    return (
        first_s.unionByName(second_s)
        .unionByName(third_s)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lp_micro") / F.count(F.lit(1)) / 1e6, 6).alias(
                "avg_logprob"
            ),
        )
    )


def trigram_backoff_logprob(
    documents: DataFrame, alpha: float = 0.4, salt: str = "tri-v1"
) -> DataFrame:
    """Stupid-backoff trigram LM scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation" — the public web-scale LM
    recipe: no normalization, a fixed backoff penalty ``alpha``): the
    corpus splits deterministically on a content hash (md5 prefix of the
    salted doc_id, the :mod:`sampling` idiom) into a ~50% TRAIN half that
    builds unigram/bigram/trigram counts and a held-out EVAL half whose
    documents are scored under that model.  Scoring held-out text is the
    production shape (CCNet-style perplexity filtering scores NEW data
    under a reference-corpus model) and means every backoff branch —
    unseen trigram, unseen bigram, OOV token — genuinely fires.

    Score per eval occurrence::

        pos 1:  S(w) = cu(w)/N                (OOV floor: 0.5/N)
        pos 2:  S(w2|w1)    = cb(w1,w2)/cu(w1)        if bigram seen
                            = alpha * S(w2)            otherwise
        pos 3+: S(w3|w1,w2) = ct(w1,w2,w3)/cb(w1,w2)  if trigram seen
                            = alpha * cb(w2,w3)/cu(w2) elif bigram seen
                            = alpha * alpha * S(w3)    otherwise

    Scale shape: bigrams/trigrams derive SHUFFLE-FREE from the token
    array (``arrays_zip`` of slices — no occurrence self-join); the model
    count tables are n-gram-vocabulary-bounded (trigram vocab is the big
    one, ~1e9+ rows at web scale — a real but partitionable shuffle).
    Deriving the model and scoring in ONE plan costs two corpus passes;
    production fits ONCE via :func:`fit_trigram_model` and scores
    single-pass via :func:`score_with_trigram_model`."""
    staged = _staged_tokens(documents)
    is_train = (
        F.substring(
            F.md5(
                F.concat(F.lit(salt), F.col("doc_id").cast("string")).cast("binary")
            ),
            1,
            1,
        )
        < F.lit("8")
    )
    cu, cb, ct, total = trigram_counts(staged.where(is_train))
    return _score_trigram_staged(staged.where(~is_train), cu, cb, ct, total, alpha)


TRIGRAM_MODEL_KIND = "trigram-stupid-backoff-v1"


def fit_trigram_model(
    documents: DataFrame, path: str, alpha: float = 0.4
) -> dict:
    """Fit the reference-corpus trigram model ONCE and persist it: the
    ``cu``/``cb``/``ct`` count tables land as parquet under ``path`` and
    a ``_model.json`` sidecar records kind/total/alpha (the validated-
    artifact convention every persisted index here follows).  Scoring
    runs thereafter are single-pass joins against these tables — the
    production amortization the inline scorer's docstring promises.

    The caller supplies the reference corpus (e.g. a curated high-quality
    subset); no hash split happens here."""
    import json as _json
    import os as _os

    from ..util import require_local_path

    # before the count tables are written: the sidecar goes through
    # open(), and a URI path would leave a model without one
    require_local_path(path)
    staged = _staged_tokens(documents)
    cu, cb, ct, total = trigram_counts(staged)
    cu.write.mode("overwrite").parquet(_os.path.join(path, "cu"))
    cb.write.mode("overwrite").parquet(_os.path.join(path, "cb"))
    ct.write.mode("overwrite").parquet(_os.path.join(path, "ct"))
    n_total = total.collect()[0]["total"]  # 1-row aggregate
    if n_total is None or int(n_total) <= 0:
        raise ValueError(
            "fit_trigram_model: reference corpus has no tokens — refusing "
            "to persist an empty model (scoring under it would put every "
            "document on the OOV floor)"
        )
    meta = {
        "kind": TRIGRAM_MODEL_KIND,
        "total": int(n_total),
        "alpha": float(alpha),
    }
    with open(_os.path.join(path, "_model.json"), "w") as f:
        _json.dump(meta, f)
    return meta


def load_trigram_model(spark, path: str) -> dict:
    """Load a persisted trigram model; refuses artifacts whose sidecar is
    missing, malformed, or of the wrong kind (the `_quantizer.json`
    lesson: a silent schema mismatch serves garbage scores)."""
    import json as _json
    import os as _os

    sidecar = _os.path.join(path, "_model.json")
    try:
        with open(sidecar) as f:
            meta = _json.load(f)
    except (OSError, ValueError) as e:
        raise ValueError(f"unreadable trigram model sidecar {sidecar}: {e}")
    if meta.get("kind") != TRIGRAM_MODEL_KIND:
        raise ValueError(
            f"artifact at {path} is {meta.get('kind')!r}, "
            f"expected {TRIGRAM_MODEL_KIND!r}"
        )
    if not isinstance(meta.get("total"), int) or meta["total"] <= 0:
        raise ValueError(f"trigram model at {path} has invalid total: {meta}")
    if not isinstance(meta.get("alpha"), (int, float)) or not (
        0 < float(meta["alpha"]) <= 1
    ):
        raise ValueError(f"trigram model at {path} has invalid alpha: {meta}")
    return {
        "cu": spark.read.parquet(_os.path.join(path, "cu")),
        "cb": spark.read.parquet(_os.path.join(path, "cb")),
        "ct": spark.read.parquet(_os.path.join(path, "ct")),
        "total": meta["total"],
        "alpha": float(meta["alpha"]),
    }


def score_with_trigram_model(documents: DataFrame, model: dict) -> DataFrame:
    """Single-pass scoring against a fitted/loaded model — ONE corpus
    scan; all joins key on the persisted vocabulary-bounded count
    tables.  Output matches :func:`trigram_backoff_logprob` bit-for-bit
    when the model was fitted on the same train half (pytest-pinned)."""
    spark = documents.sparkSession
    total = spark.createDataFrame([(int(model["total"]),)], "total long")
    return _score_trigram_staged(
        _staged_tokens(documents),
        model["cu"],
        model["cb"],
        model["ct"],
        total,
        model["alpha"],
    )


def trigram_literal_model(
    model: dict,
    max_unigrams: int = 1500,
    max_bigrams: int = 1500,
    max_trigrams: int = 1000,
) -> dict:
    """Cap a trigram model to its top-count n-grams and pull it to the
    driver as plain dicts — the plan-literal serving form (the DSIR
    delta-map precedent): folded into a per-row expression it scores
    STATELESSLY, stream-legal with no explode, no join, no state.

    Capping only moves unseen mass onto branches the scoring contract
    already defines (backoff / OOV floor), so the capped score is the
    exact score under the capped model.  Hierarchical consistency is
    enforced so no branch ever divides by a missing denominator: kept
    bigrams require both unigrams kept; kept trigrams require their
    prefix bigram kept.  Ties break on the n-gram key, so the cap is
    deterministic."""
    cu_rows = model["cu"].orderBy(F.desc("cu"), "term").limit(int(max_unigrams))
    u = {r["term"]: r["cu"] for r in cu_rows.collect()}
    if u:
        b_rows = (
            model["cb"]
            .filter(F.col("w1").isin(*u) & F.col("w2").isin(*u))
            .orderBy(F.desc("cb"), "w1", "w2")
            .limit(int(max_bigrams))
            .collect()
        )
    else:
        b_rows = []
    b = {(r["w1"], r["w2"]): r["cb"] for r in b_rows}
    if b:
        kept_pairs = list(b)
        t_rows = (
            model["ct"]
            .join(
                model["ct"].sparkSession.createDataFrame(
                    kept_pairs, "w1 string, w2 string"
                ),
                ["w1", "w2"],
            )
            .orderBy(F.desc("ct"), "w1", "w2", "w3")
            .limit(int(max_trigrams))
            .collect()
        )
    else:
        t_rows = []
    t = {(r["w1"], r["w2"], r["w3"]): r["ct"] for r in t_rows}
    return {
        "u": u,
        "b": b,
        "t": t,
        "total": int(model["total"]),
        "alpha": float(model["alpha"]),
    }


_SEP = "\x01"


def score_with_literal_trigram(
    rows: DataFrame, lit_model: dict, keep: tuple[str, ...] = ("text",)
) -> DataFrame:
    """Stateless per-row stupid-backoff scoring against a plan-literal
    capped model (:func:`trigram_literal_model`): the three count maps
    fold into the plan as map literals bound once per row, and the score
    is one ``aggregate`` over token positions — no explode, no join, no
    state, so the identical plan is stream-legal (batch ≡ stream
    pytest-pinned).  Rows with no tokens score NULL (quarantine-first
    policy, shared with the sibling admission filters)."""
    alpha = float(lit_model["alpha"])
    n_total = float(lit_model["total"])

    def _map_lit(d: dict, keyfn) -> Column:
        if not d:
            # empty literal maps need explicit types
            return F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<long>")
            )
        items = []
        for k, v in d.items():
            items.extend([F.lit(keyfn(k)), F.lit(int(v))])
        return F.create_map(*items)

    staged = rows.withColumns(
        {
            "_t": tokens("text"),
            "_mu": _map_lit(lit_model["u"], lambda k: k),
            "_mb": _map_lit(lit_model["b"], lambda k: _SEP.join(k)),
            "_mt": _map_lit(lit_model["t"], lambda k: _SEP.join(k)),
        }
    )
    t, mu, mb, mt = F.col("_t"), F.col("_mu"), F.col("_mb"), F.col("_mt")

    def p_uni(w: Column) -> Column:
        c = F.element_at(mu, w)
        return F.when(
            c.isNotNull(), c.cast("double") / F.lit(n_total)
        ).otherwise(F.lit(0.5) / F.lit(n_total))

    def lp_at(i: Column) -> Column:
        w3 = F.element_at(t, i)
        w2 = F.element_at(t, i - 1)  # null at i=1 (ANSI-safe: guarded below)
        w1 = F.element_at(t, i - 2)
        bi = F.element_at(mb, F.concat_ws(_SEP, w2, w3))
        tri = F.element_at(mt, F.concat_ws(_SEP, w1, w2, w3))
        prefix = F.element_at(mb, F.concat_ws(_SEP, w1, w2))
        first_bi = F.element_at(mb, F.concat_ws(_SEP, w2, w3))
        score = (
            F.when(
                i == 1,
                p_uni(w3),
            )
            .when(
                i == 2,
                F.when(
                    first_bi.isNotNull(),
                    first_bi.cast("double")
                    / F.element_at(mu, w2).cast("double"),
                ).otherwise(F.lit(alpha) * p_uni(w3)),
            )
            .otherwise(
                F.when(
                    tri.isNotNull(),
                    tri.cast("double") / prefix.cast("double"),
                )
                .when(
                    bi.isNotNull(),
                    F.lit(alpha)
                    * (bi.cast("double") / F.element_at(mu, w2).cast("double")),
                )
                .otherwise(F.lit(alpha) * F.lit(alpha) * p_uni(w3))
            )
        )
        return F.round(F.log(score) * 1e6).cast("long")

    n = F.size(t)
    sum_micro = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0).cast("long"),
        lambda acc, i: acc + lp_at(i),
    )
    scored = staged.select(
        "doc_id",
        *keep,
        F.when(n > 0, n).alias("n_tokens"),
        F.when(n > 0, F.round(sum_micro / n / 1e6, 6)).alias("avg_logprob"),
    )
    return scored


def ppl_score_buckets(scored: DataFrame) -> DataFrame:
    """The (lang, avg_logprob) → tercile-bucket map — the histogram +
    bounded window core of :func:`perplexity_buckets`, factored out so
    the bucket rule cannot drift between the corpus dashboard and
    per-document consumers (:func:`~.ensemble.quality_ensemble` joins a
    doc's (lang, score) against this map to read its bucket).

    ``scored`` carries one row per document with (lang, avg_logprob);
    output is one row per (lang, avg_logprob) group with ``n`` (the
    group's doc count) and ``ppl_bucket`` ∈ head/middle/tail.  The
    window runs over the per-(lang, score) HISTOGRAM, never a
    per-language doc sort — see perplexity_buckets for the scale
    rationale.

    Token-less documents (NULL avg_logprob) are excluded BEFORE the
    histogram: an unscoreable doc can't occupy a tercile, and counting
    it into n_lang would shift every cutoff — the SQL twin's inner
    scoring join excludes them structurally, so the filter keeps the
    two engines identical on corpora with empty documents (r16)."""
    hist = (
        scored.filter(F.col("avg_logprob").isNotNull())
        .groupBy("lang", "avg_logprob")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("avg_logprob"))
    ranked = hist.select(
        "lang",
        "avg_logprob",
        "n",
        (F.sum("n").over(w) - F.col("n") + 1).alias("start_rank"),
        F.sum("n").over(Window.partitionBy("lang")).alias("n_lang"),
    )
    k1 = F.ceil(F.col("n_lang") / 3)
    k2 = F.ceil(F.col("n_lang") * 2 / 3)
    bucket = (
        F.when(F.col("start_rank") <= k1, "head")
        .when(F.col("start_rank") > k2, "tail")
        .otherwise("middle")
    )
    return ranked.select(
        "lang", "avg_logprob", "n", bucket.alias("ppl_bucket")
    )


def perplexity_buckets(documents: DataFrame) -> DataFrame:
    """CCNet-style head/middle/tail perplexity terciles PER LANGUAGE
    (Wenzek et al. 2020 — their pipeline buckets each language's documents
    into thirds by LM perplexity and keeps the head/middle for training):
    documents score under :func:`unigram_logprob`, then each language's
    score distribution splits at ranks ceil(n/3) and ceil(2n/3).

    Scale-correct construction: a naive ``ntile(3) OVER (PARTITION BY
    lang ORDER BY score)`` serializes each language onto ONE partition —
    at web scale English alone is billions of rows through a single
    sorter.  Instead the corpus aggregates to a per-(lang, score)
    HISTOGRAM first (map-side combined; cardinality = langs × distinct
    rounded scores, tiny), and the tercile assignment runs as a window
    over that histogram.  Score groups are atomic — a group belongs to
    the bucket its FIRST rank falls in (ties never split across buckets,
    which also makes the result order-independent and engine-portable
    with no doc_id tie-break).

    Output: one row per (lang, bucket) with doc counts and the score
    range — the corpus-curation dashboard shape."""
    lp = unigram_logprob(documents)
    scored = documents.select("doc_id", "lang").join(lp, "doc_id")
    return (
        ppl_score_buckets(scored)
        .select("lang", "ppl_bucket", "avg_logprob", "n")
        .groupBy("lang", "ppl_bucket")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.round(F.min("avg_logprob"), 6).alias("min_logprob"),
            F.round(F.max("avg_logprob"), 6).alias("max_logprob"),
        )
    )


def zipf_profile(documents: DataFrame, top_n: int = 100) -> DataFrame:
    """Corpus Zipf rank-frequency table: the ``top_n`` most frequent terms
    with rank, count, and ln(rank)/ln(count) in exact micro-units — the
    inputs to a Zipf-slope fit (natural corpora run slope ≈ -1; heavily
    templated or machine-generated corpora deviate).  The micro-unit
    rounding makes every emitted value engine-exact.

    Shape: vocabulary-bounded term count (map-side combined), then
    ``orderBy().limit(top_n)`` (``TakeOrderedAndProject`` — distributed
    top-k, never a single-partition rank over the full term table: at
    web scale the vocabulary alone is 10⁸⁺ terms) with rank derived from
    the surviving ``top_n`` rows — same pattern as
    bigram_merge_candidates."""
    counted = (
        documents.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    topk = counted.orderBy(F.desc("n"), F.asc("term")).limit(top_n)
    w = bounded_window("term", F.desc("n"), F.asc("term"))
    ranked = topk.withColumn("rank", F.row_number().over(w).cast("long"))
    return ranked.select(
        "term",
        "rank",
        "n",
        F.round(F.log(F.col("rank").cast("double")) * 1e6)
        .cast("long")
        .alias("ln_rank_micro"),
        F.round(F.log(F.col("n").cast("double")) * 1e6)
        .cast("long")
        .alias("ln_count_micro"),
    )


def source_language_mix(documents: DataFrame) -> DataFrame:
    """Source × predicted-language composition: how much of each source is
    (predicted) which language — the contamination/mix view a multilingual
    curation run keys sampling decisions off.

    Reuses :func:`language_id` (per-row projection, no shuffle), joins the
    source column back by doc_id, then one groupBy; the per-source share
    is a window over the grouped rows (|sources| × |langs| — tiny)."""
    pred = language_id(documents).select("doc_id", "pred_lang")
    tagged = documents.select("doc_id", "source").join(pred, "doc_id")
    grouped = tagged.groupBy("source", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    per_source = Window.partitionBy("source")
    return grouped.select(
        "source",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(per_source), 6).alias(
            "source_share"
        ),
    )


def token_count_histogram(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Token-count profile: documents bucketed by floor(log2(tokens)) —
    the sequence-length view batch/packing decisions key off (char
    length ≠ token length under heavy punctuation or CJK romanization).
    Integer binary-length buckets, so both engines agree exactly."""
    n = F.greatest(F.size(tokens(text_col)), F.lit(1))
    bucket = (F.length(F.conv(n.cast("string"), 10, 2)) - 1).cast("int")
    grouped = documents.groupBy(bucket.alias("tok_bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(F.size(tokens(text_col))).alias("min_tokens"),
        F.max(F.size(tokens(text_col))).alias("max_tokens"),
    )
    total = bounded_window("tok_bucket")
    return grouped.select(
        "tok_bucket",
        "n_docs",
        "min_tokens",
        "max_tokens",
        F.round(F.col("n_docs") / F.sum("n_docs").over(total), 6).alias("share"),
    )


def tfidf_vectors_m(
    documents: DataFrame,
    max_df: int = 300,
    id_col: str = "doc_id",
    text_col: str = "text",
    idf_scale: int = 1000,
) -> DataFrame:
    """(id, term, w_m): the sparse TF-IDF vector table in exact int64
    milli-units — w_m = tf · round(idf_scale · ln(N/df)).  Terms with
    df > ``max_df`` (ABSOLUTE — see below) are pruned from the vectors
    entirely: the standard stopword/boilerplate cut that also bounds the
    similarity self-join's fan-out to C(max_df, 2) pairs per term.

    The ceiling is deliberately absolute, not a corpus fraction.  The r10
    scale probe measured the fractional form degenerating quadratically:
    at 10× corpus a df≤25% ceiling ADMITS the boilerplate vocabulary it
    pruned at 1× (within-template df grows with the corpus), and every
    template-sharing pair is then a genuine above-threshold result —
    3 699× output pairs and 606× wall for 10× data.  An absolute ceiling
    keeps "discriminative term" meaning the same thing at every corpus
    size, and the measured growth is exactly linear (10.0×).

    Integer weights make every downstream dot product an ORDER-FREE
    int64 sum — the house micro-unit discipline — so pairwise cosine is
    bit-reproducible in a SQL oracle; the single float op (the ln) is
    rounded to milli-units immediately.  The milli scale bounds
    Σ w_m² ≪ 2⁶³ for any realistic document (tf ≤ ~10⁴, ln ≤ ~30)."""
    tf = (
        documents.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    n_docs = documents.count()  # scalar: one number to the driver
    return (
        tf.join(F.broadcast(df.filter(F.col("df") <= max_df)), "term")
        .select(
            id_col,
            "term",
            (
                F.col("tf")
                * F.round(
                    F.lit(float(idf_scale))
                    * F.log(F.lit(float(n_docs)) / F.col("df")),
                    0,
                ).cast("long")
            ).alias("w_m"),
        )
    )


def tfidf_cosine_pairs(
    documents: DataFrame,
    threshold: float = 0.4,
    max_df: int = 300,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sparse-vector similarity self-join (X17): document pairs with
    TF-IDF cosine ≥ ``threshold`` — the sparse complement of the dense
    ANN family (no embeddings needed) and of the shingle/MinHash near-dup
    family (bag-of-words similarity survives clause reordering that kills
    shingles).

    Relational sparse algebra, never all-pairs: the inverted (term →
    docs) self-join pairs only documents SHARING a surviving term, the
    numerator is one map-side-combined int64 sum per pair, and norms
    join back from a per-document aggregate.  The df ceiling bounds both
    index size and join fan-out — the same candidate-bounding role the
    banding plays for MinHash.  Output (doc_a, doc_b, cos_sim) with
    doc_a < doc_b, cosine rounded to 6dp from exact integer operands."""
    from .dedup import _persist_generation

    # the vector table feeds FOUR plan branches (both self-join sides +
    # the norms joined back twice) — materialize it once, same house
    # discipline as jaccard_similarity_join's inverted index (a
    # production run writes this table out: it IS the sparse index)
    w = _persist_generation(
        "tfidf.vectors",
        tfidf_vectors_m(
            documents, max_df=max_df, id_col=id_col, text_col=text_col
        ),
    )
    norms = w.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w_m") * F.col("w_m"))).alias("norm")
    )
    l, r = w.alias("l"), w.alias("r")
    num = (
        l.join(
            r,
            (F.col("l.term") == F.col("r.term"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
        )
        .agg(F.sum(F.col("l.w_m") * F.col("r.w_m")).alias("num_m"))
    )
    return (
        num.join(norms.withColumnsRenamed({id_col: "doc_a", "norm": "norm_a"}), "doc_a")
        .join(norms.withColumnsRenamed({id_col: "doc_b", "norm": "norm_b"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("num_m") / (F.col("norm_a") * F.col("norm_b")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
