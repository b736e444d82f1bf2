"""X28 exact longest duplicated substring + X27 tokenizer fertility:
values differentialed against independently-written pure-Python twins
(re/collections — no Spark, no shared code), plus edge and plan pins."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from market_data_ingestion_scraper_spark.operators.dedup import (
    longest_dup_substring,
)
from market_data_ingestion_scraper_spark.operators.tokenizers import (
    tokenizer_fertility,
)

_TOK = re.compile(r"[a-z0-9]+")


def _py_longest_dup(texts: list[str], max_len: int = 128, min_count: int = 2):
    """Independent twin: brute-force every gram length, token-string
    grams (no hashing)."""
    docs = [_TOK.findall(t.lower()) for t in texts]
    best = 0
    for L in range(1, max_len + 1):
        c: Counter = Counter()
        for ts in docs:
            for p in range(len(ts) - L + 1):
                c[" ".join(ts[p : p + L])] += 1
        if any(n >= min_count for n in c.values()):
            best = L
        else:
            break  # monotone: no dup at L means none at any longer L
    if best == 0:
        return (0, 0, 0, 0)
    c = Counter()
    where: dict[str, set[int]] = {}
    for i, ts in enumerate(docs):
        for p in range(len(ts) - best + 1):
            g = " ".join(ts[p : p + best])
            c[g] += 1
            where.setdefault(g, set()).add(i)
    dup = {g: n for g, n in c.items() if n >= min_count}
    n_docs = len(set().union(*(where[g] for g in dup)))
    return (best, len(dup), sum(dup.values()), n_docs)


def _mk_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_longest_dup_planted_exact_length(spark):
    """A planted 13-token repeat must come back as EXACTLY 13 — not the
    8-gram island approximation's floor, and not the containing doc
    lengths."""
    shared = " ".join(f"w{i}" for i in range(13))
    texts = [
        "alpha beta " + shared + " gamma",
        "delta " + shared + " epsilon zeta",
        "unrelated words only here nothing repeats in this one",
    ]
    got = longest_dup_substring(_mk_docs(spark, texts)).collect()[0]
    assert (
        got.max_dup_tokens,
        got.n_grams_at_max,
        got.n_occurrences_at_max,
        got.n_docs_at_max,
    ) == (13, 1, 2, 2)


def test_longest_dup_matches_python_twin_on_fixture(spark):
    """Full twin differential on the sf0.001 corpus."""
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    texts = [r["text"] for r in df.select("text").collect()]
    want = _py_longest_dup(texts)
    got = longest_dup_substring(df).collect()[0]
    assert tuple(got) == want and want[0] > 0


def test_longest_dup_within_doc_repeats_count(spark):
    """Within-doc repetition is duplication (the suffix-array-dedup
    convention): one doc repeating a 5-token phrase twice scores it."""
    texts = ["a1 b2 c3 d4 e5 xx a1 b2 c3 d4 e5", "totally different words"]
    got = longest_dup_substring(_mk_docs(spark, texts)).collect()[0]
    assert tuple(got) == (5, 1, 2, 1)
    assert tuple(got) == _py_longest_dup(texts)


def test_longest_dup_zero_row_and_cap_and_validation(spark):
    """No duplicated token at all -> the all-zero row with the same
    schema; max_len binds the answer; bad parameters refuse."""
    none = longest_dup_substring(
        _mk_docs(spark, ["a b c", "d e f", "g h i"])
    )
    assert [tuple(r) for r in none.collect()] == [(0, 0, 0, 0)]
    assert none.columns == [
        "max_dup_tokens",
        "n_grams_at_max",
        "n_occurrences_at_max",
        "n_docs_at_max",
    ]
    shared = " ".join(f"t{i}" for i in range(20))
    capped = longest_dup_substring(
        _mk_docs(spark, [shared, shared]), max_len=6
    ).collect()[0]
    assert capped.max_dup_tokens == 6
    with pytest.raises(ValueError, match="min_count"):
        longest_dup_substring(_mk_docs(spark, ["a"]), min_count=1)


def test_longest_dup_deterministic_across_partitionings(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = longest_dup_substring(df.repartition(1)).collect()
    b = longest_dup_substring(df.repartition(13, "doc_id")).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


# ---------------------------------------------------------------- X27


def _py_fertility(rows, enc: dict[str, int]):
    """Independent twin of the per-lang accounting: pure-Python sums over
    (lang, word) occurrences given a word -> n_pieces map."""
    agg: dict[str, list] = {}
    for lang, text in rows:
        for w in _TOK.findall(text.lower()):
            a = agg.setdefault(lang, [0, set(), 0, 0])
            a[0] += 1
            a[1].add(w)
            a[2] += len(w)
            a[3] += enc[w]
    return sorted(
        (
            lang,
            n_w,
            len(dw),
            n_c,
            n_p,
            (1_000_000 * n_p) // n_w,
            (1_000_000 * n_c) // n_p,
        )
        for lang, (n_w, dw, n_c, n_p) in agg.items()
    )


def test_tokenizer_fertility_bpe_matches_twin(spark, sf_smoke):
    """BPE-kind fertility over the smoke corpus equals the pure-Python
    accounting twin fed by the (already twin-differentialed) Arrow
    encode's own word -> n_pieces map."""
    from market_data_ingestion_scraper_spark.operators.bpe import (
        bpe_encode_vocab,
        fit_bpe_merges,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    merges = fit_bpe_merges(docs, n_merges=30)
    got = sorted(
        map(tuple, tokenizer_fertility(docs, {"kind": "bpe", "merges": merges}).collect())
    )
    enc = {
        r["w"]: r["n_pieces"]
        for r in bpe_encode_vocab(
            docs.select(F.explode(F.expr(
                "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"
            )).alias("w")),
            merges,
        ).collect()
    }
    rows = [(r["lang"], r["text"]) for r in docs.select("lang", "text").collect()]
    assert got == _py_fertility(rows, enc) and len(got) > 1


def test_tokenizer_fertility_unigram_kind_and_validation(spark, sf_smoke):
    """The unigram kind evaluates through the same accounting (pieces
    from the Viterbi encode), and an unknown kind refuses."""
    from market_data_ingestion_scraper_spark.operators.unigram_lm import (
        fit_unigram_lm,
        unigram_encode_vocab,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    lp = fit_unigram_lm(docs, vocab_size=80, max_piece_len=3, em_rounds=1)
    got = sorted(
        map(
            tuple,
            tokenizer_fertility(docs, {"kind": "unigram", "lp_micro": lp}).collect(),
        )
    )
    enc = {
        r["w"]: r["n_pieces"]
        for r in unigram_encode_vocab(
            docs.select(F.explode(F.expr(
                "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"
            )).alias("w")),
            lp,
        ).collect()
    }
    rows = [(r["lang"], r["text"]) for r in docs.select("lang", "text").collect()]
    assert got == _py_fertility(rows, enc)
    # fertility >= 1 piece per word by construction
    assert all(r[5] >= 1_000_000 for r in got)
    with pytest.raises(ValueError, match="unknown tokenizer kind"):
        tokenizer_fertility(docs, {"kind": "wordpiece"})


def test_tokenizer_fertility_consistent_with_doc_stats(spark, sf_smoke):
    """Cross-operator consistency: summing the gated per-doc BPE piece
    accounting by language must reproduce fertility's n_words/n_pieces."""
    from market_data_ingestion_scraper_spark.operators.bpe import (
        bpe_token_stats,
        fit_bpe_merges,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    merges = fit_bpe_merges(docs, n_merges=30)
    fert = {
        r["lang"]: (r["n_words"], r["n_pieces"])
        for r in tokenizer_fertility(docs, {"kind": "bpe", "merges": merges}).collect()
    }
    per_doc = (
        bpe_token_stats(docs, merges)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.sum("n_words").alias("w"), F.sum("n_pieces").alias("p"))
    )
    agg = {r["lang"]: (r["w"], r["p"]) for r in per_doc.collect()}
    assert fert == agg


# -------------------------------------------- X27 streaming admission


def test_fertility_literal_matches_relational(spark, sf_smoke):
    """The plan-literal per-doc accounting must equal the relational
    twins (bpe_token_stats / unigram_token_stats) bit-for-bit on every
    doc the relational form emits, for BOTH artifact kinds, with
    fertility_ppm the exact floor-divided ratio."""
    from market_data_ingestion_scraper_spark.operators.bpe import (
        bpe_token_stats,
        fit_bpe_merges,
    )
    from market_data_ingestion_scraper_spark.operators.tokenizers import (
        fertility_stats_literal,
    )
    from market_data_ingestion_scraper_spark.operators.unigram_lm import (
        fit_unigram_lm,
        unigram_token_stats,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    merges = fit_bpe_merges(docs, n_merges=30)
    lp = fit_unigram_lm(docs, vocab_size=80, max_piece_len=3, em_rounds=1)
    for artifact, relational in (
        ({"kind": "bpe", "merges": merges}, bpe_token_stats(docs, merges)),
        ({"kind": "unigram", "lp_micro": lp}, unigram_token_stats(docs, lp)),
    ):
        lit = fertility_stats_literal(docs, artifact)
        got = {
            r["doc_id"]: (r["n_words"], r["n_pieces"], r["fertility_ppm"])
            for r in lit.collect()
        }
        want = {
            r["doc_id"]: (r["n_words"], r["n_pieces"])
            for r in relational.collect()
        }
        assert want, "relational twin emitted nothing"
        for doc_id, (n_w, n_p) in want.items():
            g = got[doc_id]
            assert (g[0], g[1]) == (n_w, n_p), (artifact["kind"], doc_id)
            assert g[2] == (1_000_000 * n_p) // n_w


def test_fertility_literal_wordless_policy_and_stream_filter(spark, tmp_path):
    """Wordless docs score (0, 0, NULL) in the literal form (the
    relational twin omits them — an admission filter cannot); the
    streaming filter drops them and admits exactly the at-or-below-
    threshold docs, batch ≡ stream through the memory sink."""
    from market_data_ingestion_scraper_spark.operators.tokenizers import (
        fertility_stats_literal,
    )
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    # merges that compress 'aaaa' to 1 piece; 'xyz' stays 3 chars/pieces
    artifact = {"kind": "bpe", "merges": [("a", "a"), ("aa", "aa")]}
    rows = [
        (1, "aaaa aaaa"),     # 2 words, 2 pieces  -> 1_000_000
        (2, "xyz"),           # 1 word, 3 pieces   -> 3_000_000
        (3, "!!! ???"),       # wordless           -> NULL
        (4, "aaaa xyz"),      # 2 words, 4 pieces  -> 2_000_000
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lit = {r["doc_id"]: (r["n_words"], r["n_pieces"], r["fertility_ppm"])
           for r in fertility_stats_literal(docs, artifact).collect()}
    assert lit[1] == (2, 2, 1_000_000)
    assert lit[2] == (1, 3, 3_000_000)
    assert lit[3] == (0, 0, None)
    assert lit[4] == (2, 4, 2_000_000)

    batch = P.stream_fertility_filter(docs, artifact, 2_000_000)
    assert {r["doc_id"] for r in batch.collect()} == {1, 4}

    src = str(tmp_path / "docs")
    docs.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = P.run_to_memory(
        P.stream_fertility_filter(stream, artifact, 2_000_000),
        "t_fert_filter",
        spark,
        mode="append",
    )
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(out) == key(batch)


def test_bpe_reference_vocab_is_sorted_by_word(sf_smoke):
    """The reference vocabulary behind the tokenizer_fertility and
    bpe_corpus_stats oracles comes back sorted by word, so their VALUES
    literal — and the oracle text — is the same in every process."""
    from market_data_ingestion_scraper_spark.queries import (
        _bpe_reference_encoded_vocab,
    )

    words = [w for w, _ in _bpe_reference_encoded_vocab(sf_smoke)]
    assert len(words) > 1 and words == sorted(words)
    assert len(set(words)) == len(words)
