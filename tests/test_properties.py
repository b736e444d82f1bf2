"""Property-based tests (hypothesis): invariants that must hold for any
input, not just fixtures.

- sanitize_name (Spark expression) ≡ the reference's Python sanitization
  for arbitrary strings — the regex-parity requirement from SURVEY.md §7.
- exact decimal sums are invariant under repartitioning (the core claim
  behind the oracle determinism contract).
- MinHash estimate is a [0,1] value and exact-duplicate texts always get
  estimate 1.0.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from market_data_ingestion_scraper_spark.functions import sanitize_name

_slow = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_sanitize(name: str) -> str:
    # the reference's chain (div_link_handler.py:116-123), ASCII semantics
    cleaned = re.sub(r"[^\w\s-]", "", name.strip().lower(), flags=re.ASCII)
    return re.sub(r"\s+", "_", cleaned, flags=re.ASCII)[:100]


ascii_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=150
)


@_slow
@given(names=st.lists(ascii_text, min_size=1, max_size=20))
def test_sanitize_matches_reference_python(spark, names):
    df = spark.createDataFrame([(n,) for n in names], "raw string")
    got = [r["s"] for r in df.select(sanitize_name("raw").alias("s")).collect()]
    assert got == [_py_sanitize(n) for n in names]


@_slow
@given(
    values=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=200
    ),
    parts=st.integers(min_value=1, max_value=8),
)
def test_exact_sum_invariant_under_repartition(spark, values, parts):
    from market_data_ingestion_scraper_spark.functions import exact_sum

    df = spark.createDataFrame([(v,) for v in values], "x double")
    one = df.coalesce(1).agg(exact_sum("x").alias("s")).collect()[0]["s"]
    many = df.repartition(parts).agg(exact_sum("x").alias("s")).collect()[0]["s"]
    assert one == many  # bit-identical regardless of partitioning


def test_minhash_exact_duplicates_estimate_one(spark):
    from market_data_ingestion_scraper_spark.operators.dedup import lsh_candidate_pairs

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different words here now ok fine")],
        "doc_id long, text string",
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
             for r in lsh_candidate_pairs(df).collect()}
    assert pairs[(1, 2)] == 1.0


word = st.text(alphabet="abcdef", min_size=1, max_size=4)
doc_text = st.lists(word, min_size=0, max_size=40).map(" ".join)


@_slow
@given(texts=st.lists(doc_text, min_size=1, max_size=12))
def test_paragraph_stats_invariants(spark, texts):
    # for ANY corpus: instance/distinct/dup accounting must be consistent
    from market_data_ingestion_scraper_spark.operators.dedup import (
        paragraph_dup_stats,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    row = paragraph_dup_stats(docs, k=3).collect()[0]
    n, d, dup = row["n_paragraphs"], row["n_distinct_paragraphs"], row["n_dup_instances"]
    if n is None:  # all-empty corpus aggregates to null counts
        return
    assert d <= n and 0 <= dup <= n
    # every dup instance belongs to a hash with >= 2 copies, so dup counts
    # are either 0 or at least 2, and non-dup instances are exactly the
    # singleton hashes: n - dup == number of hashes with exactly 1 copy <= d
    assert dup != 1 and n - dup <= d


@_slow
@given(texts=st.lists(doc_text.filter(lambda t: len(t) > 0), min_size=1, max_size=10))
def test_dedup_survivors_partition_of_corpus(spark, texts):
    # survivors + dropped partition the doc ids, and the smallest id of
    # any near-dup pair always survives its own pair (greedy keeps lows)
    from market_data_ingestion_scraper_spark.operators.dedup import (
        dedup_survivors,
        jaccard_similarity_join,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    surv = {r["doc_id"] for r in dedup_survivors(docs, threshold=0.6).collect()}
    pairs = jaccard_similarity_join(docs, threshold=0.6).collect()
    dropped = {r["doc_b"] for r in pairs}
    assert surv == set(range(len(texts))) - dropped
    assert 0 not in dropped  # doc 0 can never have a smaller near-dup


@_slow
@given(texts=st.lists(doc_text, min_size=1, max_size=12))
def test_duplicated_span_stats_invariants(spark, texts):
    # for ANY corpus: covered fraction bounded, span accounting coherent,
    # and strip removes no more than the stats report per doc
    from market_data_ingestion_scraper_spark.operators.dedup import (
        duplicated_span_stats,
        strip_duplicated_spans,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n = 4  # smaller gram for tiny random docs
    stats = {r["doc_id"]: r.asDict()
             for r in duplicated_span_stats(docs, n=n).collect()}
    for s in stats.values():
        assert 0 < s["dup_token_fraction"] <= 1
        assert 1 <= s["n_spans"] <= s["n_dup_grams"]
        assert n <= s["max_span_tokens"] <= s["n_tokens"]
        # spans merge start positions with gap <= n-1 (overlapping
        # windows, not only consecutive ones), so a span of g grams
        # covers at most (g-1)*(n-1) + n tokens; summed over spans:
        # covered <= n_dup_grams*(n-1) + n_spans.  (The earlier bound
        # n_dup_grams + n_spans*(n-1) assumed gap == 1 within a span
        # and is violated by e.g. dup positions {0, 2} at n=4.)
        assert s["n_dup_grams"] * (n - 1) + s["n_spans"] >= round(
            s["dup_token_fraction"] * s["n_tokens"]
        )
    strip = {r["doc_id"]: r.asDict()
             for r in strip_duplicated_spans(docs, n=n).collect()}
    assert set(strip) == set(range(len(texts)))  # every doc passes through
    for d, r in strip.items():
        assert 0 <= r["n_kept_tokens"] <= r["n_tokens"]
        if d not in stats:
            assert r["n_kept_tokens"] == r["n_tokens"]  # nothing to strip
        else:
            # strip keeps the owner's copy, so it removes AT MOST the
            # stats' covered tokens
            covered = round(stats[d]["dup_token_fraction"] * stats[d]["n_tokens"])
            assert r["n_tokens"] - r["n_kept_tokens"] <= covered
    # the minimum doc id sharing a gram always keeps at least its share:
    # global token conservation — total removed < total covered unless
    # every dup gram has a distinct owner doc outside the corpus (impossible)
    if stats:
        removed = sum(r["n_tokens"] - r["n_kept_tokens"] for r in strip.values())
        covered_total = sum(
            round(s["dup_token_fraction"] * s["n_tokens"]) for s in stats.values()
        )
        assert removed < covered_total or covered_total == 0


def test_bigram_logprob_matches_independent_reference(spark):
    """bigram_logprob vs a from-the-formula pure-Python twin on a tiny
    corpus (same tokenizer, independent counting and arithmetic)."""
    import math

    from market_data_ingestion_scraper_spark.operators.text import (
        bigram_logprob,
    )

    corpus = {
        1: "the cat sat on the mat",
        2: "the cat ran",
        3: "a dog sat",
        4: "zzz",  # single token: unigram-only doc
    }
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    lam = 0.75
    toks = {d: t.split() for d, t in corpus.items()}
    from collections import Counter

    cu = Counter(w for v in toks.values() for w in v)
    total = sum(cu.values())
    cb = Counter(
        (v[i], v[i + 1]) for v in toks.values() for i in range(len(v) - 1)
    )
    expect = {}
    for d, v in toks.items():
        lps = [int(round(math.log(cu[v[0]] / total) * 1e6))]
        for i in range(1, len(v)):
            p = lam * (cb[(v[i - 1], v[i])] / cu[v[i - 1]]) + (1 - lam) * (
                cu[v[i]] / total
            )
            lps.append(int(round(math.log(p) * 1e6)))
        expect[d] = (len(v), round(sum(lps) / len(lps) / 1e6, 6))
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in bigram_logprob(docs, lam=lam).collect()
    }
    assert got == expect


def test_bigram_logprob_prefers_fluent_repetition(spark):
    """A document reusing the corpus's common bigrams must outscore one
    made of corpus-unique word salad — the filtering signal."""
    from market_data_ingestion_scraper_spark.operators.text import (
        bigram_logprob,
    )

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)]
        + [(100, "the cat sat on the mat"), (101, "qq ww ee rr tt yy")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["avg_logprob"] for r in bigram_logprob(docs).collect()}
    assert got[100] > got[101]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), max_size=12).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_longest_dup_matches_twin_on_random_corpora(spark, docs):
    """X28 property: on ANY corpus over a tiny alphabet (dense with
    repeats, the adversarial regime for the binary search — overlapping
    within-doc occurrences, ties at many lengths) the exact
    longest-duplicated-substring statistics equal the brute-force twin."""
    from market_data_ingestion_scraper_spark.operators.dedup import (
        longest_dup_substring,
    )

    from .test_longest_dup_fertility import _py_longest_dup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = tuple(longest_dup_substring(df, max_len=16).collect()[0])
    assert got == _py_longest_dup(docs, max_len=16)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), max_size=14).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    bench=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "z"]), max_size=14).map(
            " ".join
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_memorization_matches_twin_on_random_corpora(spark, corpus, bench):
    """X29 property: on ANY (corpus, eval) pair over a tiny alphabet —
    dense with partial overlaps, the adversarial regime for run
    detection (broken runs, within-doc repeats, shorter-than-k docs) —
    the profile equals the pure-Python twin at a small k, including the
    LEFT-join presence of zero-match and unmeasurable docs."""
    from market_data_ingestion_scraper_spark.operators.decontam import (
        memorization_profile,
    )

    from .test_memorization_domainmix import _py_memorization

    k = 3
    cdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    bdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(bench)], "bench_id long, text string"
    )
    want = _py_memorization(corpus, list(enumerate(bench)), k=k)
    got = {
        r.bench_id: (
            r.n_positions,
            r.n_matched,
            r.n_runs,
            r.max_overlap_tokens,
            r.novelty_ppm,
        )
        for r in memorization_profile(cdf, bdf, k=k).collect()
    }
    assert got == want
    assert set(got) == set(range(len(bench)))  # every eval doc present


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lists=st.dictionaries(
        st.sampled_from(["lex", "sem", "rec"]),
        st.lists(
            st.integers(min_value=0, max_value=30), min_size=1, max_size=12,
            unique=True,
        ),
        min_size=1,
        max_size=3,
    ),
    k_rrf=st.integers(min_value=1, max_value=100),
)
def test_rrf_fuse_matches_twin_on_random_lists(spark, lists, k_rrf):
    """X31 property: for ANY set of ranked lists (overlapping or
    disjoint ids, any k_rrf) the fusion equals the integer-arithmetic
    twin — score Σ 1e9 // (k_rrf + rank) with absent lists contributing
    0, ordered (score DESC, id ASC)."""
    from market_data_ingestion_scraper_spark.operators.retrieval import rrf_fuse

    frames = {
        name: spark.createDataFrame(
            [(doc, i + 1) for i, doc in enumerate(ids)],
            "doc_id long, rank int",
        )
        for name, ids in lists.items()
    }
    want: dict[int, int] = {}
    for ids in lists.values():
        for i, doc in enumerate(ids):
            want[doc] = want.get(doc, 0) + 10**9 // (k_rrf + i + 1)
    top = sorted(want.items(), key=lambda x: (-x[1], x[0]))[:10]
    got = [
        (r["doc_id"], r["rrf_micro"])
        for r in rrf_fuse(frames, k=10, k_rrf=k_rrf).collect()
    ]
    assert got == top


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),          # user (small: collisions)
            st.integers(min_value=0, max_value=40 * 86400),  # offset seconds
        ),
        min_size=1,
        max_size=25,
    ),
    embargo=st.integers(min_value=0, max_value=3),
)
def test_temporal_split_matches_twin_on_random_events(spark, events, embargo):
    """X33 property: for ANY event set (users colliding across the
    boundary, timestamps landing inside the embargo, any embargo width)
    the assignment equals the pure-Python twin — and the temporal
    guarantee holds: no val row earlier than cutoff + embargo, no train
    row at or after the cutoff."""
    import datetime as dt

    from market_data_ingestion_scraper_spark.operators.splits import (
        temporal_split,
    )

    base = dt.datetime(2024, 1, 1)
    cut_s = "2024-01-20 00:00:00"
    cut = dt.datetime.fromisoformat(cut_s)
    val_start = cut + dt.timedelta(days=embargo)
    rows = [
        (i, u, base + dt.timedelta(seconds=off))
        for i, (u, off) in enumerate(events)
    ]
    seen = {u for _, u, ts in rows if ts < cut}
    want = {}
    for i, u, ts in rows:
        if ts < cut:
            want[i] = "train"
        elif ts < val_start:
            want[i] = "embargo"
        else:
            want[i] = "val_warm" if u in seen else "val_cold"
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        r["event_id"]: r["split"]
        for r in temporal_split(df, cut_s, embargo_days=embargo).collect()
    }
    assert got == want
    for i, u, ts in rows:
        if got[i].startswith("val"):
            assert ts >= val_start
        if got[i] == "train":
            assert ts < cut


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), max_size=10).map(
            " ".join
        ),
        min_size=2,
        max_size=8,
    )
)
def test_shard_admission_matches_twin_on_random_corpora(spark, docs):
    """X32 property: on ANY corpus over a tiny alphabet (dense with
    near- and exact-duplicates across the shard boundary, empty texts
    sharing the sentinel signature — the adversarial regime for the
    keep-lowest-id rule) the admission report equals the pure-Python
    minhash twin."""
    from market_data_ingestion_scraper_spark.operators.dedup import (
        minhash_index,
        shard_admission_report,
    )

    from .test_retrieval_admission import _py_admission

    rows = [(i, t, f"s{i % 2}") for i, t in enumerate(docs)]
    want = _py_admission(rows, threshold=0.5, mod=3)
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: (
            r["n_new"], r["n_dup_vs_corpus"], r["n_dup_within_new"],
            r["n_admitted"], r["admit_ppm"],
        )
        for r in shard_admission_report(
            df.filter("doc_id % 3 = 0"),
            minhash_index(df.filter("doc_id % 3 <> 0"), portable=True),
            threshold=0.5,
        ).collect()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=200,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_span_corruption_and_fim_match_twins_on_random_text(spark, docs):
    """X34 property: for ANY ASCII text (empty, punctuation-only, long —
    so block boundaries, short final blocks, and the no-span pass-through
    all occur) both constructors equal their pure-Python twins, and the
    de-corruption round-trips hold (no token lost or duplicated)."""
    from market_data_ingestion_scraper_spark.operators.corruption import (
        fim_examples,
        span_corruption_examples,
    )

    from .test_corruption import _py_fim, _py_span, _toks

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_spans"], r["n_masked"],
            r["input_text"], r["target_text"],
        )
        for r in span_corruption_examples(df).collect()
    }
    assert got == {i: _py_span(i, t) for i, t in rows}
    for i, t in rows:
        n, n_spans, n_masked, inp, tgt = got[i]
        masked = sum(
            1 for p in tgt.split() if not re.fullmatch(r"<extra_id_\d+>", p)
        )
        emitted = sum(
            1 for p in inp.split() if not re.fullmatch(r"<extra_id_\d+>", p)
        )
        assert masked == n_masked and emitted + masked == n == len(_toks(t))
    fim_got = {
        r["doc_id"]: (
            r["n_tokens"], r["cut1"], r["cut2"],
            r["input_text"], r["target_text"],
        )
        for r in fim_examples(df).collect()
    }
    fim_want = {i: _py_fim(i, t) for i, t in rows}
    assert fim_got == {i: w for i, w in fim_want.items() if w is not None}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=120,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_decontam_holdout_matches_twin_on_random_text(spark, docs):
    """X36 property: for ANY ASCII corpus (empty texts, shared phrases,
    sub-k snippets) the assignment equals the pure-Python twin — every
    doc labeled exactly once, contamination counted on distinct grams
    only, short/NULL-gram candidates vacuously clean."""
    from market_data_ingestion_scraper_spark.operators.splits import (
        decontaminated_holdout,
    )

    from .test_splits import _py_holdout

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["split"], r["n_hit_grams"], r["n_train_docs_hit"])
        for r in decontaminated_holdout(df).collect()
    }
    assert got == _py_holdout(rows)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=126),
                max_size=80,
            ),
        ),
        min_size=1,
        max_size=10,
    ),
    bucket=st.sampled_from([2, 3, 1024]),
)
def test_instruction_pairs_match_twin_on_random_docs(spark, docs, bucket):
    """X37 property: for ANY source/text mix and bucket width (2 — every
    pair crosses a potential boundary — through the default) the pairing,
    template choice, and rendered example equal the pure-Python twin."""
    from market_data_ingestion_scraper_spark.operators.instruct import (
        instruction_pairs,
    )

    from .test_instruct import _py_pairs

    rows = [(i, src, t) for i, (src, t) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["prompt_doc_id"]: (
            r["response_doc_id"], r["source"], r["template_id"],
            r["input_text"], r["target_text"],
            r["n_prompt_tokens"], r["n_target_tokens"],
        )
        for r in instruction_pairs(df, pair_bucket=bucket).collect()
    }
    want = _py_pairs(
        [(i, s, t) for i, s, t in rows], pair_bucket=bucket
    )
    assert got == want
