"""Mixing operator tests: broadcast plan shape, determinism under
repartitioning, salt redraw, funnel monotonicity."""

from __future__ import annotations

from pyspark.sql import functions as F

from market_data_ingestion_scraper_spark.operators.mixing import (
    budget_fill_docs,
    quality_funnel,
    source_mix,
    training_order,
)
from market_data_ingestion_scraper_spark.sources import load_table


def test_training_order_is_partition_invariant(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    a = sorted(map(tuple, training_order(docs, 8, "epoch-0").collect()))
    b = sorted(map(tuple, training_order(docs.repartition(13), 8, "epoch-0").collect()))
    assert a == b


def test_training_order_salt_redraws_and_covers(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    e0 = {r["doc_id"]: (r["shard"], r["pos"]) for r in
          training_order(docs, 8, "epoch-0").collect()}
    e1 = {r["doc_id"]: (r["shard"], r["pos"]) for r in
          training_order(docs, 8, "epoch-1").collect()}
    assert set(e0) == set(e1)  # every doc gets an order in both epochs
    assert e0 != e1  # a new salt is a different permutation
    # positions within each shard are 1..n contiguous
    by_shard: dict[int, list[int]] = {}
    for shard, pos in e0.values():
        by_shard.setdefault(shard, []).append(pos)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))


def test_quality_funnel_is_monotone(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    rows = sorted(quality_funnel(docs).collect(), key=lambda r: r["stage_idx"])
    assert [r["stage"] for r in rows] == [
        "non_empty", "min_chars", "lang_whitelist", "min_tokens"
    ]
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_in"] == prev["n_survive"]  # stages chain
    for r in rows:
        assert r["n_dropped"] == r["n_in"] - r["n_survive"] >= 0


def test_source_mix_shares_sum_to_one(spark, sf_smoke):
    rows = source_mix(load_table(spark, sf_smoke, "documents")).collect()
    assert abs(sum(r["doc_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-4
    assert all(r["n_docs"] > 0 and r["n_tokens"] > 0 for r in rows)


def test_training_order_two_level_rank_is_bit_equal_to_single_window(
    spark, sf_smoke
):
    """The bucketed two-level rank must reproduce the per-shard single
    window row_number exactly, for any bucket width."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_smoke, "documents")
    h = F.md5(F.concat(F.lit("epoch-0"), F.col("doc_id").cast("string")).cast("binary"))
    shard = F.pmod(
        F.ascii(F.substring(h, 1, 1)) * 31 + F.ascii(F.substring(h, 2, 1)), F.lit(8)
    )
    ref = (
        docs.select(F.col("doc_id"), h.alias("h"), shard.alias("shard"))
        .select(
            "doc_id",
            "shard",
            F.row_number()
            .over(Window.partitionBy("shard").orderBy("h", "doc_id"))
            .cast("long")
            .alias("pos"),
        )
    )
    expected = {(r.doc_id, r.shard, r.pos) for r in ref.collect()}
    for bucket_chars in (2, 3):
        got = {
            (r.doc_id, r.shard, r.pos)
            for r in training_order(docs, 8, "epoch-0", bucket_chars=bucket_chars).collect()
        }
        assert got == expected, f"bucket_chars={bucket_chars}"


def test_training_order_parallelism_exceeds_shard_count(spark, sf_smoke):
    """Scale guard: the heavy rank window partitions on the hex-prefix
    bucket (16^bucket_chars-way), not on the 8 shards, and the offset
    table joins back as a broadcast."""
    from market_data_ingestion_scraper_spark.plans import explain_str

    docs = load_table(spark, sf_smoke, "documents")
    df = training_order(docs, 8, "epoch-0", bucket_chars=3)
    txt = explain_str(df)
    win = [ln for ln in txt.splitlines() if "row_number()" in ln]
    assert win and all("bkt" in ln for ln in win), "rank must partition by bkt"
    assert "BroadcastHashJoin" in txt or "BroadcastExchange" in txt
    n_buckets = df.select("pos").count()  # materialize
    distinct_bkts = (
        docs.select(
            F.substring(
                F.md5(F.concat(F.lit("epoch-0"), F.col("doc_id").cast("string")).cast("binary")),
                1, 3,
            ).alias("b")
        ).distinct().count()
    )
    assert distinct_bkts > 8 * 8, distinct_bkts


def test_temperature_mixture_flattens_toward_tail(spark):
    """alpha < 1 compresses the mixture toward uniform: the dominant
    source's weight shrinks vs its token share, the tail's grows, and
    weights still sum to ~1 (ppm rounding)."""
    from market_data_ingestion_scraper_spark.operators.mixing import (
        temperature_mixture,
    )

    docs = spark.createDataFrame(
        [(i, "big " * 50, "web") for i in range(9)]
        + [(100, "tiny text here", "books")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in temperature_mixture(docs, 0.5).collect()}
    web, books = out["web"], out["books"]
    assert web["token_share"] > 0.9
    assert web["sample_weight"] < web["token_share"]
    assert books["sample_weight"] > books["token_share"]
    total = sum(r["sample_weight"] for r in out.values())
    assert abs(total - 1.0) < 1e-4


def test_temperature_mixture_alpha_one_keeps_shares(spark):
    from market_data_ingestion_scraper_spark.operators.mixing import (
        temperature_mixture,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d", "x"), (2, "e f", "y"), (3, "g h", "y")],
        "doc_id long, text string, source string",
    )
    for r in temperature_mixture(docs, alpha=1.0).collect():
        assert abs(r["sample_weight"] - r["token_share"]) < 2e-6


def test_bm25_matches_independent_reference(spark):
    """bm25_scores vs a from-the-formula pure-Python reference on a tiny
    corpus (same tokenizer, independent arithmetic path)."""
    import math

    from market_data_ingestion_scraper_spark.operators.text import (
        bm25_scores,
    )

    corpus = {
        1: "hash join hash join hash",
        2: "vector scan vector",
        3: "hash vector join table scan",
        4: "table scan only nothing relevant",
    }
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    terms = ("hash", "vector")
    k1, b = 1.2, 0.75
    toks = {d: t.split() for d, t in corpus.items()}
    n = len(corpus)
    avgdl = round(sum(len(v) for v in toks.values()) / n, 6)
    df = {
        t: sum(1 for v in toks.values() if t in v) for t in terms
    }
    expect = {}
    for d, v in toks.items():
        pm = 0
        matched = 0
        for t in terms:
            tf = v.count(t)
            if not tf:
                continue
            matched += 1
            idf = round(math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1), 6)
            wt = round(
                tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl)), 6
            )
            pm += int(round(round(idf * wt, 6) * 1e6))
        if matched:
            expect[d] = (round(pm / 1e6, 6), matched)
    got = {
        r["doc_id"]: (r["bm25"], r["n_terms_matched"])
        for r in bm25_scores(docs, terms, top_k=10).collect()
    }
    assert got == expect
    assert 4 not in got  # no query term -> no row


def test_bm25_topk_is_take_ordered_not_global_window(spark, sf_smoke):
    from market_data_ingestion_scraper_spark.operators.text import (
        bm25_scores,
    )
    from market_data_ingestion_scraper_spark.sources.tables import load_table

    plan = (
        bm25_scores(
            load_table(spark, sf_smoke, "documents"), ("hash", "join"), top_k=5
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


# ---------------------------------------------------------------- budget fill

def _py_budget_fill(rows, total_budget, seed="fill"):
    """Independent pure-Python twin of budget_fill_docs (alpha=0.5),
    reported per source as (n_docs, n_tokens): integer-ppm mixture math
    (half-up DIV identities), half-up round-6 sqrt, portable md5
    uniforms, hash-threshold selection."""
    import hashlib
    import math

    P = 2_147_483_647

    def half_up_ppm(a, b):  # round(a/b * 1e6) in exact ints
        return (a * 2_000_000 + b) // (2 * b)

    def rnd6(x):  # HALF_UP to 6 decimals (Spark/DuckDB ROUND)
        return math.floor(x * 1e6 + 0.5) / 1e6 if x >= 0 else -math.floor(-x * 1e6 + 0.5) / 1e6

    def toks(text):
        import re

        return [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]

    per = {}
    for _doc_id, src, text in rows:
        per[src] = per.get(src, 0) + len(toks(text))
    tot = sum(per.values())
    share = {s: half_up_ppm(n, tot) / 1e6 for s, n in per.items()}
    sm = {s: round(rnd6(math.sqrt(v)) * 1e6) for s, v in share.items()}
    tot_sm = sum(sm.values())
    w_ppm = {s: half_up_ppm(v, tot_sm) for s, v in sm.items()}
    budget = {s: (p * total_budget + 500_000) // 1_000_000 for s, p in w_ppm.items()}
    frac = {s: min(1.0, budget[s] / per[s]) for s in per}
    out = {}
    for doc_id, src, text in rows:
        h = int(hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:8], 16) % P
        if (h + 1) / (P + 1) < frac[src]:
            nd, nt = out.get(src, (0, 0))
            out[src] = (nd + 1, nt + len(toks(text)))
    return out


_FILL_ROWS = [
    # a heavy source (many tokens) and a light one — alpha=0.5 upsamples
    # the tail, so the light source's budget exceeds its raw share
    *[(i, "big", "alpha beta gamma delta epsilon zeta " * 3) for i in range(40)],
    *[(100 + i, "small", "one two three") for i in range(6)],
]


def _fill_report(selected):
    """Per-source (n_docs, n_tokens) of a budget_fill_docs selection."""
    return {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in selected.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n_tok").cast("long").alias("n_tokens"),
        )
        .collect()
    }


def test_budget_fill_matches_python_twin(spark):
    docs = spark.createDataFrame(_FILL_ROWS, "doc_id long, source string, text string")
    got = _fill_report(budget_fill_docs(docs, 300))
    assert got == _py_budget_fill(_FILL_ROWS, 300)
    # partial selection on the heavy source (threshold actually bites)
    assert 0 < got["big"][0] < 40


def test_budget_fill_deterministic_and_clamped(spark):
    docs = spark.createDataFrame(_FILL_ROWS, "doc_id long, source string, text string")
    a = sorted(r["doc_id"] for r in budget_fill_docs(docs, 300).collect())
    b = sorted(
        r["doc_id"] for r in budget_fill_docs(docs.repartition(7), 300).collect()
    )
    assert a == b
    # a budget far above the corpus clamps frac to 1: everything selected
    full = _fill_report(budget_fill_docs(docs, 10_000_000))
    assert {s: nd for s, (nd, _) in full.items()} == {"big": 40, "small": 6}


def test_budget_fill_plan_broadcasts_cutoffs(spark):
    docs = spark.createDataFrame(_FILL_ROWS, "doc_id long, source string, text string")
    plan = (
        budget_fill_docs(docs, 300)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the corpus joins the |sources|-row cutoff table by broadcast; the
    # corpus itself is never sort-merge-joined or globally sorted
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_budget_fill_degenerate_sources(spark):
    """Review r10 regressions: a zero-token source must not crash the
    ANSI division (frac pinned to 0, nothing selected); an all-NULL-text
    source must not NULL-propagate into frac=1 (whole source selected on
    a zero budget); NULL-source docs are excluded from budgets AND
    selection."""
    rows = [
        (1, "good", "alpha beta gamma delta epsilon zeta"),
        (2, "good", "alpha beta gamma delta"),
        (3, "empty", ""),          # tokenizes to zero tokens
        (4, "empty", "!!! ???"),   # punctuation-only: zero tokens too
        (5, "nulls", None),        # SUM(len) is NULL for this source
        (6, None, "some unattributed text here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # no crash; degenerate and NULL sources select nothing, the real
    # source still fills
    sel = {r["doc_id"] for r in budget_fill_docs(docs, 100).collect()}
    assert sel and sel <= {1, 2}
