"""Curation-operator tests: near-dup clustering (connected components),
deterministic sampling, repetition scoring, PII scrubbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from market_data_ingestion_scraper_spark.operators import dedup as D
from market_data_ingestion_scraper_spark.operators import sampling as S
from market_data_ingestion_scraper_spark.operators import text as T
from market_data_ingestion_scraper_spark.sources import load_table


def test_near_dup_clusters_transitive(spark):
    # a~b and b~c but a,c share less: the component must still unite all 3
    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "sleeps soundly near the warm fire in the old wooden house")
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base.replace("quick", "speedy")),
            (2, base.replace("quick", "speedy").replace("lazy", "idle")),
            (3, "entirely unrelated text about spark window aggregation "
                "semantics and watermark state cleanup in streaming jobs "
                "running forever on large clusters with many executors"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["cluster_rep"], r["cluster_size"])
           for r in D.near_duplicate_clusters(docs, 0.55).collect()}
    assert out[0] == (0, 3) and out[1] == (0, 3) and out[2] == (0, 3)
    assert 3 not in out  # singletons are not cluster members


def test_cluster_reps_cover_planted_fixture(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    clusters = D.near_duplicate_clusters(docs, 0.7)
    pairs = D.jaccard_similarity_join(docs, 0.7)
    n_members = clusters.count()
    n_pair_docs = (
        pairs.select(F.col("doc_a").alias("d"))
        .union(pairs.select(F.col("doc_b").alias("d")))
        .distinct()
        .count()
    )
    assert n_members == n_pair_docs  # every paired doc lands in a cluster
    # representative is the min id of its cluster
    bad = clusters.filter(F.col("cluster_rep") > F.col("doc_id")).count()
    assert bad == 0


def test_sampling_is_partition_invariant(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    sa = {(r["doc_id"], r["sample_rank"])
          for r in S.stratified_sample(docs, "lang", 5).collect()}
    sb = {(r["doc_id"], r["sample_rank"])
          for r in S.stratified_sample(docs.repartition(7), "lang", 5).collect()}
    assert sa == sb
    n_langs = docs.select("lang").distinct().count()
    assert len(sa) == 5 * n_langs  # exact quota per stratum


def test_repetition_scores_edges(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b c a b c a b c"),     # "a b c" style repeats
            (1, "one two three four"),    # all grams distinct
            (2, "x y"),                   # shorter than k
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.repetition_scores(docs).collect()}
    assert out[0]["repetition_ratio"] > 0.5
    assert out[1]["repetition_ratio"] == 0.0
    assert out[2]["n_grams"] == 0 and out[2]["repetition_ratio"] == 0.0


def test_scrub_pii_redacts_and_counts(spark):
    docs = spark.createDataFrame(
        [(0, "mail me at jane.doe+x@mail.example.org or call +1555-0100-789 now")],
        "doc_id long, text string",
    )
    row = T.scrub_pii(docs).collect()[0]
    assert row["n_emails"] == 1 and row["n_phones"] == 1
    assert "<EMAIL>" in row["scrubbed"] and "<PHONE>" in row["scrubbed"]
    assert "jane" not in row["scrubbed"] and "0100" not in row["scrubbed"]


def test_gopher_rules_flags(spark):
    good = " ".join(
        ["the quick brown fox jumps over that lazy dog with great energy"] * 5
    )  # 55 words, stopword hits, alpha
    short = "the tiny doc with that"
    no_stop = " ".join(["alpha beta gamma delta epsilon zeta eta theta"] * 7)
    digits = " ".join(["12345 67890 11111 22222 33333 44444 55555 66666"] * 7)
    docs = spark.createDataFrame(
        [(0, good), (1, short), (2, no_stop), (3, digits)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in T.gopher_rules(docs).collect()}
    assert out[0]["keep"] == 1 and out[0]["ok_word_count"] == 1
    assert out[1]["keep"] == 0 and out[1]["ok_word_count"] == 0
    assert out[1]["ok_stops"] == 1  # 'the'+'with'+'that'
    assert out[2]["keep"] == 0 and out[2]["ok_stops"] == 0
    assert out[2]["ok_alpha"] == 1
    assert out[3]["ok_alpha"] == 0  # all-digit tokens
    assert out[3]["ok_mean_len"] == 1  # 5-char words


def test_boilerplate_grams_planted(spark):
    shared = "subscribe to our newsletter for daily updates"
    docs = spark.createDataFrame(
        [
            (0, f"first article body text {shared} more unique words here"),
            (1, f"{shared} totally different second article content follows"),
            # repeats the phrase twice IN ONE doc: must still count df=1
            (2, f"unrelated {shared} padding {shared} trailing words"),
            (3, "no overlap with anything else at all in this document"),
        ],
        "doc_id long, text string",
    )
    out = {r["gram"]: r["df"] for r in T.boilerplate_grams(docs, k=5, min_docs=3).collect()}
    assert out["subscribe to our newsletter for"] == 3  # docs 0,1,2 — not 4
    assert all(df >= 3 for df in out.values())


def test_label_centroids_array_form(spark):
    from market_data_ingestion_scraper_spark.operators.similarity import (
        label_centroids,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 2.0, 3.0], 7),
            (1, [3.0, 0.0, 1.0], 7),
            (2, [10.0, 20.0, 30.0], 8),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["label"]: r for r in label_centroids(emb).collect()}
    assert out[7]["n_vecs"] == 2 and out[7]["centroid"] == [2.0, 1.0, 2.0]
    assert out[8]["n_vecs"] == 1 and out[8]["centroid"] == [10.0, 20.0, 30.0]


def test_paragraph_dup_stats_counts_planted_dup(spark):
    # two identical docs of 2 paragraphs + one unique doc: 6 instances,
    # 4 distinct, 4 instances belong to repeated paragraphs
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")],
        "doc_id long, text string",
    )
    row = D.paragraph_dup_stats(docs, k=2).collect()[0]
    assert row["n_paragraphs"] == 6
    assert row["n_distinct_paragraphs"] == 4
    assert row["n_dup_instances"] == 4
    assert abs(row["dup_ratio"] - round(4 / 6, 6)) < 1e-9


def test_bigram_merges_rank_and_tiebreak(spark):
    docs = spark.createDataFrame(
        [(1, "x y x y"), (2, "x y a b"), (3, "a b a b")],
        "doc_id long, text string",
    )
    # pair counts: "x y"=3, "a b"=3, "y x"=1, "b a"=1, "y a"=1
    rows = T.bigram_merge_candidates(docs, k=5, min_count=2).collect()
    assert [(r["pair"], r["n"], r["rnk"]) for r in rows] == [
        ("a b", 3, 1),
        ("x y", 3, 2),
    ]


def test_centroid_assign_recovers_planted_labels(spark):
    # two well-separated clusters: members must be assigned their own label
    from market_data_ingestion_scraper_spark.operators.similarity import (
        centroid_assign,
    )

    rows = [
        (1, [1.0, 0.0, 0.1], 0),
        (2, [0.9, 0.1, 0.0], 0),
        (3, [0.0, 1.0, 0.1], 1),
        (4, [0.1, 0.9, 0.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["vec_id"]: r["pred_label"] for r in centroid_assign(emb).collect()}
    assert out == {1: 0, 2: 0, 3: 1, 4: 1}


def test_near_dup_clusters_methods_agree(spark):
    # deep-chain corpus: doc i is a 13-token sliding window over one long
    # token stream, so adjacent docs share 10/12 trigrams (J=0.833) and
    # docs two apart only 9/13 (J=0.69) — at threshold 0.8 the near-dup
    # graph is a pure chain of diameter 7.  All three component
    # algorithms (alternating star — the default, plain min-label
    # propagation, propagation + pointer jump) must produce the identical
    # labeling.
    stream = [f"t{j}" for j in range(24)]
    docs = spark.createDataFrame(
        [(i, " ".join(stream[i : i + 13])) for i in range(8)],
        "doc_id long, text string",
    )
    expected = {(i, 0, 8) for i in range(8)}
    star_stats, prop_stats = {}, {}
    star = {
        (r["doc_id"], r["cluster_rep"], r["cluster_size"])
        for r in D.near_duplicate_clusters(
            docs, threshold=0.8, stats=star_stats
        ).collect()
    }
    plain = {
        (r["doc_id"], r["cluster_rep"], r["cluster_size"])
        for r in D.near_duplicate_clusters(
            docs, threshold=0.8, method="propagate", stats=prop_stats
        ).collect()
    }
    jumped = {
        (r["doc_id"], r["cluster_rep"], r["cluster_size"])
        for r in D.near_duplicate_clusters(
            docs, threshold=0.8, method="propagate", pointer_jump=True
        ).collect()
    }
    assert star == plain == jumped == expected
    assert star_stats["converged"] and prop_stats["converged"]
    # star contracts the diameter-7 chain in fewer rounds than one-hop
    # propagation
    assert star_stats["rounds"] < prop_stats["rounds"]


def test_star_components_planted_64_link_chain(spark):
    # planted chain: 65 nodes, 64 edges, diameter 64.  Plain propagation
    # needs ~64 rounds (one hop per round); alternating star halves the
    # chain per round — ~log2(64) contraction rounds plus one stability
    # check — with identical labels.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    stats = {}
    labels = {
        (r["id"], r["label"])
        for r in D._star_components(pairs, max_iter=25, stats=stats).collect()
    }
    assert labels == {(i, 0) for i in range(65)}
    assert stats["converged"]
    assert stats["rounds"] <= 8, stats


def test_clustering_loop_releases_checkpoint_storage(spark):
    # r7 advice closure: each round's localCheckpoint blocks must be freed
    # DETERMINISTICALLY when the next round materializes — across a
    # ~100-iteration propagation loop (101-node chain, diameter 100, one
    # hop per round) the persistent-RDD census must stay flat, not grow by
    # one checkpoint per round.  A release regression turns the +bounded
    # assertion into +~100 and fails loudly.
    def census():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    spark.catalog.clearCache()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a long, doc_b long"
    )
    before = census()
    stats = {}
    labels = D._propagate_components(pairs, max_iter=120, stats=stats)
    got = {(r["id"], r["label"]) for r in labels.collect()}
    assert got == {(i, 0) for i in range(101)}
    assert stats["converged"] and stats["rounds"] >= 100, stats
    # surviving entries: the persisted edge list + the final round's
    # checkpoint (still reachable through the returned plan) — nothing
    # proportional to the round count.
    assert census() - before <= 3, (before, census(), stats)
    # the star path has the same discipline at its own (fewer) rounds
    before = census()
    s_stats = {}
    D._star_components(pairs, max_iter=25, stats=s_stats).collect()
    assert s_stats["converged"]
    assert census() - before <= 3, (before, census(), s_stats)


def _wrs_twin(rows, n, seed="wrs-v1"):
    """Independent A-ES twin: hashlib md5 uniforms, half-up nano keys."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    HASH_P = 2_147_483_647
    out = []
    for doc_id, w in rows:
        if w is None or w <= 0:
            continue
        h = int(hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:8], 16) % HASH_P
        u = (h + 1) / (HASH_P + 1)
        key = math.log(u) / w * 1e9
        key_nano = int(Decimal(repr(key)).quantize(Decimal(1), ROUND_HALF_UP))
        out.append((doc_id, w, key_nano))
    out.sort(key=lambda r: (-r[2], r[0]))
    return out[:n]


def test_weighted_reservoir_matches_independent_twin(spark):
    rows = [(i, (i * 37) % 211 + 1) for i in range(60)] + [(60, 0), (61, None)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    got = [
        (r["doc_id"], r["weight"], r["key_nano"])
        for r in S.weighted_reservoir_sample(df, n=10).collect()
    ]
    want = _wrs_twin(rows, 10)
    assert sorted(got) == sorted(want)


def test_weighted_reservoir_seed_and_weight_behavior(spark):
    rows = [(i, 10) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    a = {r["doc_id"] for r in S.weighted_reservoir_sample(df, n=8, seed="s1").collect()}
    b = {r["doc_id"] for r in S.weighted_reservoir_sample(df, n=8, seed="s2").collect()}
    assert a != b  # independent draws
    # determinism across partitionings
    c = {
        r["doc_id"]
        for r in S.weighted_reservoir_sample(df.repartition(7), n=8, seed="s1").collect()
    }
    assert a == c
    # a massively heavier row is always selected over uniform-weight rows:
    # its key ln(u)/w approaches 0 from below, beating any weight-10 key
    heavy = spark.createDataFrame(
        rows + [(99, 10_000_000_000)], "doc_id long, n_chars long"
    )
    sel = {r["doc_id"] for r in S.weighted_reservoir_sample(heavy, n=8).collect()}
    assert 99 in sel
