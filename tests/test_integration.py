"""End-to-end pipeline integration: the complete training-corpus journey
a user of this engine runs — land JSONL → ingest (quarantine + exact
dedup) → quality gate → near-dup drop → span strip accounting → pack
plan → deterministic training order — chained on the real fixture
corpus, asserting conservation/determinism invariants at every stage."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from market_data_ingestion_scraper_spark.jobs import run_corpus_ingestion
from market_data_ingestion_scraper_spark.operators.dedup import (
    dedup_survivors,
    strip_duplicated_spans,
)
from market_data_ingestion_scraper_spark.operators.chunking import (
    curriculum_pack_order,
)
from market_data_ingestion_scraper_spark.operators.mixing import training_order
from market_data_ingestion_scraper_spark.operators.text import gopher_rules
from market_data_ingestion_scraper_spark.sources import load_table


def test_full_training_corpus_pipeline(spark, sf_smoke, tmp_path):
    docs = load_table(spark, sf_smoke, "documents")
    n_docs = docs.count()

    # 1. land the corpus as a JSONL crawl drop (with two corrupt lines)
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "shard-0.jsonl"), "w") as f:
        for r in docs.collect():
            f.write(json.dumps(r.asDict()) + "\n")
        f.write("corrupt line one\n")
        f.write('{"doc_id": broken\n')

    # 2. ingest: quarantine + exact content dedup + partitioned gold
    gold = str(tmp_path / "gold")
    m = run_corpus_ingestion(spark, landing, gold)
    assert m["n_clean"] == n_docs
    assert m["n_quarantined"] == 2
    assert m["n_kept"] == n_docs - m["n_dup_copies_removed"]
    corpus = spark.read.parquet(gold)
    assert corpus.count() == m["n_kept"]

    # 3. quality gate (Gopher rules) — keep survivors only
    gated_ids = gopher_rules(corpus).filter(F.col("keep") == 1).select("doc_id")
    gated = corpus.join(gated_ids, "doc_id", "left_semi")
    n_gated = gated.count()
    assert 0 < n_gated <= m["n_kept"]

    # 4. near-dup drop (greedy keep-lowest-id over exact ssjoin)
    surv_ids = dedup_survivors(gated, threshold=0.7)
    surv = gated.join(surv_ids, "doc_id", "left_semi")
    n_surv = surv.count()
    assert 0 < n_surv <= n_gated
    # the fixture plants near-dup groups; the gate must drop something
    # only if pairs exist — consistency, not a magic number:
    assert n_surv == surv_ids.count()

    # 5. duplicated-span strip accounting on the survivors: token
    # conservation (kept <= total, equality iff nothing stripped)
    stripped = strip_duplicated_spans(surv, n=8)
    assert stripped.count() == n_surv
    bad = stripped.filter(
        (F.col("n_kept_tokens") > F.col("n_tokens"))
        | (F.col("n_kept_tokens") < 0)
    )
    assert bad.count() == 0

    # 6. pack plan over the survivors: every doc placed exactly once
    plan = curriculum_pack_order(surv, ctx_tokens=512, strata_cols="lang")
    assert plan.count() == n_surv
    assert plan.select("doc_id").distinct().count() == n_surv

    # 7. deterministic training order: a permutation, reproducible,
    # re-drawn by salt
    e0 = training_order(surv, n_shards=4, salt="epoch-0")
    assert e0.count() == n_surv
    assert e0.select("shard", "pos").distinct().count() == n_surv
    again = training_order(surv, n_shards=4, salt="epoch-0")
    assert e0.exceptAll(again).count() == 0
    e1 = training_order(surv, n_shards=4, salt="epoch-1")
    moved = e0.alias("a").join(
        e1.alias("b"),
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & ((F.col("a.shard") != F.col("b.shard"))
           | (F.col("a.pos") != F.col("b.pos"))),
    )
    assert moved.count() > 0  # new salt redraws the permutation
