"""Tests for the end-to-end ingestion job (main() analog), observe-based
metrics, and skew utilities."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from market_data_ingestion_scraper_spark import jobs
from market_data_ingestion_scraper_spark.operators import metrics as M
from market_data_ingestion_scraper_spark.operators import skew as K
from market_data_ingestion_scraper_spark.sources import load_table

APPLES = """commodity_raw,container,price,qty_sold,total_value
Apples,10kg box,12.50,100,1250.00
Apples,5kg bag,7.25,40,290.00
TOTAL,,19.75,140,1540.00
"""

PEARS = """commodity_raw,container,price,qty_sold,total_value
Pears,crate,30.00,10,300.00
"""


@pytest.fixture()
def raw_paths(tmp_path):
    a = tmp_path / "apples.csv"
    a.write_text(APPLES)
    p = tmp_path / "pears.csv"
    p.write_text(PEARS)
    return {"Apples (Golden)": str(a), "Pears": str(p)}


def test_run_market_ingestion_end_to_end(spark, raw_paths, tmp_path):
    lake = str(tmp_path / "lake")
    metrics = jobs.run_market_ingestion(
        spark, raw_paths, lake, scrape_date="2026-08-13", run_id="r1"
    )
    # apples is multi-container → all 3 link types; pears single → summary only
    assert set(metrics) == {
        "apples_golden/summary", "apples_golden/container", "apples_golden/variety",
        "pears/summary",
    }
    assert metrics["apples_golden/summary"] == (2, 2)  # total row dropped pre-write
    report = jobs.daily_report(spark, lake).collect()
    by_c = {r["commodity"]: r for r in report}
    assert by_c["apples_golden"]["total_qty"] == 140.0
    assert by_c["pears"]["total_revenue"] == 300.0

    # resume: everything completed → no units re-processed
    again = jobs.run_market_ingestion(
        spark, raw_paths, lake, scrape_date="2026-08-13", run_id="r2"
    )
    assert again == {}


def test_observed_count_rides_action(spark, sf_smoke):
    df, obs = M.observed_count(load_table(spark, sf_smoke, "part"))
    df.write.mode("overwrite").format("noop").save()
    assert obs.get["n_rows"] == 200


def test_salted_broadcast_left_matches_plain(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem").withColumnRenamed("l_partkey", "p_partkey")
    part = load_table(spark, sf_smoke, "part")
    plain = li.join(F.broadcast(part), "p_partkey").count()
    salted = K.salted_broadcast_left(li, part, "p_partkey").count()
    assert salted == plain


def test_run_training_data_build_end_to_end(spark, tmp_path):
    """The engine end-to-end (quality gate -> exact dedup ->
    contamination-safe split -> example construction): funnel counters
    reconcile exactly with the gated per-stage operators, eval text
    NEVER reaches a training example (the leakage contract), and a
    re-run writes byte-identical outputs (every stage is a pure
    function of content and ids)."""
    import glob
    import os

    from market_data_ingestion_scraper_spark.jobs import (
        run_training_data_build,
    )
    from market_data_ingestion_scraper_spark.sources.tables import load_table

    docs_path = str(tmp_path / "docs_in")
    load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang", "source"
    ).write.parquet(docs_path)
    out1 = str(tmp_path / "build1")
    c = run_training_data_build(spark, docs_path, out1, write_sidecars=True)

    assert c["n_input"] == 500
    assert 0 < c["n_quality_kept"] <= c["n_input"]
    assert 0 < c["n_deduped"] <= c["n_quality_kept"]
    assert c["n_train"] + c["n_eval"] + c["n_quarantine"] == c["n_deduped"]
    # X34 span corruption emits exactly one example per train document;
    # FIM skips docs under 3 tokens; instruction pairs are bounded by
    # non-overlapping pairing
    assert c["n_span_examples"] == c["n_train"]
    assert c["n_fim_examples"] <= c["n_train"]
    assert 0 < c["n_instruct_examples"] <= c["n_train"] // 2 + 1
    # the example counters are observed on the writes, not re-read: each
    # must equal the row count of the output it counts
    for key, sub in (("n_span_examples", "train_span"),
                     ("n_fim_examples", "train_fim"),
                     ("n_instruct_examples", "train_instruct")):
        assert c[key] == spark.read.parquet(os.path.join(out1, sub)).count(), key

    # stage reconciliation: the written assignment equals the gated
    # operator run independently over the same deduped corpus
    from market_data_ingestion_scraper_spark.operators.dedup import (
        content_hash_dedup,
    )
    from market_data_ingestion_scraper_spark.operators.ensemble import (
        quality_ensemble,
    )
    from market_data_ingestion_scraper_spark.operators.splits import (
        decontaminated_holdout,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(docs_path)
    kept = quality_ensemble(docs).where(F.col("keep")).select("doc_id")
    gated = docs.join(kept, "doc_id", "left_semi")
    from market_data_ingestion_scraper_spark.jobs import _content_hash

    groups = content_hash_dedup(gated.withColumn("content_hash", _content_hash()))
    deduped = gated.join(
        groups.select(F.col("keep_doc_id").alias("doc_id")), "doc_id",
        "left_semi",
    )
    want = {
        tuple(r)
        for r in decontaminated_holdout(
            deduped.select("doc_id", "text")
        ).collect()
    }
    got = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out1, "split_assignment")).collect()
    }
    assert got == want

    # leakage contract: no eval doc id appears in ANY training example
    eval_ids = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out1, "eval_docs")).collect()
    }
    span_ids = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out1, "train_span")).collect()
    }
    pair_rows = spark.read.parquet(os.path.join(out1, "train_instruct")).collect()
    pair_ids = {r["prompt_doc_id"] for r in pair_rows} | {
        r["response_doc_id"] for r in pair_rows
    }
    assert not (eval_ids & span_ids) and not (eval_ids & pair_ids)

    # byte-identical re-run: same counters, same part-file bytes
    out2 = str(tmp_path / "build2")
    assert run_training_data_build(
        spark, docs_path, out2, write_sidecars=True
    ) == c
    for sub in ("eval_docs", "split_assignment", "train_span", "train_fim",
                "train_instruct", "sidecar_train_grams", "sidecar_eval_grams"):
        p1 = sorted(glob.glob(os.path.join(out1, sub, "part-*")))
        p2 = sorted(glob.glob(os.path.join(out2, sub, "part-*")))
        # a sidecar writes one file per non-empty shard partition
        assert len(p1) == len(p2) >= 1, (sub, p1, p2)
        if not sub.startswith("sidecar_"):
            assert len(p1) == 1, (sub, p1)
        for f1, f2 in zip(p1, p2):
            assert open(f1, "rb").read() == open(f2, "rb").read(), (sub, f1)


def _cache_manager_entries(spark) -> int:
    """Number of frames in the session's cache manager (its private
    ``cachedData`` sequence, read by reflection)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = next(
        f for f in cm.getClass().getDeclaredFields()
        if f.getName().endswith("cachedData")
    )
    field.setAccessible(True)
    return field.get(cm).size()


def test_run_training_data_build_releases_caches_when_a_stage_raises(
    spark, tmp_path, monkeypatch
):
    """A stage that raises must not leave the build's persisted frames
    (keep ids, deduped corpus, assignment) cached in the session: after
    a failed build the cache manager holds no more entries than after a
    successful one."""
    from market_data_ingestion_scraper_spark.jobs import (
        run_training_data_build,
    )
    from market_data_ingestion_scraper_spark.operators import splits
    from market_data_ingestion_scraper_spark.sources.tables import load_table

    docs_path = str(tmp_path / "docs_in")
    load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang", "source"
    ).write.parquet(docs_path)
    run_training_data_build(spark, docs_path, str(tmp_path / "ok"))
    after_ok = _cache_manager_entries(spark)

    def fail(*args, **kwargs):
        raise RuntimeError("split write failed")

    monkeypatch.setattr(splits, "write_holdout_split", fail)
    with pytest.raises(RuntimeError, match="split write failed"):
        run_training_data_build(spark, docs_path, str(tmp_path / "failed"))
    assert _cache_manager_entries(spark) <= after_ok


def test_run_training_data_build_serve_handoff(spark, tmp_path):
    """write_sidecars=True closes the build -> serve loop: the job's
    bloom sidecars load with load_hash_bloom and stream_holdout_tag
    over them reproduces the job's own written split assignment (fp ~ 0
    at the auto-sized bit budget)."""
    import os

    from market_data_ingestion_scraper_spark.jobs import (
        run_training_data_build,
    )
    from market_data_ingestion_scraper_spark.operators.bloom import (
        load_hash_bloom,
    )
    from market_data_ingestion_scraper_spark.sources.tables import load_table
    from market_data_ingestion_scraper_spark.streaming.pipeline import (
        stream_holdout_tag,
    )

    docs_path = str(tmp_path / "docs_in")
    load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang", "source"
    ).write.parquet(docs_path)
    out = str(tmp_path / "build")
    c = run_training_data_build(spark, docs_path, out, write_sidecars=True)
    assert c["n_train_grams"] > 0 and c["n_eval_grams"] >= 0
    tb, tside = load_hash_bloom(spark, os.path.join(out, "sidecar_train_grams"))
    eb, eside = load_hash_bloom(spark, os.path.join(out, "sidecar_eval_grams"))
    assert tside["hash_col"] == "gram_hash" and tside["k"] == 5

    # rebuild the deduped corpus the split was made over: the assignment
    # parquet carries exactly its doc_ids
    assignment = spark.read.parquet(os.path.join(out, "split_assignment"))
    corpus = (
        spark.read.parquet(docs_path)
        .join(assignment.select("doc_id"), "doc_id", "left_semi")
        .select("doc_id", "text")
    )
    served = {
        r["doc_id"]: r["split"]
        for r in stream_holdout_tag(corpus, tb, eb, tside, eside).collect()
    }
    want = {r["doc_id"]: r["split"] for r in assignment.collect()}
    assert served == want


def test_run_training_data_build_serves_its_own_gram_width(
    spark, tmp_path, sf_oracle
):
    """A build at a gram width other than the default serves from its
    sidecars alone: each sidecar carries the split record (k=7, the
    hash mode, min_hits), the tagger reads them from there, and the fit
    corpus's tags equal the written split assignment.  The tagger takes
    no k= of its own that could disagree."""
    import os

    from market_data_ingestion_scraper_spark.jobs import (
        run_training_data_build,
    )
    from market_data_ingestion_scraper_spark.operators.bloom import (
        load_hash_bloom,
    )
    from market_data_ingestion_scraper_spark.operators.splits import (
        load_holdout_split,
    )
    from market_data_ingestion_scraper_spark.sources.tables import load_table
    from market_data_ingestion_scraper_spark.streaming.pipeline import (
        stream_holdout_tag,
    )

    docs_path = str(tmp_path / "docs_in")
    load_table(spark, sf_oracle, "documents").select(
        "doc_id", "text", "lang", "source"
    ).write.parquet(docs_path)
    out = str(tmp_path / "build")
    run_training_data_build(spark, docs_path, out, k=7, write_sidecars=True)
    tb, tm = load_hash_bloom(spark, os.path.join(out, "sidecar_train_grams"))
    eb, em = load_hash_bloom(spark, os.path.join(out, "sidecar_eval_grams"))
    split = load_holdout_split(spark, os.path.join(out, "split_assignment"))
    # the bloom sidecars keep their own kind and carry the split record
    assert tm["kind"] == em["kind"] == "sharded-bloom"
    for meta in (tm, em):
        assert {k: meta[k] for k in split.params} == split.params
    assert split.params == {"k": 7, "min_hits": 1, "holdout_ppm": 100_000}

    corpus = (
        spark.read.parquet(docs_path)
        .join(split.df.select("doc_id"), "doc_id", "left_semi")
        .select("doc_id", "text")
    )
    served = {
        r["doc_id"]: r["split"]
        for r in stream_holdout_tag(
            corpus, tb, eb, train_meta=tm, eval_meta=em
        ).collect()
    }
    assert served == {r["doc_id"]: r["split"] for r in split.df.collect()}
    with pytest.raises(TypeError, match="'k'"):
        stream_holdout_tag(corpus, tb, eb, train_meta=tm, eval_meta=em, k=7)


def test_get_spark_defaults_to_host_cores(monkeypatch):
    """Without SPARK_GRAFT_CPUS, get_spark sizes local[N] and the shuffle
    partitions by the cores this process may run on, not a fixed 32 that
    oversubscribes a small host.  A recording fake stands in for
    SparkSession, so no JVM starts."""
    from market_data_ingestion_scraper_spark import session

    seen = {}

    class Builder:
        def appName(self, name):
            return self

        def master(self, master):
            seen["master"] = master
            return self

        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):
            return type("Fake", (), {"sparkContext": type(
                "Ctx", (), {"setLogLevel": lambda self, level: None})()})()

    monkeypatch.setattr(session, "SparkSession", type("S", (), {"builder": Builder()}))
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    session.get_spark()
    assert seen["master"] == "local[3]"
    assert seen["spark.sql.shuffle.partitions"] == "3"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    session.get_spark()
    assert seen["master"] == "local[5]"
    assert seen["spark.sql.shuffle.partitions"] == "5"
