"""Streaming-slice tests (SURVEY.md §2.10): file-source micro-batches over
the events fixture, watermarked dedup, tumbling/sliding/session windows,
batch/stream parity, and idempotent foreachBatch sink with checkpoint resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from market_data_ingestion_scraper_spark.sources import load_table
from market_data_ingestion_scraper_spark.streaming import pipeline as P


@pytest.fixture(scope="module")
def events_dir(spark, sf_smoke, tmp_path_factory):
    """Re-land the events fixture as a streamable directory of µs-timestamp
    parquet files (the fixture's ns timestamps can't be streamed directly),
    split into 3 files → 3 micro-batches under maxFilesPerTrigger=1."""
    d = tmp_path_factory.mktemp("events_stream")
    load_table(spark, sf_smoke, "events").repartition(3).write.mode("overwrite").parquet(
        str(d / "in")
    )
    return str(d / "in")


def test_tumbling_counts_stream_matches_batch(spark, sf_smoke, events_dir):
    stream_out = P.run_to_memory(
        P.tumbling_counts(P.stream_events(spark, events_dir)), "t_tumbling", spark
    )
    batch_out = P.tumbling_counts(load_table(spark, sf_smoke, "events"))
    s = {(r["day"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
         for r in stream_out.collect()}
    b = {(r["day"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
         for r in batch_out.collect()}
    assert s == b  # one code path, two execution modes, same answer


def test_dedup_late_events_drops_redelivery(spark, events_dir, tmp_path):
    # re-deliver the same files twice → same event_ids arrive again
    ev = P.stream_events(spark, events_dir)
    deduped = P.dedup_late_events(ev, watermark="10 seconds")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    n_unique = spark.table("t_dedup").select("event_id").distinct().count()
    n_rows = spark.table("t_dedup").count()
    assert n_rows == n_unique  # no duplicate event_ids in the output


def test_sliding_and_session_windows_run(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events")
    sl = P.sliding_value_avg(ev)
    assert sl.count() > 0
    # sliding windows overlap: more window rows than tumbling hours
    se = P.user_sessions(ev)
    assert se.count() > 0
    assert se.filter(F.col("end") < F.col("start")).count() == 0


def test_stream_stream_interval_join_matches_batch(spark, sf_smoke, tmp_path):
    # single-file landing → one micro-batch → no cross-batch late data, so
    # the streaming result must equal the batch inequality join exactly
    batch_events = load_table(spark, sf_smoke, "events")
    d = str(tmp_path / "one_batch")
    batch_events.coalesce(1).write.mode("overwrite").parquet(d)
    stream = P.stream_events(spark, d)

    q = (
        P.clicks_with_recent_purchase(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ssj")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r["click_id"], r["purchase_id"]) for r in spark.table("t_ssj").collect()}
    want = {
        (r["click_id"], r["purchase_id"])
        for r in P.clicks_with_recent_purchase(batch_events).collect()
    }
    assert got == want and len(want) > 0


def test_foreach_batch_sink_idempotent_resume(spark, events_dir, tmp_path):
    root, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    ev = P.stream_events(spark, events_dir)
    q = P.write_events_silver(ev, root, ckpt)
    q.processAllAvailable()
    q.stop()
    n1 = spark.read.parquet(f"{root}/events_silver").count()

    # restart with the same checkpoint: no new input → no duplicate rows
    q2 = P.write_events_silver(P.stream_events(spark, events_dir), root, ckpt)
    q2.processAllAvailable()
    q2.stop()
    n2 = spark.read.parquet(f"{root}/events_silver").count()
    assert n1 == n2 == 1000


def test_foreach_batch_sink_replay_does_not_duplicate(spark, sf_smoke, tmp_path):
    """Crash-replay contract: re-delivering the SAME micro-batch (same
    batch_id, as Spark does when a crash interrupts the commit) must
    overwrite, not append — and must not clobber other batches that share
    an event_date."""
    root = str(tmp_path / "lake")
    ev = load_table(spark, sf_smoke, "events")
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)  # same dates as b0

    P.sink_events_batch(b0, 0, root)
    P.sink_events_batch(b1, 1, root)
    n_both = spark.read.parquet(f"{root}/events_silver").count()
    assert n_both == ev.count()  # batches sharing dates coexist

    P.sink_events_batch(b1, 1, root)  # crash-replay of batch 1
    silver = spark.read.parquet(f"{root}/events_silver")
    assert silver.count() == ev.count()  # replay overwrote, no duplicates
    assert silver.select("event_id").distinct().count() == ev.count()


def test_stream_static_enrichment_matches_batch(spark, sf_smoke, events_dir):
    # static user-tier dim joined into each micro-batch; no streaming
    # state, broadcast per trigger; batch run of the same code agrees
    ev_batch = load_table(spark, sf_smoke, "events")
    dim = (
        ev_batch.select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 3).cast("int"))
    )
    stream_out = P.run_to_memory(
        P.enrich_with_static(P.stream_events(spark, events_dir), dim),
        "t_enrich",
        spark,
        mode="append",
    )
    s = {(r["event_id"], r["tier"]) for r in stream_out.collect()}
    b = {
        (r["event_id"], r["tier"])
        for r in P.enrich_with_static(ev_batch, dim).collect()
    }
    assert s == b and len(s) == ev_batch.count()


def test_enrichment_passes_through_arbitrary_stream_columns(spark, sf_smoke):
    # the operator is generic over the stream schema: extra columns
    # survive, nothing is hardcoded (r6 advice)
    ev = load_table(spark, sf_smoke, "events").withColumn(
        "extra_payload", F.concat(F.lit("p"), F.col("event_id"))
    )
    dim = (
        ev.select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 3).cast("int"))
    )
    out = P.enrich_with_static(ev, dim)
    assert out.columns == ev.columns + ["tier"]
    row = out.filter(F.col("extra_payload").isNotNull()).first()
    assert row["extra_payload"].startswith("p")


def test_dedup_within_watermark_drops_jittered_redelivery(spark, tmp_path):
    """dropDuplicatesWithinWatermark vs plain dropDuplicates: a re-delivery
    with a JITTERED timestamp (broker retry + clock skew) is still the
    same event_id and must be dropped; the id is re-admitted after state
    expires past the watermark."""
    import datetime as dt
    import os

    d = str(tmp_path / "in")
    os.makedirs(d)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def land(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string"
        ).coalesce(1).write.mode("append").parquet(d)

    ev = P.stream_events(spark, d)
    deduped = P.dedup_within_watermark(ev, watermark="10 minutes")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_wm_dedup")
        .start()
    )
    land("a", [(1, t0, 10, "click", 1.0, "{}"), (2, t0, 11, "view", 2.0, "{}")])
    q.processAllAvailable()
    # jittered re-delivery of id 1 (+5 s), inside the watermark window
    land("b", [(1, t0 + dt.timedelta(seconds=5), 10, "click", 1.0, "{}"),
               (3, t0 + dt.timedelta(seconds=9), 12, "buy", 3.0, "{}")])
    q.processAllAvailable()
    q.stop()
    out = spark.table("t_wm_dedup")
    assert out.count() == 3  # ids {1,2,3}: the jittered copy of 1 dropped
    assert out.select("event_id").distinct().count() == 3
    # plain dropDuplicates on (event_id) keyed with ts state would have
    # treated the jittered copy as new: prove the distinction
    ids = sorted(r["event_id"] for r in out.collect())
    assert ids == [1, 2, 3]


def test_streaming_ann_matches_batch_topk(spark, sf_smoke, tmp_path):
    """Online ANN serving: a stream of query vectors enriched against a
    static prebuilt LSH index must return EXACTLY the batch lsh_topk
    answer (same candidates, same cosine, same tie-break order) — one
    index, two execution modes."""
    from market_data_ingestion_scraper_spark.operators.similarity import (
        lsh_index,
        lsh_topk,
    )

    emb = load_table(spark, sf_smoke, "embeddings").select(
        "vec_id", "embedding"
    )
    # serve through the AnnIndex handle: parameters come from the
    # record, not re-typed ints (r7 review — mismatch-proof serving)
    handle = lsh_index(emb, n_planes=4, n_tables=8, dim=64, seed_base=1000)
    handle.df.persist()
    q_batch = emb.filter(F.col("vec_id") < 8)

    qdir = str(tmp_path / "queries")
    q_batch.repartition(2).write.parquet(qdir)  # 2 files -> 2 micro-batches
    q_stream = (
        spark.readStream.schema(q_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    out = P.run_to_memory(
        P.ann_enrich_stream(q_stream, handle, emb, k=5),
        "t_ann_stream",
        spark,
        mode="complete",
    )
    got = {
        r["query_id"]: [(n["neighbor_id"], n["cos_sim"]) for n in r["topk"]]
        for r in out.collect()
    }
    want: dict[int, list] = {}
    for r in lsh_topk(emb, q_batch, handle, k=5).collect():
        want.setdefault(r["query_id"], []).append(
            (r["rnk"], r["neighbor_id"], r["cos_sim"])
        )
    want_ordered = {
        q: [(n, c) for _, n, c in sorted(rows)] for q, rows in want.items()
    }
    assert got == want_ordered
    handle.df.unpersist()


def test_compact_events_silver_folds_batch_level(spark, sf_smoke, tmp_path):
    """Compaction folds (event_date, ingest_batch_id) down to one file per
    date: same rows, per-batch directories gone, event_date pruning
    intact, and a re-run is a no-op."""
    import os

    root = str(tmp_path / "lake")
    ev = load_table(spark, sf_smoke, "events")
    # three "micro-batches" land via the real sink body
    parts = ev.randomSplit([1.0, 1.0, 1.0], seed=7)
    for bid, part in enumerate(parts):
        P.sink_events_batch(part, bid, root)
    base = os.path.join(root, "events_silver")
    # materialize BEFORE compaction: the lazy plan's file listing dies
    # with the per-batch directories
    before_ids = sorted(
        r["event_id"]
        for r in spark.read.parquet(base).select("event_id").collect()
    )
    n_before = len(before_ids)
    date_dirs = [d for d in os.listdir(base) if d.startswith("event_date=")]
    assert any(
        any(x.startswith("ingest_batch_id=") for x in os.listdir(os.path.join(base, d)))
        for d in date_dirs
    )

    stats = P.compact_events_silver(spark, root)
    assert stats["dates_compacted"] == len(date_dirs)
    assert stats["batch_dirs_removed"] >= len(date_dirs)
    after = spark.read.parquet(base)
    assert after.count() == n_before
    # every date folded to exactly the reserved compaction batch dir —
    # the layout stays uniform (only ingest_batch_id=* dirs), so readers
    # never see conflicting partition column names mid-compaction
    for d in date_dirs:
        subs = [x for x in os.listdir(os.path.join(base, d))
                if x.startswith("ingest_batch_id=")]
        assert subs == [f"ingest_batch_id={P.COMPACTED_BATCH_ID}"]
    # same event_ids survive
    assert sorted(
        r["event_id"] for r in after.select("event_id").collect()
    ) == before_ids
    # idempotent re-run: nothing left to fold
    again = P.compact_events_silver(spark, root)
    assert again["dates_compacted"] == 0


def test_stream_near_dup_filter_admission(spark, sf_smoke, tmp_path):
    """Admission control: an incoming vector that copies a corpus vector
    is rejected (exact dup ⇒ identical buckets in every table ⇒ always
    caught); a fresh random vector is admitted.  Stream ≡ batch."""
    import random

    from market_data_ingestion_scraper_spark.operators.similarity import (
        lsh_index,
    )

    emb = load_table(spark, sf_smoke, "embeddings").select(
        "vec_id", "embedding"
    )
    handle = lsh_index(emb, n_planes=8, n_tables=6, dim=64, seed_base=7000)
    handle.df.persist()
    v0 = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    rng = random.Random(11)
    fresh = [rng.uniform(-1, 1) for _ in range(64)]
    # id 0 deliberately REUSES its corpus id: a re-crawl that kept its id
    # but carries near-identical content must still be rejected against
    # its own corpus copy (a 'self'-exclusion here would admit it)
    incoming = spark.createDataFrame(
        [
            (0, [float(x) for x in v0]),
            (9002, [float(x) for x in fresh]),
            (9003, None),  # un-embeddable: dropped by policy (pinned)
        ],
        "vec_id long, embedding array<float>",
    )

    batch = P.stream_near_dup_filter(incoming, handle, emb)
    admitted_batch = {r["vec_id"]: r["max_corpus_sim"] for r in batch.collect()}
    assert 0 not in admitted_batch             # same-id re-crawl rejected
    assert 9002 in admitted_batch              # novel content lands
    assert admitted_batch[9002] < 0.95
    assert 9003 not in admitted_batch          # null embedding: dropped

    qdir = str(tmp_path / "incoming")
    incoming.write.parquet(qdir)
    stream = spark.readStream.schema(incoming.schema).parquet(qdir)
    # the streaming leg serves the same handle — must equal the batch
    out = P.run_to_memory(
        P.stream_near_dup_filter(stream, handle, emb),
        "t_admission", spark, mode="complete",
    )
    admitted_stream = {r["vec_id"]: r["max_corpus_sim"] for r in out.collect()}
    assert admitted_stream == admitted_batch
    handle.df.unpersist()


def test_lsh_index_handle_twins_serve_identically(spark, sf_oracle, tmp_path):
    """The in-memory lsh_index handle and the persisted one
    (write_lsh_index -> load_ann_index) serve identically through all
    five LSH serving paths, at the near-dup family (8 planes, 6 tables,
    seed 7000) rather than the 4/8/1000 defaults.  All 20 planted exact
    copies of corpus vectors are rejected — a 4-plane bucket frame
    passed to the 8-plane filter admitted 19 of them — and no path takes
    a bucket frame or a hash-family argument beside the handle."""
    import random

    from market_data_ingestion_scraper_spark.operators.alignment import (
        side_neighborhood_stats,
    )
    from market_data_ingestion_scraper_spark.operators.similarity import (
        ann_recall,
        load_ann_index,
        lsh_index,
        lsh_topk,
        write_lsh_index,
    )

    emb = load_table(spark, sf_oracle, "embeddings").select(
        "vec_id", "embedding"
    )
    family = dict(n_planes=8, n_tables=6, dim=64, seed_base=7000)
    path = str(tmp_path / "lsh")
    assert write_lsh_index(emb, path, **family) == emb.count() * 6
    twins = [lsh_index(emb, **family), load_ann_index(spark, path)]
    assert twins[0].quantizer == twins[1].quantizer == {"kind": "lsh", **family}

    q = emb.filter(F.col("vec_id") < 8)
    copies = emb.filter(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100_000
    )
    rng = random.Random(5)
    fresh = spark.createDataFrame(
        [(900_000 + i, [rng.uniform(-1, 1) for _ in range(64)])
         for i in range(2)],
        emb.schema,
    )
    incoming = copies.unionByName(fresh)
    stats = side_neighborhood_stats(emb, emb, k=3)

    def calls(h):
        return {
            "lsh_topk": lambda **kw: lsh_topk(emb, q, h, **kw),
            "ann_recall": lambda **kw: ann_recall(emb, q, h, **kw),
            "ann_enrich_stream": lambda **kw: P.ann_enrich_stream(
                q, h, emb, **kw),
            "stream_near_dup_filter": lambda **kw: P.stream_near_dup_filter(
                incoming, h, emb, **kw),
            "stream_margin_align": lambda **kw: P.stream_margin_align(
                q, emb, stats, h, **kw),
        }

    rows = lambda df: sorted(map(tuple, df.collect()))
    mem, disk = calls(twins[0]), calls(twins[1])
    for name in mem:
        got = rows(mem[name]())
        assert got == rows(disk[name]()), name
        assert got, name
    admitted = {r["vec_id"] for r in mem["stream_near_dup_filter"]().collect()}
    assert copies.count() == 20
    assert admitted == {900_000, 900_001}

    for name, call in mem.items():
        for kw in ({"corpus_buckets": twins[0].df}, {"n_planes": 8},
                   {"n_tables": 6}, {"dim": 64}, {"seed_base": 7000}):
            with pytest.raises(TypeError):
                call(**kw)


def test_vector_index_handle_twins_serve_identically(spark, sf_oracle, tmp_path):
    """The in-memory ivf_index / ivfpq_index / rp_index handles and the
    persisted ones (write_*_index -> load_ann_index) carry the same
    record and serve identical rows through ivf_topk, ivfpq_topk,
    ivfpq_enrich_stream and rp_topk, at non-default quantizers (8 cells,
    4 codebooks of 8 codes, an 8-wide seed-9 projection).  No serve path
    takes a pre-built frame or a quantizer beside the handle, and the
    separate persisted-RP server is gone."""
    from market_data_ingestion_scraper_spark.operators import similarity as S

    emb = load_table(spark, sf_oracle, "embeddings").select(
        "vec_id", "embedding"
    )
    cents = S.fit_ivf_centroids(emb, n_lists=8, seed=3)
    books = S.fit_pq_codebooks(emb, m=4, k=8, seed=3)
    builds = {
        "ivf": (lambda: S.ivf_index(emb, cents),
                lambda p: S.write_ivf_index(emb, p, cents)),
        "ivfpq": (lambda: S.ivfpq_index(emb, cents, books),
                  lambda p: S.write_ivfpq_index(emb, p, cents, books)),
        "rp": (lambda: S.rp_index(emb, out_dim=8, seed=9),
               lambda p: S.write_rp_index(emb, p, out_dim=8, seed=9)),
    }
    twins = {}
    for kind, (build, write) in builds.items():
        path = str(tmp_path / kind)
        assert write(path) == emb.count()
        twins[kind] = [build(), S.load_ann_index(spark, path)]
        assert twins[kind][0].quantizer == twins[kind][1].quantizer
        assert twins[kind][0].kind == kind

    q = emb.filter(F.col("vec_id") < 8)

    def calls(pair):
        ivf, ivfpq, rp = pair
        return {
            "ivf_topk": lambda **kw: S.ivf_topk(emb, q, ivf, **kw),
            "ivfpq_topk": lambda **kw: S.ivfpq_topk(q, ivfpq, **kw),
            "ivfpq_enrich_stream": lambda **kw: P.ivfpq_enrich_stream(
                q, ivfpq, **kw),
            "rp_topk": lambda **kw: S.rp_topk(q, rp, **kw),
        }

    rows = lambda df: sorted(map(tuple, df.collect()))
    mem = calls([twins[k][0] for k in builds])
    disk = calls([twins[k][1] for k in builds])
    for name in mem:
        got = rows(mem[name]())
        assert got == rows(disk[name]()), name
        assert got, name

    removed = ({"n_lists": 8}, {"m": 4}, {"n_codes": 8}, {"seed": 9},
               {"centroids": cents}, {"codebooks": books},
               {"centroid_elements": None}, {"encoded": None},
               {"corpus_cells": None}, {"out_dim": 8}, {"dim": 64})
    for name, call in mem.items():
        for kw in removed:
            with pytest.raises(TypeError):
                call(**kw)
    assert not hasattr(S, "rp_topk_vs_index")
    assert not hasattr(S.AnnIndex, "require")


def test_compact_resumes_after_crash_mid_delete(spark, sf_smoke, tmp_path):
    """The data-loss scenario the write-ahead staging exists for: staging
    snapshot complete, crash after deleting SOME source dirs.  A re-run
    must treat the staged snapshot as authoritative (not recompute from
    the surviving sources) — every row survives."""
    import os
    import shutil

    root = str(tmp_path / "lake")
    ev = load_table(spark, sf_smoke, "events")
    b0, b1 = ev.randomSplit([1.0, 1.0], seed=3)
    P.sink_events_batch(b0, 0, root)
    P.sink_events_batch(b1, 1, root)
    base = os.path.join(root, "events_silver")
    n_total = spark.read.parquet(base).count()
    date_dir = next(
        d for d in sorted(os.listdir(base)) if d.startswith("event_date=")
    )
    full = os.path.join(base, date_dir)
    n_date = spark.read.parquet(full).count()

    # simulate the interrupted run: complete staging (snapshot + source
    # manifest, as the protocol writes them), then a crash after one
    # source dir was already deleted
    staging = os.path.join(root, "_compact_staging", date_dir)
    sources = [d for d in os.listdir(full) if d.startswith("ingest_batch_id=")]
    assert len(sources) >= 2
    _stage_snapshot(spark, full, sources, staging)
    shutil.rmtree(os.path.join(full, sources[0]))

    P.compact_events_silver(spark, root)
    assert spark.read.parquet(full).count() == n_date     # nothing lost
    assert spark.read.parquet(base).count() == n_total
    subs = [x for x in os.listdir(full) if x.startswith("ingest_batch_id=")]
    assert subs == [f"ingest_batch_id={P.COMPACTED_BATCH_ID}"]


def _stage_snapshot(spark, full, sources, staging):
    """Replicate a crashed run's completed staging state: merged parquet
    snapshot + the source manifest that marks it authoritative."""
    import json
    import os

    spark.read.parquet(*[os.path.join(full, d) for d in sources]) \
        .repartition(1).write.mode("overwrite").parquet(staging)
    assert os.path.exists(os.path.join(staging, "_SUCCESS"))
    with open(os.path.join(staging, "_compact_manifest.json"), "w") as f:
        json.dump(sorted(sources), f)


def test_compact_finishes_staged_date_outside_horizon(spark, sf_smoke, tmp_path):
    """r7 review (medium): a prior run with a wider horizon crashed AFTER
    deleting a date's source dirs — the staged snapshot is the only copy.
    A later run whose before_date EXCLUDES that date must still finish it
    (move the snapshot into place), never bulk-delete the staging root."""
    import os
    import shutil

    root = str(tmp_path / "lake")
    ev = load_table(spark, sf_smoke, "events")
    P.sink_events_batch(ev, 0, root)
    base = os.path.join(root, "events_silver")
    date_dirs = sorted(
        d for d in os.listdir(base) if d.startswith("event_date=")
    )
    victim = date_dirs[-1]  # a date >= any earlier horizon
    full = os.path.join(base, victim)
    n_date = spark.read.parquet(full).count()
    sources = [d for d in os.listdir(full) if d.startswith("ingest_batch_id=")]
    staging = os.path.join(root, "_compact_staging", victim)
    _stage_snapshot(spark, full, sources, staging)
    for d in sources:  # crash happened between delete and move
        shutil.rmtree(os.path.join(full, d))

    # horizon excludes the victim date entirely (and every other date)
    stats = P.compact_events_silver(
        spark, root, before_date=victim[len("event_date="):]
    )
    assert stats["dates_compacted"] >= 1
    assert spark.read.parquet(full).count() == n_date
    subs = [x for x in os.listdir(full) if x.startswith("ingest_batch_id=")]
    assert subs == [f"ingest_batch_id={P.COMPACTED_BATCH_ID}"]


def test_compact_absorbs_batches_landed_after_staging(spark, sf_smoke, tmp_path):
    """r7 review (low): batch dirs that land AFTER a staging snapshot was
    written must never be deleted unreplayed.  Two states: (a) nothing
    deleted yet -> the stale snapshot is discarded and compaction restarts
    from the live listing; (b) some manifest'd dirs already deleted -> the
    snapshot (sole copy of those rows) is MERGED with the survivors."""
    import os
    import shutil

    root = str(tmp_path / "lake")
    ev = load_table(spark, sf_smoke, "events")
    b0, b1, b2 = ev.randomSplit([1.0, 1.0, 1.0], seed=5)
    P.sink_events_batch(b0, 0, root)
    P.sink_events_batch(b1, 1, root)
    base = os.path.join(root, "events_silver")
    date_dir = sorted(
        d for d in os.listdir(base) if d.startswith("event_date=")
    )[0]
    full = os.path.join(base, date_dir)
    staging = os.path.join(root, "_compact_staging", date_dir)

    # (a) stage batches {0,1}, crash pre-delete, then batch 2 lands
    sources = sorted(
        d for d in os.listdir(full) if d.startswith("ingest_batch_id=")
    )
    _stage_snapshot(spark, full, sources, staging)
    P.sink_events_batch(b2, 2, root)
    n_all = spark.read.parquet(full).count()
    P.compact_events_silver(spark, root)
    assert spark.read.parquet(full).count() == n_all
    subs = [x for x in os.listdir(full) if x.startswith("ingest_batch_id=")]
    assert subs == [f"ingest_batch_id={P.COMPACTED_BATCH_ID}"]

    # (b) new batches + a deleted manifest'd dir: merge, don't drop either
    P.sink_events_batch(b0, 3, root)
    P.sink_events_batch(b1, 4, root)
    sources = sorted(
        d for d in os.listdir(full) if d.startswith("ingest_batch_id=")
    )
    n_before = spark.read.parquet(full).count()
    _stage_snapshot(spark, full, sources, staging)
    shutil.rmtree(os.path.join(full, sources[0]))   # crash mid-delete...
    P.sink_events_batch(b2, 5, root)                 # ...then batch 5 lands
    n_expect = n_before + b2.filter(
        b2.ts.cast("date").cast("string")
        == date_dir[len("event_date="):]
    ).count()
    P.compact_events_silver(spark, root)
    assert spark.read.parquet(full).count() == n_expect
    subs = [x for x in os.listdir(full) if x.startswith("ingest_batch_id=")]
    assert subs == [f"ingest_batch_id={P.COMPACTED_BATCH_ID}"]


def test_stream_quality_filter_admission(spark, tmp_path):
    """Train offline, serve online: the linear quality model's weights
    (operators/classifier.fit_lr) admit prose, reject punctuation junk,
    and DROP null-text rows (un-scoreable policy, mirroring the near-dup
    filter).  The filter is a stateless projection: stream ≡ batch."""
    from market_data_ingestion_scraper_spark.operators.classifier import (
        classifier_features,
        fit_lr,
    )
    from market_data_ingestion_scraper_spark.operators.text import (
        quality_features,
    )

    prose = (
        "the quick brown fox jumps over the lazy dog and it is a fine "
        "day in the meadow " * 4
    )
    junk = "@@!! ## $$%% ^^&&**(( ))__ ++==" * 3
    train = spark.createDataFrame(
        [(i, prose) for i in range(20)]
        + [(100 + i, junk) for i in range(20)],
        "doc_id long, text string",
    )
    w = fit_lr(
        classifier_features(quality_features(train), label_threshold=0.6),
        n_iter=50,
    )

    incoming = spark.createDataFrame(
        [(1, prose), (2, junk), (3, None)], "doc_id long, text string"
    )
    batch = P.stream_quality_filter(incoming, w)
    got = {r["doc_id"]: r["quality_logit"] for r in batch.collect()}
    assert set(got) == {1}          # prose admitted; junk + null dropped
    assert got[1] > 0

    qdir = str(tmp_path / "qdocs")
    incoming.write.parquet(qdir)
    stream = spark.readStream.schema(incoming.schema).parquet(qdir)
    out = P.run_to_memory(
        P.stream_quality_filter(stream, w), "t_quality_adm", spark,
        mode="append",
    )
    assert {r["doc_id"]: r["quality_logit"] for r in out.collect()} == got


def test_stream_record_match_filter_admission(spark, sf_smoke, tmp_path):
    """X18 streaming admission: an incoming product record that MATCHES
    a catalog entry (same block, same name/type, near price) is
    rejected; a record in an empty block survives the LEFT join; a
    blocked-but-non-matching record is admitted.  Stream ≡ batch."""
    catalog = spark.createDataFrame(
        [
            (1, "red copper widget", "Brand#1", "ECONOMY", 5, 900.0),
            (2, "blue bolt", "Brand#1", "ECONOMY", 5, 100.0),
        ],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    incoming = spark.createDataFrame(
        [
            # re-scrape of catalog #1 (extra whitespace, price drift):
            # match score 4000+1500+800 >= 5000 -> rejected
            (9001, "red  copper widget", "Brand#1", "ECONOMY", 5, 910.0),
            # same block as #1/#2 but nothing agrees -> admitted
            (9002, "green ring", "Brand#1", "SMALL", 5, 400.0),
            # empty block: LEFT join must keep it -> admitted
            (9003, "yellow cap", "Brand#7", "ECONOMY", 40, 200.0),
        ],
        catalog.schema,
    )
    batch = P.stream_record_match_filter(incoming, catalog)
    got = {r["rid"]: r["max_catalog_score_m"] for r in batch.collect()}
    assert set(got) == {9002, 9003}
    assert got[9003] == -(10**9)  # no candidate at all
    assert got[9002] < 5000

    qdir = str(tmp_path / "inc_records")
    incoming.write.parquet(qdir)
    stream = spark.readStream.schema(incoming.schema).parquet(qdir)
    out = P.run_to_memory(
        P.stream_record_match_filter(stream, catalog),
        "t_record_admission", spark, mode="complete",
    )
    assert {
        r["rid"]: r["max_catalog_score_m"] for r in out.collect()
    } == got


def test_ivfpq_enrich_stream_matches_batch(spark, sf_smoke, tmp_path):
    """Streaming IVF-PQ serving against the persisted cell-partitioned
    index must equal the batch ivfpq_topk results bit-for-bit (same
    quantizer literals, same ADC arithmetic, same tie-break)."""
    from market_data_ingestion_scraper_spark.operators.similarity import (
        fit_ivf_centroids,
        fit_pq_codebooks,
        ivfpq_topk,
        load_ann_index,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_smoke, "embeddings").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ivfpq_stream_idx")
    write_ivfpq_index(
        emb, path, fit_ivf_centroids(emb, n_lists=8, seed=5),
        fit_pq_codebooks(emb, m=8, k=8, seed=5),
    )
    handle = load_ann_index(spark, path)
    queries = emb.filter(F.col("vec_id") < 4)
    batch = ivfpq_topk(queries, handle, k=3, n_probe=2)
    want = {}
    for r in batch.collect():
        want.setdefault(r.query_id, []).append(
            (r.rnk, r.neighbor_id, r.approx_dist2)
        )
    want = {q: [(n, d) for _, n, d in sorted(v)] for q, v in want.items()}

    qdir = str(tmp_path / "queries")
    queries.write.parquet(qdir)
    stream = spark.readStream.schema(queries.schema).parquet(qdir)
    out = P.run_to_memory(
        P.ivfpq_enrich_stream(stream, handle, k=3, n_probe=2),
        "t_ivfpq_serve", spark, mode="complete",
    )
    got = {
        r["query_id"]: [(s["neighbor_id"], s["approx_dist2"]) for s in r["topk"]]
        for r in out.collect()
    }
    assert got == want


def test_stream_dsir_filter_admission(spark, tmp_path):
    """X20 streaming admission: fit the DSIR model offline, serve it as
    a plan-literal stateless filter — target-like docs admitted,
    off-target and null-text docs dropped.  Stream ≡ batch."""
    from market_data_ingestion_scraper_spark.operators.importance import (
        fit_dsir_model,
        load_dsir_model,
        save_dsir_model,
    )

    tgt_text = "spark shuffle partition join broadcast join pruning"
    off_text = "banana smoothie recipe with oat milk and honey"
    pool = spark.createDataFrame(
        [(i, tgt_text) for i in range(5)]
        + [(10 + i, off_text) for i in range(5)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, tgt_text), (101, "partition pruning and broadcast join")],
        "doc_id long, text string",
    )
    model = fit_dsir_model(pool, target, 64, portable=True)
    path = str(tmp_path / "dsir.json")
    save_dsir_model(model, path)
    served = load_dsir_model(path)

    incoming = spark.createDataFrame(
        [(1, tgt_text), (2, off_text), (3, None)],
        "doc_id long, text string",
    )
    # the tiny smoothed target model makes every ratio negative (add-1
    # over 64 buckets eats most target mass); what matters is the GAP:
    # target-like ~ -2.1, off-target ~ -16.1 — threshold between them
    batch = P.stream_dsir_filter(incoming, served, min_logratio=-5.0)
    got = {r["doc_id"]: r["logratio"] for r in batch.collect()}
    assert set(got) == {1}  # target-like admitted; off-target + null dropped
    assert got[1] > -5.0

    ddir = str(tmp_path / "ddocs")
    incoming.write.parquet(ddir)
    stream = spark.readStream.schema(incoming.schema).parquet(ddir)
    out = P.run_to_memory(
        P.stream_dsir_filter(stream, served, min_logratio=-5.0),
        "t_dsir_adm", spark, mode="append",
    )
    assert {r["doc_id"]: r["logratio"] for r in out.collect()} == got
