"""Sharded Bloom-filter sidecar (operators/bloom.py): membership
semantics, extend ≡ rebuild, artifact round-trip, and the incremental
ingest fast path producing IDENTICAL gold to the plain path."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from market_data_ingestion_scraper_spark.operators.bloom import (
    bloom_closure_probe,
    bloom_params_from_rows,
    build_hash_bloom,
    bloom_probe_hashes,
    extend_hash_bloom,
    load_hash_bloom,
    write_hash_bloom,
)


def _hashes(spark, lo, hi, col="content_hash"):
    return spark.range(lo, hi).select(
        F.sha2(F.col("id").cast("string"), 256).alias(col)
    )


def test_no_false_negatives_and_bounded_false_positives(spark):
    members = _hashes(spark, 0, 3000)
    blooms = build_hash_bloom(
        members, n_shards=8, n_bits=1 << 15, n_hashes=5
    ).cache()
    assert blooms.count() == 8

    # every member MUST come back maybe=true — the load-bearing guarantee
    got = bloom_probe_hashes(
        members.withColumnRenamed("content_hash", "_h"), blooms
    )
    assert got.where(~F.col("bloom_maybe")).count() == 0

    # non-members: fpr at n/shard=375, m=32768, k=5 is ~1e-5; allow slack
    outsiders = _hashes(spark, 10_000_000, 10_003_000, col="_h")
    fp = bloom_probe_hashes(outsiders, blooms).where("bloom_maybe").count()
    assert fp <= 30, f"false-positive rate implausibly high: {fp}/3000"
    blooms.unpersist()


def test_null_hash_always_routes_to_exact_path(spark):
    blooms = build_hash_bloom(_hashes(spark, 0, 10), n_shards=2,
                              n_bits=1 << 10, n_hashes=3)
    probe = spark.sql("SELECT CAST(NULL AS STRING) AS _h")
    rows = bloom_probe_hashes(probe, blooms).collect()
    assert len(rows) == 1 and rows[0]["bloom_maybe"] is True


def test_probe_derives_params_from_table_not_caller(spark):
    # self-describing contract: no n_bits/n_hashes args exist to mismatch
    blooms = build_hash_bloom(_hashes(spark, 0, 500), n_shards=4,
                              n_bits=1 << 12, n_hashes=7)
    got = bloom_probe_hashes(
        _hashes(spark, 0, 500, col="_h"), blooms
    )
    assert got.where(~F.col("bloom_maybe")).count() == 0

    # a corrupt table mixing parameterizations must raise, not mis-probe
    mixed = blooms.unionByName(
        build_hash_bloom(_hashes(spark, 0, 10), n_shards=4,
                         n_bits=1 << 11, n_hashes=7)
    )
    with pytest.raises(ValueError, match="parameterizations"):
        bloom_probe_hashes(_hashes(spark, 0, 5, col="_h"), mixed).collect()


def test_extend_equals_rebuild_bit_for_bit(spark):
    a = _hashes(spark, 0, 1200)
    b = _hashes(spark, 5000, 5800)
    base = build_hash_bloom(a, n_shards=8, n_bits=1 << 14, n_hashes=5)
    ext = extend_hash_bloom(base, b).orderBy("shard").collect()
    full = (
        build_hash_bloom(a.union(b), n_shards=8, n_bits=1 << 14, n_hashes=5)
        .orderBy("shard")
        .collect()
    )
    assert [(r["shard"], r["n_set"], bytes(r["bitmap"])) for r in ext] == [
        (r["shard"], r["n_set"], bytes(r["bitmap"])) for r in full
    ]


def test_write_load_round_trip(spark, tmp_path):
    path = str(tmp_path / "bloom")
    blooms = build_hash_bloom(_hashes(spark, 0, 800), n_shards=4,
                              n_bits=1 << 13, n_hashes=5)
    write_hash_bloom(blooms, path)
    with open(os.path.join(path, "_bloom.json")) as f:
        sidecar = json.load(f)
    assert sidecar["kind"] == "sharded-bloom" and sidecar["n_shards"] == 4

    back, side2 = load_hash_bloom(spark, path)
    assert side2 == sidecar
    got = bloom_probe_hashes(_hashes(spark, 0, 800, col="_h"), back)
    assert got.where(~F.col("bloom_maybe")).count() == 0


def test_probe_plan_is_not_a_cross_join(spark):
    # the probe is a cogrouped shuffle by shard — bitmaps meet probe rows
    # once per shard, never per row
    blooms = build_hash_bloom(_hashes(spark, 0, 100), n_shards=4,
                              n_bits=1 << 12, n_hashes=5)
    plan = bloom_probe_hashes(
        _hashes(spark, 0, 100, col="_h"), blooms
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "FlatMapCoGroupsInPandas" in plan


def _land(tmp_path, dirname, rows):
    d = tmp_path / dirname
    d.mkdir()
    with open(d / "s.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(d)


def test_incremental_ingest_with_bloom_identical_to_plain(spark, tmp_path):
    """The bloom fast path must be invisible in the OUTPUT: same gold
    rows, same dedup counters, on the same three-batch scenario the
    plain-path test pins (cross-run dup + re-land no-op)."""
    from market_data_ingestion_scraper_spark.jobs import run_corpus_ingestion

    b1 = [
        {"doc_id": 1, "text": "first doc", "lang": "en", "source": "a", "n_chars": 9},
        {"doc_id": 2, "text": "second doc", "lang": "en", "source": "a", "n_chars": 10},
    ]
    b2 = [
        {"doc_id": 10, "text": "FIRST   Doc", "lang": "en", "source": "b", "n_chars": 11},
        {"doc_id": 11, "text": "brand new", "lang": "en", "source": "b", "n_chars": 9},
        {"doc_id": 12, "text": None, "lang": "en", "source": "b", "n_chars": 0},
    ]
    results = {}
    for variant in ("plain", "bloom"):
        gold = str(tmp_path / f"gold_{variant}")
        bloom_path = (
            str(tmp_path / "bloomidx") if variant == "bloom" else None
        )
        l1 = _land(tmp_path, f"{variant}_b1", b1)
        l2 = _land(tmp_path, f"{variant}_b2", b2)
        m1 = run_corpus_ingestion(spark, l1, gold, incremental=True,
                                  bloom_path=bloom_path)
        m2 = run_corpus_ingestion(spark, l2, gold, incremental=True,
                                  bloom_path=bloom_path)
        m3 = run_corpus_ingestion(spark, l2, gold, incremental=True,
                                  bloom_path=bloom_path)
        rows = sorted(
            (r["doc_id"], r["content_hash"])
            for r in spark.read.parquet(gold).collect()
        )
        results[variant] = (
            {k: v for k, v in m1.items() if k != "n_bloom_skipped"},
            {k: v for k, v in m2.items() if k != "n_bloom_skipped"},
            {k: v for k, v in m3.items() if k != "n_bloom_skipped"},
            rows,
        )
        if variant == "bloom":
            raw_bloom = (m1, m2, m3)
    assert results["plain"] == results["bloom"]

    # and the fast path actually FIRED (not silently degenerated to the
    # plain path): batch 2's genuinely-new doc 11 was bloom-negative and
    # skipped the gold anti-join; the dup (doc 10) and the NULL-text doc
    # routed exact, and the all-dup re-land (run 3) skipped nothing
    assert raw_bloom[1]["n_bloom_skipped"] == 1
    assert raw_bloom[2]["n_bloom_skipped"] == 0


def test_bloom_sidecar_extends_and_catches_recrawl(spark, tmp_path):
    from market_data_ingestion_scraper_spark.jobs import run_corpus_ingestion

    gold = str(tmp_path / "gold")
    bloom_path = str(tmp_path / "bloom")
    l1 = _land(tmp_path, "c1", [
        {"doc_id": 1, "text": "alpha text", "lang": "en", "source": "a", "n_chars": 10},
    ])
    m1 = run_corpus_ingestion(spark, l1, gold, incremental=True,
                              bloom_path=bloom_path)
    # first incremental run: no sidecar existed, so nothing skipped, and
    # the filter was then built covering gold
    assert m1["n_bloom_skipped"] == 0
    assert os.path.exists(os.path.join(bloom_path, "_bloom.json"))

    # novel batch: everything bloom-negative -> gold anti-join skipped
    l2 = _land(tmp_path, "c2", [
        {"doc_id": 2, "text": "beta text", "lang": "en", "source": "a", "n_chars": 9},
        {"doc_id": 3, "text": "gamma text", "lang": "en", "source": "a", "n_chars": 10},
    ])
    m2 = run_corpus_ingestion(spark, l2, gold, incremental=True,
                              bloom_path=bloom_path)
    assert m2["n_kept"] == 2 and m2["n_bloom_skipped"] == 2

    # the sidecar was EXTENDED with batch 2's hashes: a re-crawl of batch
    # 2 must now be bloom-positive (skipped=0) and append nothing
    m3 = run_corpus_ingestion(spark, l2, gold, incremental=True,
                              bloom_path=bloom_path)
    assert m3["n_kept"] == 0 and m3["n_seen_before"] == 2
    assert m3["n_bloom_skipped"] == 0
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(gold).collect()
    ) == [1, 2, 3]


def test_sparse_build_stays_dense_and_routes_with_build_modulus(spark):
    """r9 review: a build occupying only SOME shards must still emit one
    row per shard, so the self-describing n_shards = max(shard)+1 equals
    the build count and probes route with the build modulus.  A sparse
    table would probe with a smaller modulus — false negatives."""
    one = spark.createDataFrame([("solo-hash",)], "content_hash string")
    blooms = build_hash_bloom(
        one, n_shards=4, n_bits=1 << 10, n_hashes=5
    ).persist()
    assert blooms.count() == 4                      # dense: every shard
    assert bloom_params_from_rows(blooms.collect())[0] == 4  # == build
    occupied = {r["shard"]: r["n_set"] for r in blooms.collect()}
    assert sum(1 for v in occupied.values() if v > 0) == 1
    got = bloom_probe_hashes(
        one.select(F.col("content_hash").alias("_h")), blooms
    ).collect()
    assert got[0]["bloom_maybe"] is True            # no false negative
    blooms.unpersist()


def test_bloomless_append_detected_as_stale_sidecar(spark, tmp_path):
    """r9 review: appends made WITHOUT --bloom-path leave the sidecar
    stale (bloom no longer ⊇ gold).  The next bloom run must detect the
    gold-row mismatch, fall back to the exact path (nothing skipped),
    and NOT re-append the bloomless docs."""
    from market_data_ingestion_scraper_spark.jobs import run_corpus_ingestion

    gold = str(tmp_path / "gold")
    bloom_path = str(tmp_path / "bloom")
    l1 = _land(tmp_path, "st1", [
        {"doc_id": 1, "text": "alpha text", "lang": "en", "source": "a",
         "n_chars": 10},
    ])
    run_corpus_ingestion(spark, l1, gold, incremental=True,
                         bloom_path=bloom_path)
    # append WITHOUT the sidecar: bloom now misses doc 2's hash
    l2 = _land(tmp_path, "st2", [
        {"doc_id": 2, "text": "beta text", "lang": "en", "source": "a",
         "n_chars": 9},
    ])
    run_corpus_ingestion(spark, l2, gold, incremental=True)
    # re-deliver doc 2 WITH the sidecar: a trusted stale bloom would
    # answer definitely-new and re-append; the guard must route exact
    m3 = run_corpus_ingestion(spark, l2, gold, incremental=True,
                              bloom_path=bloom_path)
    assert m3["n_kept"] == 0 and m3["n_seen_before"] == 1
    assert m3["n_bloom_skipped"] == 0               # stale -> exact path
    ids = sorted(r["doc_id"] for r in spark.read.parquet(gold).collect())
    assert ids == [1, 2]                            # no duplicate row
    # and the guard REBUILT the filter covering all of gold: a fourth
    # run with a novel doc may skip again
    l4 = _land(tmp_path, "st4", [
        {"doc_id": 3, "text": "gamma text", "lang": "en", "source": "a",
         "n_chars": 10},
    ])
    m4 = run_corpus_ingestion(spark, l4, gold, incremental=True,
                              bloom_path=bloom_path)
    assert m4["n_kept"] == 1 and m4["n_bloom_skipped"] == 1


def test_equal_rowcount_rewrite_detected_by_build_id(spark, tmp_path):
    """r9 advice: an external gold rewrite that changes CONTENT but lands
    on the same row count slips past a count-only guard.  The build-id
    handshake (gold `_ingest_build.json` vs sidecar `gold_build_id`)
    must flag the sidecar stale, route the batch through the exact path,
    and never re-append a doc gold already holds."""
    from market_data_ingestion_scraper_spark.jobs import run_corpus_ingestion

    gold = str(tmp_path / "gold")
    bloom_path = str(tmp_path / "bloom")
    l1 = _land(tmp_path, "bid1", [
        {"doc_id": 1, "text": "alpha text", "lang": "en", "source": "a",
         "n_chars": 10},
    ])
    run_corpus_ingestion(spark, l1, gold, incremental=True,
                         bloom_path=bloom_path)
    # non-incremental corrected re-ingest WITHOUT the sidecar: same row
    # count (1), different content — the count check alone passes
    l2 = _land(tmp_path, "bid2", [
        {"doc_id": 2, "text": "beta text", "lang": "en", "source": "a",
         "n_chars": 9},
    ])
    run_corpus_ingestion(spark, l2, gold, incremental=False)
    assert spark.read.parquet(gold).count() == 1   # equal-sized rewrite
    # re-deliver doc 2 WITH the sidecar: a trusted stale bloom would
    # answer definitely-new and re-append a duplicate
    m3 = run_corpus_ingestion(spark, l2, gold, incremental=True,
                              bloom_path=bloom_path)
    assert m3["n_kept"] == 0 and m3["n_seen_before"] == 1
    assert m3["n_bloom_skipped"] == 0              # stale -> exact path
    ids = sorted(r["doc_id"] for r in spark.read.parquet(gold).collect())
    assert ids == [2]                              # no duplicate row


def test_gold_build_id_write_failure_returns_none(tmp_path):
    """r10 review: when the marker cannot be written, the id must NOT be
    returned (the sidecar would record an id the marker doesn't carry,
    permanently failing the staleness handshake and defeating the bloom
    fast path); None on both sides lets the row-count check govern."""
    from market_data_ingestion_scraper_spark.jobs import (
        _read_gold_build_id,
        _write_gold_build_id,
    )

    ok_dir = tmp_path / "gold"
    ok_dir.mkdir()
    bid = _write_gold_build_id(str(ok_dir))
    assert bid is not None and _read_gold_build_id(str(ok_dir)) == bid
    missing = tmp_path / "nope" / "gold"  # parent absent: open() fails
    assert _write_gold_build_id(str(missing)) is None
    assert _read_gold_build_id(str(missing)) is None


def _twin_bloom(hashes, n_shards, n_bits, n_hashes):
    """Pure-Python reference of the sharded bloom: shard = first 8 hex
    chars of md5(h) mod n_shards (:func:`shard_of`), position_j = first
    15 hex chars of md5(h ':' j) mod n_bits (:func:`bit_positions`), bit
    p in byte p >> 3 at bit p & 7.  NULL hashes set nothing; every shard
    gets a row.  Returns {shard: (bitmap bytes, n_set)}."""
    import hashlib

    def fold(s, n_hex):
        return int(hashlib.md5(s.encode()).hexdigest()[:n_hex], 16)

    bitmaps = {s: bytearray((n_bits + 7) // 8) for s in range(n_shards)}
    for h in hashes:
        if h is None:
            continue
        bm = bitmaps[fold(h, 8) % n_shards]
        for j in range(n_hashes):
            p = fold(f"{h}:{j}", 15) % n_bits
            bm[p >> 3] |= 1 << (p & 7)
    return {
        s: (bytes(bm), sum(bin(b).count("1") for b in bm))
        for s, bm in bitmaps.items()
    }


def _bloom_by_shard(blooms):
    return {
        r["shard"]: (bytes(r["bitmap"]), r["n_set"])
        for r in blooms.collect()
    }


@pytest.mark.parametrize(
    "n_shards,n_bits",
    [
        (2, 61),  # 60 hashes x 3 positions over 61 bits: collisions
        (64, 1 << 10),  # sparse: most shards hold only their seed row
    ],
)
def test_set_bits_kernel_matches_python_twin(spark, n_shards, n_bits):
    """build_hash_bloom and extend_hash_bloom set exactly the twin's
    bits, and n_set is the twin's popcount, per shard — with colliding
    positions, a repeated hash, a NULL hash, and shards no hash routes
    to (filled by the density seed alone)."""
    import hashlib

    def h(i):
        return hashlib.sha256(str(i).encode()).hexdigest()

    a = [h(i) for i in range(60)] + [h(0), None]
    b = [h(i) for i in range(50, 90)] + [None]
    n_hashes = 3

    def frame(hs):
        return spark.createDataFrame([(x,) for x in hs], "content_hash string")

    want_a = _twin_bloom(a, n_shards, n_bits, n_hashes)
    want_ab = _twin_bloom(a + b, n_shards, n_bits, n_hashes)
    if n_bits == 61:
        # the case is only meaningful if positions really collide, so a
        # count of positions (not of set bits) would be wrong
        assert sum(n for _, n in want_a.values()) < 60 * n_hashes
    else:
        assert any(n == 0 for _, n in want_a.values())

    built = build_hash_bloom(
        frame(a), n_shards=n_shards, n_bits=n_bits, n_hashes=n_hashes
    ).cache()
    assert _bloom_by_shard(built) == want_a
    assert _bloom_by_shard(extend_hash_bloom(built, frame(b))) == want_ab
    built.unpersist()


def _refused_table(blooms, case):
    """A bloom table each reader must refuse: ``blooms`` is a dense
    4-shard build."""
    if case == "empty":
        return blooms.where("false")
    if case == "mixed":  # shards 0-1 and 2-3 at different n_bits
        other = build_hash_bloom(
            _hashes(blooms.sparkSession, 0, 10), n_shards=4, n_bits=1 << 11,
            n_hashes=3,
        )
        return blooms.where("shard < 2").unionByName(other.where("shard >= 2"))
    if case == "duplicate":  # an append-mode rewrite: two generations
        return blooms.unionAll(blooms)
    return blooms.where("shard <> 1")  # gap: max shard 3, shard 1 missing


_REFUSALS = {
    "empty": "empty bloom table",
    "mixed": "mixes n_bits/n_hashes",
    "duplicate": "duplicate shard",
    "gap": "shard gaps",
}


@pytest.mark.parametrize("case", list(_REFUSALS))
def test_every_reader_refuses_unsafe_table(spark, tmp_path, case):
    """The one parameter check refuses an empty table, mixed parameters,
    duplicate shard rows (either bitmap generation alone loses the
    other's set bits) and shard gaps (a missing shard probes
    definitely-absent, and extending would seed it with a zero bitmap)
    — and every reader runs it: the check itself, the cogroup probe,
    extend, write, and both streaming serve paths."""
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    good = build_hash_bloom(
        _hashes(spark, 0, 50), n_shards=4, n_bits=1 << 10, n_hashes=3
    ).localCheckpoint(eager=True)
    bad = _refused_table(good, case).localCheckpoint(eager=True)
    docs = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    path = str(tmp_path / "bloom")
    record = {"k": 5, "holdout_ppm": 100_000, "min_hits": 1}
    readers = [
        lambda: bloom_params_from_rows(bad.collect()),
        lambda: bloom_probe_hashes(_hashes(spark, 0, 5, col="_h"), bad),
        lambda: extend_hash_bloom(bad, _hashes(spark, 100, 110)),
        lambda: write_hash_bloom(bad, path),
        lambda: P.stream_novelty_filter(docs, bad),
        lambda: P.stream_holdout_tag(docs, bad, good, record, record),
        lambda: P.stream_holdout_tag(docs, good, bad, record, record),
    ]
    for read in readers:
        with pytest.raises(ValueError, match=_REFUSALS[case]):
            read()
    assert not os.path.exists(path)


def test_bloom_params_frame_refuses_duplicate_shards(spark, tmp_path):
    """An appended/rewritten artifact (two bitmap generations per shard)
    refuses on the frame side exactly like the rows side: the probe,
    extend and write all run the one check on the table's shard rows,
    and picking either generation would lose set bits."""
    blooms = build_hash_bloom(
        _hashes(spark, 0, 50), n_shards=4, n_bits=1 << 16, n_hashes=3
    )
    doubled = blooms.unionAll(blooms)
    with pytest.raises(ValueError, match="duplicate shard"):
        bloom_params_from_rows(doubled.collect())
    with pytest.raises(ValueError, match="duplicate shard"):
        bloom_probe_hashes(_hashes(spark, 0, 5, col="_h"), doubled)
    with pytest.raises(ValueError, match="duplicate shard"):
        extend_hash_bloom(doubled, _hashes(spark, 100, 110))
    path = str(tmp_path / "bloom")
    with pytest.raises(ValueError, match="duplicate shard"):
        write_hash_bloom(doubled, path)
    assert not os.path.exists(path)


def test_extend_refuses_gapped_table_even_with_n_shards(spark):
    """Extend stays strict: a gapped (filtered) table refuses, and there
    is no build-time ``n_shards`` override left to get round it —
    merge() would otherwise seed fresh zero bitmaps for the absent
    shards, and the extended artifact would pass the gap check while
    false-negativing on every lost build-time bit."""
    hashes = _hashes(spark, 0, 400)
    blooms = build_hash_bloom(hashes, n_shards=4, n_bits=1 << 16, n_hashes=3)
    gapped = blooms.filter("shard <> 2")
    new = _hashes(spark, 1000, 1100)
    with pytest.raises(ValueError, match="shard gaps"):
        extend_hash_bloom(gapped, new).collect()
    with pytest.raises(TypeError, match="n_shards"):
        extend_hash_bloom(gapped, new, n_shards=4)
    # the dense table extends, routing with its own shard count
    got = extend_hash_bloom(blooms, new).orderBy("shard").collect()
    assert [r["shard"] for r in got] == [0, 1, 2, 3]


def test_closure_probe_matches_bloom_probe_hashes(spark):
    """The streaming closure probe (shared by stream_novelty_filter and
    stream_holdout_tag) gives bloom_probe_hashes' verdict on every hash,
    members and non-members alike, on a bloom dense enough that false
    positives occur — so the two probes agree on the false positives
    too, not just on the guaranteed members."""
    members = _hashes(spark, 0, 400, col="_h")
    outsiders = _hashes(spark, 10_000, 11_000, col="_h")
    blooms = build_hash_bloom(
        members, "_h", n_shards=2, n_bits=1 << 10, n_hashes=3
    ).localCheckpoint(eager=True)
    assert bloom_params_from_rows(blooms.collect()) == (2, 1 << 10, 3)
    want = {
        r["_h"]: r["bloom_maybe"]
        for r in bloom_probe_hashes(members.union(outsiders), blooms).collect()
    }
    maybe = bloom_closure_probe(blooms, 1 << 20, "test bloom")
    assert {h: maybe(h) for h in want} == want
    assert all(want[r["_h"]] for r in members.collect())
    n_fp = sum(want[r["_h"]] for r in outsiders.collect())
    assert 0 < n_fp < 1000  # false positives AND true negatives


def test_bloom_paths_refuse_uri(spark, tmp_path):
    """The sidecar is read and written with open(), so a URI bloom path
    must refuse up front — before the ingest job reads the landing or
    writes gold.  Unguarded, a URI reads as "no sidecar yet", gold is
    written, and only the bloom write fails, on every run."""
    from market_data_ingestion_scraper_spark.jobs import run_corpus_ingestion

    uri = "s3a://bucket/bloom"
    blooms = build_hash_bloom(_hashes(spark, 0, 10), n_shards=2,
                              n_bits=1 << 10, n_hashes=3)
    with pytest.raises(ValueError, match="local filesystem path"):
        write_hash_bloom(blooms, uri)
    with pytest.raises(ValueError, match="local filesystem path"):
        load_hash_bloom(spark, uri)
    landing = _land(tmp_path, "landing", [
        {"doc_id": 1, "text": "first doc", "lang": "en", "source": "a",
         "n_chars": 9},
    ])
    gold = str(tmp_path / "gold")
    with pytest.raises(ValueError, match="local filesystem path"):
        run_corpus_ingestion(spark, landing, gold, incremental=True,
                             bloom_path=uri)
    assert not os.path.exists(gold)
