"""X33 leakage-safe temporal split: independent pure-Python twin over
the sf0.001 events fixture, planted warm/cold truth table, the frozen
train-entity artifact, stream ≡ batch, and validation.  The plan shape
is pinned in test_plans.py."""

from __future__ import annotations

import datetime as dt

import pytest

from market_data_ingestion_scraper_spark.operators.splits import (
    temporal_split,
    temporal_split_report,
    train_entities,
)
from market_data_ingestion_scraper_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
CUT = "2024-01-25 00:00:00"


def _py_split(rows, cutoff, embargo_days):
    cut = dt.datetime.fromisoformat(cutoff)
    val_start = cut + dt.timedelta(days=embargo_days)
    seen = {u for e, u, ts in rows if ts < cut and u is not None}
    out = {}
    for e, u, ts in rows:
        if ts is None:
            out[e] = "embargo"
        elif ts < cut:
            out[e] = "train"
        elif ts < val_start:
            out[e] = "embargo"
        elif u in seen:
            out[e] = "val_warm"
        else:
            out[e] = "val_cold"
    return out


def test_temporal_split_matches_python_twin(spark):
    ev = load_table(spark, SF, "events")
    rows = [
        (r["event_id"], r["user_id"], r["ts"])
        for r in ev.select("event_id", "user_id", "ts").collect()
    ]
    want = _py_split(rows, CUT, 1)
    got = {
        r["event_id"]: r["split"]
        for r in temporal_split(ev, CUT, embargo_days=1).collect()
    }
    assert got == want
    # all of train/embargo/val must occur on the fixture or the twin is
    # vacuous (val_cold needs planted cold users — the test below)
    assert {"train", "embargo", "val_warm"} <= set(want.values())


def test_temporal_split_planted_truth_table(spark):
    """Hand-checked assignments: pre-cutoff row -> train; inside the
    embargo day -> embargo (neither side); post-embargo row of a user
    with train history -> val_warm; of an unseen user -> val_cold; a
    NULL user post-embargo -> val_cold (no attributable history)."""
    rows = [
        (1, 10, dt.datetime(2024, 1, 20, 12)),   # train
        (2, 10, dt.datetime(2024, 1, 25, 6)),    # embargo
        (3, 10, dt.datetime(2024, 1, 27, 0)),    # val_warm (10 in train)
        (4, 20, dt.datetime(2024, 1, 28, 0)),    # val_cold (20 unseen)
        (5, None, dt.datetime(2024, 1, 28, 0)),  # val_cold (null user)
        (6, 20, dt.datetime(2024, 1, 25, 23, 59)),  # embargo edge
        (7, 30, dt.datetime(2024, 1, 26, 0)),    # val_cold (boundary in)
        (8, 10, None),  # NULL ts -> embargo (placeable on neither side)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )
    got = {r["event_id"]: r["split"] for r in temporal_split(df, CUT).collect()}
    assert got == {
        1: "train", 2: "embargo", 3: "val_warm", 4: "val_cold",
        5: "val_cold", 6: "embargo", 7: "val_cold", 8: "embargo",
    }


def test_temporal_split_frozen_entities_artifact(spark, tmp_path):
    """The persisted train-entity table must reproduce the in-plan
    assignment exactly — the split artifact contract (freeze once, every
    later job and the streaming tagger agree)."""
    ev = load_table(spark, SF, "events")
    path = str(tmp_path / "train_entities")
    train_entities(ev, CUT).write.parquet(path)
    frozen = spark.read.parquet(path)
    via_artifact = {
        r["event_id"]: r["split"]
        for r in temporal_split(ev, CUT, entities=frozen).collect()
    }
    in_plan = {
        r["event_id"]: r["split"] for r in temporal_split(ev, CUT).collect()
    }
    assert via_artifact == in_plan


def test_temporal_split_report_shares(spark):
    ev = load_table(spark, SF, "events")
    rep = {r["split"]: r for r in temporal_split_report(ev, CUT).collect()}
    n_total = sum(r["n_rows"] for r in rep.values())
    assert n_total == ev.count()
    for r in rep.values():
        assert r["row_share_ppm"] == (r["n_rows"] * 2_000_000 + n_total) // (
            2 * n_total
        )
    # exact half-up shares reconcile to 1e6 within one ulp per row
    assert abs(sum(r["row_share_ppm"] for r in rep.values()) - 1_000_000) <= len(rep)


def test_stream_split_tag_matches_batch(spark, tmp_path):
    """The streaming tagger over the frozen artifact must agree with the
    batch constructor bit-for-bit (shared split_expr; stream-static
    join) — driven through the memory sink in append mode."""
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    ev = load_table(spark, SF, "events")
    ents = train_entities(ev, CUT)
    src = str(tmp_path / "in")
    ev.repartition(3).write.parquet(src)
    stream = P.stream_events(spark, src)
    out = P.run_to_memory(
        P.stream_split_tag(stream, ents, CUT, embargo_days=1),
        "t_split_tag", spark, mode="append",
    )
    s = {r["event_id"]: r["split"] for r in out.collect()}
    b = {r["event_id"]: r["split"] for r in temporal_split(ev, CUT).collect()}
    assert s == b


def test_temporal_split_validation(spark):
    ev = load_table(spark, SF, "events")
    with pytest.raises(ValueError, match="ISO timestamp"):
        temporal_split(ev, "not-a-date")
    with pytest.raises(ValueError, match="embargo_days"):
        temporal_split(ev, CUT, embargo_days=-1)


def test_temporal_split_nondistinct_entities_and_compact_cutoff(spark):
    """r15 review fixes: a NON-distinct entities frame (the raw
    pre-cutoff projection) must not fan rows out through the join, and
    every fromisoformat-accepted cutoff form must normalize to a
    Spark-safe literal instead of dying at action time."""
    ev = load_table(spark, SF, "events")
    raw = ev.filter(f"ts < timestamp'{CUT}'").select("user_id")  # dupes
    base = temporal_split(ev, CUT).collect()
    via_raw = temporal_split(ev, CUT, entities=raw).collect()
    assert sorted(map(tuple, via_raw)) == sorted(map(tuple, base))
    assert len(via_raw) == ev.count()

    compact = {
        r["event_id"]: r["split"]
        for r in temporal_split(ev, "2024-01-25T00").collect()
    }
    assert compact == {r["event_id"]: r["split"] for r in base}


# ---------------------------------------------------------------- X36


def _py_grams(text, k):
    import re

    ts = [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]
    return {" ".join(ts[i:i + k]) for i in range(len(ts) - k + 1)}


def _py_holdout(rows, holdout_ppm=100_000, k=5, min_hits=1):
    """Independent pure-Python twin of decontaminated_holdout (hash
    mode): md5 candidacy, set-based gram overlap, the three-way label."""
    import hashlib

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % 2_147_483_647

    def grams(text):
        return _py_grams(text, k)

    cand = {d: h(f"holdout:{d}") % 1_000_000 < holdout_ppm for d, _ in rows}
    train_grams = {}
    for d, text in rows:
        if not cand[d]:
            train_grams[d] = grams(text)
    out = {}
    for d, text in rows:
        if not cand[d]:
            out[d] = ("train", None, None)
            continue
        g = grams(text)
        hit_g = set()
        hit_d = set()
        for td, tg in train_grams.items():
            shared = g & tg
            if shared:
                hit_g |= shared
                hit_d.add(td)
        if len(hit_g) >= min_hits:
            out[d] = ("quarantine", len(hit_g), len(hit_d))
        else:
            out[d] = ("eval", len(hit_g), len(hit_d))
    return out


def test_decontaminated_holdout_matches_python_twin(spark):
    from market_data_ingestion_scraper_spark.operators.splits import (
        decontaminated_holdout,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    want = _py_holdout(rows)
    got = {
        r["doc_id"]: (r["split"], r["n_hit_grams"], r["n_train_docs_hit"])
        for r in decontaminated_holdout(docs).collect()
    }
    assert got == want
    # the split is total and disjoint: every doc gets exactly one label
    assert len(got) == len(rows)
    assert {s for s, _, _ in got.values()} <= {"train", "eval", "quarantine"}


def test_decontaminated_holdout_planted_contamination(spark):
    """Planted truth: a candidate that copies 5 train tokens verbatim is
    quarantined with the exact gram evidence; a disjoint-vocabulary
    candidate stays eval; short/NULL text admits vacuously clean."""
    import hashlib

    def is_cand(d):
        h = int(hashlib.md5(f"holdout:{d}".encode()).hexdigest()[:8], 16)
        return (h % 2_147_483_647) % 1_000_000 < 100_000

    # deterministically pick ids on each side of the hash
    cand_ids = [d for d in range(1000) if is_cand(d)][:3]
    train_ids = [d for d in range(1000) if not is_cand(d)][:2]
    from market_data_ingestion_scraper_spark.operators.splits import (
        decontaminated_holdout,
    )

    leak = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (train_ids[0], f"{leak} zeta eta"),
            (train_ids[1], "totally different train words here indeed"),
            (cand_ids[0], f"prefix {leak} suffix"),       # contaminated
            (cand_ids[1], "qq ww ee rr tt yy uu"),        # clean eval
            (cand_ids[2], "too short"),                   # vacuous clean
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["split"], r["n_hit_grams"]) for r in
        decontaminated_holdout(docs).collect()
    }
    assert got[train_ids[0]] == ("train", None)
    assert got[cand_ids[0]][0] == "quarantine" and got[cand_ids[0]][1] >= 1
    assert got[cand_ids[1]] == ("eval", 0)
    assert got[cand_ids[2]] == ("eval", 0)


def test_decontaminated_holdout_temporal_mode(spark):
    """cutoff= + ts_col=: candidacy is the X33 time boundary, NULL
    timestamps quarantine with NULL stats (unplaceable — the X33 NULL
    policy), and contamination still quarantines post-cutoff docs."""
    import datetime as dt

    from market_data_ingestion_scraper_spark.operators.splits import (
        decontaminated_holdout,
    )

    t0 = dt.datetime(2024, 1, 10)
    t1 = dt.datetime(2024, 2, 10)
    leak = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, f"{leak} zeta", t0),                  # train (pre-cutoff)
            (2, f"copy {leak} here", t1),             # eval cand, contaminated
            (3, "fresh vocabulary after the cut ok", t1),  # clean eval
            (4, "timeless text", None),               # NULL ts -> quarantine
        ],
        "doc_id long, text string, ts timestamp",
    )
    got = {
        r["doc_id"]: (r["split"], r["n_hit_grams"]) for r in
        decontaminated_holdout(
            docs, cutoff="2024-02-01 00:00:00", ts_col="ts"
        ).collect()
    }
    assert got[1] == ("train", None)
    assert got[2][0] == "quarantine" and got[2][1] >= 1
    assert got[3] == ("eval", 0)
    assert got[4] == ("quarantine", None)


def test_decontaminated_holdout_partitioning_invariant(spark):
    from market_data_ingestion_scraper_spark.operators.splits import (
        decontaminated_holdout,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    a = {tuple(r) for r in decontaminated_holdout(docs).collect()}
    b = {
        tuple(r)
        for r in decontaminated_holdout(docs.repartition(13)).collect()
    }
    assert a == b


def test_decontaminated_holdout_validation(spark):
    from market_data_ingestion_scraper_spark.operators.splits import (
        decontaminated_holdout,
    )

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="holdout_ppm"):
        decontaminated_holdout(docs, holdout_ppm=0)
    with pytest.raises(ValueError, match="holdout_ppm"):
        decontaminated_holdout(docs, holdout_ppm=1_000_000)
    with pytest.raises(ValueError, match="min_hits"):
        decontaminated_holdout(docs, min_hits=0)
    with pytest.raises(ValueError, match="temporal mode"):
        decontaminated_holdout(docs, cutoff="2024-01-01")
    with pytest.raises(ValueError, match="temporal mode"):
        decontaminated_holdout(docs, ts_col="ts")
    with pytest.raises(ValueError, match="ISO timestamp"):
        decontaminated_holdout(docs, cutoff="nope", ts_col="ts")


#: The split record of decontaminated_holdout's defaults: the blooms
#: built below carry it, and the tagger reads its parameters from it.
_RECORD = {"kind": "holdout-split", "k": 5, "holdout_ppm": 100_000,
           "min_hits": 1}


def _holdout_blooms(spark, docs, n_bits=1 << 20):
    """Sidecars sized to the house guidance (~10+ bits per distinct
    gram, 5 hashes → fp ~ 0 at fixture scale, which the equality pin
    below relies on; an undersized bloom only OVER-quarantines — the
    documented safe direction, demonstrated in the directional test).
    Built from the split :data:`_RECORD` describes."""
    from market_data_ingestion_scraper_spark.operators.bloom import (
        build_hash_bloom,
    )
    from market_data_ingestion_scraper_spark.operators.splits import (
        HoldoutSplit,
        decontaminated_holdout,
        holdout_gram_hashes,
    )

    # the documented both-sidecars pattern: one persisted assignment
    # feeds both side filters instead of re-running the gram join
    assignment = decontaminated_holdout(docs).persist()
    assignment.count()
    handle = HoldoutSplit(assignment, _RECORD)
    tb = build_hash_bloom(
        holdout_gram_hashes(docs, "train", handle),
        "gram_hash", n_shards=4, n_bits=n_bits, n_hashes=5,
    )
    eb = build_hash_bloom(
        holdout_gram_hashes(docs, "eval", handle),
        "gram_hash", n_shards=4, n_bits=n_bits, n_hashes=5,
    )
    assignment.unpersist()
    return tb, eb


def test_stream_holdout_tag_matches_batch_on_fit_corpus(spark):
    """Serve ≡ batch on the fit corpus: every document's streamed tag
    equals its batch assignment (clean eval docs share no gram with
    train BY CONSTRUCTION, so the train-side eval-bloom probe never
    fires on fit data), and the serve's hit upper bound dominates the
    exact batch count."""
    from market_data_ingestion_scraper_spark.operators.splits import (
        decontaminated_holdout,
    )
    from market_data_ingestion_scraper_spark.streaming.pipeline import (
        stream_holdout_tag,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    tb, eb = _holdout_blooms(spark, docs)
    batch = {
        r["doc_id"]: (r["split"], r["n_hit_grams"])
        for r in decontaminated_holdout(docs).collect()
    }
    served = {
        r["doc_id"]: (r["split"], r["n_hit_grams_ub"])
        for r in stream_holdout_tag(docs, tb, eb, _RECORD, _RECORD).collect()
    }
    assert set(served) == set(batch)
    for d, (split, ub) in served.items():
        assert split == batch[d][0], (d, split, batch[d])
        if batch[d][1] is not None:
            assert ub >= batch[d][1]


def test_stream_holdout_tag_protects_both_directions(spark):
    """New arrivals AFTER the freeze: an eval candidate copying train
    text quarantines (train-bloom direction), and a train-side arrival
    copying a frozen CLEAN EVAL doc quarantines too (eval-bloom
    direction — the re-check gap a one-sided serve leaves open)."""
    import hashlib

    from market_data_ingestion_scraper_spark.streaming.pipeline import (
        stream_holdout_tag,
    )

    def is_cand(d):
        h = int(hashlib.md5(f"holdout:{d}".encode()).hexdigest()[:8], 16)
        return (h % 2_147_483_647) % 1_000_000 < 100_000

    cand_ids = [d for d in range(2000) if is_cand(d)]
    train_ids = [d for d in range(2000) if not is_cand(d)]
    train_text = "alpha beta gamma delta epsilon zeta"
    eval_text = "one two three four five six seven"
    fit = spark.createDataFrame(
        [(train_ids[0], train_text), (cand_ids[0], eval_text)],
        "doc_id long, text string",
    )
    tb, eb = _holdout_blooms(spark, fit)
    arrivals = spark.createDataFrame(
        [
            (cand_ids[1], f"stolen {train_text} again"),   # hits train grams
            (cand_ids[2], "fresh clean eval words here now"),
            (train_ids[1], f"reposts {eval_text} verbatim"),  # hits eval grams
            (train_ids[2], "novel training material entirely new"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["split"]
        for r in stream_holdout_tag(arrivals, tb, eb, _RECORD, _RECORD).collect()
    }
    assert got[cand_ids[1]] == "quarantine"
    assert got[cand_ids[2]] == "eval"
    assert got[train_ids[1]] == "quarantine"
    assert got[train_ids[2]] == "train"


def test_stream_holdout_tag_is_stream_legal(spark, tmp_path):
    """The tagger applies to a streaming frame (append mode, no state):
    stream ≡ batch through the memory sink."""
    from market_data_ingestion_scraper_spark.streaming.pipeline import (
        run_to_memory,
        stream_holdout_tag,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    tb, eb = _holdout_blooms(spark, docs)
    src = str(tmp_path / "hdocs")
    docs.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    want = {
        tuple(r)
        for r in stream_holdout_tag(docs, tb, eb, _RECORD, _RECORD).collect()
    }
    got = run_to_memory(
        stream_holdout_tag(stream, tb, eb, _RECORD, _RECORD),
        "t_holdout_tag", spark,
        mode="append",
    )
    assert {tuple(r) for r in got.collect()} == want


def test_stream_holdout_tag_validation(spark):
    from market_data_ingestion_scraper_spark.streaming.pipeline import (
        stream_holdout_tag,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string"
    )
    tb, eb = _holdout_blooms(spark, docs)
    with pytest.raises(ValueError, match="max_artifact_bytes"):
        stream_holdout_tag(
            docs, tb, eb, _RECORD, _RECORD, max_artifact_bytes=8
        )
    with pytest.raises(ValueError, match="side must be"):
        from market_data_ingestion_scraper_spark.operators.splits import (
            HoldoutSplit,
            decontaminated_holdout,
            holdout_gram_hashes,
        )

        holdout_gram_hashes(
            docs, "quarantine",
            HoldoutSplit(decontaminated_holdout(docs), _RECORD),
        )


def test_decontaminated_holdout_null_id_policy(spark):
    """A NULL id has no deterministic hash side: quarantine with NULL
    stats (without the explicit branch it would fall through the 3VL
    comparisons into eval UNCHECKED — the r17 review finding), in both
    the batch builder and the streaming tagger."""
    from market_data_ingestion_scraper_spark.operators.splits import (
        decontaminated_holdout,
    )
    from market_data_ingestion_scraper_spark.streaming.pipeline import (
        stream_holdout_tag,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (None, "anonymous text with no identity at all")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["split"], r["n_hit_grams"]) for r in
        decontaminated_holdout(docs).collect()
    }
    assert got[None] == ("quarantine", None)
    tb, eb = _holdout_blooms(spark, docs.where("doc_id IS NOT NULL"))
    served = {
        r["doc_id"]: (r["split"], r["n_hit_grams_ub"]) for r in
        stream_holdout_tag(docs, tb, eb, _RECORD, _RECORD).collect()
    }
    assert served[None] == ("quarantine", None)


def test_instruction_pairs_null_id_dropped(spark):
    """NULL-id rows are dropped BEFORE pairing (no deterministic
    position; engines disagree on NULL sort order) — the remaining
    docs pair as if the NULL row never existed."""
    from market_data_ingestion_scraper_spark.operators.instruct import (
        instruction_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a", "one two"), (None, "a", "ghost"), (2, "a", "three four")],
        "doc_id long, source string, text string",
    )
    got = instruction_pairs(docs).collect()
    assert len(got) == 1
    assert got[0]["prompt_doc_id"] == 1 and got[0]["response_doc_id"] == 2


def test_decontaminated_holdout_subthreshold_stats_are_actuals(spark):
    """min_hits decides the LABEL only: a candidate sharing fewer than
    min_hits distinct grams stays eval but reports the ACTUAL evidence,
    not 0 (r17 review finding — the old plan filtered the stats table
    by the threshold)."""
    import hashlib

    from market_data_ingestion_scraper_spark.operators.splits import (
        decontaminated_holdout,
    )

    def is_cand(d):
        h = int(hashlib.md5(f"holdout:{d}".encode()).hexdigest()[:8], 16)
        return (h % 2_147_483_647) % 1_000_000 < 100_000

    cand_id = next(d for d in range(1000) if is_cand(d))
    train_id = next(d for d in range(1000) if not is_cand(d))
    docs = spark.createDataFrame(
        [
            (train_id, "alpha beta gamma delta epsilon xx"),
            # shares exactly ONE distinct 5-gram with the train doc
            (cand_id, "zz alpha beta gamma delta epsilon"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["split"], r["n_hit_grams"], r["n_train_docs_hit"])
        for r in decontaminated_holdout(docs, min_hits=2).collect()
    }
    assert got[cand_id] == ("eval", 1, 1)
    # and the same corpus at min_hits=1 quarantines with the same stats
    got1 = {
        r["doc_id"]: (r["split"], r["n_hit_grams"]) for r in
        decontaminated_holdout(docs, min_hits=1).collect()
    }
    assert got1[cand_id] == ("quarantine", 1)


def test_stream_holdout_tag_temporal_mode(spark):
    """Serving a temporally-built split: the tagger expresses the same
    cutoff contract (r17 review finding), so a post-cutoff arrival is
    an eval candidate regardless of its hash, a pre-cutoff arrival is
    train-side, and a NULL timestamp quarantines in-plan."""
    import datetime as dtm

    from market_data_ingestion_scraper_spark.operators.bloom import (
        build_hash_bloom,
    )
    from market_data_ingestion_scraper_spark.operators.splits import (
        HoldoutSplit,
        decontaminated_holdout,
        holdout_gram_hashes,
    )
    from market_data_ingestion_scraper_spark.streaming.pipeline import (
        stream_holdout_tag,
    )

    CUT = "2024-02-01 00:00:00"
    record = {"kind": "holdout-split", "k": 5, "min_hits": 1,
              "cutoff": CUT, "ts_col": "ts"}
    t0, t1 = dtm.datetime(2024, 1, 10), dtm.datetime(2024, 2, 10)
    train_text = "alpha beta gamma delta epsilon zeta"
    fit = spark.createDataFrame(
        [(1, train_text, t0), (2, "one two three four five six", t1)],
        "doc_id long, text string, ts timestamp",
    )
    handle = HoldoutSplit(
        decontaminated_holdout(fit, cutoff=CUT, ts_col="ts"), record
    )
    tb = build_hash_bloom(
        holdout_gram_hashes(fit, "train", handle),
        "gram_hash", n_shards=4, n_bits=1 << 20, n_hashes=5,
    )
    eb = build_hash_bloom(
        holdout_gram_hashes(fit, "eval", handle),
        "gram_hash", n_shards=4, n_bits=1 << 20, n_hashes=5,
    )
    arrivals = spark.createDataFrame(
        [
            (10, f"copy {train_text} here", t1),   # post-cutoff, hits train
            (11, "fresh words never seen before ok", t1),  # clean eval
            (12, "brand new training era text fine", t0),  # pre-cutoff train
            (13, "timeless", None),                # NULL ts -> quarantine
        ],
        "doc_id long, text string, ts timestamp",
    )
    got = {
        r["doc_id"]: (r["split"], r["n_hit_grams_ub"]) for r in
        stream_holdout_tag(arrivals, tb, eb, record, record).collect()
    }
    assert got[10][0] == "quarantine" and got[10][1] >= 1
    assert got[11] == ("eval", 0)
    assert got[12] == ("train", 0)
    assert got[13] == ("quarantine", None)


def test_holdout_split_artifact_roundtrip(spark, tmp_path):
    """write_holdout_split persists parquet + the authoritative
    parameter sidecar; load_holdout_split returns the HoldoutSplit
    handle with the recorded gram width (r17 verdict nit: persist k so
    serving can refuse instead of documenting)."""
    from market_data_ingestion_scraper_spark.operators.splits import (
        decontaminated_holdout,
        load_holdout_split,
        write_holdout_split,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    assignment = decontaminated_holdout(docs, k=7)
    path = str(tmp_path / "split")
    meta = write_holdout_split(assignment, path, k=7, holdout_ppm=100_000)
    assert meta["kind"] == "holdout-split" and meta["k"] == 7
    handle = load_holdout_split(spark, path)
    assert handle.k == 7
    assert handle.params == {"k": 7, "min_hits": 1, "holdout_ppm": 100_000}
    key = lambda d: sorted(map(tuple, d.collect()))  # noqa: E731
    assert key(handle.df) == key(assignment)


def test_holdout_gram_hashes_handle_derives_and_refuses_k(spark):
    """The HoldoutSplit handle is the only source of the sidecar's gram
    width: the hashes are the md5s of the train side's 7-grams when the
    record says k=7 (pure-Python twin), a k= argument is no longer
    accepted, and a bare assignment DataFrame, which carries no width,
    is refused."""
    import hashlib

    from market_data_ingestion_scraper_spark.operators.splits import (
        HoldoutSplit,
        decontaminated_holdout,
        holdout_gram_hashes,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    assignment = decontaminated_holdout(docs, k=7).persist()
    handle = HoldoutSplit(assignment, {**_RECORD, "k": 7})
    train_ids = {
        r["doc_id"] for r in assignment.where("split = 'train'").collect()
    }
    want = {
        hashlib.md5(g.encode()).hexdigest()
        for r in docs.collect() if r["doc_id"] in train_ids
        for g in _py_grams(r["text"], 7)
    }
    got = {
        r["gram_hash"]
        for r in holdout_gram_hashes(docs, "train", handle).collect()
    }
    assert got == want and want
    with pytest.raises(TypeError, match="'k'"):
        holdout_gram_hashes(docs, "train", handle, k=7)
    with pytest.raises(TypeError, match="HoldoutSplit"):
        holdout_gram_hashes(docs, "train", assignment)
    assignment.unpersist()


def test_holdout_split_handle_validation():
    from market_data_ingestion_scraper_spark.operators.splits import (
        HoldoutSplit,
    )

    with pytest.raises(ValueError, match="not a holdout-split"):
        HoldoutSplit(None, {"kind": "sharded-bloom", "k": 5})
    with pytest.raises(ValueError, match="does not record 'k'"):
        HoldoutSplit(None, {"kind": "holdout-split"})


_TEMPORAL_RECORD = {"kind": "holdout-split", "k": 5, "min_hits": 1,
                    "cutoff": "2024-02-01 00:00:00", "ts_col": "ts"}


def _without(record, key):
    return {k: v for k, v in record.items() if k != key}


#: case -> (train record, eval record or None for "the same", refusal)
_BAD_RECORDS = {
    "missing-k": (_without(_RECORD, "k"), None, "does not record 'k'"),
    "missing-mode": (
        _without(_RECORD, "holdout_ppm"), None, "records no selection mode"
    ),
    "both-modes": (
        {**_TEMPORAL_RECORD, "holdout_ppm": 100_000}, None,
        "records both selection modes",
    ),
    "half-temporal": (
        _without(_TEMPORAL_RECORD, "ts_col"), None,
        "temporal mode needs BOTH",
    ),
    "ppm-zero": ({**_RECORD, "holdout_ppm": 0}, None, "holdout_ppm must be"),
    "min-hits-zero": ({**_RECORD, "min_hits": 0}, None, "min_hits must be"),
    "bad-cutoff": (
        {**_TEMPORAL_RECORD, "cutoff": "nope"}, None, "ISO timestamp"
    ),
    "disagree": (_RECORD, {**_RECORD, "k": 7}, "records disagree"),
}


@pytest.mark.parametrize("case", list(_BAD_RECORDS))
def test_every_reader_refuses_bad_split_record(spark, case):
    """One check of the split record, run by every reader: the check
    itself, the HoldoutSplit handle, the gram-hash builder (through its
    handle) and the streaming tagger with the bad record on either
    side.  Two records that are each valid but disagree are refused by
    the tagger only, the one reader that takes two."""
    from pyspark.sql import functions as F

    from market_data_ingestion_scraper_spark.operators.bloom import (
        build_hash_bloom,
    )
    from market_data_ingestion_scraper_spark.operators.splits import (
        HoldoutSplit,
        decontaminated_holdout,
        holdout_gram_hashes,
        split_params,
    )
    from market_data_ingestion_scraper_spark.streaming.pipeline import (
        stream_holdout_tag,
    )

    train_rec, eval_rec, refusal = _BAD_RECORDS[case]
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    assignment = decontaminated_holdout(docs)
    blooms = build_hash_bloom(
        docs.select(F.md5("text").alias("gram_hash")), "gram_hash",
        n_shards=2, n_bits=1 << 10, n_hashes=3,
    )
    if eval_rec is None:
        readers = [
            lambda: split_params(train_rec),
            lambda: HoldoutSplit(assignment, train_rec),
            lambda: holdout_gram_hashes(
                docs, "train", HoldoutSplit(assignment, train_rec)
            ),
            lambda: stream_holdout_tag(docs, blooms, blooms, train_rec, _RECORD),
            lambda: stream_holdout_tag(docs, blooms, blooms, _RECORD, train_rec),
        ]
    else:
        for rec in (train_rec, eval_rec):
            assert HoldoutSplit(assignment, rec).params == split_params(rec)
        readers = [
            lambda: stream_holdout_tag(docs, blooms, blooms, train_rec, eval_rec),
            lambda: stream_holdout_tag(docs, blooms, blooms, eval_rec, train_rec),
        ]
    for read in readers:
        with pytest.raises(ValueError, match=refusal):
            read()


def test_stream_holdout_tag_min_hits_symmetric(spark):
    """min_hits applies to BOTH probe directions (docstring contract,
    r17 advice): with min_hits=2 a train arrival sharing exactly one
    gram with the frozen clean-eval side is ADMITTED — the tolerance
    the batch builder already accepted when it declared that eval side
    clean — and an eval candidate sharing one gram with train is
    admitted by the same threshold."""
    import hashlib

    from market_data_ingestion_scraper_spark.streaming.pipeline import (
        stream_holdout_tag,
    )

    def is_cand(d):
        h = int(hashlib.md5(f"holdout:{d}".encode()).hexdigest()[:8], 16)
        return (h % 2_147_483_647) % 1_000_000 < 100_000

    cand_ids = [d for d in range(2000) if is_cand(d)]
    train_ids = [d for d in range(2000) if not is_cand(d)]
    train_text = "alpha beta gamma delta epsilon zeta"
    eval_text = "one two three four five six seven"
    fit = spark.createDataFrame(
        [(train_ids[0], train_text), (cand_ids[0], eval_text)],
        "doc_id long, text string",
    )
    tb, eb = _holdout_blooms(spark, fit)
    # one shared 5-gram each: prefix overlap then diverge
    one_gram_eval = "one two three four five NOVEL fresh words"
    one_gram_train = "alpha beta gamma delta epsilon NOVEL other things"
    arrivals = spark.createDataFrame(
        [
            (train_ids[1], one_gram_eval),   # 1 eval-bloom hit
            (cand_ids[1], one_gram_train),   # 1 train-bloom hit
            (train_ids[2], f"re {eval_text} full"),   # many eval hits
            (cand_ids[2], f"re {train_text} full"),   # many train hits
        ],
        "doc_id long, text string",
    )
    strict = {
        r["doc_id"]: (r["split"], r["n_hit_grams_ub"]) for r in
        stream_holdout_tag(arrivals, tb, eb, _RECORD, _RECORD).collect()
    }
    lax_record = {**_RECORD, "min_hits": 2}
    lax = {
        r["doc_id"]: (r["split"], r["n_hit_grams_ub"]) for r in
        stream_holdout_tag(arrivals, tb, eb, lax_record, lax_record).collect()
    }
    # at min_hits=1 every overlap quarantines, both directions
    assert strict[train_ids[1]][0] == "quarantine"
    assert strict[cand_ids[1]][0] == "quarantine"
    # at min_hits=2 the single-gram arrivals admit SYMMETRICALLY...
    assert lax[train_ids[1]] == ("train", 1)
    assert lax[cand_ids[1]] == ("eval", 1)
    # ...while heavy overlap still quarantines in both directions
    assert lax[train_ids[2]][0] == "quarantine"
    assert lax[cand_ids[2]][0] == "quarantine"
