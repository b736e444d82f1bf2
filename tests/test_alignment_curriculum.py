"""X25 cross-lingual margin alignment + X26 curriculum packing: every
value differentialed against independently-written pure-Python twins
(math/hashlib — no Spark, no shared code), plus plan-shape pins."""

from __future__ import annotations

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from market_data_ingestion_scraper_spark.operators.alignment import (
    xlingual_candidates_lsh,
    xlingual_margin_align,
)
from market_data_ingestion_scraper_spark.operators.chunking import (
    curriculum_pack_order,
)


# ---------------------------------------------------------------- X25


def _py_margin_align(side_a, side_b, k=4, threshold_ppm=1_000_000):
    """Independent twin of the Artetxe-Schwenk ratio-margin mutual-best
    mining: float fold cosine -> 6dp round -> int micro-units -> integer
    half-up ppm margin -> mutual best."""

    def cos_micro(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return round(round(dot / (na * nb), 6) * 1e6)

    scored = {}
    for sid, sv in side_a:
        for tid, tv in side_b:
            c = cos_micro(sv, tv)
            if c > 0:
                scored[(sid, tid)] = c
    nb_a, nb_b = {}, {}
    for sid, _ in side_a:
        cs = sorted(
            ((c, t) for (s, t), c in scored.items() if s == sid),
            key=lambda ct: (-ct[0], ct[1]),
        )[:k]
        if cs:
            nb_a[sid] = (sum(c for c, _ in cs), len(cs))
    for tid, _ in side_b:
        cs = sorted(
            ((c, s) for (s, t), c in scored.items() if t == tid),
            key=lambda ct: (-ct[0], ct[1]),
        )[:k]
        if cs:
            nb_b[tid] = (sum(c for c, _ in cs), len(cs))
    margins = {}
    for (sid, tid), c in scored.items():
        sa, na = nb_a[sid]
        sb, nbn = nb_b[tid]
        d = sa * nbn + sb * na
        if d <= 0:
            continue
        margins[(sid, tid)] = (2 * (c * 2_000_000 * na * nbn) + d) // (2 * d)
    out = []
    for (sid, tid), m in margins.items():
        rank_s = sorted(
            (kv for kv in margins.items() if kv[0][0] == sid),
            key=lambda kv: (-kv[1], -scored[kv[0]], kv[0][1]),
        )
        rank_t = sorted(
            (kv for kv in margins.items() if kv[0][1] == tid),
            key=lambda kv: (-kv[1], -scored[kv[0]], kv[0][0]),
        )
        if rank_s[0][0] == (sid, tid) and rank_t[0][0] == (sid, tid) and m >= threshold_ppm:
            out.append((sid, tid, scored[(sid, tid)] / 1e6, m / 1e6))
    return sorted(out)


def _sides(spark, rows_a, rows_b):
    mk = lambda rows: spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    return mk(rows_a), mk(rows_b)


def test_xlingual_align_matches_python_twin(spark):
    """Planted geometry: every emitted (pair, cos, margin) equals the
    independent twin bit-for-bit, hub vectors get margin-suppressed."""
    # side A: two clusters + a hub-ish direction; side B: translations
    # (slightly rotated copies) + distractors near the hub
    rows_a = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.7, 0.7, 0.1]),       # hub: near everything
    ]
    rows_b = [
        (10, [0.98, 0.05, 0.0]),    # translation of 0
        (11, [0.03, 0.99, 0.05]),   # translation of 1
        (12, [0.72, 0.69, 0.05]),   # near the hub
        (13, [0.6, 0.6, 0.2]),      # second hub-ish distractor
    ]
    a, b = _sides(spark, rows_a, rows_b)
    got = sorted(
        (r.src_id, r.tgt_id, r.cos_sim, r.margin)
        for r in xlingual_margin_align(a, b, k=2).collect()
    )
    want = _py_margin_align(
        [(i, v) for i, v, in rows_a], [(i, v) for i, v in rows_b], k=2
    )
    assert got == want
    assert (0, 10) in {(s, t) for s, t, _, _ in got}  # planted translation
    assert (1, 11) in {(s, t) for s, t, _, _ in got}


def test_xlingual_align_candidates_path_equals_brute_force(spark):
    """The candidate-driven plan (the 100 TB path) must reproduce the
    brute-force result exactly when candidates cover all pairs, and stay
    a subset under pruning."""
    rows_a = [(i, [math.cos(i / 7.0), math.sin(i / 7.0), 0.1 * (i % 3)]) for i in range(8)]
    rows_b = [(100 + i, [math.cos((i + 0.2) / 7.0), math.sin((i + 0.2) / 7.0), 0.05]) for i in range(10)]
    a, b = _sides(spark, rows_a, rows_b)
    key = lambda df: sorted(
        (r.src_id, r.tgt_id, r.cos_sim, r.margin) for r in df.collect()
    )
    full = a.crossJoin(
        b.select(F.col("vec_id").alias("tgt_id"))
    ).select(F.col("vec_id").alias("src_id"), "tgt_id")
    assert key(xlingual_margin_align(a, b, k=3, candidates=full)) == key(
        xlingual_margin_align(a, b, k=3)
    )
    # pruned candidates: output is a subset of the brute-force pair pool
    pruned = full.filter((F.col("src_id") + F.col("tgt_id")) % 2 == 0)
    got = {
        (r.src_id, r.tgt_id)
        for r in xlingual_margin_align(a, b, k=3, candidates=pruned).collect()
    }
    pool = {(r.src_id, r.tgt_id) for r in pruned.collect()}
    assert got <= pool


def test_xlingual_lsh_candidates_recall_and_shape(spark):
    """The LSH candidate generator must surface a planted near-identical
    pair and emit only (src, tgt) pairs from the two sides."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((12, 64)).astype(float)
    rows_a = [(i, base[i].tolist()) for i in range(12)]
    # tgt 100 is a tiny perturbation of src 0 — same bucket in every table
    rows_b = [(100, (base[0] + 1e-4).tolist())] + [
        (101 + i, rng.standard_normal(64).tolist()) for i in range(8)
    ]
    a, b = _sides(spark, rows_a, rows_b)
    cand = xlingual_candidates_lsh(a, b, n_planes=4, n_tables=8)
    pairs = {(r.src_id, r.tgt_id) for r in cand.collect()}
    assert (0, 100) in pairs
    assert all(s < 100 <= t for s, t in pairs)
    # end-to-end: margin alignment over LSH candidates recovers the plant
    aligned = {
        (r.src_id, r.tgt_id)
        for r in xlingual_margin_align(a, b, k=2, candidates=cand).collect()
    }
    assert (0, 100) in aligned


def test_xlingual_align_plan_is_candidate_bounded(spark):
    """Plan pin: with candidates the plan has NO cartesian/nested-loop
    join — everything is hash equi-joins + per-key windows."""
    rows = [(i, [float(i % 5) + 1, 1.0]) for i in range(6)]
    a, b = _sides(spark, rows, [(10 + i, v) for i, v in rows])
    cand = spark.createDataFrame(
        [(i, 10 + i) for i in range(6)], "src_id long, tgt_id long"
    )
    plan = (
        xlingual_margin_align(a, b, k=2, candidates=cand)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------- X26


def _py_curriculum(rows, ctx=512, salt="curriculum-0"):
    """Independent twin: regex tokenize, per-lang (n_tokens, md5, id)
    order, running-sum bin/offset."""
    toks = lambda t: [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
    per_lang: dict[str, list] = {}
    for doc_id, text, lang in rows:
        h = hashlib.md5(f"{salt}{doc_id}".encode()).hexdigest()
        per_lang.setdefault(lang, []).append((len(toks(text)), h, doc_id))
    out = {}
    for lang, docs in per_lang.items():
        cum = 0
        for rank, (n, _, doc_id) in enumerate(sorted(docs), start=1):
            out[doc_id] = (lang, n, rank, cum // ctx, cum % ctx)
            cum += n
    return out


def test_curriculum_pack_order_matches_python_twin(spark):
    rows = [
        (1, "a bb ccc dddd", "en"),
        (2, "x", "en"),
        (3, "one two three four five six", "en"),
        (4, "kurz", "de"),
        (5, "etwas laengerer deutscher text hier", "de"),
        (6, "", "de"),          # zero tokens packs at the front
        (7, "x", "en"),         # same length as doc 2 -> hash tie-break
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r["doc_id"]: (
            r["lang"], r["n_tokens"], r["curriculum_rank"],
            r["start_bin"], r["start_offset"],
        )
        for r in curriculum_pack_order(df, ctx_tokens=8).collect()
    }
    assert got == _py_curriculum(rows, ctx=8)


def test_curriculum_pack_order_properties(spark, documents_sf001):
    """Fixture-scale invariants: within each lang, curriculum_rank is a
    1..n permutation ordered by non-decreasing n_tokens, offsets stay
    inside the context, and the packed stream is gap-free (each doc
    starts exactly where the previous ended)."""
    out = curriculum_pack_order(documents_sf001, ctx_tokens=512).collect()
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["curriculum_rank"])
        assert [r["curriculum_rank"] for r in rs] == list(range(1, len(rs) + 1))
        lens = [r["n_tokens"] for r in rs]
        assert lens == sorted(lens)
        cum = 0
        for r in rs:
            assert r["start_bin"] == cum // 512
            assert r["start_offset"] == cum % 512
            assert 0 <= r["start_offset"] < 512
            cum += r["n_tokens"]

    # epoch re-draw: a different salt permutes equal-length ties only
    alt = {
        r["doc_id"]: r["curriculum_rank"]
        for r in curriculum_pack_order(
            documents_sf001, ctx_tokens=512, salt="curriculum-1"
        ).collect()
    }
    base = {r["doc_id"]: (r["lang"], r["n_tokens"], r["curriculum_rank"]) for r in out}
    moved = [d for d, (lang, n, rk) in base.items() if alt[d] != rk]
    assert moved, "salt change should redraw at least one tie"


@pytest.fixture()
def documents_sf001(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


# ------------------------------------------------- X25 streaming form


def test_stream_margin_align_forward_mining(spark, tmp_path):
    """Streaming forward mining: admitted (query, src, cos, margin) rows
    equal an independent pure-Python forward twin over the same LSH
    candidate set, a planted near-copy is admitted against its source,
    and the stream answer equals the same code run in batch."""
    import numpy as np

    from market_data_ingestion_scraper_spark.operators.alignment import (
        side_neighborhood_stats,
    )
    from market_data_ingestion_scraper_spark.operators.similarity import (
        lsh_index,
    )
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    rng = np.random.default_rng(11)
    a_rows = [(i, rng.standard_normal(64).tolist()) for i in range(12)]
    ref_rows = [(50 + i, rng.standard_normal(64).tolist()) for i in range(15)]
    q_rows = [(100, (np.array(a_rows[0][1]) + 1e-4).tolist())] + [
        (101 + i, rng.standard_normal(64).tolist()) for i in range(3)
    ]
    mk = lambda rows: spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    side_a, ref_b, q_batch = mk(a_rows), mk(ref_rows), mk(q_rows)
    stats_a = side_neighborhood_stats(side_a, ref_b, k=3).persist()
    stats_a.count()

    index_a = lsh_index(side_a, n_planes=4, n_tables=8)
    kwargs = dict(k=3, threshold_ppm=1_000_000)
    batch_out = P.stream_margin_align(q_batch, side_a, stats_a, index_a, **kwargs)
    key = lambda df: sorted(
        (r.query_id, r.src_id, r.cos_sim, r.margin) for r in df.collect()
    )
    got = key(batch_out)

    # independent forward twin: candidates from the (already
    # differentially-tested) LSH generator; cosines, neighborhood sums,
    # and the half-up integer margin recomputed in pure Python
    cand = {
        (r.src_id, r.tgt_id)
        for r in xlingual_candidates_lsh(
            mk(q_rows), side_a, n_planes=4, n_tables=8
        ).collect()
    }
    vec = dict(a_rows + ref_rows + q_rows)

    def cos_micro(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        return round(
            round(dot / (math.sqrt(sum(x * x for x in a))
                         * math.sqrt(sum(y * y for y in b))), 6) * 1e6
        )

    # twin of side_neighborhood_stats over the reference corpus
    stats = {}
    for sid, sv in a_rows:
        cs = sorted(
            (c for rid, rv in ref_rows if (c := cos_micro(sv, rv)) > 0),
            reverse=True,
        )[:3]
        if cs:
            stats[sid] = (sum(cs), len(cs))
    want = []
    for qid, qv in q_rows:
        cs = sorted(
            ((cos_micro(qv, vec[sid]), sid) for (q2, sid) in cand
             if q2 == qid and sid in stats and cos_micro(qv, vec[sid]) > 0),
            key=lambda t: (-t[0], t[1]),
        )
        if not cs:
            continue
        sum_b, n_b = sum(c for c, _ in cs[:3]), len(cs[:3])
        best = max(
            (((2 * (c * 2_000_000 * stats[sid][1] * n_b)
               + (stats[sid][0] * n_b + sum_b * stats[sid][1]))
              // (2 * (stats[sid][0] * n_b + sum_b * stats[sid][1]))),
             c, -sid, sid)
            for c, sid in cs
        )
        if best[0] >= 1_000_000:
            want.append((qid, best[3], best[1] / 1e6, best[0] / 1e6))
    assert got == sorted(want)
    assert any(q == 100 and s == 0 for q, s, _, _ in got)  # planted copy

    # stream ≡ batch: same code, two micro-batches through the memory sink
    qdir = str(tmp_path / "q")
    q_batch.repartition(2).write.parquet(qdir)
    q_stream = (
        spark.readStream.schema(q_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    out = P.run_to_memory(
        P.stream_margin_align(q_stream, side_a, stats_a, index_a, **kwargs),
        "t_margin_align",
        spark,
        mode="complete",
    )
    assert key(out) == got
    stats_a.unpersist()


def test_curriculum_pack_plan_single_window_single_exchange(spark, documents_sf001):
    """Plan pin (X26): one scan, one stratum exchange, one Window node —
    rank and packing cumsum must share the same sort, and nothing may
    introduce a second shuffle or a global window."""
    plan = (
        curriculum_pack_order(documents_sf001, 512, "lang")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_exchange = plan.count("Exchange hashpartitioning")
    n_window = sum(
        1 for l in plan.split("\n") if l.strip().startswith(("Window [", "+- Window ["))
    )
    assert n_exchange == 1, plan
    assert n_window == 1, plan
    assert "Exchange SinglePartition" not in plan


def test_xlingual_margin_scale_invariance(spark):
    """Property: cosine (hence the margin and the aligned pair set) is
    invariant under per-vector positive rescaling — the operator must
    not smuggle in any norm-dependent term."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows_a = [(i, rng.standard_normal(16).tolist()) for i in range(6)]
    rows_b = [(10 + i, rng.standard_normal(16).tolist()) for i in range(8)]
    scale = lambda rows, s0: [
        (i, [x * (s0 + (i % 5)) for x in v]) for i, v in rows
    ]
    key = lambda a, b: sorted(
        map(tuple, xlingual_margin_align(a, b, k=3).collect())
    )
    a1, b1 = _sides(spark, rows_a, rows_b)
    a2, b2 = _sides(spark, scale(rows_a, 2.5), scale(rows_b, 7.0))
    assert key(a1, b1) == key(a2, b2)


def test_new_gate_queries_deterministic_across_partitionings(spark):
    """House invariant for gate queries: identical results at any input
    parallelism (row-local fold cosines, integer margins, totally-ordered
    windows — nothing may depend on partition or task order)."""
    from market_data_ingestion_scraper_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    for name in ("xlingual_align", "curriculum_packed_order"):
        base = sorted(map(tuple, REGISTRY[name].fn(spark, sf).collect()))
        for n in (1, 7):
            # the query functions read their own tables, so perturb the
            # session-level shuffle parallelism instead of the inputs
            old = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            try:
                again = sorted(map(tuple, REGISTRY[name].fn(spark, sf).collect()))
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", old)
            assert again == base, (name, n)


def test_xlingual_align_dedups_duplicate_candidates(spark):
    """Regression (r12 review): a duplicated candidate pair must not fill
    the top-k neighborhood slots with copies of its own cosine (margins
    collapse toward 1.0) or split mutual-best ranks across identical
    rows — raw multi-table LSH joins emit duplicates, so the operator
    dedups them itself."""
    rows_a = [(i, [math.cos(i / 5.0), math.sin(i / 5.0), 0.2]) for i in range(6)]
    rows_b = [(10 + i, [math.cos((i + 0.3) / 5.0), math.sin((i + 0.3) / 5.0), 0.15])
              for i in range(8)]
    a, b = _sides(spark, rows_a, rows_b)
    full = a.crossJoin(
        b.select(F.col("vec_id").alias("tgt_id"))
    ).select(F.col("vec_id").alias("src_id"), "tgt_id")
    key = lambda df: sorted(map(tuple, df.collect()))
    clean = key(xlingual_margin_align(a, b, k=3, candidates=full))
    doubled = key(
        xlingual_margin_align(a, b, k=3, candidates=full.union(full))
    )
    assert doubled == clean
    assert clean == key(xlingual_margin_align(a, b, k=3))  # == brute force


def test_r13_gate_debt_oracle_parity_at_driver_scale(spark):
    """The two r12-registered queries take their first driver gate rows
    at r13; keep their SQL twins pinned at the DRIVER'S scale (sf0.01 —
    the default parity suite runs at sf0.001) so no future edit can
    silently break the promised rows between rounds."""
    from market_data_ingestion_scraper_spark.queries import REGISTRY

    from .oracle_utils import compare_query

    sf = "/root/testdata/sf0.01"
    for name in ("xlingual_align", "curriculum_packed_order"):
        spec = REGISTRY[name]
        compare_query(spark, sf, spec.fn, spec.oracle_text(sf))


def test_lsh_artifact_drives_streaming_family(spark, tmp_path):
    """r12 review follow-ups: an LSH-built stats artifact must (a) serve
    with an index of its own hash family exactly as the bare stats frame
    does, (b) refuse an index of another family, while family arguments
    beside the index do not exist, and (c) fail at LOAD time — not deep
    in a serve — when its meta is malformed; k caps are enforced at both
    build and serve."""
    import json
    import os

    import numpy as np

    from market_data_ingestion_scraper_spark.operators.alignment import (
        load_neighborhood_stats,
        save_neighborhood_stats,
        side_neighborhood_stats,
        xlingual_candidates_lsh,
    )
    from market_data_ingestion_scraper_spark.operators.similarity import lsh_index
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    rng = np.random.default_rng(21)
    mk = lambda rows: spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    a = mk([(i, rng.standard_normal(64).tolist()) for i in range(10)])
    b = mk([(50 + i, rng.standard_normal(64).tolist()) for i in range(12)])
    cand = xlingual_candidates_lsh(a, b, n_planes=4, n_tables=8)
    path = str(tmp_path / "stats")
    save_neighborhood_stats(
        side_neighborhood_stats(a, b, k=3, candidates=cand),
        path,
        k=3,
        meta={"lsh": True, "n_planes": 4, "n_tables": 8, "dim": 64,
              "seed_base": 1000},
    )
    art = load_neighborhood_stats(spark, path)
    assert art.lsh == {"n_planes": 4, "n_tables": 8, "dim": 64,
                       "seed_base": 1000}

    # (a) artifact-driven serve == bare-frame serve with the same index
    q = b.limit(4)
    key = lambda df: sorted(map(tuple, df.collect()))
    index_a = lsh_index(a, n_planes=4, n_tables=8, dim=64, seed_base=1000)
    assert key(P.stream_margin_align(q, a, art, index_a)) == key(
        P.stream_margin_align(q, a, art.df, index_a, k=3)
    )

    # (b) family arguments do not exist; an index of another family raises
    with pytest.raises(TypeError):
        P.stream_margin_align(q, a, art, index_a, n_planes=8, n_tables=4)
    wrong = lsh_index(a, n_planes=8, n_tables=4, dim=64, seed_base=2000)
    with pytest.raises(ValueError, match="conflicts with the stats"):
        P.stream_margin_align(q, a, art, wrong)

    # (c) malformed lsh meta refuses at load with the loader's error
    with open(os.path.join(path, "_stats.json")) as f:
        doc = json.load(f)
    doc["meta"] = {"lsh": True}  # family keys missing
    with open(os.path.join(path, "_stats.json"), "w") as f:
        json.dump(doc, f)
    with pytest.raises(ValueError, match="missing hash-family keys"):
        load_neighborhood_stats(spark, path)

    # k caps: build-side (stats builder + artifact writer) and serve-side
    with pytest.raises(ValueError, match="exactness bound"):
        side_neighborhood_stats(a, b, k=48)
    with pytest.raises(ValueError, match="exactness bound"):
        save_neighborhood_stats(art.df, str(tmp_path / "x"), k=48)
    with pytest.raises(ValueError, match="exactness bound"):
        P.stream_margin_align(q, a, art.df, index_a, k=48)


# ------------------------------------------------------- n_planes law


def test_n_planes_for_encodes_density_law():
    """The helper reproduces the measured-good widths from the SCALE.md
    X25 probe exactly (1 000 rows -> 8, 10 000 -> 12), clamps at both
    ends, and rejects nonsense."""
    from market_data_ingestion_scraper_spark.operators.alignment import (
        n_planes_for,
    )

    assert n_planes_for(1_000) == 8
    assert n_planes_for(10_000) == 12
    # 2^n_planes tracks rows: +1 plane per doubling past the clamp floor
    assert n_planes_for(20_000) == 13
    assert n_planes_for(1) == 4 and n_planes_for(60) == 4  # floor clamp
    assert n_planes_for(10**12) == 24  # ceiling clamp
    assert n_planes_for(5, min_planes=2) == 2
    with pytest.raises(ValueError, match="corpus_rows"):
        n_planes_for(0)


def test_auto_width_keeps_candidates_near_linear(spark):
    """The scale-probe pin for the density law (SCALE.md X25 row measured
    138x candidates at 10x corpus under FIXED width): with the width from
    n_planes_for at each scale, candidate volume at 10x corpus stays
    within ~2x of linear growth, while the fixed 1x width blows past it —
    the law the helper exists to encode, asserted in code."""
    import numpy as np

    from market_data_ingestion_scraper_spark.operators.alignment import (
        n_planes_for,
    )

    rng = np.random.default_rng(13)

    def sides(n):
        # dim 64 = the measured probe's embedding width (SCALE.md);
        # narrow spaces correlate the hyperplanes and densify buckets
        a = [(i, rng.standard_normal(64).tolist()) for i in range(n)]
        b = [(10**6 + i, rng.standard_normal(64).tolist()) for i in range(n)]
        mk = lambda rows: spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        return mk(a), mk(b)

    def n_cand(a, b, planes):
        return xlingual_candidates_lsh(
            a, b, n_planes=planes, n_tables=4, dim=64
        ).count()

    base_n, scale = 300, 10
    a1, b1 = sides(base_n)
    a10, b10 = sides(base_n * scale)
    w1, w10 = n_planes_for(base_n), n_planes_for(base_n * scale)
    assert w10 > w1  # the width actually scales
    c1 = n_cand(a1, b1, w1)
    c10_auto = n_cand(a10, b10, w10)
    c10_fixed = n_cand(a10, b10, w1)
    assert c1 > 0
    # auto width: within 2x of linear (the verdict's bound)
    assert c10_auto <= 2 * scale * c1, (c1, c10_auto)
    # fixed width: demonstrably superlinear on the same data — the hazard
    assert c10_fixed > 2 * scale * c1, (c1, c10_fixed)


def test_stream_margin_index_vs_explicit_clash(spark):
    """r12 advice: explicit hash-family arguments next to a passed index
    were silently overridden, later refused on conflict; now the index
    record is the only source of the family, so any family argument is a
    TypeError — conflicting or matching — and the index alone serves."""
    import numpy as np

    from market_data_ingestion_scraper_spark.operators.alignment import (
        side_neighborhood_stats,
    )
    from market_data_ingestion_scraper_spark.operators.similarity import lsh_index
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    rng = np.random.default_rng(29)
    mk = lambda rows: spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    a = mk([(i, rng.standard_normal(64).tolist()) for i in range(8)])
    b = mk([(50 + i, rng.standard_normal(64).tolist()) for i in range(8)])
    stats = side_neighborhood_stats(a, b, k=2)
    idx = lsh_index(a, n_planes=4, n_tables=8, dim=64, seed_base=1000)
    q = b.limit(3)
    with pytest.raises(TypeError):
        P.stream_margin_align(q, a, stats, idx, k=2, n_planes=8)
    with pytest.raises(TypeError):
        P.stream_margin_align(q, a, stats, idx, k=2, n_planes=4, n_tables=8)
    ok = P.stream_margin_align(q, a, stats, idx, k=2)
    assert ok.count() >= 0


def test_load_neighborhood_stats_data_level_k_guard(spark, tmp_path):
    """r12 advice: the loader must validate the sidecar k against the
    parquet's ACTUAL n_c values — a hand-edited sidecar whose k undercuts
    the data would otherwise break the 2^53 exactness bound at serve."""
    import json
    import os

    import numpy as np

    from market_data_ingestion_scraper_spark.operators.alignment import (
        load_neighborhood_stats,
        save_neighborhood_stats,
        side_neighborhood_stats,
    )

    rng = np.random.default_rng(31)
    mk = lambda rows: spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    a = mk([(i, rng.standard_normal(8).tolist()) for i in range(6)])
    b = mk([(50 + i, rng.standard_normal(8).tolist()) for i in range(9)])
    path = str(tmp_path / "stats")
    save_neighborhood_stats(
        side_neighborhood_stats(a, b, k=5), path, k=5
    )
    art = load_neighborhood_stats(spark, path)  # consistent: loads fine
    assert art.k == 5

    sidecar = os.path.join(path, "_stats.json")
    with open(sidecar) as f:
        doc = json.load(f)
    doc["k"] = 1  # metadata now lies about the data
    with open(sidecar, "w") as f:
        json.dump(doc, f)
    with pytest.raises(ValueError, match="violates its sidecar"):
        load_neighborhood_stats(spark, path)


def test_stream_margin_align_string_ids(spark):
    """r12 advice: the stream tie-break negated src_id arithmetically,
    silently requiring numeric ids.  String doc ids must now serve, with
    the SAME tie-break as numeric ids (asc on the id)."""
    import numpy as np

    from market_data_ingestion_scraper_spark.operators.alignment import (
        side_neighborhood_stats,
    )
    from market_data_ingestion_scraper_spark.operators.similarity import lsh_index
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    rng = np.random.default_rng(37)
    vecs_a = [rng.standard_normal(32).tolist() for _ in range(10)]
    vecs_b = [rng.standard_normal(32).tolist() for _ in range(12)]
    q_vecs = [(np.array(vecs_a[0]) + 1e-4).tolist()] + [
        rng.standard_normal(32).tolist() for _ in range(3)
    ]
    # tie bait: duplicate side-A vectors -> identical cosines AND margins
    # for two src ids, so the asc-id tie-break is actually exercised
    vecs_a[5] = list(vecs_a[4])

    mk_num = lambda vecs, base: spark.createDataFrame(
        [(base + i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    mk_str = lambda vecs, pre: spark.createDataFrame(
        [(f"{pre}{i:03d}", v) for i, v in enumerate(vecs)],
        "vec_id string, embedding array<double>",
    )
    kwargs = dict(k=3, threshold_ppm=900_000)
    side_num, side_str = mk_num(vecs_a, 0), mk_str(vecs_a, "a")

    num = P.stream_margin_align(
        mk_num(q_vecs, 100), side_num,
        side_neighborhood_stats(side_num, mk_num(vecs_b, 50), k=3),
        lsh_index(side_num, n_planes=2, n_tables=8),
        **kwargs,
    )
    st = P.stream_margin_align(
        mk_str(q_vecs, "q"), side_str,
        side_neighborhood_stats(side_str, mk_str(vecs_b, "b"), k=3),
        lsh_index(side_str, n_planes=2, n_tables=8),
        **kwargs,
    )
    # zero-padded string ids order exactly like their numeric twins, so
    # the two runs must pick identical pairs under the id mapping
    num_key = sorted(
        (r.query_id - 100, r.src_id, r.cos_sim, r.margin)
        for r in num.collect()
    )
    st_key = sorted(
        (int(r.query_id[1:]), int(r.src_id[1:]), r.cos_sim, r.margin)
        for r in st.collect()
    )
    assert num_key == st_key and len(num_key) > 0
