"""X18 record linkage + X19 random projection: semantics pinned against
independent pure-Python twins, plus the structural properties the
oracle's fixed dataset cannot express (blocking bounds, JL distortion,
linearity, determinism across seeds/parallelism)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from market_data_ingestion_scraper_spark.operators.linkage import (
    MATCH_M,
    POSSIBLE_M,
    WEIGHTS_M,
    block_profile,
    linkage_summary,
    linked_record_pairs,
)
from market_data_ingestion_scraper_spark.operators.similarity import (
    brute_force_topk,
    recall_vs_exact,
    rp_index,
    rp_project,
    rp_signs,
    rp_topk,
)

PART_SCHEMA = (
    "p_partkey long, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double"
)

PARTS = [
    # one block (Brand#1, 5) with a planted near-duplicate listing pair:
    (1, "red copper widget", "Brand#1", "ECONOMY", 5, 900.0),
    (2, "red copper  widget", "Brand#1", "ECONOMY", 5, 920.0),  # dup of 1
    (3, "blue bolt", "Brand#1", "ECONOMY", 5, 100.0),
    # same brand, different size -> never compared with the block above
    (4, "red copper widget", "Brand#1", "ECONOMY", 9, 900.0),
    # a possible: name agrees, type differs, price far
    (5, "green ring", "Brand#2", "SMALL", 7, 500.0),
    (6, "green ring", "Brand#2", "LARGE", 7, 900.0),
    # a non-match sharing only the block key
    (7, "yellow cap", "Brand#2", "SMALL", 7, 100.0),
]


def _py_linkage(rows, name_jac_min=0.5, price_tol=50.0):
    """Independent reference: nested-loop Fellegi-Sunter over all pairs
    with the documented integer arithmetic."""
    out = {}
    recs = []
    for pk, name, brand, ptype, size, price in rows:
        toks = sorted(
            {t for t in __import__("re").split(r"[^a-z0-9]+", name.lower()) if t}
        )
        recs.append((pk, brand, size, toks, ptype, round(price * 1000)))
    for i in range(len(recs)):
        for j in range(len(recs)):
            a, b = recs[i], recs[j]
            if a[0] >= b[0] or a[1] != b[1] or a[2] != b[2]:
                continue
            inter = len(set(a[3]) & set(b[3]))
            un = len(a[3]) + len(b[3]) - inter
            jac = inter / un if un else 0.0
            jac_m = round(jac * 1e6)
            na = jac_m >= round(name_jac_min * 1e6)
            ta = a[4] == b[4]
            pc = abs(a[5] - b[5]) <= round(price_tol * 1000)
            score = (
                WEIGHTS_M["name"][0 if na else 1]
                + WEIGHTS_M["type"][0 if ta else 1]
                + WEIGHTS_M["price"][0 if pc else 1]
            )
            dec = (
                "match"
                if score >= MATCH_M
                else "possible" if score >= POSSIBLE_M else "non_match"
            )
            out[(a[0], b[0])] = (round(jac, 6), na, ta, pc, score, dec)
    return out


def test_linkage_matches_python_reference(spark):
    df = spark.createDataFrame(PARTS, PART_SCHEMA)
    got = {
        (r.id_a, r.id_b): (
            r.name_jac, r.name_agree, r.type_agree, r.price_close,
            r.score_m, r.decision,
        )
        for r in linked_record_pairs(df).collect()
    }
    assert got == _py_linkage(PARTS)


def test_linkage_planted_duplicate_is_match(spark):
    df = spark.createDataFrame(PARTS, PART_SCHEMA)
    rows = {(r.id_a, r.id_b): r for r in linked_record_pairs(df).collect()}
    dup = rows[(1, 2)]
    assert dup.decision == "match" and dup.name_jac == 1.0
    # blocking really blocks: (1, 4) share every field except size
    assert (1, 4) not in rows
    assert rows[(5, 6)].decision == "possible"
    assert rows[(5, 7)].decision == "non_match"


def test_linkage_summary_partitions_pairs(spark):
    df = spark.createDataFrame(PARTS, PART_SCHEMA)
    pairs = linked_record_pairs(df)
    summ = {r.decision: r.n_pairs for r in linkage_summary(pairs).collect()}
    assert sum(summ.values()) == pairs.count()


def test_block_profile_counts_pairs(spark):
    df = spark.createDataFrame(PARTS, PART_SCHEMA)
    prof = {
        (r.bk1, r.bk2): (r.n_records, r.n_pairs)
        for r in block_profile(df).collect()
    }
    assert prof[("Brand#1", 5)] == (3, 3)
    assert prof[("Brand#2", 7)] == (3, 3)
    assert prof[("Brand#1", 9)] == (1, 0)
    # the profile's pair count is exactly the blocked join's fan-out
    # (before the id_a < id_b dedup halves nothing — C(n,2) already does)
    assert sum(p for _, p in prof.values()) == linked_record_pairs(df).count()


# ------------------------------------------------------------ X19 RP


def _py_rp(vec, signs):
    vm = [round(x * 1e6) for x in vec]
    return [
        float(sum(m * s for m, s in zip(vm, row))) for row in signs
    ]


def test_rp_project_matches_python_reference(spark):
    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    signs = rp_signs(16, 64)
    got = {r.vec_id: r.rvec for r in rp_project(df).collect()}
    assert len(got) == 20
    for i, v in vecs:
        assert got[i] == _py_rp(v, signs)


def test_rp_signs_deterministic_and_balanced():
    a, b = rp_signs(16, 64), rp_signs(16, 64)
    assert a == b and len(a) == 16 and all(len(r) == 64 for r in a)
    assert rp_signs(16, 64, seed=1) != a
    flat = [s for row in a for s in row]
    assert set(flat) == {-1, 1}
    # a grossly unbalanced draw would be a broken generator
    assert 0.35 < flat.count(1) / len(flat) < 0.65


def test_rp_projection_is_linear(spark):
    """JL projection is linear: P(a + b) == P(a) + P(b) exactly (integer
    sums commute with vector addition up to the micro-unit snap, which
    these inputs avoid by construction)."""
    a = [i / 1000.0 for i in range(64)]
    b = [(63 - i) / 1000.0 for i in range(64)]
    ab = [x + y for x, y in zip(a, b)]
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, ab)], "vec_id long, embedding array<double>"
    )
    got = {r.vec_id: r.rvec for r in rp_project(df).collect()}
    assert got[3] == [x + y for x, y in zip(got[1], got[2])]


def test_rp_preserves_planted_neighbor(spark):
    """A planted near-identical pair must stay rank-1 in the reduced
    space: JL distortion at 16 dims cannot invert a ~1.0 vs ~0.0 cosine
    gap."""
    rng = random.Random(11)
    base = [rng.gauss(0, 1) for _ in range(64)]
    twin = [x + rng.gauss(0, 0.01) for x in base]
    rows = [(0, base), (1, twin)] + [
        (i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(2, 40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = rp_topk(df.filter(F.col("vec_id") == 0), rp_index(df), k=1)
    assert [(r.query_id, r.neighbor_id) for r in top.collect()] == [(0, 1)]


def test_rp_recall_floor_on_clustered_corpus(spark):
    """Average recall@5 of the 16-dim sketch on a corpus WITH neighbor
    structure (40 tight clusters of 5: within-cluster cosine ≈ 0.9,
    cross-cluster ≈ 0) — the regime dimensionality reduction is for.
    JL distortion at 16 dims cannot close that gap, so recall must be
    near-perfect; on an unstructured Gaussian corpus the exact top-5 is
    itself noise (all cosines ≈ 0) and NO sketch preserves it — that
    regime is the eval view's job to expose, not a correctness bar."""
    rng = random.Random(3)
    rows = []
    for c in range(40):
        center = [rng.gauss(0, 1) for _ in range(64)]
        for m in range(5):
            rows.append(
                (c * 5 + m, [x + rng.gauss(0, 0.15) for x in center])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter(F.col("vec_id") < 8)
    rec = recall_vs_exact(
        rp_topk(qs, rp_index(df), k=4), brute_force_topk(df, qs, k=4), 4
    )
    avg = rec.agg(F.avg("recall_at_4")).collect()[0][0]
    assert avg > 0.85


def test_rp_drops_null_and_empty_vectors(spark):
    df = spark.createDataFrame(
        [(1, [0.5] * 64), (2, None), (3, [])],
        "vec_id long, embedding array<double>",
    )
    assert [r.vec_id for r in rp_project(df).collect()] == [1]


def test_rp_project_plan_has_no_exchange(spark):
    """The projection must stay FileScan/LocalScan → Project →
    1-row-broadcast: ZERO shuffle exchanges (the bucket_table shape)."""
    df = spark.createDataFrame(
        [(1, [0.5] * 64)], "vec_id long, embedding array<double>"
    )
    plan = rp_project(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan


def test_linkage_max_block_excludes_giant_blocks(spark):
    """The oversized-block guard: a planted giant block contributes ZERO
    pairs under the cap while every small block's pairs are unchanged —
    fan-out becomes n_blocks · C(max_block, 2)-bounded."""
    giant = [
        (100 + i, f"mega item {i}", "Brand#9", "ECONOMY", 1, 100.0 + i)
        for i in range(10)
    ]
    df = spark.createDataFrame(PARTS + giant, PART_SCHEMA)
    uncapped = linked_record_pairs(df)
    capped = linked_record_pairs(df, max_block=5)
    base = linked_record_pairs(spark.createDataFrame(PARTS, PART_SCHEMA))
    assert uncapped.count() == base.count() + 45  # C(10,2) giant pairs
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(r.id_a, r.id_b) for r in base.collect()}


def test_entity_ids_collapse_transitive_matches(spark):
    """End-to-end entity resolution: A≈B and B≈C (each a pairwise match)
    must land in ONE entity even if A-C alone would not match; unmatched
    records stay singleton entities under their own id."""
    from market_data_ingestion_scraper_spark.operators.linkage import (
        entity_ids,
    )

    rows = [
        # name chain: 1-2 Jaccard 3/5=0.6, 2-3 Jaccard 3/5=0.6, but
        # 1-3 only 2/6=0.33 < 0.5 — the direct pair fails on name
        (1, "alpha beta gamma delta", "Brand#1", "ECONOMY", 5, 900.0),
        (2, "alpha beta gamma kappa", "Brand#1", "ECONOMY", 5, 920.0),
        (3, "beta gamma kappa mu", "Brand#1", "ECONOMY", 5, 930.0),
        (7, "yellow cap", "Brand#1", "ECONOMY", 5, 100.0),
        (8, "lone item", "Brand#3", "SMALL", 9, 50.0),
    ]
    df = spark.createDataFrame(rows, PART_SCHEMA)
    pairs = {
        (r.id_a, r.id_b): r.decision
        for r in linked_record_pairs(df).collect()
    }
    assert pairs[(1, 2)] == "match" and pairs[(2, 3)] == "match"
    assert pairs[(1, 3)] != "match"
    ents = {r.rid: r.entity_id for r in entity_ids(df).collect()}
    assert ents == {1: 1, 2: 1, 3: 1, 7: 7, 8: 8}


def test_rp_index_roundtrip_serves_identically(spark, tmp_path):
    """X19 lifecycle: write_rp_index -> load_ann_index -> rp_topk must
    equal the in-memory rp_index serve bit-for-bit (the sidecar's seed
    drives the projection, so the matrices are identical); kind mismatch
    raises."""
    import pytest as _pytest

    from market_data_ingestion_scraper_spark.operators.similarity import (
        load_ann_index,
        rp_topk,
        write_rp_index,
    )

    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "rp_idx")
    assert write_rp_index(df, path, out_dim=16, seed=9) == 60
    handle = load_ann_index(spark, path)
    assert handle.kind == "rp"
    qs = df.filter(F.col("vec_id") < 3)
    served = sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rnk)
        for r in rp_topk(qs, handle, k=4).collect()
    )
    inline = sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rnk)
        for r in rp_topk(qs, rp_index(df, out_dim=16, seed=9), k=4).collect()
    )
    assert served == inline
    # append symmetry: new vectors project with the sidecar's seed
    from market_data_ingestion_scraper_spark.operators.similarity import (
        extend_ann_index,
    )

    extra = df.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000).alias("vec_id"), "embedding"
    )
    assert extend_ann_index(extra, path) == 5
    assert load_ann_index(spark, path).df.count() == 65
    with _pytest.raises(ValueError):
        rp_topk(qs, type(handle)(handle.df, {"kind": "lsh"}))
