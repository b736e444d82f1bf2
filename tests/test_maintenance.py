"""Small-file compaction for append-grown indexes: rows and serving are
invariant, file counts fall, crashes at every protocol step resume."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from market_data_ingestion_scraper_spark.operators import dedup as D
from market_data_ingestion_scraper_spark.operators import similarity as S
from market_data_ingestion_scraper_spark.operators.maintenance import (
    MANIFEST,
    compact_index,
    compact_partition_files,
)
from market_data_ingestion_scraper_spark.sources import load_table


@pytest.fixture(scope="module")
def vectors(spark):
    return load_table(spark, "/root/testdata/sf0.001", "embeddings")


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, "/root/testdata/sf0.001", "documents")


def _files(d):
    return sorted(
        f for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def test_compact_lsh_index_rows_and_serving_invariant(spark, vectors, tmp_path):
    """Three appends leave ≥4 files per t= dir; compaction folds each to
    one file while top-k serving against the index stays bit-identical."""
    out = str(tmp_path / "lsh_idx")
    S.write_lsh_index(vectors, out, n_planes=4, n_tables=4)
    for i in range(3):
        shard = vectors.limit(5).withColumn(
            "vec_id", F.col("vec_id") + F.lit((i + 1) * 1_000_000)
        )
        S.extend_ann_index(shard, out)
    t0 = os.path.join(out, "t=0")
    assert len(_files(t0)) >= 4, "appends should accumulate small files"
    before = _rows(spark, out)
    q = vectors.filter(F.col("vec_id") < 8)
    served_before = sorted(map(tuple, S.lsh_topk(
        vectors, q, S.load_ann_index(spark, out), k=5).collect()))

    stats = compact_index(spark, out)
    assert stats["dirs_compacted"] == 4 and stats["files_removed"] >= 16
    for t in range(4):
        assert len(_files(os.path.join(out, f"t={t}"))) == 1
    assert _rows(spark, out) == before
    served_after = sorted(map(tuple, S.lsh_topk(
        vectors, q, S.load_ann_index(spark, out), k=5).collect()))
    assert served_after == served_before
    # idempotent: nothing left to fold
    assert compact_index(spark, out) == {
        "dirs_compacted": 0, "files_removed": 0,
    }


def test_compact_split_minhash_index(spark, docs, tmp_path):
    """The split layout compacts bands/ per band dir AND the flat sigs/
    table; the sidecar survives and serving still matches a re-crawl to
    its indexed copy."""
    out = str(tmp_path / "mh_idx")
    D.write_minhash_index(docs, out, n_bands=8)
    for i in range(2):
        shard = docs.limit(3).withColumn(
            "doc_id", F.col("doc_id") + F.lit((i + 1) * 1_000_000)
        )
        D.extend_band_index(shard, out)
    sigs_dir = os.path.join(out, "sigs")
    assert len(_files(sigs_dir)) >= 3
    before_bands = _rows(spark, os.path.join(out, "bands"))
    before_sigs = _rows(spark, sigs_dir)

    compact_index(spark, out)
    assert len(_files(sigs_dir)) == 1
    for b in range(8):
        assert len(_files(os.path.join(out, "bands", f"band={b}"))) == 1
    assert _rows(spark, os.path.join(out, "bands")) == before_bands
    assert _rows(spark, sigs_dir) == before_sigs
    handle = S.load_ann_index(spark, out)
    recrawl = docs.limit(4)
    got = {
        (r["doc_id"], r["corpus_id"])
        for r in D.near_duplicates_vs_index(
            recrawl, threshold=0.9, index=handle
        ).collect()
    }
    for r in recrawl.collect():
        assert (r["doc_id"], r["doc_id"]) in got


def test_compact_resume_after_crash_between_delete_and_move(
    spark, vectors, tmp_path
):
    """Crash simulation at the protocol's most dangerous point: snapshot
    complete, some covered source files already deleted, staged files not
    yet moved in.  A re-run must recover every row from the snapshot."""
    out = str(tmp_path / "tbl")
    vectors.limit(50).select("vec_id").repartition(4).write.parquet(out)
    before = _rows(spark, out)
    files = _files(out)
    # hand-build a complete staged snapshot covering all current files
    staging = os.path.join(out, "_compact_staging", os.path.basename(out))
    spark.read.parquet(out).repartition(1).write.parquet(staging)
    with open(os.path.join(staging, MANIFEST), "w") as f:
        json.dump(files, f)
    # "crash": two covered files already deleted, move never happened
    for name in files[:2]:
        os.remove(os.path.join(out, name))

    stats = compact_partition_files(spark, out)
    assert stats["dirs_compacted"] == 1
    assert _rows(spark, out) == before
    assert len(_files(out)) == 1
    assert not os.path.exists(os.path.join(out, "_compact_staging"))


def test_compact_resume_discards_stale_snapshot_when_sources_intact(
    spark, vectors, tmp_path
):
    """Crash before any deletion with a NEW file landed since staging:
    the snapshot is stale but redundant — it must be discarded and the
    fresh state compacted, keeping the late append's rows."""
    out = str(tmp_path / "tbl")
    vectors.limit(20).select("vec_id").repartition(2).write.parquet(out)
    files = _files(out)
    staging = os.path.join(out, "_compact_staging", os.path.basename(out))
    spark.read.parquet(out).repartition(1).write.parquet(staging)
    with open(os.path.join(staging, MANIFEST), "w") as f:
        json.dump(files, f)
    # late append AFTER the snapshot, BEFORE any deletion
    vectors.filter(F.col("vec_id") >= 400).select("vec_id").repartition(
        1
    ).write.mode("append").parquet(out)
    expect = _rows(spark, out)

    compact_partition_files(spark, out)
    assert _rows(spark, out) == expect
    assert len(_files(out)) == 1


def test_compact_merge_generation_keeps_sole_copy_and_late_append(
    spark, vectors, tmp_path
):
    """Crash mid-deletion with a new file landed: the snapshot is the
    sole copy of the deleted files and must merge with the survivors —
    no row lost from either generation."""
    out = str(tmp_path / "tbl")
    vectors.limit(20).select("vec_id").repartition(2).write.parquet(out)
    files = _files(out)
    expect_base = _rows(spark, out)
    staging = os.path.join(out, "_compact_staging", os.path.basename(out))
    spark.read.parquet(out).repartition(1).write.parquet(staging)
    with open(os.path.join(staging, MANIFEST), "w") as f:
        json.dump(files, f)
    os.remove(os.path.join(out, files[0]))  # crash mid-delete
    vectors.filter(F.col("vec_id") >= 400).select("vec_id").repartition(
        1
    ).write.mode("append").parquet(out)  # plus a late append
    late = sorted(
        (r["vec_id"],)
        for r in vectors.filter(F.col("vec_id") >= 400).collect()
    )

    compact_partition_files(spark, out)
    assert _rows(spark, out) == sorted(expect_base + late)
    assert len(_files(out)) == 1


def test_compact_resume_after_crash_mid_move(spark, vectors, tmp_path):
    """The r9-advice crash window: sources all deleted, SOME staged files
    already moved into the partition dir, manifest still present.  The
    resume must move only the remainder — no row lost, none duplicated —
    even with a late append landed after the crash."""
    out = str(tmp_path / "tbl")
    vectors.limit(40).select("vec_id").repartition(4).write.parquet(out)
    before = _rows(spark, out)
    files = _files(out)
    staging = os.path.join(out, "_compact_staging", os.path.basename(out))
    # stage a 2-file snapshot so the move step has >1 file to crash between
    spark.read.parquet(out).repartition(2).write.parquet(staging)
    staged = _files(staging)
    assert len(staged) == 2
    with open(os.path.join(staging, MANIFEST), "w") as f:
        json.dump({"covers": files, "staged": staged}, f)
    for name in files:  # deletes completed
        os.remove(os.path.join(out, name))
    # crash mid-move: first staged file moved, second not
    os.replace(os.path.join(staging, staged[0]), os.path.join(out, staged[0]))
    # late append lands before the re-run
    late_df = vectors.filter(F.col("vec_id") >= 400).select("vec_id")
    late_df.repartition(1).write.mode("append").parquet(out)
    late = sorted((r["vec_id"],) for r in late_df.collect())

    compact_partition_files(spark, out, max_files=10)
    assert _rows(spark, out) == sorted(before + late)
    assert not os.path.exists(os.path.join(out, "_compact_staging"))


def test_compact_interrupted_finish_never_leaves_manifestless_sole_copy(
    spark, vectors, tmp_path
):
    """Protocol-order pin for the r9 advice: a staging dir whose covered
    sources are gone must still carry its manifest (the manifest is
    removed only after every staged file is moved), so a fresh run's
    overwrite of the staging path can never destroy the sole copy."""
    out = str(tmp_path / "tbl")
    vectors.limit(30).select("vec_id").repartition(3).write.parquet(out)
    before = _rows(spark, out)
    files = _files(out)
    staging = os.path.join(out, "_compact_staging", os.path.basename(out))
    spark.read.parquet(out).repartition(1).write.parquet(staging)
    with open(os.path.join(staging, MANIFEST), "w") as f:
        json.dump({"covers": files, "staged": _files(staging)}, f)
    for name in files:  # crash right after the deletes, before any move
        os.remove(os.path.join(out, name))

    # the old protocol's fatal state was manifest-gone + data staged;
    # simulate a full re-run (which starts a fresh generation if the
    # staging looks incomplete) and assert recovery instead
    compact_partition_files(spark, out)
    assert _rows(spark, out) == before
    assert len(_files(out)) == 1


def test_compact_respects_max_files_threshold(spark, vectors, tmp_path):
    out = str(tmp_path / "tbl")
    vectors.limit(20).select("vec_id").repartition(3).write.parquet(out)
    assert compact_partition_files(spark, out, max_files=3) == {
        "dirs_compacted": 0, "files_removed": 0,
    }
    assert len(_files(out)) == 3
