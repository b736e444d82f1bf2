"""Deterministic sampling operators for training-data curation
(SURVEY.md §2.11 extension family): reproducible subsets at 100 TB.

``df.sample()`` is partition-order-dependent — rerun the job with a
different split plan and you get a different sample, which is poison for
dataset versioning.  These operators rank on a content hash instead:
the sample is a pure function of the DATA, reproducible on any cluster,
any partitioning, any engine (md5 exists everywhere — the DuckDB oracle
runs the identical expression).

Scale: hash ranking is one window per stratum (shuffle on the stratum
key, state = top-n per stratum via the rank filter).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import portable_uniform as _uniform


def aes_key_nano(
    seed: str, key_col: str = "doc_id", weight_col: str = "n_chars"
) -> Column:
    """A-ES exponential key ``ln(u)/w`` snapped to int64 nano-units — the
    shared expression between the batch reservoir and the streaming
    candidate filter, so the two paths cannot drift."""
    u = _uniform(seed, F.col(key_col))
    return F.round(F.log(u) / F.col(weight_col).cast("double") * 1e9).cast("long")


def weighted_reservoir_sample(
    df: DataFrame,
    n: int,
    weight_col: str = "n_chars",
    key_col: str = "doc_id",
    seed: str = "wrs-v1",
) -> DataFrame:
    """X23 weighted sampling WITHOUT replacement via exponential keys
    (Efraimidis & Spirakis 2006, Algorithm A-ES — the distributed
    weighted-reservoir recipe): each row draws key ``ln(u)/w`` from a
    deterministic seeded uniform and the sample is the n LARGEST keys
    (equivalent to maximizing ``u^(1/w)``; heavier rows draw keys closer
    to 0).  Inclusion probability is proportional to weight, the sample
    is a pure function of (data, seed) — reproducible on any cluster,
    any partitioning, any engine — and changing the seed draws an
    independent sample.

    Scale shape: the key is a per-row projection (no shuffle), and the
    selection is ``orderBy(key).limit(n)`` — Spark plans
    TakeOrderedAndProject: each partition keeps its local top-n, the
    driver merges heaps.  That IS the distributed reservoir — no global
    sort, no single-partition window, state bounded by n per partition.

    Exactness: keys snap to int64 NANO-units (1e-9 — ``ln(u)/w`` lives
    in (−40/w, 0), micro-units would collide too often) with the key
    column as deterministic tie-break, so the selected set is bit-stable
    across engines.  Non-positive or null weights are excluded (they
    have zero inclusion probability in A-ES)."""
    key_nano = aes_key_nano(seed, key_col, weight_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .select(
            F.col(key_col),
            F.col(weight_col).cast("long").alias("weight"),
            key_nano.alias("key_nano"),
        )
        .orderBy(F.desc("key_nano"), F.col(key_col))
        .limit(n)
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    key_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Top-n per stratum by content-hash rank: an exact per-group quota
    (e.g. language-balanced training mixes) that is deterministic and
    engine-portable.  Rank = md5(content) with the key as tie-break (exact
    duplicates hash equal), so the selection is a function of the data
    alone.  One window per stratum; the shuffle carries only rows, state
    is the running rank."""
    h = F.md5(F.col(content_col).cast("binary"))
    w = Window.partitionBy(strata_col).orderBy(h, F.col(key_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_stratum)
        .select(key_col, strata_col, "sample_rank")
    )
