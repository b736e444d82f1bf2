"""Cross-lingual document alignment by margin-scored embedding similarity
(SURVEY X25) — the bitext/parallel-corpus mining step of a multilingual
training-data pipeline.

Algorithm: Artetxe & Schwenk 2019, "Margin-based Parallel Corpus Mining
with Multilingual Sentence Embeddings" (arXiv:1811.01136; public), the
``ratio`` margin: a candidate pair (x, y) scores

    margin(x, y) = cos(x, y) / ((avgTopK_x + avgTopK_y) / 2)

where ``avgTopK_x`` is the mean cosine of x's k nearest candidates on the
OTHER side (and symmetrically for y).  Dividing by the neighborhood
average cancels hubness — vectors that are near everything score high raw
cosine against everything, and raw-cosine thresholding mines them into
thousands of false pairs.  An aligned pair is one that is (a) the
margin-best match of BOTH its endpoints (mutual best) and (b) above the
margin threshold.

Exactness (the oracle contract): cosines are the house sequential-fold
double rounded to 6dp, then snapped to int64 MICRO-units, so every
downstream comparison is integer.  The margin itself is computed with the
half-up integer-ppm identity on all-integer operands:

    margin_ppm = (2·N + D) DIV (2·D),   N = 1e6 · 2·c·n_x·n_y,
                                        D = sum_x·n_y + sum_y·n_x

(the algebraic form of 2c / (sum_x/n_x + sum_y/n_y) — micro-units cancel
between N and D).  Non-positive cosines are excluded up front: they are
never translation candidates, and keeping every operand strictly positive
makes integer division identical across engines (truncation == floor).

Scale design (100 TB): the scoring frame is driven by a CANDIDATE pair
set, not a cross product.  ``xlingual_candidates_lsh`` buckets both sides
with the SAME hyperplanes (``similarity.bucket_table`` — zero-exchange
signature scan) and equi-joins on (table, bucket), so candidate volume is
bucket-bounded.  Everything after is equi-joins plus per-key windows
(top-k neighborhoods, mutual-best ranks) — shuffles keyed on src/tgt ids,
never a global window, never a corpus-sized broadcast.  The brute-force
path (``candidates=None``) broadcasts side A and is for EVALUATION and
bounded sides only — mirror of ``brute_force_topk``; at corpus scale
always pass candidates.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import _lsh_family, _pair_cosine, _scoring_side, bucket_table
from .spread import spread_scan as _spread


def n_planes_for(
    corpus_rows: int, min_planes: int = 4, max_planes: int = 24
) -> int:
    """Signature width that keeps LSH candidate volume ~LINEAR in corpus
    size.  With random hyperplanes, expected bucket occupancy per table is
    ``rows / 2^n_planes``, so within-bucket pair volume is
    ``rows^2 / 2^n_planes`` — at FIXED width candidates densify
    quadratically (measured: 138x candidates for 10x corpus at width 8,
    SCALE.md X25 row).  Holding ``2^n_planes proportional to rows`` cancels
    the quadratic: ``ceil(log2(rows)) - 2`` reproduces the measured-good
    widths exactly (1 000 rows -> 8, 10 000 rows -> 12; the 10x probe at
    those widths returned 13.6x candidates ~ linear, sub-3x wall).

    The -2 offset keeps ~4 expected rows per bucket per table, trading a
    bounded constant factor of candidates for recall; ``n_tables``
    (recall knob) is independent of this width law.  Clamped to
    ``[min_planes, max_planes]``: below 4 the buckets are so coarse the
    quadratic term dominates even tiny corpora; above 24 per-table
    collision probability for true pairs decays past what table
    multiplicity can recover (raise n_tables instead of planes there)."""
    if corpus_rows < 1:
        raise ValueError(f"corpus_rows must be >= 1, got {corpus_rows}")
    import math

    return max(min_planes, min(max_planes, math.ceil(math.log2(corpus_rows)) - 2))


def xlingual_candidates_lsh(
    side_a: DataFrame,
    side_b: DataFrame,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed_base: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(src_id, tgt_id) candidate pairs: both sides bucketed under the SAME
    seeded hyperplanes, equi-joined on (table, bucket).  Collision
    probability rises with cosine, so true translations survive with
    tunable recall while the pair volume stays bucket-bounded — the 100 TB
    candidate generator for :func:`xlingual_margin_align`."""
    ba = bucket_table(side_a, id_col, vec_col, n_planes, n_tables, dim, seed_base)
    bb = bucket_table(side_b, id_col, vec_col, n_planes, n_tables, dim, seed_base)
    return (
        ba.select(F.col(id_col).alias("src_id"), "t", "bucket")
        .join(bb.select(F.col(id_col).alias("tgt_id"), "t", "bucket"), ["t", "bucket"])
        .select("src_id", "tgt_id")
        .distinct()
    )


def _candidate_pairs(
    a: DataFrame,
    b: DataFrame,
    a_id: str,
    b_id: str,
    candidates: DataFrame | None,
) -> DataFrame:
    """The scored-pair frame shared by :func:`xlingual_margin_align` and
    :func:`side_neighborhood_stats`.  Without candidates the (bounded,
    evaluation-only) side ``a`` broadcasts against ``b``.  With them, the
    DISTINCT is load-bearing: a duplicated candidate pair fills the top-k
    neighborhood slots with copies of its own cosine (margins collapse
    toward 1.0, top-k sums double-count) and splits the mutual-best ranks
    across identical rows — any raw multi-table LSH join emits duplicates,
    so the operator dedups instead of trusting the caller.  Already-
    distinct inputs (the house generator) pay nothing: Catalyst's
    RemoveRedundantAggregates collapses distinct-on-distinct to ONE
    aggregate (verified on the optimized plan)."""
    if candidates is None:
        return b.crossJoin(F.broadcast(a))
    return (
        candidates.select(F.col("src_id").alias(a_id), F.col("tgt_id").alias(b_id))
        .distinct()
        .join(a, a_id)
        .join(b, b_id)
    )


def side_neighborhood_stats(
    side: DataFrame,
    other: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "src_id",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(out_id, sum_c, n_c): each ``side`` row's top-``k`` positive-cosine
    micro-unit sum/count over ``other`` — the precomputed target-side
    neighborhood statistics the STREAMING forward-mining margin consumes
    (:func:`streaming.pipeline.stream_margin_align`).  Batch-only (uses a
    rank window); compute once per reference-corpus snapshot and persist
    like any other model artifact.  ``candidates`` as in
    :func:`xlingual_margin_align`; without it ``side`` broadcasts.

    ``k`` is capped at ``MAX_NEIGHBORHOOD_K`` at BUILD time: the
    streaming margin consumes ``n_c`` in long arithmetic, so a stats
    table built past the cap would push the serve past 2^53 even when
    the serve's own ``k`` is legal."""
    if not 1 <= int(k) <= MAX_NEIGHBORHOOD_K:
        raise ValueError(
            f"k must be in [1, {MAX_NEIGHBORHOOD_K}] (streaming-margin "
            f"long-arithmetic exactness bound), got {k}"
        )
    a = _scoring_side(side, id_col, vec_col, out_id, "q")
    b = _scoring_side(_spread(other), id_col, vec_col, "_nb_id", "n")
    pairs = _candidate_pairs(a, b, out_id, "_nb_id", candidates)
    scored = (
        pairs.select(out_id, "_nb_id", _pair_cosine())
        .withColumn("c", F.round(F.col("cos_sim") * 1e6).cast("long"))
        .filter(F.col("c") > 0)
    )
    w = Window.partitionBy(out_id).orderBy(F.desc("c"), F.asc("_nb_id"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .groupBy(out_id)
        .agg(F.sum("c").alias("sum_c"), F.count(F.lit(1)).alias("n_c"))
    )


# 2^53 exactness bound for the streaming margin's long floor-division
# ((n − pmod(n, d)) / d): num ≈ 2·(1e6·2e6·n_a·n_b) = 4e12·n_a·n_b must
# stay under 2^53 ≈ 9.0e15 for the double division of exactly-divisible
# longs to be exact, i.e. n_a·n_b < 2250 — both neighborhood sizes ≤ 47.
# The batch operator's DECIMAL(38,0) DIV has no such bound, so the cap is
# enforced where the artifact is built and where the stream serves.
MAX_NEIGHBORHOOD_K = 47


class NeighborhoodStats(NamedTuple):
    """A loaded neighborhood-stats artifact: unpacks as (df, sidecar) for
    compatibility, and carries the build parameters so serving can derive
    them from the artifact instead of caller memory."""

    df: DataFrame
    sidecar: dict

    @property
    def k(self) -> int:
        return int(self.sidecar["k"])

    @property
    def lsh(self) -> dict | None:
        """The hash family an LSH-built artifact records (checked by the
        same ``similarity._lsh_family`` the LSH index reader uses), or
        None for a brute-force build."""
        meta = self.sidecar.get("meta") or {}
        if not meta.get("lsh"):
            return None
        return _lsh_family(meta, "lsh-built stats artifact")


def save_neighborhood_stats(
    stats: DataFrame, path: str, k: int, meta: dict | None = None
) -> int:
    """Persist a :func:`side_neighborhood_stats` relation + the standard
    kind-validated sidecar (the `_quantizer.json` lesson: serving derives
    its parameters from the artifact, never from caller memory — margins
    computed against stats built with a different ``k`` are silently
    wrong).  Returns the persisted row count."""
    import json
    import os

    from ..util import require_local_path

    if not 1 <= int(k) <= MAX_NEIGHBORHOOD_K:
        raise ValueError(
            f"k must be in [1, {MAX_NEIGHBORHOOD_K}] (streaming-margin "
            f"long-arithmetic exactness bound), got {k}"
        )
    require_local_path(path)
    stats.write.mode("overwrite").parquet(path)
    n = stats.sparkSession.read.parquet(path).count()
    doc = {"kind": "xlingual-nb-stats", "k": int(k)}
    if meta:
        doc["meta"] = dict(meta)
    with open(os.path.join(path, "_stats.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    return n


def load_neighborhood_stats(spark, path: str) -> NeighborhoodStats:
    """Load a persisted stats artifact, validating kind and shape; returns
    a :class:`NeighborhoodStats` (unpacks as ``(df, sidecar)``).  Pass the
    WHOLE object to :func:`streaming.pipeline.stream_margin_align` — the
    serve then derives ``k`` from the artifact and, when the artifact
    was built over LSH candidates, refuses an index of another hash
    family, so a parameter mismatch is impossible."""
    import json
    import os

    sidecar = os.path.join(path, "_stats.json")
    try:
        with open(sidecar) as f:
            doc = json.load(f)
    except (OSError, ValueError) as e:
        raise ValueError(f"unreadable neighborhood-stats sidecar {sidecar}: {e}")
    if doc.get("kind") != "xlingual-nb-stats":
        raise ValueError(f"not a xlingual-nb-stats artifact: {doc.get('kind')!r}")
    if "k" not in doc:
        raise ValueError("stats artifact missing 'k'")
    if not 1 <= int(doc["k"]) <= MAX_NEIGHBORHOOD_K:
        raise ValueError(
            f"stats artifact k={doc['k']} outside [1, {MAX_NEIGHBORHOOD_K}]"
        )
    df = spark.read.parquet(path)
    missing = {"src_id", "sum_c", "n_c"} - set(df.columns)
    if missing:
        raise ValueError(f"stats artifact missing columns: {sorted(missing)}")
    # data-level guard, not just metadata: a stale or hand-edited artifact
    # whose actual n_c exceeds the sidecar k would break the streaming
    # margin's 2^53 exactness bound at serve time even though the sidecar
    # validates — one aggregate over a KB-scale artifact is cheap
    max_n_c = df.agg(F.max("n_c").alias("m")).collect()[0]["m"]
    if max_n_c is not None and int(max_n_c) > int(doc["k"]):
        raise ValueError(
            f"stats artifact data violates its sidecar: max(n_c)={max_n_c} "
            f"> k={doc['k']} (exactness bound enforced against the data)"
        )
    out = NeighborhoodStats(df, doc)
    out.lsh  # fail HERE, with the loader's error, not deep inside a serve
    return out


def xlingual_margin_align(
    side_a: DataFrame,
    side_b: DataFrame,
    k: int = 4,
    threshold_ppm: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Mutual-best margin alignment between two embedding sides (X25):
    (src_id, tgt_id, cos_sim, margin) for pairs that are each other's best
    margin match with ``margin_ppm >= threshold_ppm`` (1e6 = margin 1.0,
    i.e. better than the average of the two neighborhoods).

    With ``candidates`` (the LSH generator above, or any (src_id, tgt_id)
    relation) the plan is candidate-bounded equi-joins — the scale path.
    Without it, side A broadcasts against side B (evaluation / bounded
    sides only).  Neighborhood averages use the top-``k`` POSITIVE-cosine
    candidates per endpoint; endpoints whose neighborhood sum is
    non-positive have no defined margin and drop out."""
    a = _scoring_side(side_a, id_col, vec_col, "src_id", "q")
    b = _scoring_side(_spread(side_b), id_col, vec_col, "tgt_id", "n")
    pairs = _candidate_pairs(a, b, "src_id", "tgt_id", candidates)
    scored = (
        pairs.select("src_id", "tgt_id", _pair_cosine())
        .withColumn("c", F.round(F.col("cos_sim") * 1e6).cast("long"))
        .filter(F.col("c") > 0)
        .select("src_id", "tgt_id", "c")
    )

    # Neighborhood sums as WINDOWED conditional aggregates over the scored
    # frame instead of groupBy+join-back: a groupBy form references the
    # scored subtree three times and Spark RE-EXECUTES it per reference —
    # three full scoring passes (measured: 12 file scans / 3 broadcast
    # joins on the brute-force plan).  The window form scores ONCE and
    # pays four candidate-row exchanges (src, tgt, src, tgt); consecutive
    # windows on the same key share their exchange.
    w_src_rank = Window.partitionBy("src_id").orderBy(F.desc("c"), F.asc("tgt_id"))
    w_tgt_rank = Window.partitionBy("tgt_id").orderBy(F.desc("c"), F.asc("src_id"))
    w_src_all = Window.partitionBy("src_id")
    w_tgt_all = Window.partitionBy("tgt_id")
    in_a = F.when(F.row_number().over(w_src_rank) <= k, F.col("c"))
    in_b = F.when(F.row_number().over(w_tgt_rank) <= k, F.col("c"))
    withnb = (
        scored.withColumn("_ca", in_a)
        .withColumn("_cb", in_b)
        .withColumn("sum_a", F.sum("_ca").over(w_src_all))
        .withColumn("n_a", F.count("_ca").over(w_src_all))
        .withColumn("sum_b", F.sum("_cb").over(w_tgt_all))
        .withColumn("n_b", F.count("_cb").over(w_tgt_all))
        .withColumn(
            "d", F.col("sum_a") * F.col("n_b") + F.col("sum_b") * F.col("n_a")
        )
        .filter(F.col("d") > 0)
        .withColumn(
            "margin_ppm",
            F.expr(
                "(2 * (CAST(c AS DECIMAL(38,0)) * 2000000 * n_a * n_b) + d)"
                " DIV (2 * d)"
            ).cast("long"),
        )
    )
    w_src = Window.partitionBy("src_id").orderBy(
        F.desc("margin_ppm"), F.desc("c"), F.asc("tgt_id")
    )
    w_tgt = Window.partitionBy("tgt_id").orderBy(
        F.desc("margin_ppm"), F.desc("c"), F.asc("src_id")
    )
    return (
        withnb.withColumn("_rs", F.row_number().over(w_src))
        .withColumn("_rt", F.row_number().over(w_tgt))
        .filter(
            (F.col("_rs") == 1)
            & (F.col("_rt") == 1)
            & (F.col("margin_ppm") >= threshold_ppm)
        )
        .select(
            "src_id",
            "tgt_id",
            (F.col("c") / F.lit(1e6)).alias("cos_sim"),
            (F.col("margin_ppm") / F.lit(1e6)).alias("margin"),
        )
    )
