"""Similarity search over embedding columns (SURVEY.md §2.11 X3/X5):
brute-force cosine top-k baseline + random-hyperplane LSH as the scale path.

Cosine is computed entirely with built-in array lambdas — ``zip_with`` for
the products, ``aggregate`` for the fold — in double precision with a
deterministic left-to-right summation order, so results are bit-reproducible
across engines and parallelism.

Scale design (100 TB of vectors):
- Brute force is the *correctness baseline*: queries × corpus via a
  broadcast of the (small) query set — corpus never shuffles; per-partition
  compute, then a per-query top-k window.  Exact, O(|Q|·n).
- The ANN path buckets vectors by a random-hyperplane signature (sign bits
  of dot products with seeded Gaussian hyperplanes).  The join becomes an
  equi-join on bucket id; recall is tunable by signature width / multi-probe.
  Hyperplanes are generated driver-side from a fixed seed and folded into
  the plan as literals — no state, reproducible everywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# This module now ships Python closures (the IVF cell-assignment pandas
# UDF); pickle the module by value so executor workers never need the repo
# package importable (see operators/multimodal.py for the full rationale).
import sys as _sys

from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


def _dbl(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


from .spread import spread_scan as _spread


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, sequential fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))


def _scoring_side(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, suffix: str
) -> DataFrame:
    """Per-row projection of one join side for cosine scoring: the casted
    double vector plus its L2 norm.  Norms depend on one row only, so they
    are computed ONCE per row here instead of once per candidate pair
    inside the scoring join (the inline ``cosine(q, n)`` form evaluated
    two casts and two norms per pair — pure per-pair overhead)."""
    d = _dbl(F.col(vec_col))
    return df.select(
        F.col(id_col).alias(out_id),
        d.alias(f"_v{suffix}"),
        l2_norm(d).alias(f"_n{suffix}"),
    )


def _pair_cosine() -> Column:
    """cos over :func:`_scoring_side` columns — identical arithmetic to
    ``cosine`` (dot / (norm_a * norm_b)), with the per-side factors read
    from columns."""
    return F.round(
        dot(F.col("_vq"), F.col("_vn")) / (F.col("_nq") * F.col("_nn")), 6
    ).alias("cos_sim")


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus,
    rank per query.  Ties broken by neighbor id; cosine rounded to 6dp
    *before* ranking so ordering is reproducible across engines."""
    q = _scoring_side(queries, id_col, vec_col, "query_id", "q")
    c = _scoring_side(_spread(embeddings), id_col, vec_col, "neighbor_id", "n")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _pair_cosine())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("int").alias("rnk"))
    )


def hard_negative_mining(
    embeddings: DataFrame,
    k: int = 5,
    anchor_mod: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_anchors: int | None = 10_000,
) -> DataFrame:
    """X22 triplet hard-negative mining for contrastive/embedding training
    (the miner behind triplet losses — Schroff et al. 2015 FaceNet
    semi-hard mining; public): for each anchor, the top-k most-similar
    vectors with a DIFFERENT label (the hard negatives), alongside the
    anchor's nearest same-label similarity (the hardest positive) and the
    triplet margin ``pos_cos − neg_cos`` — a negative margin is a triplet
    violation, the rows a trainer actually wants in the batch.

    Anchors are a deterministic modulus subset (mining runs per
    batch/epoch over a bounded anchor set, never all-pairs), then capped
    ABSOLUTELY at ``max_anchors``: the modulus subset alone grows
    linearly with the corpus (corpus/25 at the default — far past any
    broadcast threshold at 100 TB), so the broadcast side must be bounded
    by a constant, not a rate.  The cap keeps the ``max_anchors`` anchors
    with the lexicographically-lowest ``md5(salt ∥ id)`` digests (a
    deterministic pseudo-random draw, engine-portable, no RNG state),
    compiled by Spark to TakeOrderedAndProject: per-partition heaps of
    ``max_anchors`` rows, never a full sort.  At the default cap the
    broadcast is ≤10 k × dim doubles (~5 MB at dim=64) regardless of
    corpus size; ``None``
    disables the cap for bounded inputs.  Scale shape otherwise mirrors
    :func:`brute_force_topk`: the anchor set broadcasts, the corpus side
    streams through one scan, and per-anchor ranking is a window keyed by
    query_id.  For corpus-wide mining swap the candidate generator for
    the LSH-bucketed :func:`embedding_near_duplicates` machinery — the
    scoring/margin stages here are unchanged.

    Anchors with no same-label sibling in the corpus report a null
    ``pos_cos``/``margin`` (LEFT join — the negatives are still valid)."""
    corpus = _spread(embeddings)

    def _side(df: DataFrame, out_id: str, suffix: str) -> DataFrame:
        d = _dbl(F.col(vec_col))
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(label_col).alias(f"_l{suffix}"),
            d.alias(f"_v{suffix}"),
            l2_norm(d).alias(f"_n{suffix}"),
        )

    anchors = embeddings.filter(F.pmod(F.col(id_col), F.lit(anchor_mod)) == 0)
    if max_anchors is not None:
        digest = F.md5(
            F.concat(F.lit("hard-neg-anchors-v1"), F.col(id_col).cast("string")).cast(
                "binary"
            )
        )
        anchors = (
            anchors.withColumn("_adigest", digest)
            .orderBy("_adigest", id_col)
            .limit(max_anchors)
            .drop("_adigest")
        )
    scored = (
        _side(corpus, "neighbor_id", "n")
        .crossJoin(F.broadcast(_side(anchors, "query_id", "q")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_lq", "_ln", _pair_cosine())
    )
    pos = (
        scored.filter(F.col("_ln") == F.col("_lq"))
        .groupBy("query_id")
        .agg(F.max("cos_sim").alias("pos_cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.filter(F.col("_ln") != F.col("_lq"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .join(F.broadcast(pos), "query_id", "left")
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rnk").cast("int").alias("rnk"),
            "pos_cos",
            F.round(F.col("pos_cos") - F.col("cos_sim"), 6).alias("margin"),
        )
    )


def hyperplanes(dim: int = 64, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    """Seeded Gaussian hyperplanes, folded into plans as literals."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def bucket_table(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    dim: int,
    seed_base: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, t, bucket) for every (row, hash-table) pair — shuffle-free.

    The hyperplane weights travel as DATA in a single broadcast row
    (``array<struct<t, planes: array<array<long>>>>``), so plan size stays
    constant regardless of (n_tables × n_planes × dim); per data row, one
    codegen'd higher-order expression computes every table's sign-bit
    bucket (``aggregate(zip_with(...))`` dot products), and a small
    ``explode`` (n_tables elements) emits the (id, t, bucket) rows.  The
    whole table is FileScan → Project → 1-row-broadcast → Generate: ZERO
    exchanges, so the index build is scan-bandwidth-bound at any corpus
    size.  (The earlier relational form — posexplode vectors ⋈ weight
    rows → two aggregations — shuffled dim×n_tables×n_planes partial-dot
    rows per vector and cost ~2× even at toy scale.)

    Dot products run in int64 micro-units (vector values and weights both
    snapped to 1e-6): integer sums are summation-order-independent, so
    bucket assignment is identical at any parallelism AND in the DuckDB
    oracle (:func:`lsh_weights_sql` emits the same integer weights).  The
    sign of a dot only differs from the float computation within ~1e-5 of
    zero — a measure-zero region of a random projection, irrelevant to
    bucket quality.  Overflow bound: |v|·1e6 × |w|·1e6 × dim ≪ 2^63 for
    unit-scale vectors at any realistic dim.

    ``carry`` columns pass through unchanged next to (id, t, bucket) —
    streaming consumers use it to keep the query vector on the row, since
    a stream cannot re-join itself to fetch it back
    (:func:`streaming.pipeline.ann_enrich_stream`)."""
    spark = df.sparkSession
    per_t: dict[int, dict[int, list[int]]] = {}
    for t, p, _pos, wm in _micro_weights(n_planes, n_tables, dim, seed_base):
        per_t.setdefault(t, {}).setdefault(p, []).append(wm)
    tables = [(t, [per_t[t][p] for p in sorted(per_t[t])]) for t in sorted(per_t)]
    wtab = spark.createDataFrame(
        [(tables,)], "w array<struct<t:int, planes:array<array<long>>>>"
    )
    vm = F.transform(
        _dbl(F.col(vec_col)), lambda x: F.round(x * 1e6).cast("long")
    )
    # coalesce per-element products to 0: a vector shorter/longer than
    # ``dim`` contributes a partial dot over the overlap (zip_with pads
    # with nulls; an un-coalesced null would null the whole sum and send
    # EVERY such row to bucket 0 in every table — a silent all-pairs
    # blowup in the candidate join).  Null/empty vectors are dropped
    # entirely, matching the old explode formulation which emitted no
    # rows for them.
    buckets = F.expr(
        "transform(w, ts -> struct(ts.t AS t, "
        " aggregate(sequence(0, size(ts.planes) - 1), CAST(0 AS BIGINT), "
        "  (acc, p) -> acc + IF("
        "    aggregate(zip_with(_vm, ts.planes[p], "
        "              (x, y) -> coalesce(x * y, CAST(0 AS BIGINT))), "
        "              CAST(0 AS BIGINT), (a, x) -> a + x) >= 0, "
        "    shiftleft(CAST(1 AS BIGINT), p), CAST(0 AS BIGINT))) AS bucket))"
    )
    return (
        df.filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
        .select(F.col(id_col), *[F.col(c) for c in carry], vm.alias("_vm"))
        .join(F.broadcast(wtab))
        .select(id_col, *carry, F.explode(buckets).alias("_tb"))
        .select(
            id_col,
            *carry,
            F.col("_tb.t").alias("t"),
            F.col("_tb.bucket").alias("bucket"),
        )
    )


def _micro_weights(
    n_planes: int, n_tables: int, dim: int, seed_base: int
) -> list[tuple[int, int, int, int]]:
    """(table, plane, pos, micro-int weight) rows — THE single source of
    the hyperplane weights.  Both the Spark bucket table and the DuckDB
    oracle literal derive from this list, so the bit-exact bucket contract
    cannot drift by editing one side."""
    return [
        (t, p, pos, int(round(w * 1e6)))
        for t in range(n_tables)
        for p, plane in enumerate(hyperplanes(dim, n_planes, seed=seed_base + t))
        for pos, w in enumerate(plane)
    ]


def lsh_weights_sql(
    n_planes: int, n_tables: int, dim: int, seed_base: int
) -> str:
    """DuckDB ``VALUES`` literal of the EXACT integer micro-unit weights
    :func:`bucket_table` uses — one row per (table, plane) with the
    64-int weight list — so an oracle reproduces every bucket bit."""
    by_plane: dict[tuple[int, int], list[str]] = {}
    for t, p, _pos, wm in _micro_weights(n_planes, n_tables, dim, seed_base):
        by_plane.setdefault((t, p), []).append(str(wm))
    return ",\n      ".join(
        f"({t},{p},[{','.join(ws)}])" for (t, p), ws in sorted(by_plane.items())
    )


def _refusal(what: str, problem: str) -> ValueError:
    """The one error every index-record reader raises: what is unusable,
    why, and that the artifact must be rebuilt."""
    return ValueError(f"unusable {what}: {problem} — rebuild it")


def _index_record(index: "AnnIndex", kind: str) -> dict:
    """The record of ``index`` if it names ``kind`` — the kind check
    every family's record reader starts with (LSH, IVF, IVF-PQ, RP here,
    MinHash in :func:`~.dedup._unpack_minhash_index`)."""
    found = index.quantizer.get("kind")
    if found != kind:
        raise _refusal(f"{kind} index", f"kind mismatch, the record names {found!r}")
    return index.quantizer


def _int_family(record: dict, keys: tuple[str, ...], what: str) -> dict:
    """``{key: int}`` for the seeded random family ``keys`` a record
    names (LSH hyperplanes, RP's ±1 sign matrix) — shared by the LSH and
    RP readers and the LSH-built neighborhood-stats artifact.  The last
    key is the seed; refuses a missing key and any other value below 1
    (zero planes, tables or output dimensions build an index that
    serves nothing or noise, silently)."""
    missing = [key for key in keys if key not in record]
    if missing:
        problem = f"missing hash-family keys {missing}"
    else:
        family = {key: int(record[key]) for key in keys}
        low = [f"{key}={family[key]}" for key in keys[:-1] if family[key] < 1]
        if not low:
            return family
        problem = f"{', '.join(low)} below 1"
    raise _refusal(what, problem)


_LSH_FAMILY = ("n_planes", "n_tables", "dim", "seed_base")


def _lsh_family(record: dict, what: str) -> dict:
    """The hash family ``{n_planes, n_tables, dim, seed_base}`` a record
    names — the one check of it, shared by the LSH index reader and the
    LSH-built neighborhood-stats artifact."""
    return _int_family(record, _LSH_FAMILY, what)


def _unpack_lsh_index(index: "AnnIndex") -> tuple[DataFrame, dict]:
    """(buckets, family) from an LSH :class:`AnnIndex` — the ONE reader
    of the record :func:`lsh_index` writes, shared by every serving path
    and :func:`extend_ann_index`, so queries are always hashed with the
    hyperplanes the corpus was built with.  ``family`` is
    :func:`lsh_index`'s keyword arguments."""
    return index.df, _lsh_family(_index_record(index, "lsh"), "lsh index")


def lsh_index(
    embeddings: DataFrame,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed_base: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "AnnIndex":
    """The LSH index of ``embeddings`` as an :class:`AnnIndex`: ``df`` is
    the (id, t, bucket) relation of :func:`bucket_table`, ``quantizer``
    the record ``{kind: lsh, n_planes, n_tables, dim, seed_base}`` — the
    same handle ``load_ann_index`` returns for the index
    :func:`write_lsh_index` persists.  Every LSH serving path takes only
    this handle and reads the hash family from its record.  Nothing is
    computed here; a record the reader would refuse is never built."""
    record = {"kind": "lsh", "n_planes": n_planes, "n_tables": n_tables,
              "dim": dim, "seed_base": seed_base}
    family = _lsh_family(record, "lsh index")
    return AnnIndex(bucket_table(embeddings, id_col, vec_col, **family), record)


def write_lsh_index(
    embeddings: DataFrame,
    path: str,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed_base: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Persist the index :func:`lsh_index` builds at ``path``: the rows
    partitioned by hash table ``t`` (a probe reads only its tables'
    files) replacing every old partition, and the record as the
    ``_quantizer.json`` sidecar.  The sidecar is the commit point: an
    existing one is removed first and the new one written last.
    Returns the number of rows written (vectors × tables, counted as the
    write runs)."""
    return _persist_index(
        lsh_index(embeddings, n_planes, n_tables, dim, seed_base, id_col, vec_col),
        path,
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    index: "AnnIndex",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via multi-table hyperplane LSH: L independent hash tables
    of b sign-bits each; a corpus vector is a candidate if it collides with
    the query in ANY table (like MinHash banding).  The join is an
    equi-join on (table, bucket) — never a crossJoin.

    Recall/cost math: a neighbor at angle θ matches one b-bit table with
    (1-θ/π)^b; over L tables recall ≈ 1-(1-(1-θ/π)^b)^L.  The
    :func:`lsh_index` defaults (b=4, L=8) give ~0.97 recall at cos≈0.5
    while scoring ~L/2^b = half the corpus per query; raise b (and L) as
    the target similarity rises — near-dup search (cos≥0.9) sustains
    b=12+ at a tiny fraction of the corpus.  Tables add candidates, so
    cost is tunable, recall measured against brute force in tests.

    ``index`` is the corpus-side bucket assignment (the LSH index
    build) as a handle from :func:`lsh_index` or :func:`load_ann_index`:
    at 100 TB built once by :func:`write_lsh_index` and amortized over
    every query, so only the query-side signatures (hashed with the
    family its record names) and the candidate join are per-query cost.
    ``k`` is the query-time top-k."""
    corpus_buckets, family = _unpack_lsh_index(index)
    corpus = _spread(embeddings)
    c_b = corpus_buckets.select(
        F.col(id_col).alias("neighbor_id"), "t", "bucket"
    )
    q_b = bucket_table(queries, id_col, vec_col, **family).select(
        F.col(id_col).alias("query_id"), "t", "bucket"
    )
    cand = (
        c_b.join(F.broadcast(q_b), ["t", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    c_vec = _scoring_side(corpus, id_col, vec_col, "neighbor_id", "n")
    q_vec = _scoring_side(queries, id_col, vec_col, "query_id", "q")
    scored = (
        cand.join(c_vec, "neighbor_id")
        .join(F.broadcast(q_vec), "query_id")
        .select("query_id", "neighbor_id", _pair_cosine())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("int").alias("rnk"))
    )


def _sample_matrix(
    embeddings: DataFrame, vec_col: str, max_rows: int, seed: int
):
    """ONE distributed pass drawing a ≤max_rows seeded sample as a numpy
    matrix — the bounded driver-side training set both index fits
    (IVF centroids, PQ codebooks) share."""
    n = embeddings.count()
    frac = min(1.0, max_rows / max(n, 1))
    src = embeddings if frac >= 1.0 else embeddings.sample(fraction=frac, seed=seed)
    return np.array(
        src.select(_dbl(F.col(vec_col)).alias("v"))
        .limit(max_rows)
        .toPandas()["v"]
        .tolist(),
        dtype=np.float64,
    )


def _kmeans(x, k: int, seed: int, n_iter: int):
    """Seeded Lloyd's on a driver-resident matrix — the shared inner loop
    of both index fits (one call for IVF, one per subspace for PQ)."""
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    for _ in range(n_iter):
        d2 = (
            (x * x).sum(axis=1, keepdims=True)
            - 2.0 * (x @ cents.T)
            + (cents * cents).sum(axis=1)
        )
        assign = d2.argmin(axis=1)
        for j in range(len(cents)):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def _ivf_weight_table(spark, centroids):
    """(cell, pos, wm, cn_m): broadcastable micro-unit centroid weights
    with per-cell ‖c‖² riding along — one table serves the whole
    -2·v·c + ‖c‖² assignment score (‖v‖² is constant per row and never
    affects an argmin/rank, so it is dropped).  ‖c‖² is summed in Python
    ints — the exact int64 Σ wm² — so the table is a local relation
    with no aggregate or join of its own."""
    crows = []
    for cell, cvec in enumerate(centroids):
        mu = [int(round(w * 1e6)) for w in cvec]
        cn = sum(x * x for x in mu)
        crows += [(cell, pos, wm, cn) for pos, wm in enumerate(mu)]
    return spark.createDataFrame(crows, "cell int, pos int, wm long, cn_m long")


def _cell_scores(
    df: DataFrame, cweights: DataFrame, id_col: str, vec_col: str, out_id: str
) -> DataFrame:
    """Relational cell scoring shared by the IVF corpus assignment
    (:func:`ivf_cell_table`) and query probe ranking: vectors
    posexplode once to micro-units, join the broadcast weight table, one
    codegen'd aggregate per (row, cell).  No Python in the distributed
    path; plan size constant in cell count; shuffle rows are
    (id, cell, partial-score) with map-side combine.  (An Arrow/pandas
    formulation was faster per batch in isolation but churned python
    workers across long many-query sessions.)"""
    vals = df.select(
        F.col(id_col).alias(out_id),
        F.posexplode(_dbl(F.col(vec_col))).alias("pos", "_val"),
    ).select(out_id, "pos", F.round(F.col("_val") * 1e6).cast("long").alias("vm"))
    return (
        vals.join(F.broadcast(cweights), "pos")
        .groupBy(out_id, "cell")
        .agg((F.first("cn_m") - 2 * F.sum(F.col("vm") * F.col("wm"))).alias("score"))
    )


def _ivf_query_cells(
    queries: DataFrame,
    cweights: DataFrame,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, cell) for each query's n_probe nearest cells."""
    qw = Window.partitionBy("query_id").orderBy("score", "cell")
    return (
        _cell_scores(queries, cweights, id_col, vec_col, "query_id")
        .withColumn("cr", F.row_number().over(qw))
        .filter(F.col("cr") <= n_probe)
        .select("query_id", "cell")
    )


def ivf_cell_table(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) corpus assignment — the IVF index relation (faiss's
    inverted lists as a relation): each vector's nearest centroid in
    exact int64 micro-units, ties to the lower cell, so the assignment
    is identical at any parallelism and in a DuckDB oracle.
    :func:`ivf_index` pairs it with its record, :func:`write_ivf_index`
    persists it partitioned by cell, and :func:`ivf_topk` serves the
    handle, paying only the query-side probe ranking + candidate join."""
    cweights = _ivf_weight_table(embeddings.sparkSession, centroids)
    return (
        _cell_scores(_spread(embeddings), cweights, id_col, vec_col, id_col)
        .groupBy(id_col)
        .agg(F.min_by("cell", F.struct("score", "cell")).alias("cell"))
    )


class AnnIndex:
    """An ANN index: the bucket/cell/code relation PLUS the record of the
    parameters it was built with, travelling as one handle so serving
    can never pair the relation with re-guessed parameters (r7 review:
    every serving entry point took raw ints with defaults, so a mismatch
    with the persisted index silently degraded recall to chance — the
    handle makes the record authoritative at the API).

    Every family has an in-memory constructor — :func:`lsh_index`,
    :func:`ivf_index`, :func:`ivfpq_index`, :func:`rp_index`,
    :func:`~.dedup.minhash_index` — returning the same handle and record
    that :func:`load_ann_index` returns for the index the family's
    writer persists.  Serving paths take only the handle plus query-time
    arguments — ``lsh_topk(corpus, queries, idx)``,
    ``ivf_topk(corpus, queries, idx)``, ``ivfpq_topk(queries, idx)``,
    ``rp_topk(queries, idx)``,
    ``ann_enrich_stream(stream, idx, corpus_vectors)``,
    ``shard_admission_report(shard, idx)`` — and read the quantizers
    through the family's one record reader, which refuses a record of
    another kind or with unusable parameters instead of degrading."""

    def __init__(self, df: DataFrame, quantizer: dict, sigs: DataFrame | None = None):
        self.df = df
        self.quantizer = dict(quantizer)
        #: companion (id, sig) table for split-layout minhash indexes —
        #: the slim bands relation in ``df`` carries ids only, so serving
        #: joins signatures back from here after candidate dedup
        self.sigs = sigs

    @property
    def kind(self) -> str:
        return self.quantizer["kind"]


def load_ann_index(spark, path: str) -> AnnIndex:
    """Load a persisted ANN index (the `ann-index` CLI layout): the
    partitioned index relation plus the `_quantizer.json` sidecar that
    records the EXACT parameters the index was built with — serving with
    re-guessed parameters (different hyperplane seed, re-fit centroids)
    silently degrades recall to chance, so the sidecar is authoritative.

    Returns an :class:`AnnIndex` handle; pass it to serving so the
    quantizer parameters are READ from the sidecar, never re-typed (no
    serving path accepts them).  A directory without the sidecar (never
    built, or a build that failed before its last write) is refused; a
    sidecar the family's reader refuses is refused when the handle is
    served or extended."""
    import json
    import os

    from ..util import require_local_path

    require_local_path(path)
    record = os.path.join(path, "_quantizer.json")
    if not os.path.exists(record):
        raise FileNotFoundError(
            f"no index record at {record}: the index was never built or "
            "its build did not finish — rebuild it"
        )
    with open(record) as f:
        quantizer = json.load(f)
    if quantizer.get("layout") == "split":
        # write_minhash_index layout: slim bands/ + one-row-per-doc sigs/
        return AnnIndex(
            spark.read.parquet(os.path.join(path, "bands")),
            quantizer,
            sigs=spark.read.parquet(os.path.join(path, "sigs")),
        )
    return AnnIndex(spark.read.parquet(path), quantizer)


def _persist_index(index: AnnIndex, path: str) -> int:
    """Persist a vector index handle at ``path`` — the one write behind
    :func:`write_lsh_index`, :func:`write_ivf_index`,
    :func:`write_ivfpq_index` and :func:`write_rp_index`.  In order: the
    old ``_quantizer.json`` is removed (the record is the commit point,
    so a build that fails part-way leaves none for ``load_ann_index`` to
    serve stale); the relation overwrites the directory statically,
    partitioned by its family's column, so a smaller rebuild keeps no
    old partition; rows are counted by an observation rider on that
    write; the record is written last.  Returns the rows written."""
    import json
    import os

    from ..util import overwrite_partitioned, require_local_path
    from .metrics import observed_count

    require_local_path(path)
    record_path = os.path.join(path, "_quantizer.json")
    if os.path.exists(record_path):
        os.remove(record_path)
    rows, obs = observed_count(index.df, "n_rows")
    overwrite_partitioned(rows, *_VECTOR_FAMILIES[index.kind][2]).parquet(path)
    with open(record_path, "w") as f:
        json.dump(index.quantizer, f)
    return obs.get["n_rows"]


def _ivf_params(record: dict, what: str) -> dict:
    """``{centroids}`` from an IVF or IVF-PQ record — the coarse
    quantizer check both readers share.  Refuses missing or empty
    centroids (the index would serve 0 rows), centroids of different or
    zero widths, and an ``n_lists`` that is not the centroid count."""
    cents = record.get("centroids")
    if not cents:
        problem = "no centroids"
    elif len({len(c) for c in cents}) != 1 or not cents[0]:
        problem = f"centroid widths {sorted({len(c) for c in cents})} are ragged or zero"
    elif record.get("n_lists") != len(cents):
        problem = f"n_lists={record.get('n_lists')} but {len(cents)} centroids"
    else:
        return {"centroids": cents}
    raise _refusal(what, problem)


def _unpack_ivf_index(index: AnnIndex) -> tuple[DataFrame, dict]:
    """(cells, {centroids}) from an IVF :class:`AnnIndex` — the ONE
    reader of the record :func:`ivf_index` writes, shared by
    :func:`ivf_topk` and :func:`extend_ann_index`, so queries always
    probe the cells of the centroids the corpus was assigned with."""
    return index.df, _ivf_params(_index_record(index, "ivf"), "ivf index")


def ivf_index(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> AnnIndex:
    """The IVF index of ``embeddings`` over a fitted coarse quantizer
    (:func:`fit_ivf_centroids`, or externally trained centroids such as
    label prototypes) as an :class:`AnnIndex`: ``df`` is the (id, cell)
    relation of :func:`ivf_cell_table`, ``quantizer`` the record
    ``{kind: ivf, n_lists, centroids}`` — the same handle
    ``load_ann_index`` returns for the index :func:`write_ivf_index`
    persists.  A record the reader would refuse is never built."""
    record = {"kind": "ivf", "n_lists": len(centroids), "centroids": centroids}
    _ivf_params(record, "ivf index")
    return AnnIndex(ivf_cell_table(embeddings, centroids, id_col, vec_col), record)


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Persist the index :func:`ivf_index` builds at ``path``: (id, cell)
    rows partitioned by ``cell`` (a probe reads only its cells' files)
    and the record, centroids included, as the ``_quantizer.json``
    sidecar.  Returns the number of rows written."""
    return _persist_index(ivf_index(embeddings, centroids, id_col, vec_col), path)


def ivfpq_index_rows(
    embeddings: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes, cell) — the complete IVF-PQ index relation as ONE
    shuffle-free scan projection (both quantizer halves are plan
    literals; null/empty vectors dropped per the un-encodable policy of
    :func:`pq_encode` — a null slice would land in cell 0 with codes
    [0…] and serve as a phantom neighbor).  Persisted partitioned BY
    CELL, this is the faiss-style on-disk layout: a probe reads only its
    cells' files."""
    return (
        _spread(embeddings)
        .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .select(
            F.col(id_col),
            _pq_codes_expr(F.col(vec_col), codebooks).alias("codes"),
            _ivf_cell_expr(F.col(vec_col), centroids).alias("cell"),
        )
    )


def _ivfpq_params(record: dict) -> dict:
    """``{centroids, codebooks}`` from an IVF-PQ record.  On top of the
    IVF centroid check, refuses missing or empty codebooks, an ``m``
    that is not the codebook count, codebooks whose sizes differ from
    ``n_codes``, and subspace widths that do not split the centroid
    dimension into ``m`` equal slices (the ADC table would score the
    wrong coordinates, silently)."""
    params = _ivf_params(record, "ivfpq index")
    dim = len(params["centroids"][0])
    books = record.get("codebooks")
    widths = {len(c) for b in books or () for c in b}
    if not books:
        problem = "no codebooks"
    elif record.get("m") != len(books):
        problem = f"m={record.get('m')} but {len(books)} codebooks"
    elif {len(b) for b in books} != {record.get("n_codes")}:
        problem = (
            f"n_codes={record.get('n_codes')} but codebooks of "
            f"{sorted({len(b) for b in books})} codes"
        )
    elif len(widths) != 1 or len(books) * min(widths) != dim:
        problem = (
            f"subspace widths {sorted(widths)} × {len(books)} codebooks "
            f"do not make the {dim}-dim centroids"
        )
    else:
        return {**params, "codebooks": books}
    raise _refusal("ivfpq index", problem)


def _unpack_ivfpq_index(index: AnnIndex) -> tuple[DataFrame, dict]:
    """((id, codes, cell) rows, {centroids, codebooks}) from an IVF-PQ
    :class:`AnnIndex` — the ONE reader of the record :func:`ivfpq_index`
    writes, shared by :func:`ivfpq_topk`,
    ``streaming.pipeline.ivfpq_enrich_stream`` and
    :func:`extend_ann_index`."""
    return index.df, _ivfpq_params(_index_record(index, "ivfpq"))


def ivfpq_index(
    embeddings: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> AnnIndex:
    """The IVF-PQ index of ``embeddings`` (the IndexIVFPQ artifact) over
    fitted quantizers (:func:`fit_ivf_centroids` +
    :func:`fit_pq_codebooks`, or externally trained ones) as an
    :class:`AnnIndex`: ``df`` is the (id, codes, cell) relation of
    :func:`ivfpq_index_rows`, ``quantizer`` the record
    ``{kind: ivfpq, n_lists, m, n_codes, centroids, codebooks}`` — the
    same handle ``load_ann_index`` returns for the index
    :func:`write_ivfpq_index` persists.  Serving with re-fit centroids or
    codebooks silently corrupts distances, so both travel in the record.
    A record the reader would refuse is never built."""
    record = {
        "kind": "ivfpq",
        "n_lists": len(centroids),
        "m": len(codebooks),
        "n_codes": len(codebooks[0]) if codebooks else 0,
        "centroids": centroids,
        "codebooks": codebooks,
    }
    _ivfpq_params(record)
    return AnnIndex(
        ivfpq_index_rows(embeddings, centroids, codebooks, id_col, vec_col), record
    )


def write_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Persist the index :func:`ivfpq_index` builds at ``path``: the
    (id, codes, cell) rows partitioned by ``cell`` — so serving probes
    prune to their cells' files at the parquet listing level — and the
    record, both quantizers included, as the ``_quantizer.json``
    sidecar.  Returns the number of index rows written."""
    return _persist_index(
        ivfpq_index(embeddings, centroids, codebooks, id_col, vec_col), path
    )


def extend_ann_index(
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append new vectors' rows to a persisted LSH, IVF, IVF-PQ or RP
    index — the vector-space twin of :func:`~.dedup.extend_band_index`,
    completing the incremental lifecycle for every index family (MinHash
    bands for text, hyperplane buckets, IVF cells and codes, reduced
    vectors for embeddings).

    Every assignment is ROW-LOCAL given the record (hyperplanes and the
    RP sign matrix are pure functions of their seeded family; IVF cells
    and PQ codes come from the record's frozen centroids and codebooks),
    so APPEND IS the index update: the family's record reader reads the
    parameters (refusing a record it would not serve), the family's
    in-memory constructor builds the new rows, and they land inside the
    existing ``t=``/``cell=`` partition directories where serving probes
    already prune — no rebuild, no read of existing index rows.  A
    record of unknown kind goes through the LSH reader, which refuses
    it.

    IVF caveat (inherent, same as faiss): appends assign against the
    centroids fitted at build time, so a drifting corpus slowly degrades
    cell balance — monitor with the per-cell counts and periodically
    refit (:func:`fit_ivf_centroids` / :func:`refine_centroids`) and
    rebuild.  LSH has no drift: the hyperplanes are data-independent.

    Same caveat as the band-index twin: append + count is not atomic;
    drive from an exactly-once context at production scale.  Returns the
    number of index rows appended."""
    handle = load_ann_index(new_vectors.sparkSession, index_path)
    kind = handle.quantizer.get("kind")
    if kind == "minhash":
        raise ValueError(
            "extend_ann_index handles lsh/ivf/ivfpq/rp indexes, got "
            "'minhash' (minhash indexes grow via extend_band_index)"
        )
    reader, build, part = _VECTOR_FAMILIES.get(kind, _VECTOR_FAMILIES["lsh"])
    _, params = reader(handle)
    rows = build(new_vectors, **params, id_col=id_col, vec_col=vec_col).df
    # shard-bounded; compute once for both the append and the count
    rows = rows.localCheckpoint(eager=True)
    rows.write.mode("append").partitionBy(*part).parquet(index_path)
    return rows.count()


def fit_ivf_centroids(
    embeddings: DataFrame,
    n_lists: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    max_train_rows: int = 100_000,
    n_iter: int = 10,
) -> list[list[float]]:
    """Fit IVF cell centroids on a bounded in-memory sample of the corpus.

    KMeans centroids stabilize long before the full data is seen, so
    training is: ONE distributed pass to draw ≤ ``max_train_rows`` vectors
    (a seeded sample), then seeded Lloyd's iterations in numpy on the
    driver — the faiss-style "train on a sample" pattern.  The sample is
    bounded (100k × 64 doubles ≈ 50 MB) regardless of corpus size, so at
    100 TB this costs one scan, not a multi-pass MLlib job per query.
    Returns plain floats (n_lists × dim — KBs; fewer rows when the
    sample holds fewer than ``n_lists`` vectors) for :func:`ivf_index` /
    :func:`write_ivf_index` (or :func:`ivfpq_index`) to record, so every
    query probes the quantizer the corpus was assigned with."""
    x = _sample_matrix(embeddings, vec_col, max_train_rows, seed)
    cents = _kmeans(x, n_lists, seed, n_iter)
    return [list(map(float, c)) for c in cents]


def refined_centroid_elements(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE distributed Lloyd iteration over the FULL corpus, long form:
    assign every vector to its nearest centroid and return each cell's
    exact element-wise mean as (cell, pos, n_vecs, centroid_val).  Empty
    cells yield no rows (callers keep the previous centroid — standard
    Lloyd practice).

    Exactness: assignment reuses the IVF quantizer arithmetic
    (``-2·v·c + ‖c‖²`` in int64 micro-units, argmin tie-broken by cell),
    and the mean is the ``label_centroid_elements`` int64 trick — both
    ends are summation-order-independent, so any parallelism and a SQL
    oracle agree bit-for-bit on the refined centroids.

    Scale shape per iteration: one broadcast of the k×dim weight table,
    one scan scoring (id, cell, partial) with map-side combine, one
    co-partitioned join of the exploded micro-values with the (id, cell)
    assignment, one (cell, pos) aggregate — k×dim output rows.  Nothing
    driver-side except the weight literals; vectors never shuffle whole."""
    assigned = ivf_cell_table(embeddings, centroids, id_col, vec_col)
    vals = embeddings.select(
        F.col(id_col).alias("_rid"),
        F.posexplode(_dbl(F.col(vec_col))).alias("pos", "_val"),
    ).select(
        "_rid", "pos", F.round(F.col("_val") * 1e6).cast("long").alias("_m")
    )
    member = vals.join(assigned.withColumnRenamed(id_col, "_rid"), "_rid")
    per = member.groupBy("cell", "pos").agg(
        F.sum("_m").alias("_s"), F.count(F.lit(1)).alias("n_vecs")
    )
    return per.select(
        "cell",
        "pos",
        "n_vecs",
        F.round(F.col("_s").cast("double") / 1e6 / F.col("n_vecs"), 6).alias(
            "centroid_val"
        ),
    )


def refine_centroids(
    embeddings: DataFrame,
    centroids: list[list[float]],
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Full-corpus Lloyd refinement of sample-fit centroids — the scale
    path ``fit_ivf_centroids`` deliberately skips: a 100 k-row sample
    trains a good quantizer fast, but when cluster balance matters (IVF
    probe cost, SemDeDup cluster-pair bounds) a few FULL-data iterations
    tighten it at exactly one scan + one bounded shuffle each.  Every
    iteration collects only the k×dim refined table (KBs); cells that
    lose all members keep their previous centroid, so k never shrinks.
    Objective monotonicity (within-cluster SS non-increasing) is
    pytest-pinned."""
    cents = [list(map(float, c)) for c in centroids]
    for _ in range(max(0, int(n_iter))):
        rows = refined_centroid_elements(
            embeddings, cents, id_col, vec_col
        ).collect()
        new = [list(c) for c in cents]
        for r in rows:
            new[r["cell"]][r["pos"]] = float(r["centroid_val"])
        cents = new
    return cents


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    index: AnnIndex,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: the corpus is partitioned into cells;
    each query scores only its ``n_probe`` nearest cells.

    ``index`` is the (id, cell) corpus assignment — the IVF index build
    — as a handle from :func:`ivf_index` or :func:`load_ann_index`: at
    100 TB built once by :func:`write_ivf_index` and amortized over
    every query, so only the query-side probe ranking (for a handful of
    query vectors, against the centroids its record names) and the
    candidate join are per-query cost.  ``embeddings`` supplies the
    vectors that score the candidates; ``k`` is the query-time top-k.

    The IVF scale story vs hyperplane LSH: cells adapt to the data
    distribution (clustered corpora get balanced cells where fixed
    hyperplanes skew), and cost is exactly corpus·(n_probe/n_lists) per
    query.  The coarse quantizer is fitted by the caller before the
    index is built: :func:`fit_ivf_centroids`' sample-bounded KMeans
    (the unsupervised default) or externally trained centroids, e.g. the
    label prototypes ``ivf_recall_eval`` uses (faiss's "externally
    trained quantizer" pattern, and the fully SQL-reproducible one).

    Cell assignment arithmetic runs in int64 micro-units (vectors and
    centroid weights snapped to 1e-6, scores are exact integers): argmin
    and probe ranking are summation-order-independent, so the assignment
    is identical at any parallelism and in a DuckDB oracle — same
    discipline as :func:`bucket_table`."""
    cells, params = _unpack_ivf_index(index)
    cweights = _ivf_weight_table(queries.sparkSession, params["centroids"])
    c = _scoring_side(_spread(embeddings), id_col, vec_col, "neighbor_id", "n").join(
        cells.withColumnsRenamed({id_col: "neighbor_id"}), "neighbor_id"
    )
    q = _scoring_side(queries, id_col, vec_col, "query_id", "q").join(
        _ivf_query_cells(queries, cweights, n_probe, id_col, vec_col), "query_id"
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _pair_cosine())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("int").alias("rnk"))
    )


def fit_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    max_train_rows: int = 100_000,
    n_iter: int = 10,
) -> list[list[list[float]]]:
    """Fit product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split the dimension into
    ``m`` subspaces and run an independent k-means per subspace — same
    sample-bounded driver-fit pattern as :func:`fit_ivf_centroids` (one
    distributed pass to sample, seeded numpy Lloyd's; the codebooks are
    m·k·(dim/m) floats — KBs — persist and reuse).

    PQ is the memory-bound ANN path the IVF/LSH family lacks: a 64-dim
    float vector (256 B) compresses to ``m`` 4-bit/8-bit codes (4-8 B),
    so a 100 TB embedding corpus's index fits in cluster RAM and
    candidate scoring never touches the raw vectors."""
    x = _sample_matrix(embeddings, vec_col, max_train_rows, seed)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        # seed + j: each subspace draws independent initial centroids
        cents = _kmeans(x[:, j * dsub : (j + 1) * dsub], k, seed + j, n_iter)
        books.append([list(map(float, c)) for c in cents])
    return books


def _mu(vec: Column) -> Column:
    """array<long> micro-units — the house exact int64 embedding form
    (identical per-element arithmetic to the old posexplode path:
    round(x·10⁶) on the double-cast value)."""
    return F.transform(_dbl(vec), lambda x: F.round(x * 1e6).cast("long"))


def _ldot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over int64 arrays — exact, order-free."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _long_array_lit(nested) -> Column:
    """Arbitrarily-nested int list → ONE ``array(...)`` SQL text parsed
    by a single ``F.expr`` call (int64 elements).  The single source of
    the literal-rendering trick both quantizer families rely on: the
    element-wise ``F.array(F.lit(...))`` form issues one py4j round-trip
    per literal (~800 for an m=8, k=10 quantizer), which the r10 bench
    measured as ~4 s of DRIVER-side plan construction per query — pure
    overhead the executors never see."""

    def render(x) -> str:
        if isinstance(x, int):
            return f"{x}L"
        return "array(" + ",".join(render(e) for e in x) + ")"

    return F.expr(render(nested))


def _pq_codebook_lits(codebooks) -> tuple[Column, Column]:
    """(CB, CN) literal columns folded into the plan: CB[j+1][c+1] is
    codebook j entry c as an array<long> of micro-units, CN[j+1][c+1] is
    its exact ‖c‖² in micro²-units (computed in Python ints — identical
    to an int64 Σ wm²).  m·k·dsub longs — a few KB even at production
    codebook sizes, so the 'broadcast' is plan-literal and every
    consumer is pure whole-stage-codegen projection, no join."""
    mu = [
        [[int(round(w * 1e6)) for w in cvec] for cvec in book]
        for book in codebooks
    ]
    cb = _long_array_lit(mu)
    cn = _long_array_lit(
        [[sum(w * w for w in cvec) for cvec in book] for book in mu]
    )
    return cb, cn


def _pq_codes_expr(vec: Column, codebooks) -> Column:
    """Per-row PQ code assignment as ONE expression (array<int> length
    m): per subspace, score every codebook entry ‖·‖²−2·dot in exact
    int64 micro-units and take the (score, code)-lexicographic min —
    bit-identical to the old broadcast-join/groupBy/min_by pipeline,
    with zero shuffles.  All shared subtrees (the micro-unit vector, the
    codebook literals, each subvector slice) are let-bound so the tree
    stays linear in m·k."""
    from .dedup import _let

    m, k = len(codebooks), len(codebooks[0])
    dsub = len(codebooks[0][0])
    cb_l, cn_l = _pq_codebook_lits(codebooks)

    def with_vm(vm: Column) -> Column:
        def with_cb(cb: Column) -> Column:
            def with_cn(cn: Column) -> Column:
                def per_sub(j: Column) -> Column:
                    def with_sub(sub: Column) -> Column:
                        scores = F.transform(
                            F.sequence(F.lit(0), F.lit(k - 1)),
                            lambda c: F.struct(
                                (
                                    F.element_at(F.element_at(cn, j + 1), c + 1)
                                    - F.lit(2).cast("long")
                                    * _ldot(
                                        sub,
                                        F.element_at(
                                            F.element_at(cb, j + 1), c + 1
                                        ),
                                    )
                                ).alias("score"),
                                c.alias("code"),
                            ),
                        )
                        return F.array_min(scores)["code"]

                    return _let(
                        F.slice(vm, j * F.lit(dsub) + 1, F.lit(dsub)), with_sub
                    )

                return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), per_sub)

            return _let(cn_l, with_cn)

        return _let(cb_l, with_cb)

    return _let(_mu(vec), with_vm)


def _adc_table_expr(vec: Column, codebooks) -> Column:
    """Per-query ADC lookup tables as ONE expression — array[m] of
    array[k] longs: ‖q_sub − c‖² = Σq² − 2Σq·c + ‖c‖² in exact
    micro²-units, same arithmetic as the old relational
    ``_adc_query_table`` row set."""
    from .dedup import _let

    m, k = len(codebooks), len(codebooks[0])
    dsub = len(codebooks[0][0])
    cb_l, cn_l = _pq_codebook_lits(codebooks)

    def with_vm(vm: Column) -> Column:
        def with_cb(cb: Column) -> Column:
            def with_cn(cn: Column) -> Column:
                def per_sub(j: Column) -> Column:
                    def with_sub(sub: Column) -> Column:
                        def with_ssq(ssq: Column) -> Column:
                            return F.transform(
                                F.sequence(F.lit(0), F.lit(k - 1)),
                                lambda c: ssq
                                - F.lit(2).cast("long")
                                * _ldot(
                                    sub,
                                    F.element_at(F.element_at(cb, j + 1), c + 1),
                                )
                                + F.element_at(F.element_at(cn, j + 1), c + 1),
                            )

                        return _let(_ldot(sub, sub), with_ssq)

                    return _let(
                        F.slice(vm, j * F.lit(dsub) + 1, F.lit(dsub)), with_sub
                    )

                return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), per_sub)

            return _let(cn_l, with_cn)

        return _let(cb_l, with_cb)

    return _let(_mu(vec), with_vm)


def _ivf_scores_expr(vec: Column, centroids) -> Column:
    """array<struct<score,cell>> of exact micro-unit cell scores
    (‖c‖² − 2·v·c — ‖v‖² dropped, constant per row) with the centroid
    table folded in as literals: the expression twin of
    ``_cell_scores``'s broadcast-join/groupBy rows, bit-identical
    arithmetic."""
    from .dedup import _let

    mu = [[int(round(w * 1e6)) for w in cvec] for cvec in centroids]
    cw_l = _long_array_lit(mu)
    cn_l = _long_array_lit([sum(w * w for w in cvec) for cvec in mu])
    n_lists = len(centroids)

    def with_vm(vm: Column) -> Column:
        def with_cw(cw: Column) -> Column:
            def with_cn(cn: Column) -> Column:
                return F.transform(
                    F.sequence(F.lit(0), F.lit(n_lists - 1)),
                    lambda c: F.struct(
                        (
                            F.element_at(cn, c + 1)
                            - F.lit(2).cast("long")
                            * _ldot(vm, F.element_at(cw, c + 1))
                        ).alias("score"),
                        c.alias("cell"),
                    ),
                )

            return _let(cn_l, with_cn)

        return _let(cw_l, with_cw)

    return _let(_mu(vec), with_vm)


def _ivf_cell_expr(vec: Column, centroids) -> Column:
    """argmin cell, ties to the lower cell — ≡ min_by(cell,
    struct(score, cell)) on the relational path."""
    return F.array_min(_ivf_scores_expr(vec, centroids))["cell"]


def _ivf_probe_cells_expr(vec: Column, centroids, n_probe: int) -> Column:
    """The n_probe nearest cells as array<int> — ≡ the relational
    row_number-over-(score, cell) ≤ n_probe filter (array_sort on the
    struct is the same lexicographic order)."""
    return F.transform(
        F.slice(F.array_sort(_ivf_scores_expr(vec, centroids)), 1, n_probe),
        lambda s: s["cell"],
    )


def _adc_pair_dist() -> Column:
    """d_m for one (corpus, query) pair: Σ_j qtab[j][codes[j]] — m int64
    table lookups on the pair's ``codes``/``_qtab`` columns."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("_qtab"),
            lambda c, tab_j: F.element_at(tab_j, c + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode the corpus: per subspace, the nearest codebook entry in
    exact int64 micro-units (ties break to the lower code — deterministic
    at any parallelism).  Output (id, codes array<int> length m) — THIS
    is the PQ index: at scale it is written out partitioned and the raw
    vectors are never read again for scoring.

    One shuffle-free whole-stage-codegen projection (r10): the codebook
    is folded into the plan as int64 micro-unit literals and the
    per-subspace argmin is a let-bound higher-order expression — the
    corpus is read once and never exchanged (the r8 form was a broadcast
    join + three groupBys; the arithmetic, tie-breaks, and therefore
    every persisted code and oracle hash are unchanged).

    Null/empty vectors are DROPPED, matching the r8 relational form
    (posexplode emitted no rows for them) and every sibling index build
    (``bucket_table``, ``rp_project``): an un-encodable vector must
    never be served — the un-filtered expression would score a null
    slice against every code, pick code 0, and surface the row as a
    phantom neighbor with a finite ADC distance (r10 review repro)."""
    return (
        _spread(embeddings)
        .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .select(
            F.col(id_col),
            _pq_codes_expr(F.col(vec_col), codebooks).alias("codes"),
        )
    )


def _ivfpq_scored(
    queries: DataFrame,
    corpus: DataFrame,
    quantizers: dict,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, neighbor_id, d_m) — the IVF-PQ query side, shared by
    :func:`ivfpq_topk` and ``streaming.pipeline.ivfpq_enrich_stream``:
    each query's ``n_probe`` cells and its ADC table are one per-row
    projection (both quantizers plan literals, no state, no collect)
    exploded to |Q|·n_probe broadcast rows; candidates are the
    (id, codes, cell) ``corpus`` rows of a probed cell (an equi-join on
    ``cell``), each scored by m int64 table lookups (micro²-units)."""
    q_side = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            _ivf_probe_cells_expr(F.col(vec_col), quantizers["centroids"], n_probe)
        ).alias("cell"),
        _adc_table_expr(F.col(vec_col), quantizers["codebooks"]).alias("_qtab"),
    )
    return (
        corpus.withColumnsRenamed({id_col: "neighbor_id"})
        .join(F.broadcast(q_side), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _adc_pair_dist().alias("d_m"))
    )


def ivfpq_topk(
    queries: DataFrame,
    index: AnnIndex,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the production ANN composition (faiss's IndexIVFPQ shape)
    — IVF cell probing bounds WHICH vectors are scored
    (corpus·n_probe/n_lists candidates per query), PQ/ADC bounds WHAT is
    read to score them (m small ints per candidate, never the vector),
    so no corpus vector is read at serve time.

    ``index`` is the (id, codes, cell) relation plus both quantizers, as
    a handle from :func:`ivfpq_index` or :func:`load_ann_index` (built
    once, at 100 TB by :func:`write_ivfpq_index`, partitioned BY CELL on
    disk).  Serving cost is the probe ranking (|Q|·n_lists scores) + an
    ADC sum over the candidate code rows; ``k`` is the query-time top-k.

    Returns squared-L2 ADC distances (on unit vectors d² = 2 - 2·cos).

    r10 expression form: both quantizer halves fold into the plan as
    int64 micro-unit literals, the query side is one |Q|-row projection
    (:func:`_ivfpq_scored`), and scoring is a broadcast equi-join on
    ``cell`` plus m array lookups per candidate.  The only exchange in
    the whole serve is the per-query top-k window; the arithmetic (and
    every oracle hash) is unchanged from the relational r8 form.

    The probe prune: the query batch's probed cells (≤ |Q|·n_probe
    distinct values, always ≤ n_lists — a bounded driver collect)
    become a STATIC partition filter on the corpus rows, so a persisted
    cell-partitioned index lists and reads ONLY the probed cells' files,
    the faiss read pattern the layout exists for."""
    corpus, quantizers = _unpack_ivfpq_index(index)
    qcells = queries.select(
        F.explode(
            _ivf_probe_cells_expr(F.col(vec_col), quantizers["centroids"], n_probe)
        ).alias("cell")
    ).distinct()
    probed = [r["cell"] for r in qcells.collect()]  # ≤ n_lists values
    scored = _ivfpq_scored(
        queries, corpus.filter(F.col("cell").isin(probed)), quantizers,
        n_probe, id_col, vec_col,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d_m"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("d_m") / 1e12, 6).alias("approx_dist2"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_base: int = 7000,
) -> DataFrame:
    """X2 embedding-cosine near-dup: self-join within multi-table LSH
    buckets only, keep pairs with cosine ≥ threshold.  At cos 0.95 a pair
    matches an 8-bit table with ≈0.43 probability; over 6 tables recall
    ≈0.96, while each table's buckets hold ~n/256 of the corpus — no
    crossJoin anywhere.

    The bucket table is persisted before the self-join — without that
    marker both join sides recompute the full signature pipeline (the
    table is rows × n_tables of fixed longs, so the cache is tiny even
    at corpus scale).  The same family, persisted by
    ``write_lsh_index(n_planes=8, n_tables=6, seed_base=7000)``, is the
    index ``stream_near_dup_filter`` admits new rows against."""
    from .dedup import _persist_generation

    corpus = _spread(embeddings)
    banded = _persist_generation(
        "embedding_near_dups.buckets",
        bucket_table(corpus, id_col, vec_col, n_planes, n_tables, dim, seed_base),
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.t") == F.col("r.t"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("vec_a"),
            F.col(f"r.{id_col}").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = _scoring_side(corpus, id_col, vec_col, "vec_a", "q")
    vb = _scoring_side(corpus, id_col, vec_col, "vec_b", "n")
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", _pair_cosine())
        .filter(F.col("cos_sim") >= threshold)
    )


def prototype_sums(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact int64 micro-unit class-SUM prototypes, long form: one row
    per (label, dim position) with ``_sm`` = Σ round(val·1e6) over the
    class — THE prototype definition :func:`centroid_assign` ranks
    against, factored out so the offline assignment and the streaming
    serve (``streaming.pipeline.stream_domain_tag``, which collects this
    table as its plan-literal artifact) score against one construction
    that cannot drift.  Persist the output parquet as the domain-model
    artifact: labels × dims rows, tiny at any corpus size."""
    vm = F.round(F.col("_val").cast("double") * 1e6).cast("long")
    return (
        embeddings.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("pos", "_val"),
        )
        .select("label", "pos", vm.alias("_vm"))
        .groupBy("label", "pos")
        .agg(F.sum("_vm").alias("_sm"))
    )


def label_centroid_elements(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label element-wise mean embedding, long form: one row per
    (label, dim position) with the centroid value — class prototypes for
    clustering-based curation / nearest-centroid labeling.

    Exactness: each float is promoted to double, scaled to integer
    micro-units, and SUMmed as int64 — summation-order-independent, so
    Spark at any parallelism and a SQL oracle agree bit-for-bit (the same
    trick every exact-sum aggregate in this repo uses).  The mean divides
    once at the end in double and rounds to 6 dp.

    Scale: posexplode → groupBy(label, pos) is one shuffle carrying
    (label, dim, partial-sum) after map-side combine — bounded by
    |labels| x dims per partition, not corpus size."""
    ex = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "_val"),
    )
    micro = ex.select(
        "label",
        "pos",
        F.round(F.col("_val").cast("double") * 1e6).cast("long").alias("_m"),
    )
    per = micro.groupBy("label", "pos").agg(
        F.sum("_m").alias("_s"), F.count(F.lit(1)).alias("n_vecs")
    )
    return per.select(
        "label",
        "pos",
        "n_vecs",
        F.round(F.col("_s").cast("double") / 1e6 / F.col("n_vecs"), 6).alias(
            "centroid_val"
        ),
    )


def centroid_assign(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-prototype classification: assign every vector to the label
    whose class prototype it has the largest dot product with — the
    quality/domain-classifier step of an embedding-based curation
    pipeline (cluster once, then label the whole corpus).

    The prototype is the class SUM vector (equals mean-ordering when
    classes are near-balanced, as the fixtures are; unbalanced classes
    would divide by class size, trading exactness for a double compare).
    All arithmetic is int64 micro-units — vectors and prototype sums snap
    to 1e-6, products are summed exactly — so any partitioning and the
    SQL oracle agree bit-for-bit.  Overflow bound: Σ|vm·sm| over dims must
    stay under 2^63 ≈ 9.2e18 — with unit-scale vectors (|val| ≤ 1, so
    vm ≤ 1e6) and 64 dims that holds up to class sizes of ~1e5
    (64 · 1e6 · 1e5·1e6 = 6.4e18); larger classes or unnormalized
    vectors need a coarser 1e-3 scale.

    Dataflow at 100 TB: the prototype table is |labels| × dims (tiny,
    broadcast); the corpus explodes to (id, pos, val) and fans out by
    |labels| through the broadcast join — N·d·k products, the inherent
    nearest-centroid cost — then aggregates per (id, label) with map-side
    combine and ranks per id.  The corpus never shuffles whole vectors."""
    vm = F.round(F.col("_val").cast("double") * 1e6).cast("long")
    ex = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(F.col(vec_col)).alias("pos", "_val"),
    ).select("vec_id", "pos", vm.alias("_vm"))
    proto = prototype_sums(embeddings, label_col, vec_col)
    scored = (
        ex.join(F.broadcast(proto), "pos")
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("_vm") * F.col("_sm")).alias("_s2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_s2"), F.asc("label"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("label").alias("pred_label"),
            F.round(F.col("_s2").cast("double") / 1e12, 6).alias("score"),
        )
    )


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Array-form wrapper over :func:`label_centroid_elements`: one row per
    label with the centroid as ``array<double>`` (ordered by dim) — the
    shape downstream ANN/IVF components consume.  collect_list is made
    order-deterministic by sorting (pos, val) structs."""
    el = label_centroid_elements(embeddings, label_col, vec_col)
    assembled = el.groupBy("label").agg(
        F.max("n_vecs").alias("n_vecs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))),
            lambda s: s["centroid_val"],
        ).alias("centroid"),
    )
    return assembled


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    method: str = "exact",
    n_planes: int = 8,
    n_tables: int = 6,
    dim: int = 64,
    seed_base: int = 7000,
) -> DataFrame:
    """Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023,
    arXiv:2303.09540 — public paper): cluster the embedding space, then
    drop near-duplicate members WITHIN each cluster, keeping the
    lowest-id representative of every duplicate neighborhood.

    Pipeline: nearest-prototype cluster assignment
    (:func:`centroid_assign` — exact int64 micro-unit dots, broadcast
    prototypes) → within-cluster pair join with exact fold-cosine →
    drop any vector that has a lower-id neighbor at cos ≥ threshold.
    Output: (vec_id, pred_label, kept) for the whole corpus.

    Scale notes: the pair join is keyed on the cluster id, so pair cost
    is Σ|cluster|² — the SemDeDup design point: with k ≈ √n clusters the
    quadratic term is bounded at n·√n ≪ n², and clusters are processed
    independently (perfectly parallel).  The corpus never crossJoins.
    Demo threshold on the random-vector fixtures is lower than the
    paper's 0.95+ production setting (fixtures have no true semantic
    dups; tests plant them).

    ``method="lsh"`` is the IMPLEMENTED escape hatch for the regime
    where even n·√n is too much (mega-clusters at 10⁹⁺ vectors):
    candidates must share a hyperplane-LSH bucket IN ADDITION to the
    cluster — pair cost drops from Σ|cluster|² to Σ over
    (cluster × table × bucket) cells, ~|cluster|²/2^n_planes per table.
    The trade is recall: an exact duplicate hashes identically in every
    table and is ALWAYS caught, near-dups at cos ≥ threshold are caught
    at the (n_planes, n_tables) bucketing recall — the same math as
    :func:`embedding_near_duplicates`, whose bucket construction this
    reuses verbatim.  Exact cosine still verifies every candidate, so
    ``method`` can only shrink the dropped set, never corrupt it."""
    if method not in ("exact", "lsh"):
        raise ValueError(f"method={method!r}: expected 'exact' or 'lsh'")
    corpus = _spread(embeddings)
    # Persist the assignment: both pair-join sides reference it, and an
    # unpersisted frame would re-run the whole prototype pipeline per
    # side (2 id+label columns per corpus row — tiny to cache; the same
    # inline-index precedent as embedding_near_duplicates' bucket table).
    from .dedup import _persist_generation

    asg = _persist_generation(
        "semdedup.assign",
        centroid_assign(corpus, label_col, vec_col, id_col)
        .select(F.col("vec_id"), F.col("pred_label")),
    )
    a = asg.select(F.col("vec_id").alias("vec_a"), "pred_label")
    b = asg.select(F.col("vec_id").alias("vec_b"), "pred_label")
    if method == "lsh":
        # bucket-refined candidates: join key (pred_label, t, bucket)
        # instead of pred_label alone — the bucket table is the exact
        # embedding_near_duplicates construction (shuffle-free build)
        bk = _persist_generation(
            "semdedup.buckets",
            bucket_table(
                corpus, id_col, vec_col, n_planes, n_tables, dim, seed_base
            ),
        )
        a = a.join(bk.withColumnsRenamed({id_col: "vec_a"}), "vec_a")
        b = b.join(bk.withColumnsRenamed({id_col: "vec_b"}), "vec_b")
        cand = (
            a.join(b, ["pred_label", "t", "bucket"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b")
            .distinct()  # a pair may collide in several tables
        )
    else:
        cand = a.join(b, "pred_label").filter(
            F.col("vec_a") < F.col("vec_b")
        )
    va = _scoring_side(corpus, id_col, vec_col, "vec_a", "q")
    vb = _scoring_side(corpus, id_col, vec_col, "vec_b", "n")
    dropped = (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", _pair_cosine())
        .filter(F.col("cos_sim") >= threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return asg.join(dropped, "vec_id", "left").select(
        "vec_id",
        "pred_label",
        F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
    )


def ann_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    index: AnnIndex,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the LSH ANN against exact brute-force ground truth —
    the eval harness every ANN deployment runs before trusting the index
    (tune n_planes/n_tables until measured recall meets the target, then
    ship).  Output: (query_id, n_hits, recall_at_k) per query.

    Both sides use identical fold-cosine arithmetic and (cos desc, id)
    tie-breaks, so the comparison measures BUCKETING loss only, never
    float drift.  Cost: the exact side is the brute-force scan — run it
    on a sampled query set (queries ≪ corpus, broadcast), which is how
    recall is estimated at 100 TB; the ANN side serves the LSH
    ``index`` handle (:func:`lsh_index` or :func:`load_ann_index`), so
    its queries are hashed with the family the index was built with."""
    approx = lsh_topk(
        embeddings, queries, index, k, id_col=id_col, vec_col=vec_col
    )
    exact = brute_force_topk(embeddings, queries, k, id_col, vec_col)
    return recall_vs_exact(approx, exact, k)


def recall_vs_exact(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k of any (query_id, neighbor_id) result set
    against the exact ground truth — the shared scoring join behind
    :func:`ann_recall` and the IVF variant."""
    a = approx.select("query_id", F.col("neighbor_id").alias("a_neighbor"))
    hits = exact.join(
        a,
        (exact.query_id == a.query_id) & (exact.neighbor_id == a.a_neighbor),
        "left",
    ).select(exact.query_id, a.a_neighbor)
    return (
        hits.groupBy("query_id")
        .agg(F.count("a_neighbor").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.round(F.col("n_hits") / F.lit(float(k)), 6).alias(
                f"recall_at_{k}"
            ),
        )
    )


def norm_outliers(embeddings: DataFrame, z_thresh: float = 2.0) -> DataFrame:
    """Embedding QA: per-vector shape statistics z-scored against the
    corpus.  The scored statistic is the L1/L2 ratio — a unit-free
    spread measure (≈1 for one-hot-spiky vectors, ≈√d for evenly spread
    mass), so it stays informative on L2-normalized corpora where the
    raw norm is constant by construction; vectors whose mass
    concentration is |z| > threshold away from the corpus profile are
    flagged before they poison ANN buckets or cosine thresholds.  The
    raw L2 norm rides along (unnormalized batches show up there).

    Exactness: ratios round to 6 dp, scale to int64 micro-units, and
    SUM exactly (order-independent — any partitioning and the SQL
    oracle agree); mean/std/z are single double expressions over those
    exact sums.  A zero-variance corpus yields z = 0 / no outliers
    (guarded, not a divide-by-zero).

    Dataflow: one projection, one 1-row global aggregate broadcast back
    over the corpus (the text.py unigram-total pattern) — no corpus
    shuffle at all."""
    d = _dbl(F.col("embedding"))
    l1 = F.aggregate(
        F.transform(d, lambda x: F.abs(x)), F.lit(0.0), lambda a, x: a + x
    )
    base = embeddings.select(
        "vec_id",
        F.round(l2_norm(d), 6).alias("l2_norm"),
        F.round(l1 / l2_norm(d), 6).alias("l1_ratio"),
    )
    rm = F.round(F.col("l1_ratio") * 1e6).cast("long")
    stats = base.select(rm.alias("_rm")).agg(
        F.sum("_rm").alias("_s1"),
        F.sum(F.col("_rm") * F.col("_rm")).alias("_s2"),
        F.count(F.lit(1)).alias("_n"),
    )
    mean = F.col("_s1").cast("double") / F.col("_n") / 1e6
    var = F.col("_s2").cast("double") / F.col("_n") / 1e12 - mean * mean
    sd = F.sqrt(var)
    z = F.when(sd > 0, (F.col("l1_ratio") - mean) / sd).otherwise(F.lit(0.0))
    return base.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        "l2_norm",
        "l1_ratio",
        F.round(z, 6).alias("z_score"),
        (F.abs(z) > F.lit(z_thresh)).alias("is_outlier"),
    )


# ------------------------------------------------- random projection (X19)
#
# Johnson-Lindenstrauss sketching (Achlioptas 2001: a ±1 sign matrix is a
# valid JL projection) — the cheapest dimensionality reduction that
# preserves pairwise angles to within the JL distortion, used to shrink
# embedding tables before a brute-force or ANN pass (a 64→16 reduction
# cuts every downstream dot product, norm, and shuffle byte 4×).


def rp_signs(out_dim: int, dim: int, seed: int = 2026) -> list[list[int]]:
    """The ±1 projection matrix (out_dim × dim), seeded — THE single
    source of truth shared by the Spark plan and the SQL oracle twin
    (same discipline as :func:`_micro_weights`)."""
    import random

    rng = random.Random(seed)
    return [
        [1 if rng.random() < 0.5 else -1 for _ in range(dim)]
        for _ in range(out_dim)
    ]


def rp_signs_sql(out_dim: int, dim: int, seed: int = 2026) -> str:
    """DuckDB ``VALUES`` literal of the EXACT sign matrix —
    ``(j, s)`` rows, 1-based j, ``s`` a ``dim``-element ±1 list."""
    rows = ", ".join(
        f"({j + 1}, {row})" for j, row in enumerate(rp_signs(out_dim, dim, seed))
    )
    return f"(VALUES {rows}) AS signs(j, s)"


def rp_project(
    embeddings: DataFrame,
    out_dim: int = 16,
    dim: int = 64,
    seed: int = 2026,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "rvec",
) -> DataFrame:
    """(id, rvec: array<double>) — the JL-reduced vector table,
    shuffle-free (the same FileScan → Project → 1-row-broadcast shape as
    :func:`bucket_table`: the sign matrix travels as DATA in one
    broadcast row, each output component is a codegen'd higher-order
    ``aggregate(zip_with(...))`` dot, zero exchanges).

    Arithmetic is exact: inputs snap to int64 micro-units and each
    component is an int64 signed sum (order-free), then converts to
    double LOSSLESSLY (|component| ≤ dim·1e6·|v| ≪ 2^53) — so the
    reduced table, and every cosine computed from it, is bit-identical
    at any parallelism and in the DuckDB twin (:func:`rp_signs_sql`).
    Null/empty vectors are dropped, matching :func:`bucket_table`;
    shorter vectors contribute the overlapping prefix (nulls → 0)."""
    spark = embeddings.sparkSession
    stab = spark.createDataFrame(
        [(rp_signs(out_dim, dim, seed),)], "s array<array<int>>"
    )
    vm = F.transform(
        _dbl(F.col(vec_col)), lambda x: F.round(x * 1e6).cast("long")
    )
    rvec = F.expr(
        "transform(s, row -> CAST(aggregate(zip_with(_vm, row, "
        " (x, y) -> coalesce(x * CAST(y AS BIGINT), CAST(0 AS BIGINT))), "
        " CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE))"
    )
    return (
        embeddings.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .select(F.col(id_col), vm.alias("_vm"))
        .join(F.broadcast(stab))
        .select(id_col, rvec.alias(out_col))
    )


_RP_FAMILY = ("out_dim", "dim", "seed")


def _unpack_rp_index(index: AnnIndex) -> tuple[DataFrame, dict]:
    """((id, rvec) rows, {out_dim, dim, seed}) from an RP
    :class:`AnnIndex` — the ONE reader of the record :func:`rp_index`
    writes, shared by :func:`rp_topk` and :func:`extend_ann_index`, so
    queries are projected through the sign matrix the corpus was: a
    different seed would compare vectors projected through different
    matrices, cosine soup.  Refuses ``out_dim`` or ``dim`` below 1."""
    return index.df, _int_family(_index_record(index, "rp"), _RP_FAMILY, "rp index")


def rp_index(
    embeddings: DataFrame,
    out_dim: int = 16,
    dim: int = 64,
    seed: int = 2026,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> AnnIndex:
    """The RP index of ``embeddings`` as an :class:`AnnIndex`: ``df`` is
    the JL-reduced (id, rvec) table of :func:`rp_project`, ``quantizer``
    the record ``{kind: rp, out_dim, dim, seed}`` — the sign matrix is a
    pure function of it (:func:`rp_signs`).  The same handle
    ``load_ann_index`` returns for the index :func:`write_rp_index`
    persists; a record the reader would refuse is never built."""
    record = {"kind": "rp", "out_dim": out_dim, "dim": dim, "seed": seed}
    family = _int_family(record, _RP_FAMILY, "rp index")
    return AnnIndex(
        rp_project(embeddings, **family, id_col=id_col, vec_col=vec_col), record
    )


def rp_topk(
    queries: DataFrame,
    index: AnnIndex,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k in the reduced space: the queries are
    projected with the sign matrix ``index``'s record names (a handle
    from :func:`rp_index` or :func:`load_ann_index`), then the exact
    scorer runs unchanged over the stored ``out_dim``-wide corpus
    vectors — every pair costs ``out_dim/dim`` of the full-width scan.
    Same contract as :func:`lsh_topk`/:func:`ivf_topk`, so
    :func:`recall_vs_exact` evaluates it against full-width brute force
    directly."""
    corpus, family = _unpack_rp_index(index)
    q = rp_project(queries, **family, id_col=id_col, vec_col=vec_col)
    return brute_force_topk(corpus, q, k=k, id_col=id_col, vec_col="rvec")


def write_rp_index(
    embeddings: DataFrame,
    path: str,
    out_dim: int = 16,
    dim: int = 64,
    seed: int = 2026,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Persist the index :func:`rp_index` builds at ``path`` — at 100 TB
    the 4× narrower (id, rvec) relation is what every downstream
    similarity pass scans instead of the full-width embeddings.  The
    rows are written flat and the record ``{kind: rp, out_dim, dim,
    seed}`` as the ``_quantizer.json`` sidecar.  Returns rows written."""
    return _persist_index(
        rp_index(embeddings, out_dim, dim, seed, id_col, vec_col), path
    )


#: kind → (record reader, in-memory constructor, partition columns) of
#: every vector index family; ``_persist_index`` and
#: :func:`extend_ann_index` dispatch on a record's kind through it
_VECTOR_FAMILIES = {
    "lsh": (_unpack_lsh_index, lsh_index, ("t",)),
    "ivf": (_unpack_ivf_index, ivf_index, ("cell",)),
    "ivfpq": (_unpack_ivfpq_index, ivfpq_index, ("cell",)),
    "rp": (_unpack_rp_index, rp_index, ()),
}
