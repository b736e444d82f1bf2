"""Structured Streaming pipelines over the events feed (SURVEY.md §2.10).

The reference is a micro-batch incremental ingester: durable progress state
(checkpoint JSON, ``div_link_handler.py:57-71``), idempotent per-unit sink
(fixed filename per unit, ``:291-293``), re-delivery handled by overwrite.
Here that contract maps onto Spark's own machinery:

- offsets/commit log  → ``checkpointLocation`` (replaces hand-rolled JSON);
- exactly-once-ish sink → ``foreachBatch`` + dynamic partition overwrite
  (idempotent per partition, like the reference's fixed filenames);
- late/re-delivered data → watermark + ``dropDuplicates`` on the event key;
- daily grain → tumbling windows; sliding/session windows as extensions.

Every transformation is defined batch/stream-agnostically: the same
function works on a batch DataFrame (tested against the DuckDB oracle via
``queries.events_daily_by_type``) and on a readStream DataFrame — one code
path, two execution modes.  At 100 TB/day the aggregations are standard
watermarked stateful ops: state is bounded by (watermark horizon × key
cardinality), not stream length.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of the events feed (one file = one micro-batch in
    tests; a Kafka source would drop in unchanged downstream)."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def dedup_late_events(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked exactly-once-per-event view: re-delivered event_ids are
    dropped; state for ids older than the watermark is reclaimed."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def dedup_within_watermark(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Dedup with BOUNDED state and per-key re-admission
    (``dropDuplicatesWithinWatermark``, Spark 3.5+): an event_id is
    dropped only if a copy arrived within the watermark delay; after
    state expiry the same id is admitted again.

    This is the right dedup for at-least-once transports at 100 TB/day:
    ``dropDuplicates`` on a watermarked stream keys state by (id, ts) —
    a re-delivery with a *jittered* timestamp (broker retry, clock skew)
    is NOT a duplicate to it, while this operator compares ids alone
    within the time bound, which is the actual re-delivery window of the
    transport.  State size ~ ids per watermark window, not ids ever."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def tumbling_counts(
    events: DataFrame, size: str = "1 day", watermark: str = "1 day"
) -> DataFrame:
    """Daily-grain aggregation (the reference's one-run-per-day cadence) as
    a tumbling event-time window.  Works identically on batch input."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").cast("date").alias("day"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_value_avg(
    events: DataFrame, size: str = "1 hour", slide: str = "15 minutes"
) -> DataFrame:
    """Sliding-window moving average of event values.  The average is the
    exact-decimal-sum / count pattern so batch results hash-match the
    DuckDB oracle (each event lands in size/slide windows — the oracle
    reproduces Spark's epoch-aligned window grid arithmetically).

    Rounding is done in INTEGER arithmetic (micro-units, half-up via the
    (2a+b) DIV 2b identity on the exact ratio): ``round(double, 6)`` of a
    sum/count double sits one ulp apart across engines exactly at .5
    boundaries — observed on one row at sf0.1.  The sign split keeps both
    division operands non-negative, where trunc ≡ floor in every engine."""
    s = F.sum((F.col("value").cast("decimal(18,4)") * 10000).cast("long"))
    n = F.count(F.lit(1))
    micro = F.when(
        F.col("sum_scaled") >= 0, F.expr("(sum_scaled * 200 + n) DIV (2 * n)")
    ).otherwise(-F.expr("((-sum_scaled) * 200 + n) DIV (2 * n)"))
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", size, slide).alias("win"), "event_type")
        .agg(s.alias("sum_scaled"), n.alias("n"))
        .withColumn("avg_value", micro / F.lit(1000000.0))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "avg_value",
            "n",
        )
    )


def user_sessions(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity — the streaming analog of the reference's per-commodity
    work unit boundaries."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("session_value"))
        .select("win.start", "win.end", "user_id", "n_events", "session_value")
    )


def clicks_with_recent_purchase(
    events: DataFrame, lookback: str = "10 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Stream-stream interval join: each click joined to the same user's
    purchases in the preceding ``lookback`` window.

    Both sides carry watermarks and the join predicate bounds event-time
    distance, so Spark can reap join state older than
    (watermark + lookback) — state is bounded by purchase rate × window,
    not stream length.  Identical code runs in batch (the watermark is a
    no-op there), which is how the test cross-checks the result."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .alias("c")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .alias("p")
    )
    return clicks.join(
        purchases,
        F.expr(
            f"c.user_id = p.user_id AND "
            f"p.ts BETWEEN c.ts - interval {lookback} AND c.ts"
        ),
    ).select(
        F.col("c.event_id").alias("click_id"),
        F.col("c.user_id").alias("user_id"),
        F.col("c.ts").alias("click_ts"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.value").alias("purchase_value"),
    )


def enrich_with_static(
    events: DataFrame, dim: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Stream-static enrichment join (§2.10): each micro-batch of the
    stream joins the static dimension — Spark re-plans the static side
    per batch, so a broadcast-sized dim costs one broadcast per trigger
    and no streaming state at all (unlike stream-stream joins there is
    nothing to watermark).  The classic use: tag events with slowly
    changing reference data (user tier, geo, experiment arm).  Identical
    code runs in batch, which is how the test cross-checks it.

    Generic over the stream schema: every stream column passes through
    unchanged (in stream order), followed by the dim's non-key columns —
    no hardcoded event column list to silently drop or mismatch."""
    return events.join(F.broadcast(dim), key, "left").select(
        *events.columns, *[c for c in dim.columns if c != key]
    )


def _staged_query_buckets(
    rows: DataFrame, family: dict, id_col: str, vec_col: str
) -> DataFrame:
    """Project stream rows through the shuffle-free bucket signature with
    their scoring columns CARRIED on-row (a stream cannot re-join itself
    to fetch them back).  ``family`` is the hash family
    ``similarity._unpack_lsh_index`` read from the corpus index record,
    so both sides hash with the same hyperplanes.  Shared by every LSH
    stream serve so the staging cannot drift between them."""
    from ..operators.similarity import _dbl, bucket_table, l2_norm

    d = _dbl(F.col(vec_col))
    staged = rows.select(
        F.col(id_col), F.col(vec_col), d.alias("_vq"), l2_norm(d).alias("_nq")
    )
    return bucket_table(
        staged, id_col, vec_col, **family, carry=(vec_col, "_vq", "_nq")
    )


def ann_enrich_stream(
    queries: DataFrame,
    index,
    corpus_vectors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming ANN serving: each micro-batch of query vectors is
    enriched with its approximate top-k neighbors from a STATIC indexed
    corpus — the online half of the "index once, serve many" pattern
    (the batch half builds the index with ``similarity.write_lsh_index``
    and serves it with ``similarity.lsh_topk``).

    Composition is entirely stream-legal: the query-side bucket signature
    is the same shuffle-free per-row projection the batch path uses (a
    1-row static weights broadcast — no state), with the query vector's
    scoring columns CARRIED through the bucket rows (a stream cannot
    re-join itself to fetch them back — that would be an unsupported
    stream-stream self-join); candidates come from a stream-static
    equi-join on (t, bucket), scoring joins the static vector table, and
    the per-query top-k is a streaming aggregation (collect → sort →
    slice inside the agg — streaming forbids the batch path's row_number
    window).  State per query id is its candidate list; emit with
    update/complete mode.

    ``index`` (an LSH ``AnnIndex`` from ``similarity.lsh_index`` or
    ``similarity.load_ann_index``) supplies the bucket relation AND the
    exact hash family the index was built with; no hash parameter is
    taken beside it (r7 review: raw int defaults let a parameter drift
    silently degrade recall to chance).  ``corpus_vectors`` is the
    static (id, vector) table candidates are scored against; ``k`` is
    the query-time top-k.

    Returns (query_id, topk: array<struct<neighbor_id, cos_sim>>)."""
    from ..operators.similarity import (
        _pair_cosine,
        _scoring_side,
        _unpack_lsh_index,
    )

    corpus_buckets, family = _unpack_lsh_index(index)
    q_b = _staged_query_buckets(
        queries, family, id_col, vec_col
    ).drop(vec_col).withColumnsRenamed({id_col: "query_id"})
    cand = q_b.join(
        corpus_buckets.withColumnsRenamed({id_col: "neighbor_id"}),
        ["t", "bucket"],
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.join(
        _scoring_side(corpus_vectors, id_col, vec_col, "neighbor_id", "n"),
        "neighbor_id",
    ).select("query_id", "neighbor_id", _pair_cosine())
    # distinct (multi-table collisions) then top-k, both inside one
    # streaming-legal aggregation: collect the candidate set, order by
    # (cos desc, id asc) — the batch tie-break — and slice k.
    topk = F.slice(
        F.array_sort(
            F.collect_set(F.struct(
                (-F.col("cos_sim")).alias("_neg"),
                F.col("neighbor_id").alias("neighbor_id"),
                F.col("cos_sim").alias("cos_sim"),
            ))
        ),
        1,
        k,
    )
    return scored.groupBy("query_id").agg(
        F.transform(
            topk, lambda s: F.struct(s.neighbor_id, s.cos_sim)
        ).alias("topk")
    )


def ivfpq_enrich_stream(
    queries: DataFrame,
    index,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming IVF-PQ serving: each micro-batch of query vectors is
    enriched with its approximate top-k from the PERSISTED
    cell-partitioned index (``similarity.write_ivfpq_index`` →
    ``load_ann_index``) — the memory-bound production counterpart of
    :func:`ann_enrich_stream` (codes, never raw corpus vectors).

    Stream-legal composition: the batch path's query side
    (``similarity._ivfpq_scored``) — probe cells AND the per-query ADC
    lookup table as per-row expressions over the record's quantizers,
    no state, no collect — joined to the static (id, codes, cell)
    relation.  The batch path's static-partition prune needs a driver
    collect of the probed cells, which a stream cannot do, so the prune
    here happens in the stream-static equi-join on ``cell`` instead —
    same rows read per micro-batch, pruned by the join rather than the
    listing.  The per-query top-k is the same streaming
    collect-sort-slice aggregation as the LSH server.

    ``index`` is an IVF-PQ handle (``similarity.ivfpq_index`` or
    ``load_ann_index``); ``k`` is the query-time top-k.

    Returns (query_id, topk: array<struct<neighbor_id, approx_dist2>>).
    """
    from ..operators.similarity import _ivfpq_scored, _unpack_ivfpq_index

    corpus, quantizers = _unpack_ivfpq_index(index)
    scored = _ivfpq_scored(queries, corpus, quantizers, n_probe, id_col, vec_col)
    topk = F.slice(
        F.array_sort(
            F.collect_set(F.struct(
                F.col("d_m").alias("_d"),
                F.col("neighbor_id").alias("neighbor_id"),
                F.round(F.col("d_m") / 1e12, 6).alias("approx_dist2"),
            ))
        ),
        1,
        k,
    )
    return scored.groupBy("query_id").agg(
        F.transform(
            topk, lambda s: F.struct(s.neighbor_id, s.approx_dist2)
        ).alias("topk")
    )


def stream_margin_align(
    queries: DataFrame,
    side_a_vectors: DataFrame,
    stats_a,
    index,
    k: int | None = None,
    threshold_ppm: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming FORWARD margin mining (X25 online half): each micro-batch
    of incoming documents' embeddings is matched against a static aligned
    corpus (side A) and admitted with its best ratio-margin candidate —
    the Artetxe & Schwenk 2019 forward direction, where the target-side
    neighborhood statistics are PRECOMPUTED
    (:func:`operators.alignment.side_neighborhood_stats`) because a
    stream cannot rank the static side against rows it has not seen.
    Mutual-best (the batch :func:`~..operators.alignment.xlingual_margin_align`)
    needs both directions and stays batch; this is the admission-control
    form — "does this incoming doc have a margin-confident translation in
    the reference corpus?".

    Stream-legal composition, mirroring :func:`ann_enrich_stream`:
    query-side bucket signatures are shuffle-free per-row projections
    with scoring columns carried on-row, candidates come from a
    stream-static (t, bucket) equi-join, side-A neighborhood stats join
    as a broadcast static table, and the single streaming aggregation
    collects each query's candidate set (sorted by cosine desc — the
    first k entries ARE the query-side neighborhood).  The margin is
    computed POST-agg with the same integer half-up ppm identity as the
    batch operator — floor division runs as the exact
    ``(n − pmod(n, d)) / d`` long trick (operands all positive and far
    under 2^53, so the double division is exact).

    ``index`` is the LSH ``AnnIndex`` of side A
    (``similarity.lsh_index`` or ``similarity.load_ann_index``): its
    record names the hash family the queries are bucketed with, and no
    family argument is taken beside it.  ``stats_a`` is either a loaded
    :class:`~..operators.alignment.NeighborhoodStats` artifact — the
    mismatch-proof form: ``k`` comes from the artifact's sidecar, an
    explicit ``k`` that CONFLICTS with it raises, and so does an index
    whose family differs from the one an LSH-built artifact records
    (margins over mismatched candidate pools are silently wrong) — or a
    bare stats DataFrame (``k`` defaults to 4).  ``k`` is capped at
    ``MAX_NEIGHBORHOOD_K`` (47): past it the long floor-division below
    exceeds 2^53 and streaming margins could drift 1 ppm from the batch
    operator's DECIMAL-exact values.

    Returns (query_id, src_id, cos_sim, margin) for admitted queries —
    one row per stream doc whose best candidate clears ``threshold_ppm``.
    """
    from ..operators.alignment import MAX_NEIGHBORHOOD_K, NeighborhoodStats
    from ..operators.similarity import (
        _pair_cosine,
        _scoring_side,
        _unpack_lsh_index,
    )

    corpus_buckets, family = _unpack_lsh_index(index)
    if isinstance(stats_a, NeighborhoodStats):
        if k is not None and k != stats_a.k:
            raise ValueError(
                f"explicit k={k} conflicts with the stats artifact's "
                f"k={stats_a.k}; serving must use the artifact's parameters"
            )
        if stats_a.lsh is not None and stats_a.lsh != family:
            raise ValueError(
                f"index hash family {family} conflicts with the stats "
                f"artifact's {stats_a.lsh}; margins over mismatched "
                "candidate pools are silently wrong"
            )
        k = stats_a.k
        stats_a = stats_a.df
    elif k is None:
        k = 4
    if not 1 <= k <= MAX_NEIGHBORHOOD_K:
        raise ValueError(
            f"k must be in [1, {MAX_NEIGHBORHOOD_K}] (long-arithmetic "
            f"exactness bound), got {k}"
        )
    q_b = (
        _staged_query_buckets(queries, family, id_col, vec_col)
        .drop(vec_col)
        .withColumnsRenamed({id_col: "query_id"})
    )
    cand = q_b.join(
        corpus_buckets.withColumnsRenamed({id_col: "src_id"}), ["t", "bucket"]
    )
    scored = (
        cand.join(
            _scoring_side(side_a_vectors, id_col, vec_col, "src_id", "n"),
            "src_id",
        )
        .select("query_id", "src_id", _pair_cosine())
        .withColumn("c", F.round(F.col("cos_sim") * 1e6).cast("long"))
        .filter(F.col("c") > 0)
        .join(F.broadcast(stats_a), "src_id")
    )
    # ONE streaming aggregation: the deduped candidate set (collect_set
    # folds multi-table collisions), sorted (c desc, src_id asc) so the
    # first k entries are the query-side top-k neighborhood.
    cands = F.array_sort(
        F.collect_set(
            F.struct(
                (-F.col("c")).alias("_negc"),
                F.col("src_id").alias("src_id"),
                F.col("c").alias("c"),
                F.col("sum_c").alias("sum_a"),
                F.col("n_c").alias("n_a"),
            )
        )
    )
    agg = scored.groupBy("query_id").agg(cands.alias("_cands"))
    topk = F.slice(F.col("_cands"), 1, k)
    staged = agg.select(
        "query_id",
        "_cands",
        F.aggregate(
            topk, F.lit(0).cast("long"), lambda acc, s: acc + s["c"]
        ).alias("_sum_b"),
        F.size(topk).cast("long").alias("_n_b"),
    )

    def _margin_ppm(s):
        d = s["sum_a"] * F.col("_n_b") + F.col("_sum_b") * s["n_a"]
        num = 2 * (s["c"] * F.lit(2_000_000) * s["n_a"] * F.col("_n_b")) + d
        den = 2 * d
        return ((num - F.pmod(num, den)) / den).cast("long")

    # min struct under keys (-margin, -c, src_id) = the batch tie-break
    # (margin desc, c desc, src_id ASC) — src_id compares ASC natively,
    # so parity holds for ANY orderable id type (the earlier array_max
    # form negated src_id arithmetically, silently narrowing stream/batch
    # parity to numeric ids; string doc ids would have thrown).  Two
    # chained transforms so the margin arithmetic runs ONCE per candidate
    # (no CSE exists across lambda sub-expressions), and array_min picks
    # the best in O(n) — the candidate set is the whole LSH pool, not
    # top-k, so a full sort would be wasted work on the serve hot path.
    margined = F.transform(
        F.col("_cands"),
        lambda s: F.struct(
            _margin_ppm(s).alias("margin_ppm"),
            s["c"].alias("c"),
            s["src_id"].alias("src_id"),
        ),
    )
    best = F.array_min(
        F.transform(
            margined,
            lambda s: F.struct(
                (-s["margin_ppm"]).alias("_negm"),
                (-s["c"]).alias("_negc"),
                s["src_id"].alias("src_id"),
                s["margin_ppm"].alias("margin_ppm"),
                s["c"].alias("c"),
            ),
        )
    )
    return (
        staged.select("query_id", best.alias("_best"))
        .filter(F.col("_best.margin_ppm") >= threshold_ppm)
        .select(
            "query_id",
            F.col("_best.src_id").alias("src_id"),
            (F.col("_best.c") / F.lit(1e6)).alias("cos_sim"),
            (F.col("_best.margin_ppm") / F.lit(1e6)).alias("margin"),
        )
    )


def stream_near_dup_filter(
    rows: DataFrame,
    index,
    corpus_vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming ADMISSION CONTROL against the corpus: drop incoming rows
    whose embedding is near-duplicate (cos ≥ threshold) to anything in
    the static index — run in front of the gold sink so re-crawled /
    mirrored / re-encoded content never lands (the embedding-space
    counterpart of `sink_corpus_batch`'s exact content-hash anti-join).

    Stream-legal composition: the incoming row (with its scoring
    columns) is CARRIED through the shuffle-free bucket projection, LEFT
    joins the static bucket index on (t, bucket) — rows with no
    collision must survive, and a stream cannot left-join back to itself
    — then candidates score against the static vector table and a
    streaming aggregation keeps rows whose best match stays below the
    threshold.  An exact duplicate hashes into identical buckets in
    EVERY table, so it is always caught regardless of LSH recall;
    near-dups are caught at the bucketing recall of the index's
    (n_planes, n_tables), same math as `embedding_near_duplicates`
    (whose family is ``lsh_index(n_planes=8, n_tables=6,
    seed_base=7000)``).

    Returns the admitted rows (id, vector, max_corpus_sim); identical
    code runs in batch, which is how the test cross-checks it.

    POLICY: rows with a null/empty embedding cannot be scored and are
    DROPPED (the bucket projection excludes them) — they are neither
    admitted nor rejected here.  Route un-embeddable content through the
    exact content-hash path (`sink_corpus_batch`) or a quarantine before
    this filter; the test pins the drop so the policy cannot change
    silently.

    ``index`` (an LSH ``AnnIndex``) supplies the bucket relation AND
    the exact hash family, and nothing else does, like
    :func:`ann_enrich_stream`: incoming rows hashed with another family
    than the corpus miss their own exact copies.  ``corpus_vectors`` is
    the static (id, vector) table; ``threshold`` the query-time cosine
    cut."""
    from ..operators.similarity import (
        _pair_cosine,
        _scoring_side,
        _unpack_lsh_index,
    )

    corpus_buckets, family = _unpack_lsh_index(index)
    q_b = _staged_query_buckets(rows, family, id_col, vec_col)
    # NO self-exclusion: unlike lsh_topk, incoming rows are not corpus
    # members — a re-crawl that kept its corpus id but re-encoded its
    # content MUST still be compared against (and rejected by) its own
    # corpus copy; filtering 'self' here admitted exactly that near-dup.
    cand = q_b.join(
        corpus_buckets.withColumnsRenamed({id_col: "neighbor_id"}),
        ["t", "bucket"],
        "left",
    )
    scored = cand.join(
        _scoring_side(corpus_vectors, id_col, vec_col, "neighbor_id", "n"),
        "neighbor_id",
        "left",
    ).select(
        id_col,
        vec_col,
        F.coalesce(_pair_cosine(), F.lit(-1.0)).alias("_sim"),
    )
    return (
        scored.groupBy(id_col, vec_col)
        .agg(F.max("_sim").alias("max_corpus_sim"))
        .filter(F.col("max_corpus_sim") < threshold)
    )


def stream_quality_filter(
    rows: DataFrame,
    weights: list[float],
    keep_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Streaming QUALITY admission: score each incoming document with a
    trained linear quality model (operators/classifier — weights from an
    offline ``fit_lr`` / ``gradient_step_weights`` run, passed as
    literals) and admit only rows the model keeps.  Train offline, serve
    online: the whole filter is a stateless row-local projection — the
    same exact micro-unit integer dot product the oracle-gated batch
    query uses — so it is stream-legal at any rate, adds no state, and
    batch ≡ stream bit-for-bit (pytest-pinned).

    Returns (doc_id, *keep_cols, quality_logit).  POLICY: rows whose
    text is null can't be featurized (null features ⇒ null verdict) and
    are DROPPED, mirroring `stream_near_dup_filter`'s un-scoreable
    policy — route them through quarantine before this filter; the test
    pins the drop."""
    from ..operators.classifier import (
        classifier_features,
        score_with_literal_weights,
    )
    from ..operators.text import quality_features

    feats = classifier_features(
        quality_features(rows, keep=keep_cols), keep=keep_cols
    )
    scored = score_with_literal_weights(feats, weights, keep=keep_cols)
    return scored.where(F.col("keep")).select(
        "doc_id", *keep_cols, F.col("logit").alias("quality_logit")
    )


def stream_dsir_filter(
    rows: DataFrame,
    model: dict,
    min_logratio: float,
    keep_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Streaming DOMAIN admission: score each incoming document's DSIR
    importance log-ratio against a fitted hashed-ngram model
    (operators/importance.fit_dsir_model — fit offline on a pool/target
    pair, persisted via save_dsir_model) and admit only documents that
    look at least ``min_logratio`` more target-like than raw.  The
    ≤ n_buckets delta map folds into the plan as a literal, so the whole
    filter is a stateless per-row projection — no explode, no join, no
    state; batch ≡ stream bit-for-bit (pytest-pinned).

    Returns (doc_id, *keep_cols, logratio).  POLICY: rows whose text
    yields no features score NULL and are DROPPED (the
    `stream_quality_filter` un-scoreable policy — quarantine first)."""
    from ..operators.importance import score_with_literal_model

    scored = score_with_literal_model(rows, model, keep=keep_cols)
    return scored.where(F.col("logratio") >= float(min_logratio)).select(
        "doc_id", *keep_cols, "logratio"
    )


def stream_perplexity_filter(
    rows: DataFrame,
    lit_model: dict,
    min_avg_logprob: float,
    keep_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Streaming FLUENCY admission (the CCNet perplexity gate as an
    online filter): score each incoming document under a plan-literal
    capped stupid-backoff trigram model
    (operators/text.trigram_literal_model — fitted offline on a
    reference corpus via fit_trigram_model, capped top-count n-grams
    pulled into the plan) and admit only documents whose mean token
    log-prob clears ``min_avg_logprob``.  The maps fold into the plan as
    literals and the score is one per-row ``aggregate`` over token
    positions — no explode, no join, no state; batch ≡ stream
    bit-for-bit (pytest-pinned).

    Returns (doc_id, *keep_cols, n_tokens, avg_logprob).  POLICY: rows
    with no tokens score NULL and are DROPPED (the shared un-scoreable
    policy — quarantine first)."""
    from ..operators.text import score_with_literal_trigram

    scored = score_with_literal_trigram(rows, lit_model, keep=keep_cols)
    return scored.where(F.col("avg_logprob") >= float(min_avg_logprob)).select(
        "doc_id", *keep_cols, "n_tokens", "avg_logprob"
    )


def stream_record_match_filter(
    rows: DataFrame,
    catalog: DataFrame,
    id_col: str = "p_partkey",
    name_jaccard_min: float = 0.5,
    price_tol: float = 50.0,
    match_m: int | None = None,
) -> DataFrame:
    """Streaming record-linkage ADMISSION: drop incoming catalog records
    that MATCH (Fellegi-Sunter score ≥ ``match_m``) an entry already in
    the static reference catalog — the entity-resolution counterpart of
    `stream_near_dup_filter`, run in front of the catalog sink so
    re-scraped / reformatted product listings never land twice.

    Stream-legal composition, same shape as the embedding filter: the
    incoming record's comparison columns are per-row projections
    (``linkage.record_side`` — no state), candidates come from a LEFT
    stream-static equi-join on the (brand, size) blocking key (LEFT so
    records with an empty block must survive — a stream cannot re-join
    itself to recover dropped rows), the pair score is the SAME
    ``pair_score_cols`` arithmetic the oracle-gated batch query uses,
    and a streaming aggregation per incoming record keeps rows whose
    best catalog score stays below the match threshold.

    Returns admitted rows (rid, bk1, bk2, max_catalog_score_m);
    identical code runs in batch, which is how the test cross-checks
    stream ≡ batch."""
    from ..operators.linkage import MATCH_M, pair_score_cols, record_side

    if match_m is None:
        match_m = MATCH_M
    inc = record_side(rows, id_col).alias("a")
    cat = record_side(catalog, id_col).alias("b")
    scored = inc.join(
        cat, (F.col("a.bk1") == F.col("b.bk1")) & (F.col("a.bk2") == F.col("b.bk2")), "left"
    ).select(
        F.col("a.rid").alias("rid"),
        F.col("a.bk1").alias("bk1"),
        F.col("a.bk2").alias("bk2"),
        # a disagreeing-on-everything pair scores -2800, NOT null, so an
        # empty block must be detected via the join key itself (CASE over
        # null agreement flags would silently take every .otherwise())
        F.when(
            F.col("b.rid").isNotNull(),
            pair_score_cols(name_jaccard_min, price_tol)["score_m"],
        )
        .otherwise(F.lit(-(10**9)))
        .alias("_score_m"),
    )
    return (
        scored.groupBy("rid", "bk1", "bk2")
        .agg(F.max("_score_m").alias("max_catalog_score_m"))
        .filter(F.col("max_catalog_score_m") < match_m)
    )


def run_to_memory(
    df: DataFrame, name: str, spark: SparkSession, mode: str = "complete"
) -> DataFrame:
    """Drive a streaming query to completion synchronously against the
    in-memory sink (test/driver harness).  ``complete`` for aggregations;
    stateless projections/joins need ``append``."""
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def sink_events_batch(batch: DataFrame, batch_id: int, root: str) -> None:
    """Idempotent per-micro-batch silver write (the foreachBatch body,
    exposed for direct replay testing).

    Partitioning includes ``ingest_batch_id`` so the overwrite grain is
    exactly one micro-batch: a crash-replayed batch dynamically overwrites
    only its own ``(event_date, ingest_batch_id)`` subpartitions — the
    streaming analog of the reference's fixed-filename-per-unit overwrite
    (``div_link_handler.py:291-293``).  Partitioning by ``event_date``
    alone would NOT be idempotent here: two micro-batches routinely share
    an event_date, so a dynamic overwrite at date grain would clobber
    earlier batches' rows.  Readers prune on ``event_date`` exactly as
    before (prefix of the partition path); a nightly compaction can fold
    the batch level away once the stream's retention window passes."""
    batch.sparkSession.conf.set(
        "spark.sql.sources.partitionOverwriteMode", "dynamic"
    )
    (
        batch.withColumn("event_date", F.col("ts").cast("date"))
        .withColumn("ingest_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("event_date", "ingest_batch_id")
        .parquet(f"{root}/events_silver")
    )


def write_events_silver(
    events: DataFrame, root: str, checkpoint: str
) -> "StreamingQuery":  # noqa: F821 - py doc only
    """L2-L6 as streaming: foreachBatch + checkpointLocation give replay-
    safe exactly-once landing — Spark's commit log replaces the reference's
    scraper_checkpoint.json, and :func:`sink_events_batch` makes the replay
    of an uncommitted batch overwrite rather than duplicate."""
    return (
        events.writeStream.foreachBatch(
            lambda b, bid: sink_events_batch(b, bid, root)
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )


#: reserved ingest_batch_id for compacted data — a real micro-batch id is
#: always ≥ 0, so the compacted directory can never collide with one
COMPACTED_BATCH_ID = -1


def compact_events_silver(
    spark: SparkSession, root: str, before_date: str | None = None
) -> dict[str, int]:
    """Nightly compaction promised by :func:`sink_events_batch`'s layout:
    the streaming sink partitions by (event_date, ingest_batch_id) so a
    replayed micro-batch overwrites exactly itself, but a long-running
    stream accumulates one sub-directory (and ≥1 small file) PER
    micro-batch per date — the classic small-files problem that makes a
    100 TB listing metadata-bound.  Once a date is outside the stream's
    replay window its batch level carries no information, so each such
    date's rows fold into ONE file under the reserved batch directory
    ``ingest_batch_id=-1``.  The layout stays uniform — every date still
    contains only ``ingest_batch_id=*`` dirs, so partition discovery
    never sees conflicting column names mid-compaction — and readers
    prune on ``event_date`` exactly as before.

    ``before_date`` is the replay horizon (ISO date): only strictly
    older dates are compacted.  Pass it whenever the stream is live —
    compacting a replayable date would let a crash-replayed micro-batch
    re-land rows next to the compacted copy and duplicate them.  The
    ``None`` default means "compact everything" and is only safe for
    terminated streams.

    Crash safety is write-ahead with a SOURCE MANIFEST (r7 review fixes):
    (1) the date's merged rows land in an underscore-prefixed staging dir
    (invisible to readers) with Spark's ``_SUCCESS`` marker, then a
    ``_compact_manifest.json`` naming exactly the source dirs the
    snapshot covers — a snapshot is complete only when BOTH exist; (2)
    the manifest'd source dirs are deleted; (3) the staging dir moves
    into place.  A re-run resumes from whichever step crashed, comparing
    the manifest against the CURRENT source listing:

    - manifest == current sources → finish (delete + move).  This runs
      REGARDLESS of this invocation's ``before_date``: a completed
      snapshot whose sources were already (partially) deleted may be the
      only copy of those rows, so a smaller horizon must never strand —
      or worse, garbage-collect — it.
    - new dirs landed after staging, none deleted yet → the snapshot is
      stale but redundant; discard it and restart from the live sources
      (subject to the horizon, as a fresh compaction).
    - new dirs landed AND some manifest'd dirs are already deleted → the
      snapshot is the sole copy of the deleted rows; merge snapshot +
      surviving sources into a ``.merge`` generation, swap it in, then
      finish.  The swap is itself crash-safe: a complete ``.merge`` is
      detected and promoted on the next run before anything else.

    Only staging dirs this run has consumed (or proven redundant) are
    removed; completed snapshots are never bulk-deleted.

    Local-filesystem paths only (os-level dir ops; a cluster deployment
    would drive the same protocol through the Hadoop FileSystem API)."""
    import json
    import shutil

    from ..util import require_local_path

    require_local_path(root)
    base = os.path.join(root, "events_silver")
    staging_root = os.path.join(root, "_compact_staging")
    stats = {"dates_compacted": 0, "batch_dirs_removed": 0}
    if not os.path.isdir(base):
        return stats
    compacted_dir = f"ingest_batch_id={COMPACTED_BATCH_ID}"
    manifest_name = "_compact_manifest.json"

    def staging_complete(path: str) -> bool:
        return os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(
            os.path.join(path, manifest_name)
        )

    def write_snapshot(paths: list[str], dest: str, covers: list[str]) -> None:
        spark.read.parquet(*paths).repartition(1).write.mode(
            "overwrite"
        ).parquet(dest)
        # manifest LAST: its presence marks the snapshot complete
        with open(os.path.join(dest, manifest_name), "w") as f:
            json.dump(sorted(covers), f)

    for date_dir in sorted(os.listdir(base)):
        full = os.path.join(base, date_dir)
        if not (date_dir.startswith("event_date=") and os.path.isdir(full)):
            continue
        staging = os.path.join(staging_root, date_dir)
        merge_staging = staging + ".merge"
        # a completed .merge generation is a finished swap that lost its
        # rename — promote it before reading any state; an incomplete one
        # is scratch (base staging + sources still cover everything)
        if staging_complete(merge_staging):
            shutil.rmtree(staging, ignore_errors=True)
            shutil.move(merge_staging, staging)
        else:
            shutil.rmtree(merge_staging, ignore_errors=True)
        staged_ok = staging_complete(staging)
        horizon_skip = (
            before_date is not None
            and date_dir[len("event_date="):] >= before_date
        )
        sources = [
            d for d in os.listdir(full) if d.startswith("ingest_batch_id=")
        ]
        covered: list[str] = []
        if staged_ok:
            with open(os.path.join(staging, manifest_name)) as f:
                covered = json.load(f)
            new_dirs = sorted(set(sources) - set(covered))
            deleted = sorted(set(covered) - set(sources))
            if new_dirs and not deleted:
                # crash before any deletion: sources intact, snapshot
                # stale — discard and treat as a fresh compaction below
                shutil.rmtree(staging)
                staged_ok = False
            elif new_dirs:
                # snapshot is the sole copy of `deleted`; fold the
                # surviving sources in via a new generation, then swap
                write_snapshot(
                    [staging] + [os.path.join(full, d) for d in new_dirs],
                    merge_staging,
                    covered + new_dirs,
                )
                shutil.rmtree(staging)
                shutil.move(merge_staging, staging)
                covered = sorted(covered + new_dirs)
        if not staged_ok:
            real = [d for d in sources if d != compacted_dir]
            if horizon_skip or not real:
                continue  # nothing to fold (or date inside replay window)
            covered = sorted(sources)
            write_snapshot(
                [os.path.join(full, d) for d in sources], staging, covered
            )
        # the staged snapshot holds every covered row; deletions below can
        # crash at any point and a re-run resumes via the manifest
        for d in covered:
            if os.path.isdir(os.path.join(full, d)):
                shutil.rmtree(os.path.join(full, d), ignore_errors=True)
                stats["batch_dirs_removed"] += 1
        os.remove(os.path.join(staging, manifest_name))
        shutil.move(staging, os.path.join(full, compacted_dir))
        stats["dates_compacted"] += 1
    # only scratch can remain: completed snapshots were all consumed above
    if os.path.isdir(staging_root) and not os.listdir(staging_root):
        os.rmdir(staging_root)
    return stats



def sink_corpus_batch(batch: DataFrame, batch_id: int, gold_path: str) -> None:
    """Per-micro-batch corpus landing: within-batch exact content dedup
    (keep lowest doc_id per normalized-content hash) then an anti-join
    against every content_hash already in gold, append survivors.

    Idempotence here is CONTENT-level, stronger than the partition-grain
    overwrite of :func:`sink_events_batch`: a crash-replayed batch
    re-runs the history anti-join against a gold that already holds its
    rows, so nothing re-appends — and the same property absorbs
    re-crawled shards with duplicate content.  At scale the history scan
    reads only the 32-byte hash column (parquet pruning), and the append
    belongs in a transactional table format."""
    from ..jobs import _content_hash, _gold_hashes
    from ..operators.dedup import content_hash_dedup
    from ..sources.writer import write_gold

    spark = batch.sparkSession
    hashed = batch.withColumn("content_hash", _content_hash())
    keeps = content_hash_dedup(batch).select(F.col("keep_doc_id").alias("doc_id"))
    deduped = hashed.join(keeps, "doc_id", "left_semi")
    # read-probed existence + eqNullSafe: see _gold_hashes — an os.path
    # check misses URI paths (skipping dedup forever) and a plain
    # anti-join misses NULL hashes (null-text docs re-append)
    history = _gold_hashes(spark, gold_path)
    if history is not None:
        deduped = deduped.join(
            history,
            deduped["content_hash"].eqNullSafe(history["_gold_hash"]),
            "left_anti",
        )
    write_gold(
        deduped, gold_path, partition_by=("source",), sort_within=("doc_id",),
        mode="append",
    )


def stream_corpus_to_gold(
    documents: DataFrame, gold_path: str, checkpoint: str
) -> "StreamingQuery":  # noqa: F821 - py doc only
    """Continuous-crawl ingestion: a :func:`~..sources.jsonl.stream_jsonl`
    stream lands into the same deduplicated gold table the batch job
    (:func:`~..jobs.run_corpus_ingestion` incremental mode) maintains —
    one content contract, two execution modes.  The file-source +
    checkpoint log give exactly-once per shard; the content-hash
    anti-join gives exactly-once per DOCUMENT even across re-crawls."""
    return (
        documents.writeStream.foreachBatch(
            lambda b, bid: sink_corpus_batch(b, bid, gold_path)
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stream_fertility_filter(
    rows: DataFrame,
    artifact: dict,
    max_fertility_ppm: int,
) -> DataFrame:
    """Streaming TOKENIZER-QUALITY admission (the X27 evaluation as an
    online filter, closing the fit → persist → evaluate → SERVE
    lifecycle like X21's perplexity gate): score each incoming document's
    fertility under a plan-literal tokenizer artifact
    (operators/tokenizers.fertility_stats_literal — bounded artifact in
    the closure, per-batch word memo, no explode/join/state) and admit
    only documents at or below ``max_fertility_ppm``.  High fertility =
    many pieces per word = text the tokenizer segments poorly (gibberish,
    wrong-script, heavy OOV) — a curation signal on the same footing as
    perplexity.  Batch ≡ stream bit-for-bit (pytest-pinned).

    Returns the input columns + (n_words, n_pieces, fertility_ppm).
    POLICY: wordless documents score NULL fertility and are DROPPED (the
    shared un-scoreable policy — quarantine first)."""
    from ..operators.tokenizers import fertility_stats_literal

    scored = fertility_stats_literal(rows, artifact)
    return scored.where(F.col("fertility_ppm") <= int(max_fertility_ppm))


def stream_novelty_filter(
    rows: DataFrame,
    corpus_gram_blooms: DataFrame,
    k: int = 8,
    min_novelty_ppm: int = 500_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_artifact_bytes: int = 64 << 20,
) -> DataFrame:
    """Streaming NOVELTY admission (the X29 memorization profile as an
    online filter, closing its lifecycle the way X21/X27 close theirs):
    score each incoming document's verbatim overlap against a
    corpus-gram Bloom sidecar (operators/bloom — built once offline over
    the gold corpus's k-gram md5 hashes) and admit only documents whose
    novelty stays at or above ``min_novelty_ppm``.  High overlap =
    content the model would memorize rather than learn from (re-posted
    articles, eval-set leakage, boilerplate) — the admission-time
    counterpart of the oracle-gated batch `memorization_profile`.

    Stream-legal shape (the X21/X27 plan-literal pattern): gram hashing
    is a pure Spark projection (the SAME md5-of-token-slice expression as
    the batch operator — hashes never differ between the two paths); the
    bitmaps are collected ONCE into the closure — a bounded artifact,
    validated against ``max_artifact_bytes`` (10 bits/key: 64 MiB covers
    ~5×10⁷ distinct corpus grams; larger corpora raise and route through
    the exact batch path or a bigger cap on bigger executors) — and
    probed inside ``mapInPandas`` with a per-batch gram memo (boilerplate
    grams test once per Arrow batch, not once per occurrence).  No
    explode, no join, no state: safe at any rate, batch ≡ stream
    bit-for-bit (pytest-pinned).

    Bloom semantics make the filter CONSERVATIVE in exactly the safe
    direction: no false negatives means a gram the corpus contains is
    always counted matched (an actually-memorizable document can never
    sneak through), while a false positive only over-counts overlap and
    drops a borderline-novel document the exact batch profile would have
    kept (~fp-rate of the sidecar).  The probe is
    :func:`~..operators.bloom.bloom_closure_probe` — the portable bloom
    spec, verdict parity with `bloom_probe_hashes` pytest-pinned.

    Returns admitted rows: (id, text, n_positions, n_matched_maybe,
    max_overlap_tokens_ub, novelty_ppm).  POLICY: documents shorter than
    ``k`` tokens have no measurable position, score novelty 1e6 and are
    ADMITTED (same convention as the batch profile — gram-level
    memorization risk needs at least one gram)."""
    import pandas as pd

    from ..operators.bloom import bloom_closure_probe
    from ..operators.decontam import gram_hash_array

    if k < 1:  # fail like the batch twin, not deep inside execution
        raise ValueError(f"k must be >= 1, got {k}")
    _maybe = bloom_closure_probe(
        corpus_gram_blooms, max_artifact_bytes, "corpus-gram bloom"
    )

    # the ONE gram-hash expression shared with the oracle-gated batch
    # profile — the two paths cannot drift (decontam.gram_hash_array)
    staged = rows.select(
        F.col(id_col), F.col(text_col), gram_hash_array(text_col, k).alias("_grams")
    )
    out_schema = (
        staged.schema[id_col].dataType.simpleString(),
        staged.schema[text_col].dataType.simpleString(),
    )
    schema = (
        f"{id_col} {out_schema[0]}, {text_col} {out_schema[1]}, "
        "n_positions long, n_matched_maybe long, "
        "max_overlap_tokens_ub long, novelty_ppm long"
    )

    def score(batches):
        for pdf in batches:
            # per-ARROW-BATCH memo, reset each iteration: unlike the
            # fertility filter's word memo (vocabulary-bounded by Zipf),
            # k-gram hashes are near-unique, so a task-lifetime memo
            # would grow with every byte the task ever sees (r14 review
            # finding) — per-batch it is bounded by the batch's grams
            # and still collapses boilerplate repeats within the batch
            memo: dict[str, bool] = {}
            out = []
            for rid, text, hs in zip(
                pdf[id_col], pdf[text_col], pdf["_grams"]
            ):
                hs = list(hs) if hs is not None else []
                npos = len(hs)
                matched = []
                for h in hs:
                    v = memo.get(h)
                    if v is None:
                        v = memo[h] = _maybe(h)
                    matched.append(v)
                runs, cur = [], 0
                for m in matched:
                    if m:
                        cur += 1
                    elif cur:
                        runs.append(cur)
                        cur = 0
                if cur:
                    runs.append(cur)
                n_m = sum(runs)
                out.append(
                    (
                        rid,
                        text,
                        npos,
                        n_m,
                        (max(runs) + k - 1) if runs else 0,
                        (npos - n_m) * 1_000_000 // npos
                        if npos > 0
                        else 1_000_000,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    id_col,
                    text_col,
                    "n_positions",
                    "n_matched_maybe",
                    "max_overlap_tokens_ub",
                    "novelty_ppm",
                ],
            )

    return staged.mapInPandas(score, schema).where(
        F.col("novelty_ppm") >= int(min_novelty_ppm)
    )


def stream_domain_tag(
    rows: DataFrame,
    prototypes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_literal_terms: int = 1 << 18,
) -> DataFrame:
    """Streaming DOMAIN tagging (the X30 serve: label incoming embedding
    rows with their nearest frozen class prototype, the online half of
    "cluster once, tag forever") — route micro-batches to per-domain
    sinks or feed a live domain-mix monitor without touching the corpus.

    ``prototypes`` is :func:`operators.similarity.prototype_sums` output
    (persisted parquet or the frame itself): exact int64 micro-unit
    class-SUM prototypes, labels × dims rows.  It is collected ONCE into
    plan literals (the X21/X27 literal-artifact pattern; bounded by
    ``max_literal_terms`` = labels·dims — raise or use the batch
    :func:`operators.similarity.centroid_assign` past it), and scoring
    is a stateless per-row projection: the vector snaps to int64
    micro-units once (let-bound), each label's dot product folds via
    ``zip_with``+``aggregate``, and the argmax ties break to the
    smallest label — bit-for-bit the batch assignment's arithmetic
    (same rounding, same int64 sums, same tie order; stream ≡
    centroid_assign pytest-pinned).  No join, no shuffle, no state —
    stream-legal at any rate in append mode.

    Returns (id, pred_label, score) with score = round(dot/1e12, 6),
    the batch column convention.  POLICY: rows whose vector is null,
    contains a null element, or is not exactly the artifact's
    dimensionality cannot be scored against the frozen prototypes and
    are DROPPED (the shared un-scoreable policy — quarantine first); the
    test pins the drop.  The artifact itself is validated up front —
    null labels / null sums (fit prototypes on labeled, element-complete
    embeddings) and duplicate (label, pos) rows (an append-mode rewrite
    of the parquet) all refuse loudly instead of scoring against
    arbitrary half-stale prototypes."""
    # bound the artifact BEFORE the full collect: a caller that passes a
    # corpus-sized frame by mistake (the raw embeddings table instead of
    # prototype_sums output) must hit the loud ValueError, not a driver
    # OOM inside .collect() (r14 advisor finding)
    probe = prototypes.select("label", "pos", "_sm").limit(
        max_literal_terms + 1
    ).collect()
    if len(probe) > max_literal_terms:
        raise ValueError(
            f"prototype artifact exceeds max_literal_terms="
            f"{max_literal_terms} rows — is this really prototype_sums "
            "output?  Use the batch centroid_assign (broadcast join) for "
            "large prototype tables"
        )
    protos_rows = probe
    if not protos_rows:
        raise ValueError("empty prototype table — fit prototype_sums first")
    by_label: dict = {}
    for r in protos_rows:
        lab, pos, sm = r["label"], r["pos"], r["_sm"]
        if lab is None or pos is None or sm is None:
            raise ValueError(
                "prototype table has a null label, pos, or _sm — fit "
                "prototype_sums on labeled, element-complete embeddings"
            )
        pos = int(pos)
        d = by_label.setdefault(lab, {})
        if pos in d:
            raise ValueError(
                f"duplicate (label, pos) row in prototype table: "
                f"({lab!r}, {pos}) — appended/rewritten artifact?"
            )
        d[pos] = int(sm)
    dims = {max(v) + 1 for v in by_label.values()}
    if len(dims) != 1 or any(
        len(v) != max(v) + 1 for v in by_label.values()
    ):
        raise ValueError(
            "prototype table is ragged — labels disagree on dimensionality "
            f"or have position gaps: dims={sorted(dims)}"
        )
    dim = dims.pop()
    if len(by_label) * dim > max_literal_terms:
        raise ValueError(
            f"prototype artifact has {len(by_label)}x{dim} terms > "
            f"max_literal_terms={max_literal_terms}: use the batch "
            "centroid_assign (broadcast join) instead of plan literals"
        )
    labels = sorted(by_label)

    # house exact-int64 primitives (similarity._mu/_ldot — the ONE
    # micro-unit snap and dot the batch path compiles to) and the
    # single-expr literal renderer (similarity._long_array_lit — the
    # element-wise F.array(F.lit(...)) form pays one py4j round-trip per
    # term, ~4 s of driver time per ~800 literals by the r10 bench)
    from ..operators.similarity import _ldot, _long_array_lit, _mu

    vm = F.col("_vm")
    sc = {
        lab: _ldot(vm, _long_array_lit([by_label[lab][i] for i in range(dim)]))
        for lab in labels
    }
    staged = rows.filter(
        F.col(vec_col).isNotNull()
        & (F.size(vec_col) == dim)
        & ~F.exists(F.col(vec_col), lambda v: v.isNull())
    ).select(F.col(id_col), _mu(F.col(vec_col)).alias("_vm"))
    best = F.greatest(*[sc[lab] for lab in labels]) if len(labels) > 1 else sc[labels[0]]
    pred = None
    for lab in reversed(labels):
        cond = sc[lab] == F.col("_best")
        pred = F.when(cond, F.lit(lab)) if pred is None else F.when(
            cond, F.lit(lab)
        ).otherwise(pred)
    # reversed + overwrite-on-match: the FIRST (smallest) label at the
    # max wins — the batch window's (desc _s2, asc label) tie order
    return staged.withColumn("_best", best).select(
        id_col,
        pred.alias("pred_label"),
        F.round(F.col("_best").cast("double") / 1e12, 6).alias("score"),
    )


def stream_split_tag(
    rows: DataFrame,
    entities: DataFrame,
    cutoff: str,
    embargo_days: int = 1,
    id_col: str = "event_id",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming X33 split tagging: label incoming events
    (train | embargo | val_warm | val_cold) against a FROZEN
    :func:`~..operators.splits.train_entities` artifact — route late
    backfills and live traffic to the correct side of a temporal
    holdout without ever recomputing the split.

    The entity table is a stream-static LEFT equi-join (append-legal:
    the static side is bounded by |train entities| and Spark re-plans
    it per micro-batch), and the label is the SAME
    :func:`~..operators.splits.split_expr` the batch constructor
    compiles to — factored expression, so stream ≡ batch bit-for-bit
    by construction (pytest-pinned).  No state, no watermark needed in
    append mode."""
    from ..operators.splits import split_expr, with_seen_flag

    staged = with_seen_flag(
        rows.select(id_col, user_col, ts_col), entities, user_col
    )
    return staged.select(
        id_col,
        split_expr(cutoff, embargo_days, ts_col).alias("split"),
    )


def stream_quality_tag(
    rows: DataFrame,
    weights: DataFrame,
    lp_table: DataFrame,
    cutoffs: DataFrame,
    min_votes: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    max_literal_terms: int = 1 << 15,
) -> DataFrame:
    """Streaming X35 quality tagging: score incoming documents with the
    FROZEN ensemble — the online half of "fit the voters once on a
    reference corpus, tag every later crawl shard forever".  Emits the
    batch :func:`~..operators.ensemble.quality_ensemble` columns
    ``(doc_id, logit, clf_vote, ppl_bucket, ppl_vote, gopher_vote,
    votes, keep)`` and, on the reference corpus itself, matches the
    batch plan bit-for-bit (pytest-pinned).

    Frozen artifacts (fit once, persist, serve many):

    - ``weights`` — the 1-row :func:`~..operators.classifier.
      gradient_step_weights` frame; its ``w_<col>`` values become plan
      literals through :func:`~..operators.classifier.
      score_with_literal_weights` (identical micro-unit arithmetic).
    - ``lp_table`` — :func:`~..operators.text.unigram_lp_table` output,
      collected into ONE map literal (bounded by ``max_literal_terms``;
      the unigram vocabulary after the house tokenizer is Zipf-bounded,
      but past the bound fall back to the batch scorer — a corpus-sized
      map literal would blow up codegen).  OOV policy: a term absent
      from the frozen vocabulary scores the artifact's MINIMUM lp_micro
      (the rarest-known-word proxy — conservative: unknown vocabulary
      reads as low fluency, never as high); pinned by test.
    - ``cutoffs`` — :func:`~..operators.text.ppl_tercile_cutoffs`
      output (|langs| rows): a document buckets head/middle/tail by
      comparing its avg_logprob against the frozen per-language bucket
      minima, which reproduces the reference corpus's histogram
      bucketing exactly (atomic score groups, rank-contiguous buckets).
      A language absent from the artifact — or a token-less document —
      reads ``tail`` (no fluency evidence, the ensemble's conservative
      default).

    Stateless per-row projection end to end (the gopher/classifier
    pipelines are pure projections; the LM lookup is a staged map
    literal, never a join): append-legal at any rate, no watermark, no
    state."""
    from ..operators.classifier import (
        FEATURE_COLS,
        classifier_features,
        score_with_literal_weights,
    )
    from ..operators.text import gopher_rules, quality_features, tokens

    if not 1 <= int(min_votes) <= 3:
        raise ValueError(f"min_votes must be in [1, 3], got {min_votes}")
    wrows = weights.limit(2).collect()
    if len(wrows) != 1:
        raise ValueError(
            "weights must be the 1-row gradient_step_weights frame, got "
            f"{len(wrows)} rows"
        )
    wd = wrows[0].asDict()
    missing = [c for c in FEATURE_COLS if f"w_{c}" not in wd]
    if missing:
        raise ValueError(f"weights frame missing w_ columns for {missing}")
    if any(wd[f"w_{c}"] is None for c in FEATURE_COLS):
        # a fit on an EMPTY corpus aggregates to one row of NULL weights
        # — refuse like every other corrupt-artifact path instead of a
        # float(None) TypeError (r16 review finding)
        raise ValueError(
            "weights frame carries NULL w_ values (fit on an empty "
            "corpus?) — refit gradient_step_weights on real documents"
        )
    w = [float(wd[f"w_{c}"]) for c in FEATURE_COLS]

    # bound BEFORE the full collect (the stream_domain_tag discipline): a
    # corpus-sized frame passed by mistake must refuse, not OOM the driver
    lp_rows = lp_table.select("term", "lp_micro").limit(
        int(max_literal_terms) + 1
    ).collect()
    if len(lp_rows) > int(max_literal_terms):
        raise ValueError(
            f"lp_table exceeds max_literal_terms={max_literal_terms}; "
            "score with the batch unigram scorer (stream-static join) "
            "or raise the bound"
        )
    if not lp_rows:
        raise ValueError("empty lp_table — fit unigram_lp_table first")
    if any(r["term"] is None or r["lp_micro"] is None for r in lp_rows):
        raise ValueError("lp_table carries null terms/lp_micro — corrupt artifact")
    oov_floor = min(int(r["lp_micro"]) for r in lp_rows)
    lp_map = F.create_map(
        *[x for r in lp_rows for x in (F.lit(r["term"]), F.lit(int(r["lp_micro"])))]
    )

    crows = cutoffs.select("lang", "head_min", "mid_min").collect()
    if not crows or any(
        r["lang"] is None or r["head_min"] is None for r in crows
    ):
        raise ValueError(
            "cutoffs must carry (lang, head_min[, mid_min]) rows with "
            "non-null lang/head_min — fit ppl_tercile_cutoffs first"
        )
    head_map = F.create_map(
        *[x for r in crows for x in (F.lit(r["lang"]), F.lit(float(r["head_min"])))]
    )
    mids = [r for r in crows if r["mid_min"] is not None]
    mid_map = (
        F.create_map(
            *[x for r in mids for x in (F.lit(r["lang"]), F.lit(float(r["mid_min"])))]
        )
        if mids
        else F.lit(None).cast("map<string,double>")
    )

    base = rows.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.col(lang_col).alias("lang"),
    )
    g = gopher_rules(base, keep=("text", "lang")).select(
        "doc_id",
        "text",
        "lang",
        F.coalesce(F.col("keep"), F.lit(0)).alias("gopher_vote"),
    )
    f = classifier_features(
        quality_features(g, keep=("text", "lang", "gopher_vote")),
        keep=("text", "lang", "gopher_vote"),
    )
    clf = score_with_literal_weights(
        f, w, keep=("text", "lang", "gopher_vote")
    )
    # stage the token array AND the map literals as bound columns: a map
    # literal referenced inside the aggregate lambda would re-evaluate
    # per element (the text.py _let rule)
    staged = clf.select(
        "doc_id",
        "logit",
        F.coalesce(F.col("keep").cast("int"), F.lit(0)).alias("clf_vote"),
        "gopher_vote",
        "lang",
        F.coalesce(tokens("text"), F.array().cast("array<string>")).alias(
            "_toks"
        ),
    ).withColumns({"_lp": lp_map, "_hm": head_map, "_mm": mid_map})
    n = F.size("_toks")
    lp_sum = F.aggregate(
        F.col("_toks"),
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.coalesce(
            F.element_at(F.col("_lp"), t), F.lit(int(oov_floor))
        ),
    )
    avg = F.when(n > 0, F.round(lp_sum / n / 1e6, 6))
    head_min = F.element_at(F.col("_hm"), F.col("lang"))
    mid_min = F.element_at(F.col("_mm"), F.col("lang"))
    scored = staged.withColumns(
        {"_avg": avg, "_head": head_min, "_mid": mid_min}
    )
    bucket = (
        F.when(F.col("_avg").isNull() | F.col("_head").isNull(), "tail")
        .when(F.col("_avg") >= F.col("_head"), "head")
        .when(
            F.col("_mid").isNotNull() & (F.col("_avg") >= F.col("_mid")),
            "middle",
        )
        .otherwise("tail")
    )
    ppl_vote = (bucket != "tail").cast("int")
    votes = (F.col("clf_vote") + ppl_vote + F.col("gopher_vote")).cast("int")
    return scored.select(
        "doc_id",
        "logit",
        "clf_vote",
        bucket.alias("ppl_bucket"),
        ppl_vote.alias("ppl_vote"),
        "gopher_vote",
        votes.alias("votes"),
        (votes >= int(min_votes)).alias("keep"),
    )


def stream_shard_admission_filter(
    rows: DataFrame,
    index,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming X32 admission: drop incoming documents whose estimated
    MinHash Jaccard against the corpus band index reaches ``threshold``
    — the text-space counterpart of :func:`stream_near_dup_filter`, run
    in front of the gold sink so re-crawled/mirrored text never lands.

    ``index`` is the minhash ``AnnIndex`` handle
    (:func:`~..operators.dedup.minhash_index` or ``load_ann_index``);
    the rows are signatured and banded with the (n_bands, k, portable)
    its record names.

    Stream-legal composition (the near-dup-filter shape): the signature
    is :func:`~..operators.dedup.minhash_signature` — a pure PROJECTION
    (parity with ``minhash_table`` pytest-pinned), because the table
    form's groupBy would be a second stateful operator here — banded
    with the SAME :func:`~..operators.dedup.band_struct_array` keys the
    index was built with, LEFT-joined against the static band index
    (rows with no collision must survive; a stream cannot anti-join
    itself), signatures join back per candidate, and ONE streaming
    aggregation keeps rows whose best estimate stays below threshold.

    Returns admitted rows ``(id, text, max_corpus_est)`` with −1.0 for
    no-candidate rows.  SCOPE: this covers the NEW-vs-CORPUS direction;
    two near-duplicates arriving in the SAME micro-batch do not compare
    to each other — new-vs-new is the batch
    :func:`~..operators.dedup.shard_admission_report`'s job (or the
    foreachBatch extend loop, which indexes each admitted batch before
    the next arrives).  NO self-exclusion, same rationale as the
    embedding filter: a re-crawl keeping its corpus id must still match
    its own indexed copy."""
    from ..operators.dedup import (
        _sig_agreement,
        _unpack_minhash_index,
        band_struct_array,
        minhash_signature,
    )

    index_bands, index_sigs, n_bands, k, portable = _unpack_minhash_index(index)
    staged = rows.select(
        F.col(id_col),
        F.col(text_col),
        minhash_signature(text_col, k, portable).alias("sig_a"),
    )
    banded = staged.select(
        id_col,
        text_col,
        "sig_a",
        F.explode(band_struct_array(F.col("sig_a"), n_bands)).alias("bk"),
    ).select(id_col, text_col, "sig_a", "bk.band", "bk.key")
    cand = banded.join(
        index_bands.withColumnsRenamed({id_col: "_corpus_id"}),
        ["band", "key"],
        "left",
    )
    scored = cand.join(
        index_sigs.select(
            F.col(id_col).alias("_corpus_id"), F.col("sig").alias("sig_b")
        ),
        "_corpus_id",
        "left",
    ).select(
        id_col,
        text_col,
        F.coalesce(_sig_agreement(), F.lit(-1.0)).alias("_est"),
    )
    return (
        scored.groupBy(id_col, text_col)
        .agg(F.max("_est").alias("max_corpus_est"))
        .filter(F.col("max_corpus_est") < threshold)
    )


def stream_span_corruption(
    rows: DataFrame,
    block_size: int = 16,
    max_span: int = 4,
    min_block: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming X34 span-corruption example emission: apply
    :func:`~..operators.corruption.span_corruption_examples` to a
    document stream — T5 denoising pairs minted online as shards land,
    the example-construction stage of a training pipeline run as a
    continuous job instead of a backfill.

    The constructor is a PURE PER-ROW PROJECTION (zero exchanges,
    plan-pinned), so it is append-legal with no state, no watermark, and
    no stream-static join; span selection hashes (doc_id, block), so a
    document produces the SAME example whether it arrives in a
    micro-batch or a backfill — stream ≡ batch bit-for-bit
    (test_corruption.test_constructors_are_stream_legal).  This wrapper
    exists so the serve story is uniform with the other frozen-artifact
    filters (X20/X21/X27/X35); applying the batch operator to the
    streaming frame directly is equally supported."""
    from ..operators.corruption import span_corruption_examples

    return span_corruption_examples(
        rows,
        block_size=block_size,
        max_span=max_span,
        min_block=min_block,
        id_col=id_col,
        text_col=text_col,
    )


def stream_fim_examples(
    rows: DataFrame,
    min_tokens: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming X34 fill-in-the-middle example emission: apply
    :func:`~..operators.corruption.fim_examples` to a document stream.
    Same contract as :func:`stream_span_corruption` — pure projection +
    filter, append-legal with no state, cut points hash doc_id alone, so
    stream ≡ batch bit-for-bit (pytest-pinned)."""
    from ..operators.corruption import fim_examples

    return fim_examples(
        rows, min_tokens=min_tokens, id_col=id_col, text_col=text_col
    )


def stream_holdout_tag(
    rows: DataFrame,
    train_gram_blooms: DataFrame,
    eval_gram_blooms: DataFrame,
    train_meta: dict,
    eval_meta: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_artifact_bytes: int = 64 << 20,
) -> DataFrame:
    """Streaming X36 holdout tagging: route incoming documents
    train / eval / quarantine against a FROZEN
    :func:`~..operators.splits.decontaminated_holdout` split, protecting
    the split's guarantee in BOTH directions — ``min_hits`` applies
    SYMMETRICALLY:

    - a hash-selected EVAL candidate is probed against the frozen
      TRAIN-gram bloom and quarantined on >= ``min_hits`` maybe-hits —
      eval never admits text the training side already contains;
    - a TRAIN-side arrival is probed against the frozen CLEAN-EVAL-gram
      bloom and quarantined on >= ``min_hits`` maybe-hits — newly
      admitted training text cannot silently pile verbatim overlap onto
      the frozen eval set (the re-check gap a train-side-only serve
      would leave open).  The SAME threshold on purpose: with
      ``min_hits > 1`` a fixed >=1 guard here would quarantine
      fit-corpus train documents that legitimately share up to
      ``min_hits - 1`` grams with clean eval (clean means
      sub-threshold, not zero), breaking the batch ≡ serve replay
      parity this tagger is pinned to; the cost is that a train
      arrival sharing up to ``min_hits - 1`` grams with the frozen
      eval side is admitted — the exact tolerance the batch builder
      already accepted when it declared that eval side clean.

    ``train_meta`` / ``eval_meta`` are the two blooms' split records:
    the sidecar dicts :func:`~..operators.bloom.load_hash_bloom` returns
    for the training-data build's blooms (or a
    :data:`~..operators.splits.SPLIT_SIDECAR` record).  The tagger takes
    the gram width ``k``, ``min_hits`` and the selection mode from them
    and from nowhere else: each passes
    :func:`~..operators.splits.split_params`, and two records that
    disagree are refused — both blooms must come from one split.

    Candidacy is the SAME rule as the batch builder that froze the
    split (:func:`~..operators.splits.holdout_candidacy`): hash mode
    uses the portable md5 projection, so a document's side never
    depends on arrival time; temporal mode uses the X33 time boundary.
    Grams are the batch builder's
    :func:`~..operators.dedup.string_shingles` hashed with md5 in-plan
    (one pure projection); both sidecars are bounded plan-literal
    artifacts (validated against ``max_artifact_bytes``) probed inside
    one ``mapInPandas`` with a per-batch gram memo — no explode, no
    join, no state: append-legal at any rate.  Unplaceable rows (NULL
    id; NULL timestamp in temporal mode) quarantine with NULL stats
    IN-PLAN, before the Arrow boundary — a nullable int64 id column
    would otherwise coerce the whole batch's ids to float64 and corrupt
    values past 2^53 (r17 review finding).

    Bloom semantics are conservative in the safe direction on BOTH
    probes: no false negatives means a genuinely shared gram always
    quarantines; a false positive only quarantines a borderline document
    the exact batch path would have admitted.  On the fit corpus the
    tags equal the batch assignment exactly (clean eval docs share no
    gram with train BY CONSTRUCTION, so the train-side eval-bloom probe
    never fires there — pytest-pinned at fp ~ 0).

    Returns (id, text, split, n_hit_grams_ub) — the upper-bound count
    of distinct maybe-shared grams (candidates record train-bloom hits,
    train arrivals their eval-bloom hits; documents with no checkable
    gram score 0 and admit to their hash side — the batch vacuous-clean
    policy)."""
    import pandas as pd

    from ..operators.bloom import bloom_closure_probe
    from ..operators.dedup import string_shingles
    from ..operators.splits import holdout_candidacy, split_params

    params = split_params(train_meta, "train-gram bloom record")
    if split_params(eval_meta, "eval-gram bloom record") != params:
        raise ValueError(
            "the train-gram and eval-gram bloom records disagree "
            f"({train_meta} vs {eval_meta}): both blooms must come from "
            "one split"
        )
    maybe_train = bloom_closure_probe(
        train_gram_blooms, max_artifact_bytes, "train-gram bloom"
    )
    maybe_eval = bloom_closure_probe(
        eval_gram_blooms, max_artifact_bytes, "eval-gram bloom"
    )

    is_cand, unplaced = holdout_candidacy(params, id_col)
    # unplaceable rows quarantine IN-PLAN: keeping NULL ids out of the
    # Arrow batch keeps the id column int64 (a nullable batch coerces to
    # float64 and corrupts ids past 2^53)
    placed = rows.filter(~unplaced)
    unplaced_rows = rows.filter(unplaced).select(
        F.col(id_col),
        F.col(text_col),
        F.lit("quarantine").alias("split"),
        F.lit(None).cast("long").alias("n_hit_grams_ub"),
    )
    staged = placed.select(
        F.col(id_col),
        F.col(text_col),
        is_cand.alias("_cand"),
        F.transform(
            string_shingles(text_col, params["k"]),
            lambda g: F.md5(g.cast("binary")),
        ).alias("_grams"),
    )
    id_t = staged.schema[id_col].dataType.simpleString()
    text_t = staged.schema[text_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_t}, {text_col} {text_t}, "
        "split string, n_hit_grams_ub long"
    )

    mh = params["min_hits"]

    def tag(batches):
        for pdf in batches:
            memo_t: dict[str, bool] = {}
            memo_e: dict[str, bool] = {}
            out = []
            # _cand is non-null by construction: unplaceable rows
            # (NULL id / NULL ts) were routed to the in-plan quarantine
            # branch before the Arrow boundary
            for rid, text, cand, hs in zip(
                pdf[id_col], pdf[text_col], pdf["_cand"], pdf["_grams"]
            ):
                hs = list(hs) if hs is not None else []
                probe = maybe_train if cand else maybe_eval
                memo = memo_t if cand else memo_e
                hits = 0
                for h in hs:
                    v = memo.get(h)
                    if v is None:
                        v = memo[h] = probe(h)
                    hits += v
                if cand:
                    split = "quarantine" if hits >= mh else "eval"
                else:
                    split = "quarantine" if hits >= mh else "train"
                out.append((rid, text, split, hits))
            yield pd.DataFrame(
                out, columns=[id_col, text_col, "split", "n_hit_grams_ub"]
            )

    return staged.mapInPandas(tag, schema).unionByName(unplaced_rows)
