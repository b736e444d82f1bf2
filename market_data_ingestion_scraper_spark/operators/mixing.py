"""Dataset-mixing operators for training pipelines: source composition
reporting (the input to mixture reweighting), deterministic sharded
training-order assignment, and a quality-filter funnel report.

All three are exact relational transforms with DuckDB oracle twins.
Cross-engine hashing constraint (r02 gate finding): DuckDB ``SUM(int)``
and ``count_if`` return HUGEINT, which pandas/Arrow-side canonicalization
turns into float64/decimal128 while Spark emits int64 — so every integer
aggregate in the oracle SQL must be ``CAST(... AS BIGINT)``, and shares
are derived from exact integer micro-units (the ``(2a+b) DIV 2b`` half-up
identity) rather than ``round()`` on a double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import bounded_window
from .text import tokens


def source_mix(documents: DataFrame, source_col: str = "source") -> DataFrame:
    """Per-source corpus composition: document and token counts plus each
    source's share of the total — the table a mixture-reweighting step
    (e.g. DoReMi-style or hand-tuned sampling ratios) consumes.

    One grouped aggregate (shuffle on the source key, map-side combined),
    then grand totals via an unpartitioned window over the PER-SOURCE rows.
    The global window is safe by construction: its input is post-aggregation
    cardinality (one row per source — thousands at worst), the same bounded
    pattern as ``analytics.indexed_dimension``.  The alternative (aggregate
    to one row and join it back) would evaluate the per-source subtree
    twice — two full corpus scans at 100 TB — because a broadcast side is
    not a reused exchange.

    Shares are computed in exact integer arithmetic: ppm via the
    ``(2a+b) DIV 2b`` half-up identity (operands non-negative by
    construction; the DECIMAL(38,0) widening keeps ``n_tokens * 2e6``
    exact at any corpus size), then one final ``ppm / 1e6`` double
    division — a single identical IEEE op on both engines."""
    per_source = documents.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).alias("n_tokens"),
    )
    w = bounded_window(source_col)
    totals = per_source.select(
        source_col,
        "n_docs",
        "n_tokens",
        F.sum("n_docs").over(w).alias("tot_docs"),
        F.sum("n_tokens").over(w).alias("tot_tokens"),
    )
    doc_ppm = F.expr(
        "(CAST(n_docs AS DECIMAL(38,0)) * 2000000 + tot_docs) DIV (2 * tot_docs)"
    )
    tok_ppm = F.expr(
        "(CAST(n_tokens AS DECIMAL(38,0)) * 2000000 + tot_tokens)"
        " DIV (2 * tot_tokens)"
    )
    return totals.select(
        source_col,
        "n_docs",
        "n_tokens",
        (doc_ppm / F.lit(1000000.0)).alias("doc_share"),
        (tok_ppm / F.lit(1000000.0)).alias("token_share"),
    )


def temperature_mixture(
    documents: DataFrame,
    alpha: float = 0.5,
    source_col: str = "source",
) -> DataFrame:
    """Exponent-smoothed source sampling weights — the multilingual /
    multi-source mixing standard (sample p_s^alpha renormalized; alpha <
    1 upsamples tail sources: mBERT used 0.7, XLM-R 0.3 — both public):
    ``sample_weight_s ∝ token_share_s ^ alpha``.

    Builds on :func:`source_mix` (exact integer-ppm token shares), so
    one corpus scan total.  Exactness: for the default alpha = 0.5 the
    power is ``sqrt`` — IEEE-754 correctly rounded, hence bit-identical
    across engines (unlike ``pow``, which is only ~1-ulp); other alphas
    go through ``pow`` + round-6 (the `tfidf` ln precedent).  The
    normalization sums micro-unit ints (exact, order-independent) and
    re-derives ppm via the half-up DIV identity.  The global window runs
    over per-source rows — bounded cardinality, same justification as
    ``source_mix``."""
    mix = source_mix(documents, source_col)
    p = (
        F.sqrt(F.col("token_share"))
        if float(alpha) == 0.5
        else F.pow(F.col("token_share"), F.lit(float(alpha)))
    )
    scaled = mix.select(
        source_col,
        "n_tokens",
        "token_share",
        F.round(p, 6).alias("_scaled"),
    ).select(
        source_col,
        "n_tokens",
        "token_share",
        F.round(F.col("_scaled") * 1e6).cast("long").alias("_sm"),
    )
    w = bounded_window(source_col)
    t = scaled.select(
        source_col,
        "n_tokens",
        "token_share",
        "_sm",
        F.sum("_sm").over(w).alias("_tot"),
    )
    ppm = F.expr(
        "(CAST(_sm AS DECIMAL(38,0)) * 2000000 + _tot) DIV (2 * _tot)"
    )
    return t.select(
        source_col,
        "n_tokens",
        "token_share",
        (ppm / F.lit(1000000.0)).alias("sample_weight"),
    )


def training_order(
    documents: DataFrame,
    n_shards: int = 8,
    salt: str = "epoch-0",
    id_col: str = "doc_id",
    bucket_chars: int = 2,
) -> DataFrame:
    """Deterministic global shuffle for training: assign each document a
    (shard, position) so readers stream shards independently in a
    reproducible pseudo-random order.  Changing ``salt`` (e.g. per epoch)
    redraws the permutation; the same salt always reproduces it — the
    order is a pure function of the data, like
    :mod:`~..operators.sampling`.

    Portability: shard and rank both derive from ``md5(salt || id)``;
    shard uses ascii arithmetic on the first two hex chars (``ascii`` and
    ``md5`` exist in every engine — no bigint hex parsing).

    Ranking is two-level so parallelism is NOT bounded by ``n_shards``
    (a single per-shard ``row_number`` would sort 1/n_shards of a 100 TB
    corpus through one task): documents are ranked within hex-prefix
    buckets (``16**bucket_chars``-way parallel window), then a per-shard
    running sum of bucket sizes — at most ``16**bucket_chars`` rows,
    computed on the reused bucket exchange and broadcast back — offsets
    each bucket's local ranks into the exact global per-shard position.
    Because the bucket is the leading prefix of the sort key ``(h, id)``
    and (for ``bucket_chars >= 2``) determines the shard, the result is
    bit-identical to the single-window rank at any ``bucket_chars``;
    raise it to 3-4 at cluster scale for 4096/65536-way parallelism."""
    if bucket_chars < 2:
        raise ValueError("bucket_chars must be >= 2 (bucket must determine shard)")
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")).cast("binary"))
    shard = F.pmod(
        F.ascii(F.substring(h, 1, 1)) * 31 + F.ascii(F.substring(h, 2, 1)),
        F.lit(n_shards),
    )
    d = documents.select(
        F.col(id_col),
        h.alias("h"),
        shard.alias("shard"),
        F.substring(h, 1, bucket_chars).alias("bkt"),
    )
    wb = Window.partitionBy("bkt").orderBy("h", id_col)
    ranked = d.withColumn("bkt_pos", F.row_number().over(wb))
    # bucket sizes: grouping keys are a superset of the window's partition
    # key, so this aggregates on the already-shuffled exchange (no second
    # scan); the offsets table is <= 16**bucket_chars rows.
    counts = ranked.groupBy("shard", "bkt").agg(F.count(F.lit(1)).alias("n"))
    woff = (
        Window.partitionBy("shard")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "bkt", F.coalesce(F.sum("n").over(woff), F.lit(0)).alias("off")
    )
    return ranked.join(F.broadcast(offsets), "bkt").select(
        id_col, "shard", (F.col("off") + F.col("bkt_pos")).alias("pos")
    )


def quality_funnel(
    documents: DataFrame,
    min_chars: int = 100,
    langs: tuple[str, ...] = ("en", "de", "fr", "es"),
    min_tokens: int = 20,
) -> DataFrame:
    """Filter-funnel report: how many documents survive each cumulative
    curation stage (non-empty -> length floor -> language whitelist ->
    token floor).  The observability table every production data pipeline
    keeps next to its filters — per-stage attrition makes silent
    over-filtering visible.

    One aggregate pass over the corpus (conditional counts, map-side
    combined into a single row), then an unpivot of that row into
    (stage, n_in, n_survive) — no per-stage rescans."""
    p1 = F.length("text") > 0
    p2 = p1 & (F.col("n_chars") >= min_chars)
    p3 = p2 & F.col("lang").isin(*langs)
    p4 = p3 & (F.size(tokens("text")) >= min_tokens)
    row = documents.agg(
        F.count(F.lit(1)).alias("s0"),
        F.count_if(p1).alias("s1"),
        F.count_if(p2).alias("s2"),
        F.count_if(p3).alias("s3"),
        F.count_if(p4).alias("s4"),
    )
    stages = ["non_empty", "min_chars", "lang_whitelist", "min_tokens"]
    stack_args = ", ".join(
        f"{i + 1}, '{name}', s{i}, s{i + 1}" for i, name in enumerate(stages)
    )
    return row.selectExpr(
        f"stack({len(stages)}, {stack_args}) AS (stage_idx, stage, n_in, n_survive)"
    ).withColumn("n_dropped", F.col("n_in") - F.col("n_survive"))


def curation_pipeline(documents: DataFrame) -> DataFrame:
    """The end-to-end curation path a training-data run executes, composed
    from this repo's operators in their production order: Gopher-rule
    quality gate → greedy near-dup removal (≥0.7 Jaccard, keep lowest id)
    → per-source corpus report of what survives.

    One declarative plan: Catalyst sees the whole funnel, so the quality
    filter prunes the corpus BEFORE the expensive pair join (predicate
    order is the plan, not luck), the drop list anti-joins, and the final
    report is a single grouped aggregate.  Every stage bounded exactly as
    its standalone operator documents."""
    from .dedup import _persist_generation, dedup_survivors
    from .text import gopher_rules

    # `gated` feeds BOTH the ssjoin inside dedup_survivors and the final
    # report join, so an unpersisted keep set re-runs the gopher
    # tokenize+featurize gate once per reference; the id-only keep set
    # is the slimmest thing to cache (r18)
    kept = _persist_generation(
        "curation_pipeline.kept",
        gopher_rules(documents).filter(F.col("keep") == 1).select("doc_id"),
    )
    gated = documents.join(kept, "doc_id")
    surviving = dedup_survivors(gated)
    final = gated.join(surviving, "doc_id")
    return final.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).alias("n_tokens"),
    )


def _budget_cutoffs(
    documents: DataFrame,
    total_token_budget: int,
    alpha: float,
    source_col: str,
) -> DataFrame:
    """Per-source cutoff table ``(source, _src_tokens, budget_tokens,
    _frac)``: integer-ppm budgets from :func:`temperature_mixture` via
    the half-up DIV identity, and the hash-threshold fraction
    ``min(1, budget/src_tokens)``.  |sources| rows — always broadcast.

    POLICY (review r10): documents with a NULL source are EXCLUDED from
    both budgeting and selection (the threshold join would drop them
    anyway; excluding them here keeps them from consuming budget share
    — route unattributed docs through quarantine first).  A source whose
    documents tokenize to zero tokens gets ``_frac = 0`` explicitly —
    the naive division crashes under ANSI (divide by zero) or, for an
    all-NULL-text source, NULL-propagates into ``least`` and selects the
    whole zero-budget source."""
    t = int(total_token_budget)
    mix = temperature_mixture(
        documents.filter(F.col(source_col).isNotNull()), alpha, source_col
    )
    src_tokens = F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
    budget = F.coalesce(
        F.expr(
            f"(CAST(_ppm AS DECIMAL(38,0)) * {t} + 500000) DIV 1000000"
        ).cast("long"),
        F.lit(0),
    )
    return (
        mix.select(
            source_col,
            src_tokens.alias("_src_tokens"),
            F.round(F.col("sample_weight") * 1e6).cast("long").alias("_ppm"),
        )
        .withColumn("budget_tokens", budget)
        .withColumn(
            "_frac",
            F.when(F.col("_src_tokens") > 0,
                   F.least(
                       F.lit(1.0),
                       F.col("budget_tokens").cast("double")
                       / F.col("_src_tokens"),
                   ))
            .otherwise(F.lit(0.0)),
        )
    )


def _threshold_filter(
    documents: DataFrame, budgets: DataFrame, source_col: str, seed: str
) -> DataFrame:
    """Documents surviving the hash threshold: original columns plus
    ``_n_tok``.  One broadcast join, no ordering anywhere."""
    from .dedup import portable_uniform

    return (
        documents.withColumn("_n_tok", F.size(tokens("text")))
        .withColumn("_u", portable_uniform(str(seed), F.col("doc_id")))
        .join(
            F.broadcast(budgets.select(source_col, "_frac")), source_col
        )
        .filter(F.col("_u") < F.col("_frac"))
        .drop("_u", "_frac")
    )


def budget_fill_docs(
    documents: DataFrame,
    total_token_budget: int,
    alpha: float = 0.5,
    source_col: str = "source",
    seed: str = "fill",
) -> DataFrame:
    """The documents a token-budgeted mixture selects (original columns,
    plus ``_n_tok``): per-source token budgets from the temperature-
    ``alpha`` weights, each filled by a deterministic hash threshold —
    every doc whose portable-hash uniform ``u(seed ':' doc_id)`` falls
    below ``min(1, budget / tokens)``.  One broadcast join of a
    |sources|-row cutoff table, no ordering anywhere."""
    budgets = _budget_cutoffs(documents, total_token_budget, alpha, source_col)
    return _threshold_filter(documents, budgets, source_col, seed)


def domain_mix_report(
    documents: DataFrame,
    embeddings: DataFrame,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    text_col: str = "text",
) -> DataFrame:
    """Embedding-space domain-mixture dashboard: cluster-assign the corpus
    to its nearest class prototype, then report each predicted domain's
    document/token composition — the per-domain token shares a
    DoReMi-style mixture reweighting consumes (Xie et al. 2023
    arXiv:2305.10429 reweights per-domain token mass; :func:`source_mix`
    is the same report keyed on a METADATA column, this one keys on the
    LEARNED embedding clustering, so it also works on corpora with no
    source labels).

    One row per predicted domain:

      (pred_label, n_docs, n_tokens, n_label_match, doc_share_ppm,
       token_share_ppm, purity_ppm)

    ``n_label_match`` counts members whose PROVIDED label equals the
    predicted one and ``purity_ppm`` is its exact half-up share — the
    clustering-quality diagnostic (prototype assignment reproduces the
    source labels exactly when classes are prototype-separable).  Shares
    are exact integer ppm via the ``(2a+b) DIV 2b`` half-up identity;
    no double arithmetic anywhere, so any partitioning and the SQL
    oracle agree bit-for-bit.

    Scale shape: prototype assignment is :func:`similarity.centroid_assign`
    (broadcast |labels|×dims prototype table — vectors never shuffle
    whole); token counts are a column-pruned projection of the documents
    table; the two id-keyed equi-joins shuffle only (id, small-int,
    count) rows — at 100 TB both sides bucket on the id for a
    shuffle-free co-located join; the per-domain aggregate is map-side
    combined into |labels| rows, and grand totals come from an
    unpartitioned window over those |labels| POST-AGGREGATION rows (the
    bounded source_mix pattern — never a second corpus scan)."""
    from .similarity import centroid_assign

    asg = centroid_assign(embeddings, label_col, vec_col, vec_id_col).select(
        "vec_id", "pred_label"
    )
    given = embeddings.select(
        F.col(vec_id_col).alias("vec_id"), F.col(label_col).alias("_given")
    )
    toks = documents.select(
        F.col(doc_id_col).alias("vec_id"), F.size(tokens(text_col)).alias("_n_tok")
    )
    member = asg.join(given, "vec_id").join(toks, "vec_id")
    per = member.groupBy("pred_label").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n_tok").cast("long").alias("n_tokens"),
        F.sum(
            F.when(F.col("_given") == F.col("pred_label"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_label_match"),
    )
    w = bounded_window("pred_label")
    totals = per.select(
        "pred_label",
        "n_docs",
        "n_tokens",
        "n_label_match",
        F.sum("n_docs").over(w).alias("_tot_docs"),
        F.sum("n_tokens").over(w).alias("_tot_tokens"),
    )
    doc_ppm = F.expr(
        "(CAST(n_docs AS DECIMAL(38,0)) * 2000000 + _tot_docs)"
        " DIV (2 * _tot_docs)"
    )
    tok_ppm = F.expr(
        "(CAST(n_tokens AS DECIMAL(38,0)) * 2000000 + _tot_tokens)"
        " DIV (2 * _tot_tokens)"
    )
    pur_ppm = F.expr(
        "(CAST(n_label_match AS DECIMAL(38,0)) * 2000000 + n_docs)"
        " DIV (2 * n_docs)"
    )
    return totals.select(
        "pred_label",
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_tokens",
        "n_label_match",
        doc_ppm.cast("long").alias("doc_share_ppm"),
        tok_ppm.cast("long").alias("token_share_ppm"),
        pur_ppm.cast("long").alias("purity_ppm"),
    )
