"""Word n-gram overlap between a training corpus and an evaluation set:
the gram hit pairs behind the contamination-aware holdout
(:func:`gram_hits`, used by ``splits.decontaminated_holdout``) and the
per-eval-document memorization profile (:func:`memorization_profile`).

Scale shape: the evaluation side is small relative to the corpus, so
the overlap joins either broadcast it (the memorization profile) or let
AQE broadcast it at runtime (the holdout, whose eval side is a fraction
of the corpus); the corpus is scanned once and only matched rows reach
the final per-document aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark.sql import Column

from .dedup import _let, _spread, string_shingles
from .text import tokens


def gram_hash_array(text_col: Column | str, k: int) -> Column:
    """Array of the text's ``k``-token gram hashes in POSITION order —
    md5 hex of the space-joined token slice, over :func:`text.tokens`
    (the one tokenizer definition every operator shares).  THE gram-hash
    convention of the memorization family: :func:`memorization_profile`
    (batch, oracle-gated) and ``streaming.pipeline.stream_novelty_filter``
    (admission) both build their grams from this single expression, so
    the two paths cannot drift if the tokenizer or the hash form ever
    changes (the r14 review finding; same invariant tokenizers.py pins
    for fertility).  Tokens are let-bound so Catalyst cannot re-inline
    the tokenizer once per gram position; texts shorter than ``k`` yield
    an empty array."""

    def build(t: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.size(t) - (k - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(t, i, k)).cast("binary")),
        )
        return F.when(F.size(t) >= k, grams).otherwise(
            F.array().cast("array<string>")
        )

    return _let(tokens(text_col), build)


def gram_hits(
    corpus: DataFrame,
    reference: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_id_col: str = "bench_id",
) -> DataFrame:
    """Raw word-``k``-gram hit pairs between a corpus and a reference
    set: ``(g, id_col, ref_id_col)`` — one row per (corpus doc,
    reference doc, shared gram).  :func:`~.splits.decontaminated_holdout`
    aggregates it by the reference side (which held-out eval docs are
    contaminated by train).

    No broadcast hint: the reference side may scale with the corpus (a
    fractional holdout), so the equi-join on ``g`` shuffles both gram
    tables and AQE still broadcasts at runtime whenever the reference
    side turns out small.

    Exact and engine-portable (string grams, no hashing), so DuckDB
    oracles reproduce consumers byte-for-byte."""
    corpus_g = _spread(corpus).select(
        F.col(id_col), F.explode(string_shingles(text_col, k)).alias("g")
    )
    ref_g = reference.select(
        F.col(ref_id_col), F.explode(string_shingles(text_col, k)).alias("g")
    ).distinct()
    return corpus_g.join(ref_g, "g")


def memorization_profile(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Per-evaluation-document memorization/novelty profile against a
    training corpus: how MUCH of each eval document appears verbatim in
    training data, not just whether any of it does (the overlap-LENGTH
    extension of a boolean overlap hit — the view
    memorization analyses key off, cf. Lee et al. 2021 arXiv:2107.06499
    and the n-gram overlap appendices of large-LM reports).

    One output row per benchmark document:

      (bench_id, n_positions, n_matched, n_runs, max_overlap_tokens,
       novelty_ppm)

    where ``n_positions`` is the number of ``k``-gram start positions
    (``max(n_tokens - k + 1, 0)``), ``n_matched`` counts positions whose
    k-gram occurs ANYWHERE in the corpus, ``n_runs`` counts maximal runs
    of strictly consecutive matched positions, ``max_overlap_tokens`` is
    the longest run's token extent (``run + k - 1``; 0 if no match), and
    ``novelty_ppm`` is the exact floor-divided fraction of UNMATCHED
    positions (1e6 for documents too short to have any position — they
    carry no measurable overlap).  A verbatim train/eval overlap of m
    tokens produces m-k+1 consecutive matched positions, so
    ``max_overlap_tokens`` is exact from below at every length >= k and
    an island upper bound above (consecutive positions may match
    *different* corpus documents — the same approximation
    :func:`dedup.duplicated_span_stats` documents).

    Scale shape (the broadcast-reference asymmetry, run twice): the benchmark
    side is tiny (thousands of eval docs vs billions of training docs),
    so its distinct gram set BROADCASTS into a map-side semi-join against
    the corpus gram explode — the 100 TB corpus is scanned once and never
    shuffles (only grams matching an eval gram survive, then a map-side
    partial distinct bounds the shuffle to <= |bench grams| rows per
    partition, even when a boilerplate gram occurs 1e9 times).  The
    surviving matched-gram set (<= |bench grams|) broadcasts back onto
    the benchmark's positional gram table; run detection is one window
    over matched POSITIONS of eval docs only.  Grams travel as 16-byte
    md5 hashes (equality on the hash IS equality on the substring modulo
    collisions); text never shuffles."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def _positional_grams(df: DataFrame, out_id: str, src_id: str) -> DataFrame:
        staged = df.select(
            F.col(src_id).alias(out_id),
            gram_hash_array(text_col, k).alias("_g"),
        )
        return staged.select(out_id, F.posexplode("_g").alias("pos", "gram"))

    # spread the CORPUS side — the expensive tokenize+hash pass must not
    # inherit a narrow raw-scan partitioning (the r14 review finding:
    # the eval side is thousands of rows whose window shuffle
    # redistributes it anyway, the corpus side is the 100 TB scan)
    bpos = _positional_grams(benchmark, bench_id_col, bench_id_col)
    bgrams = bpos.select("gram").distinct()
    cgrams = _positional_grams(_spread(corpus), "_cid", id_col).select("gram")
    matched = cgrams.join(F.broadcast(bgrams), "gram").distinct()
    mpos = bpos.join(F.broadcast(matched), "gram").select(bench_id_col, "pos")
    w = Window.partitionBy(bench_id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) == 1, F.lit(0)).otherwise(
        F.lit(1)
    )
    runs = (
        mpos.select(bench_id_col, "pos", brk.alias("_brk"))
        .select(
            bench_id_col,
            F.sum("_brk")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("_grp"),
        )
        .groupBy(bench_id_col, "_grp")
        .agg(F.count(F.lit(1)).alias("_run"))
    )
    per = runs.groupBy(bench_id_col).agg(
        F.sum("_run").cast("long").alias("n_matched"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("_run").cast("long").alias("_max_run"),
    )
    base = benchmark.select(
        F.col(bench_id_col),
        F.greatest(F.size(tokens(text_col)) - (k - 1), F.lit(0))
        .cast("long")
        .alias("n_positions"),
    )
    return base.join(per, bench_id_col, "left").select(
        bench_id_col,
        "n_positions",
        F.coalesce("n_matched", F.lit(0)).cast("long").alias("n_matched"),
        F.coalesce("n_runs", F.lit(0)).cast("long").alias("n_runs"),
        F.coalesce(F.col("_max_run") + (k - 1), F.lit(0))
        .cast("long")
        .alias("max_overlap_tokens"),
        F.when(
            F.col("n_positions") > 0,
            F.expr(
                "(CAST(n_positions - coalesce(n_matched, 0) AS DECIMAL(38,0))"
                " * 1000000) DIV n_positions"
            ),
        )
        .otherwise(F.lit(1_000_000))
        .cast("long")
        .alias("novelty_ppm"),
    )
