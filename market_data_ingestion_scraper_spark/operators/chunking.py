"""Context-window preparation for LLM training pipelines: document
chunking (overlapping windows for retrieval/embedding) and curriculum
sequence packing (the concat-then-slice plan pretraining uses to fill
fixed-size contexts without padding waste).

Both are pure relational transforms — chunking is a per-row explode (no
shuffle), packing is one window cumsum per stratum — and both have exact
SQL twins, so the driver's DuckDB gate checks them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens


def chunk_documents(
    documents: DataFrame, chunk_chars: int = 500, overlap: int = 100
) -> DataFrame:
    """Overlapping character-window chunks: starts at 0, chunk−overlap,
    2(chunk−overlap), … while start < length.  One output row per chunk
    (row-expanding explode — the shape embedding/retrieval pipelines
    feed).  Empty documents yield no chunks.  Per-row projection+explode,
    no shuffle; at 100 TB this is scan-bandwidth-bound."""
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    step = chunk_chars - overlap
    n = F.length("text")
    starts = F.sequence(F.lit(0), n - 1, F.lit(step))
    return (
        documents.filter(n > 0)
        .select("doc_id", "text", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            "chunk_idx",
            "start",
            F.substring("text", F.col("start") + 1, chunk_chars).alias("chunk"),
        )
    )


def curriculum_pack_order(
    documents: DataFrame,
    ctx_tokens: int = 512,
    strata_cols: str | list[str] = "lang",
    id_col: str = "doc_id",
    salt: str = "curriculum-0",
) -> DataFrame:
    """X26 sequence-length-warmup curriculum packing: a packing cumsum
    composed with the deterministic-order discipline of
    ``mixing.training_order``.  Within each stratum, documents are ordered
    by (n_tokens ASC, md5(salt ∥ id), id) — short sequences first, the
    curriculum that stabilizes early training (Li et al. 2022, "The
    Stability-Efficiency Dilemma: Investigating Sequence Length Warmup
    for Training GPT Models", arXiv:2108.06084; curriculum learning per
    Bengio et al. 2009 — both public) — then the packing cumsum assigns
    each document its (start_bin, start_offset) in the curriculum-ordered
    token stream.  ``start_bin`` IS the training position of the context
    window the document starts in: a reader consuming bins in order
    replays the warmup.  The hash tie-break makes equal-length order a
    pure function of (data, salt) — change the salt to redraw the
    within-length shuffle per epoch, like the training-order epochs.

    Scale shape: ONE window per stratum (shuffle keyed
    on the strata, running-integer state; rank and cumsum share the same
    sort).  At 100 TB pass ``["lang", "shard"]`` so the stream packs
    within partition-sized strata — a warmup ordering only needs to hold
    WITHIN each reader's shard."""
    if ctx_tokens < 1:
        # under non-ANSI SQL a zero divisor yields NULL bins, not an
        # error — an all-null pack order that LOOKS successfully built
        raise ValueError(f"ctx_tokens must be >= 1, got {ctx_tokens}")
    cols = [strata_cols] if isinstance(strata_cols, str) else list(strata_cols)
    n_tok = F.size(tokens("text"))
    tb = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")).cast("binary"))
    staged = documents.select(
        id_col, *cols, n_tok.alias("n_tokens"), tb.alias("_tb")
    )
    w = Window.partitionBy(*cols).orderBy("n_tokens", "_tb", id_col)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = F.sum("n_tokens").over(wsum)
    cum_before = cum - F.col("n_tokens")
    return staged.select(
        id_col,
        *cols,
        "n_tokens",
        F.row_number().over(w).cast("long").alias("curriculum_rank"),
        F.floor(cum_before / ctx_tokens).cast("long").alias("start_bin"),
        (cum_before % ctx_tokens).cast("long").alias("start_offset"),
    )
