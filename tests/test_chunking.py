"""Chunking / sequence-packing operator tests: window boundaries,
overlap arithmetic, empty-document behavior, packing validation."""

from __future__ import annotations

import pytest

from market_data_ingestion_scraper_spark.operators.chunking import (
    chunk_documents,
    curriculum_pack_order,
)


def test_chunk_boundaries_and_overlap(spark):
    # 1000 chars, chunk=500, overlap=100 -> starts 0,400,800
    docs = spark.createDataFrame(
        [(1, "a" * 1000), (2, "b" * 400), (3, "")],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["chunk_idx"]): (r["start"], len(r["chunk"]))
        for r in chunk_documents(docs, 500, 100).collect()
    }
    assert rows[(1, 0)] == (0, 500)
    assert rows[(1, 1)] == (400, 500)
    assert rows[(1, 2)] == (800, 200)  # tail chunk is truncated
    assert rows[(2, 0)] == (0, 400)
    assert (1, 3) not in rows
    # empty document yields no chunks
    assert not any(d == 3 for d, _ in rows)


def test_chunks_reassemble_document(spark):
    text = "".join(chr(ord("a") + i % 26) for i in range(1234))
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    chunks = sorted(
        (r["start"], r["chunk"]) for r in chunk_documents(docs, 500, 100).collect()
    )
    # non-overlap prefix of each chunk (step=400) + full last chunk == text
    rebuilt = "".join(c[:400] for _, c in chunks[:-1]) + chunks[-1][1]
    assert rebuilt == text


def test_chunk_overlap_validation():
    with pytest.raises(ValueError):
        chunk_documents(None, 100, 100)


def test_pack_ctx_tokens_validation(spark):
    """r13 review: ctx_tokens < 1 must refuse loudly — under non-ANSI SQL
    a zero divisor yields NULL bins, an all-null pack order that looks
    successfully built."""
    docs = spark.createDataFrame(
        [(1, "a b c", "en")], "doc_id long, text string, lang string"
    )
    with pytest.raises(ValueError, match="ctx_tokens"):
        curriculum_pack_order(docs, 0)
    with pytest.raises(ValueError, match="ctx_tokens"):
        curriculum_pack_order(docs, -5)
