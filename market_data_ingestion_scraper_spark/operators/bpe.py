"""Character-level byte-pair-encoding tokenization at corpus scale
(SURVEY X16) — the real-tokenizer companion to the word-level proxies in
``operators/text.py`` (`bigram_merge_candidates`, one word-level merge
round).

Algorithm: Sennrich, Haddow & Birch 2016, "Neural Machine Translation of
Rare Words with Subword Units" (arXiv:1508.07909) — learn merges greedily
by pair frequency over the WORD VOCABULARY (not the corpus), apply merges
per word by rank.

Scale design — the whole point is where Python is allowed to run:

- **Training** needs only the (word, count) table: one relational
  groupBy over exploded tokens (shuffle bounded by vocabulary, map-side
  combined), capped to the ``max_vocab`` most frequent words.  The merge
  loop itself is driver-side Python over ≤ max_vocab tiny tuples with a
  pair→words inverted index (only words containing the winning pair are
  re-segmented), so training cost is independent of corpus size beyond
  the one scan — exactly how production BPE trainers consume a corpus.
- **Application** runs Python ONCE PER DISTINCT WORD (Arrow-batched
  ``mapInPandas`` over the deduplicated vocabulary — Zipf makes
  occurrences ≫ vocabulary), then a relational join maps every
  occurrence to its piece count; per-document stats are a plain
  aggregation.  Text never flows through Python row-at-a-time.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens

# mapInPandas closures must survive being shipped to executor workers
# spawned from a foreign cwd (see operators/multimodal.py for the full
# story): register this module for by-value pickling.
import sys as _sys  # noqa: E402

from pyspark import cloudpickle as _cloudpickle  # noqa: E402

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


def word_counts(
    documents: DataFrame, text_col: str = "text", max_vocab: int = 100_000
) -> list[tuple[str, int]]:
    """(word, count) for the ``max_vocab`` most frequent words — ONE
    map-side-combined groupBy; ties broken lexicographically so the
    training set (and therefore the learned merges) is deterministic at
    any parallelism."""
    wc = (
        documents.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(max_vocab)
    )
    return [(r["w"], r["n"]) for r in wc.collect()]


def fit_bpe_merges(
    documents: DataFrame,
    n_merges: int = 100,
    text_col: str = "text",
    max_vocab: int = 100_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges (Sennrich et al. 2016 §3.2): start
    from characters, repeatedly merge the most frequent adjacent symbol
    pair (count desc, pair lexicographic asc on ties — deterministic),
    weighting each word by its corpus frequency.

    Driver-side cost: the inverted pair→word index means each round
    re-segments only the words containing the winning pair; the corpus
    is touched exactly once (the word_counts scan)."""
    vocab = word_counts(documents, text_col, max_vocab)
    segs: list[list[str]] = [list(w) for w, _ in vocab]
    counts = [n for _, n in vocab]

    pair_counts: Counter = Counter()
    where: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for i, seg in enumerate(segs):
        for a, b in zip(seg, seg[1:]):
            pair_counts[(a, b)] += counts[i]
            where[(a, b)].add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        # deterministic argmax: highest count, then LOWEST pair lexicographically
        candidates = [(n, pair) for pair, n in pair_counts.items() if n > 0]
        if not candidates:
            break
        max_n = max(n for n, _ in candidates)
        best_pair = min(pair for n, pair in candidates if n == max_n)
        merges.append(best_pair)
        merged = best_pair[0] + best_pair[1]
        for i in list(where[best_pair]):
            seg, cnt = segs[i], counts[i]
            # remove old pair contributions of this word
            for a, b in zip(seg, seg[1:]):
                pair_counts[(a, b)] -= cnt
                where[(a, b)].discard(i)
            # apply the merge left-to-right
            out: list[str] = []
            j = 0
            while j < len(seg):
                if (
                    j + 1 < len(seg)
                    and seg[j] == best_pair[0]
                    and seg[j + 1] == best_pair[1]
                ):
                    out.append(merged)
                    j += 2
                else:
                    out.append(seg[j])
                    j += 1
            segs[i] = out
            for a, b in zip(out, out[1:]):
                pair_counts[(a, b)] += cnt
                where[(a, b)].add(i)
    return merges


def _encode_word(word: str, rank: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges by rank (GPT-2-style bpe loop): repeatedly merge the
    lowest-rank adjacent pair until none applies."""
    seg = list(word)
    while len(seg) > 1:
        pairs = list(zip(seg, seg[1:]))
        ranked = [(rank[p], i) for i, p in enumerate(pairs) if p in rank]
        if not ranked:
            break
        _, i = min(ranked)
        seg = seg[:i] + [seg[i] + seg[i + 1]] + seg[i + 2 :]
    return seg


def bpe_encode_vocab(
    words: DataFrame, merges: list[tuple[str, str]], word_col: str = "w"
) -> DataFrame:
    """(w, pieces array<string>, n_pieces) for each DISTINCT word — the
    only Python in the pipeline, Arrow-batched over the vocabulary."""
    rank = {p: i for i, p in enumerate(merges)}
    out_schema = f"{word_col} string, pieces array<string>, n_pieces int"

    def op(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            pieces = pdf[word_col].map(lambda w: _encode_word(w, rank))
            yield pd.DataFrame(
                {
                    word_col: pdf[word_col],
                    "pieces": pieces,
                    "n_pieces": pieces.map(len).astype("int32"),
                }
            )

    return words.select(word_col).distinct().mapInPandas(op, out_schema)


def bpe_token_stats(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document piece accounting under a learned BPE: (doc_id,
    n_words, n_pieces, pieces_per_word).  Occurrences never enter Python:
    explode → join the vocab-encoded piece counts → aggregate.  At 100 TB
    the encoded vocabulary is persisted once and reused — it IS the
    tokenizer artifact."""
    occ = documents.select(F.col(id_col), F.explode(tokens(text_col)).alias("w"))
    enc = bpe_encode_vocab(occ.select("w"), merges)
    joined = occ.join(enc.select("w", "n_pieces"), "w")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
        )
        .withColumn(
            "pieces_per_word",
            F.round(F.col("n_pieces") / F.col("n_words"), 6),
        )
    )
