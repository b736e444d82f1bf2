"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.11 X1/X2):
exact, content-hash, MinHash+LSH, SimHash, and n-gram Jaccard verification.

Design for 100 TB (the whole point of these operators):
- Exact/content-hash dedup is one hash-partitioned groupBy — Spark's
  map-side combine means the shuffle carries one row per distinct hash.
- Near-dup NEVER does an all-pairs crossJoin.  MinHash-LSH turns O(n²)
  similarity into: per-row signature (narrow projection) → explode to
  (band, band_key) → groupBy bucket → pairs only within buckets.  The
  shuffle is rows × n_bands, and bucket sizes are bounded by collision
  probability, not corpus size.  SimHash does the same with bit-chunk
  banding (two docs within Hamming distance d share an identical chunk
  when chunks > d — pigeonhole).
- Everything is built-in expressions (xxhash64, transform, aggregate,
  bitwise ops) — no Python in the flow.

MinHash math: sig_i(doc) = min over shingles s of h_i(s), with
h_i(x) = (a_i·x + b_i) mod p over a 31-bit prime field; agreement
fraction of signatures estimates Jaccard similarity of shingle sets.
"""

from __future__ import annotations

import itertools
import logging
import random

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .spread import spread_scan as _spread  # noqa: F401  (re-exported: decontam)
from .text import HASH_P, tokens

# Deterministic MinHash permutation parameters (seeded — reproducible runs).
N_HASHES = 64
_rng = random.Random(42)
_AB = [( _rng.randrange(1, HASH_P), _rng.randrange(0, HASH_P)) for _ in range(N_HASHES)]


# One cached generation per operator (r9 advice): serving operators
# persist their shard-bounded signature tables so the shard is shingled
# exactly once, but the returned plan is lazy — the driver can't know
# when it is materialized.  Instead of leaking one cache per call in a
# long-running driver (streaming/incremental ingest loops call these
# every batch), each NEW call releases the frames the PREVIOUS call of
# the same operator persisted.  Unpersisting a frame a caller still
# holds is safe — Spark recomputes, never corrupts.
_CACHE_GENERATIONS: dict[str, list[DataFrame]] = {}


def _persist_generation(tag: str, df: DataFrame) -> DataFrame:
    for old in _CACHE_GENERATIONS.pop(tag, []):
        try:
            old.unpersist(False)
        except Exception:  # session torn down — nothing to release
            pass
    df = df.persist()
    _CACHE_GENERATIONS.setdefault(tag, []).append(df)
    return df


def release_dedup_caches() -> None:
    """Explicitly release every generation-cached frame (e.g. at the end
    of a streaming ingest loop or before driver shutdown)."""
    for tag in list(_CACHE_GENERATIONS):
        for old in _CACHE_GENERATIONS.pop(tag, []):
            try:
                old.unpersist(False)
            except Exception:
                pass


def portable_token_hash(w: Column) -> Column:
    """Token → 31-bit field element computable IDENTICALLY in any engine:
    the first 8 hex chars of md5 parsed as an integer, mod HASH_P —
    ``md5`` exists everywhere and hex parsing is one built-in on each side
    (Spark ``conv(…,16,10)``, DuckDB ``('0x'||…)::BIGINT`` — the twin is
    :data:`PORTABLE_HASH_SQL`).  Pipelines built on this hash are
    oracle-checkable bit-for-bit; xxhash64 remains the throughput
    default (md5 costs a few× more per token — scan-time CPU,
    embarrassingly parallel)."""
    m = F.substring(F.md5(w.cast("binary")), 1, 8)
    return F.pmod(F.conv(m, 16, 10).cast("long"), F.lit(HASH_P))


#: DuckDB expression template for :func:`portable_token_hash`; substitute
#: ``{w}`` with the token expression.
PORTABLE_HASH_SQL = "(('0x' || substring(md5({w}), 1, 8))::BIGINT % 2147483647)"


def portable_uniform(prefix: str, id_col: Column) -> Column:
    """Deterministic seeded uniform in the OPEN interval (0, 1) from the
    portable hash of ``prefix ':' id`` — ``u = (h + 1) / (HASH_P + 1)``,
    engine-reproducible bit-for-bit (DuckDB twin:
    ``((PORTABLE_HASH_SQL + 1) / 2147483648.0)`` over the same string).
    The +1 / open-interval convention matters: ``ln(-ln(u))`` consumers
    (Gumbel keys) need u strictly inside (0, 1).  Shared by every
    hash-threshold / seeded-sampling operator so the convention cannot
    drift between them."""
    h = portable_token_hash(
        F.concat(F.lit(str(prefix) + ":"), id_col.cast("string"))
    )
    return (h + 1).cast("double") / float(HASH_P + 1)


def _let(value: Column, body) -> Column:
    """Bind ``value`` once per row, evaluate ``body`` on the bound variable
    — ``transform`` over a single-element array.  Catalyst inlines repeated
    expression references textually, and higher-order lambda bodies
    re-evaluate their subtrees PER ELEMENT — so an expensive array
    expression referenced inside a per-element lambda (``F.get(th, i)`` in
    a gram builder) is otherwise recomputed for every element: O(n²) per
    row.  A lambda variable reference is a bound-value lookup, O(1)."""
    return F.get(F.transform(F.array(value), body), 0)


def _gram_array(th: Column, k: int) -> Column:
    """Distinct k-gram field elements from an array of token hashes:
    combine k consecutive hashes arithmetically per position (O(n·k)
    integer ops, no allocations).  Arrays shorter than k yield an empty
    set (out-of-bounds ``F.get`` is null under ANSI; null grams filtered).
    ``th`` is let-bound so it evaluates once per row even when callers
    pass a full tokenize+hash expression."""

    def build(tha: Column) -> Column:
        n = F.size(tha)

        def gram(i: Column) -> Column:
            acc = F.get(tha, i)  # 0-based, null out-of-bounds (ANSI-safe)
            for j in range(1, k):
                acc = (acc * 131 + F.get(tha, i + j)) % HASH_P
            return acc

        grams = F.transform(F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))), gram)
        return F.array_distinct(F.filter(grams, lambda g: g.isNotNull()))

    return _let(th, build)


def shingles(
    text: Column | str = "text", k: int = 3, portable: bool = False
) -> Column:
    """Word k-gram shingle set hashed into the 31-bit prime field.

    Hash each token once (O(n)), then combine k consecutive token hashes
    arithmetically per position.  The naive slice+concat formulation is
    O(n²) array copies + string building per document and measured 6.3 s
    single-threaded on 5 k docs — this shape is pure field arithmetic over
    ``F.get`` lookups.  Docs with < k tokens yield an empty shingle set.

    ``portable=True`` swaps the xxhash64 token hash for
    :func:`portable_token_hash`, making every downstream signature value
    reproducible in the DuckDB oracle; xxhash64 stays the throughput
    default.  This column form pays the token hash per OCCURRENCE, and
    it is the form :func:`minhash_table` uses for both hash flavors: a
    per-row projection is cheaper than hashing distinct tokens once and
    joining them back to every occurrence."""
    tok_hash = (
        portable_token_hash
        if portable
        else (lambda w: F.pmod(F.xxhash64(w), F.lit(HASH_P)))
    )
    return _gram_array(F.transform(tokens(text), tok_hash), k)


def minhash_signature(
    text: Column | str = "text", k: int = 3, portable: bool = False
) -> Column:
    """64-value MinHash signature as array<long>; empty docs → p sentinel.

    Column form — fine for single use, but NOTE: Catalyst's CollapseProject
    will inline this whole expression into every downstream reference
    (e.g. 16 LSH band keys → 16 recomputations).  Pipelines use
    ``minhash_table`` instead, whose groupBy is a materialization barrier.
    Internally the shingle set is let-bound so the 64 permutations share
    one shingling pass per row.  It IS the stream-legal form: a pure
    projection, no aggregation — the streaming admission filter builds
    on it, and signature parity with ``minhash_table`` is pytest-pinned
    (same field arithmetic, same sentinel via the coalesce)."""

    def build(sha: Column) -> Column:
        def _minhash(a: int, b: int) -> Column:
            return F.array_min(
                F.transform(sha, lambda x: (F.lit(a) * x + F.lit(b)) % HASH_P)
            )

        return F.array(*[F.coalesce(_minhash(a, b), F.lit(HASH_P)) for a, b in _AB])

    return _let(shingles(text, k, portable), build)


def minhash_table(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    portable: bool = False,
) -> DataFrame:
    """MinHash signatures as a (id, sig) table, computed scalably: one
    gram stream per document → groupBy(id) with 64 flat MIN aggregates →
    pack into one array column.

    This shape matters twice over at 100 TB: shingling runs exactly once
    per document (the groupBy shuffle is a hard materialization barrier no
    CollapseProject can cross), and the shuffle carries (id, 64 longs) —
    not shingle sets, not text.  Docs with no shingles get the sentinel
    via per-slot ``coalesce(min(...), p)`` on an outer explode — no
    sentinel join, no second scan of ``documents`` (r18: the left-join
    form re-scanned the corpus for ids alone).

    BOTH hash flavors now ride the scan as one per-row projection +
    explode + partially-aggregated groupBy (r19).  The r18 portable path
    hashed each distinct token once through a vocabulary dictionary and
    composed grams with ``lead`` over a per-doc window — but that shape
    pays THREE occurrence-scale data movements a projection never does
    (the vocab distinct, the dictionary join back to every occurrence,
    and the window's partition+SORT of every occurrence by (id, pos)),
    while md5-per-occurrence is embarrassingly parallel scan-time CPU.
    Measured at sf0.1 (same JVM, interleaved min-of-4): fused window
    1.51 s vs column form 1.04 s (0.68×), signature values bit-identical
    (exceptAll 0/0), and the column form matches the xxhash floor
    (1.16 s) — the window machinery, not the hash, was the cost.  At
    100 TB the gap widens: the only remaining shuffle is the per-doc
    partial-aggregated 64-long rows.  The per-row gram composition is
    :func:`shingles` (``_gram_array``): each token hashed once per row,
    O(n·k) field ops, and its per-row ``array_distinct`` is exact here
    because MIN over a multiset equals MIN over its set."""
    hashed = _spread(documents).select(
        F.col(id_col),
        F.explode_outer(shingles(text_col, k, portable)).alias("x"),
    )
    # The 64 slot aggregates are parsed from SQL text on the JVM, one
    # call each: composing them from Column operators cost ~11 Py4J
    # round trips per slot, ~0.5 s of plan construction per call on a
    # 4-core host, paid by every operator that signatures a frame.  Same expression tree (int literals a, b, p over the long
    # gram hash x), so the plan and the values are unchanged.
    mins = hashed.groupBy(id_col).agg(
        *[
            F.expr(
                f"coalesce(min(({a} * x + {b}) % {HASH_P}), "
                f"CAST({HASH_P} AS BIGINT)) AS m{i}"
            )
            for i, (a, b) in enumerate(_AB)
        ]
    )
    slots = ", ".join(f"m{i}" for i in range(N_HASHES))
    return mins.select(id_col, F.expr(f"array({slots}) AS sig"))


def band_keys_from_sigs(
    sigs: DataFrame, n_bands: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """SLIM banding rows (id, band, key) from an (id, sig) signature
    table — a pure projection (slice + xxhash64 per band), so deriving
    bands from already-materialized signatures costs no shingling.

    Slim matters twice at 100 TB (r9 review): the persisted band index
    carries 2 longs per band row instead of the full 64-long signature
    (~16× smaller artifact at the default 16 bands), and candidate
    equi-joins shuffle ids only — signatures are joined back AFTER the
    (doc, candidate) pairs are deduplicated, so each signature crosses
    the wire once per surviving pair, not once per colliding band."""
    return sigs.select(
        id_col,
        F.explode(band_struct_array(F.col("sig"), n_bands)).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")


def _n_bands_problem(n_bands) -> str | None:
    """Why ``n_bands`` cannot band a signature, or None when it can."""
    if n_bands < 1 or N_HASHES % n_bands != 0:
        return (
            f"n_bands={n_bands} must divide N_HASHES={N_HASHES} "
            f"(valid: {[b for b in range(1, N_HASHES + 1) if N_HASHES % b == 0]})"
        )
    return None


def band_struct_array(sig_col: Column, n_bands: int) -> Column:
    """array<struct<band,key>> banding of one signature column — the
    expression :func:`band_keys_from_sigs` explodes, factored so the
    streaming admission filter bands with IDENTICAL keys (xxhash64 of
    the comma-joined band slice) and the two paths cannot drift."""
    problem = _n_bands_problem(n_bands)
    if problem:
        # r9 review: n_bands=128 gave r=0 → every band key the constant
        # xxhash64('') → quadratic candidate explosion baked into the
        # authoritative sidecar; non-divisors silently dropped trailing
        # signature rows.  Fail at build time, the layer the sidecar
        # exists to make mismatch-proof.
        raise ValueError(problem)
    r = N_HASHES // n_bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(F.concat_ws(",", F.slice(sig_col, b * r + 1, r))).alias(
                "key"
            ),
        ),
    )


def minhash_index(
    documents: DataFrame,
    n_bands: int = 16,
    k: int = 3,
    portable: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The MinHash near-dup index of ``documents`` as an
    :class:`~.similarity.AnnIndex` handle: ``sigs`` is the (id, sig)
    table from :func:`minhash_table`, ``df`` the slim (id, band, key)
    rows banded from it, and ``quantizer`` the record
    ``{kind: minhash, layout: split, n_bands, shingle_k, portable}`` —
    the same handle and record ``load_ann_index`` returns for the index
    :func:`write_minhash_index` persists.  Every serving operator
    (:func:`near_duplicates_vs_index`, :func:`shard_admission_report`,
    ``stream_shard_admission_filter``) takes only this handle and reads
    the banding parameters from its record, so a shard can never be
    banded with parameters that differ from the corpus build.

    Nothing is computed here.  ``sigs`` is marked as one cached
    generation (released by the next call), because every serving
    operator reads it twice — banded for the candidate join and again
    for the signature join-back — and the inline form re-planned the
    64-slot aggregate under both branches: at sf0.1 on 4 cores the
    in-plan ``shard_admission_report`` took 3.91 s median lazy against
    2.94 s cached (11 alternating runs in one Spark session)."""
    sigs = minhash_table(
        documents, id_col=id_col, text_col=text_col, k=k, portable=portable
    )
    return _minhash_handle(
        _persist_generation("minhash_index", sigs), n_bands, k, portable, id_col
    )


def _minhash_handle(sigs: DataFrame, n_bands: int, k: int, portable: bool, id_col: str):
    """The handle over an (id, sig) table and the one place its record
    is written; a record the reader would refuse is never built."""
    from .similarity import AnnIndex

    index = AnnIndex(
        band_keys_from_sigs(sigs, n_bands, id_col=id_col),
        {
            "kind": "minhash",
            "layout": "split",
            "n_bands": n_bands,
            "shingle_k": k,
            "portable": bool(portable),
        },
        sigs=sigs,
    )
    _unpack_minhash_index(index)
    return index


def write_minhash_index(
    documents: DataFrame,
    path: str,
    n_bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    portable: bool = False,
) -> tuple[int, int]:
    """Persist the index :func:`minhash_index` builds for ``documents``
    (the same frames and record, without the cache) at ``path``:

    - ``sigs/``  — (id, sig), ONE row per document,
    - ``bands/`` — slim (id, band, key), partitioned by ``band`` so an
      incremental shard's candidate join prunes to its bands' files,
    - ``_quantizer.json`` — the handle's record, the authoritative
      parameter sidecar (``layout: split`` marks the two-table form for
      ``load_ann_index``).

    The corpus is shingled exactly once: signatures are written first,
    then read back and banded (a projection).  The sidecar is the commit
    point: an existing one is removed before the first write and the new
    one is written last, so a build that fails part-way leaves no record
    for ``load_ann_index`` to serve stale; ``bands/`` is replaced whole,
    so a rebuild with fewer bands keeps none of the old ones.  Returns
    ``(n_docs, n_band_rows)``; the document count rides the ``sigs/``
    write, and every signature bands into exactly ``n_bands`` rows."""
    import json
    import os

    from ..util import overwrite_partitioned, require_local_path
    from .metrics import observed_count

    require_local_path(path)
    # the uncached handle: the write reads the signatures once
    index = _minhash_handle(
        minhash_table(
            documents, id_col=id_col, text_col=text_col, k=k,
            portable=portable,
        ),
        n_bands, k, portable, id_col,
    )
    record_path = os.path.join(path, "_quantizer.json")
    if os.path.exists(record_path):
        os.remove(record_path)
    spark = documents.sparkSession
    sigs_path = os.path.join(path, "sigs")
    sigs, obs = observed_count(index.sigs, "n_docs")
    sigs.write.mode("overwrite").parquet(sigs_path)
    overwrite_partitioned(
        band_keys_from_sigs(spark.read.parquet(sigs_path), n_bands, id_col=id_col),
        "band",
    ).parquet(os.path.join(path, "bands"))
    with open(record_path, "w") as f:
        json.dump(index.quantizer, f)
    n_docs = obs.get["n_rows"]
    return n_docs, n_docs * n_bands


def _sig_agreement() -> Column:
    """est_jaccard from two signature columns (sig_a, sig_b) in scope."""
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
            lambda x: x,
        )
    )
    return F.round(agree / F.lit(N_HASHES), 6).alias("est_jaccard")


def _unpack_minhash_index(index) -> tuple[DataFrame, DataFrame, int, int, bool]:
    """(bands, sigs, n_bands, shingle_k, portable) from a minhash
    :class:`~.similarity.AnnIndex` handle — the ONE reader of the
    record :func:`minhash_index` writes, shared by every serving
    operator and :func:`extend_band_index` so the parameters always come
    from the record and its validity is decided in one place (r15
    review finding).  Refuses a record that is not ``kind: minhash``,
    lacks a parameter, has ``shingle_k < 1`` or an ``n_bands`` that
    does not divide the signature, or comes without a ``sigs/`` table."""
    from .similarity import _index_record, _refusal

    q = _index_record(index, "minhash")
    missing = [key for key in ("n_bands", "shingle_k", "portable") if key not in q]
    if missing:
        problem = f"the record lacks {missing}"
    elif q["shingle_k"] < 1:
        problem = f"shingle_k={q['shingle_k']} is below 1"
    elif _n_bands_problem(q["n_bands"]):
        problem = _n_bands_problem(q["n_bands"])
    elif index.sigs is None:
        problem = "it has no sigs/ signature table"
    else:
        return index.df, index.sigs, q["n_bands"], q["shingle_k"], q["portable"]
    raise _refusal("minhash index", problem)


def near_duplicates_vs_index(
    new_docs: DataFrame,
    index,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental near-dup admission for a NEW shard against an EXISTING
    corpus index — the :class:`~.similarity.AnnIndex` handle of
    :func:`minhash_index` or ``load_ann_index``: only the shard is
    shingled/signatured, with the (n_bands, k, portable) the index
    record names; candidates come from an ID-ONLY (band, key) equi-join
    against the slim bands, and signatures are joined back just for the
    deduplicated candidate pairs — pairs with estimated Jaccard ≥
    ``threshold`` are reported as (doc_id, corpus_id, est_jaccard).

    This is the batch half of the production ingest loop — re-crawls and
    mirrors never re-pay the corpus pass (the embedding-space streaming
    twin is :func:`~..streaming.pipeline.stream_near_dup_filter`).  NO
    self-exclusion: a re-crawl that kept its corpus doc_id must still
    match its own indexed copy.  Admitted docs are the shard minus the
    reported ``doc_id``s (anti-join); :func:`extend_band_index` then
    APPENDS their sigs + band rows — band keys depend only on the row
    itself, so the index grows incrementally without rebuild."""
    index_bands, index_sigs, n_bands, k, portable = _unpack_minhash_index(index)
    # Shard-bounded: signatures feed both the banding projection and the
    # sig_a join-back; cached so the shard is shingled exactly once —
    # one generation per operator, released by the next call.
    shard_sigs = _persist_generation(
        "near_duplicates_vs_index",
        minhash_table(
            new_docs, id_col=id_col, text_col=text_col, k=k,
            portable=portable,
        ),
    )
    shard_bands = band_keys_from_sigs(shard_sigs, n_bands, id_col=id_col)
    cand_ids = (
        shard_bands.join(
            index_bands.withColumnRenamed(id_col, "corpus_id"),
            ["band", "key"],
        )
        .select(id_col, "corpus_id")
        .dropDuplicates([id_col, "corpus_id"])
    )
    cand = cand_ids.join(
        shard_sigs.select(F.col(id_col), F.col("sig").alias("sig_a")), id_col
    ).join(
        index_sigs.select(
            F.col(id_col).alias("corpus_id"), F.col("sig").alias("sig_b")
        ),
        "corpus_id",
    )
    return cand.select(id_col, "corpus_id", _sig_agreement()).filter(
        F.col("est_jaccard") >= threshold
    )


def extend_band_index(
    admitted_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Append the admitted documents' signatures + banding rows to a
    persisted index (:func:`write_minhash_index` layout) — the
    post-admission half of the incremental loop
    (:func:`near_duplicates_vs_index` flags, caller filters, this
    extends).  Band keys are row-local, so APPEND IS the index update:
    no rebuild, no read of existing index rows.  The banding parameters
    come from the index record through the same reader the serving
    operators use, so an index they would refuse is refused here too.
    Returns the number of band rows appended.

    NOT idempotent across crash-replays (plain parquet append — a
    replayed call would double the shard's rows and inflate duplicate
    candidates, though never drop recall); drive it from an
    exactly-once context (e.g. foreachBatch) or a transactional table
    at production scale."""
    import os

    from .similarity import load_ann_index

    spark = admitted_docs.sparkSession
    _, _, n_bands, k, portable = _unpack_minhash_index(
        load_ann_index(spark, index_path)
    )
    # shard-bounded; compute signatures once for both appends + the count
    sigs = minhash_table(
        admitted_docs, id_col=id_col, text_col=text_col,
        k=k, portable=portable,
    ).localCheckpoint(eager=True)
    sigs.write.mode("append").parquet(os.path.join(index_path, "sigs"))
    banded = band_keys_from_sigs(sigs, n_bands, id_col=id_col)
    banded.write.mode("append").partitionBy("band").parquet(
        os.path.join(index_path, "bands")
    )
    return banded.count()


def lsh_candidate_pairs(
    documents: DataFrame,
    n_bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidates: docs sharing ≥1 signature band.

    rows/bands = 64/16 → r=4 rows per band: P(candidate) = 1-(1-j⁴)¹⁶,
    steep around j≈0.55.  Output: (doc_a, doc_b, est_jaccard) with
    doc_a < doc_b, est_jaccard = fraction of agreeing signature values.
    """
    # One MinHash pass, not two: the persisted signature table feeds the
    # banding projection (both self-join sides) AND the post-dedup sig
    # join-back; without the cache marker each reference re-runs the
    # whole shingle+signature pipeline.  The self-join itself shuffles
    # slim (id, band, key) rows only — signatures are joined back AFTER
    # dropDuplicates, so each sig crosses the wire once per surviving
    # pair, not once per colliding band (r9 slim-index rework).  One
    # cached generation per operator: a repeat call releases the last
    # call's blocks (r9 advice — no leak across a long-running driver).
    sigs = _persist_generation(
        "lsh_candidate_pairs",
        minhash_table(
            documents, id_col=id_col, text_col=text_col, portable=portable
        ),
    )
    banded = band_keys_from_sigs(sigs, n_bands, id_col=id_col)
    left = banded.alias("l")
    right = banded.alias("r")
    pair_ids = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    pairs = pair_ids.join(
        sigs.select(F.col(id_col).alias("doc_a"), F.col("sig").alias("sig_a")),
        "doc_a",
    ).join(
        sigs.select(F.col(id_col).alias("doc_b"), F.col("sig").alias("sig_b")),
        "doc_b",
    )
    return pairs.select("doc_a", "doc_b", _sig_agreement())


def exact_jaccard_pairs(
    documents: DataFrame, candidates: DataFrame, k: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """n-gram Jaccard verification of candidate pairs: exact
    |A∩B| / |A∪B| over shingle sets — joined per candidate, never all-pairs.

    Only documents that appear in a candidate pair are (re-)shingled: the
    corpus is semi-joined to the candidate id set first, so verification
    cost is bounded by the candidate count, not the corpus size — at 100 TB
    the LSH stage has already shrunk the problem by orders of magnitude and
    this stage must not undo that."""
    cand_ids = (
        candidates.select(F.col("doc_a").alias(id_col))
        .union(candidates.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    docs = documents.join(cand_ids, id_col, "left_semi")
    # Shingle each candidate document once — the pair join references this
    # table twice (sh_a and sh_b sides).
    sh = _persist_generation(
        "exact_jaccard_pairs.sh",
        _spread(docs).select(F.col(id_col), shingles("text", k).alias("sh")),
    )
    out = (
        candidates.join(sh.withColumnsRenamed({id_col: "doc_a", "sh": "sh_a"}), "doc_a")
        .join(sh.withColumnsRenamed({id_col: "doc_b", "sh": "sh_b"}), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return out.select(
        "doc_a",
        "doc_b",
        F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
    )


def near_duplicates(
    documents: DataFrame, threshold: float = 0.7, id_col: str = "doc_id"
) -> DataFrame:
    """End-to-end near-dup detection: LSH candidates → exact Jaccard filter.

    The candidate table is cached because verification references it
    twice (the semi-join's id set and the pair join) — without it the whole
    LSH pipeline would execute twice.  It holds only (doc_a, doc_b) pairs,
    a vanishing fraction of the corpus; the generation registry (r10)
    releases it on the next call or via ``release_dedup_caches``."""
    cands = _persist_generation(
        "near_duplicates.cands", lsh_candidate_pairs(documents, id_col=id_col)
    )
    return exact_jaccard_pairs(documents, cands, id_col=id_col).filter(
        F.col("jaccard") >= threshold
    )


def string_shingles(text: Column | str = "text", k: int = 3) -> Column:
    """Distinct word k-gram shingles as STRINGS (not field-hashed).

    The string form exists for exact, engine-portable Jaccard (a DuckDB
    twin can build byte-identical shingles); the hashed form
    (:func:`shingles`) is the scale path — same semantics modulo 31-bit
    collisions, but the explode/shuffle carries 8-byte longs instead of
    strings.  Docs with < k tokens yield an empty set.  Tokens are
    let-bound: the slice inside the gram lambda would otherwise re-run
    the tokenizer per gram position (O(n²) per row)."""

    def build(t: Column) -> Column:
        n = F.size(t)
        grams = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, k)),
        )
        # sequence(1, n-k+1) counts DOWN when n < k — guard to an empty slice
        return F.when(n >= k, F.array_distinct(grams)).otherwise(F.slice(t, 1, 0))

    return _let(tokens(text), build)


def jaccard_similarity_join(
    documents: DataFrame,
    threshold: float = 0.7,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Exact all-pairs Jaccard similarity join via an inverted index — the
    set-similarity-join shape: explode shingles, equi-join docs sharing a
    shingle, count co-occurrences per pair, then
    jaccard = |A∩B| / (|A|+|B| - |A∩B|).

    Pairs sharing zero shingles never meet (the equi-join IS the candidate
    filter), so cost is Σ_s df(s)² over shingle document-frequencies, not
    n².  That sum is quadratic in the frequency of the most common shingle:
    one piece of boilerplate shared by f documents emits f² join rows.

    ``max_df`` is the stop-shingle guard rail for that skew: shingles whose
    document frequency exceeds the cap are dropped from the inverted index
    (one extra groupBy on the exploded table — same shuffle key as the
    self-join, so the exchange is reused) and per-doc set sizes are
    recomputed over the surviving shingles, i.e. Jaccard is then measured
    over the sub-universe of discriminative shingles.  A shingle present in
    more than ``max_df`` documents carries no pair-discriminating signal at
    high thresholds, so recall at 0.7 is essentially unaffected.  The
    default ``None`` keeps the exact full-universe semantics (and the
    byte-identical DuckDB twin) — correct at fixture scale, required at
    100 TB only when the corpus has heavy boilerplate.  The LSH pipeline
    (:func:`near_duplicates`) is the probabilistic alternative with
    per-row cost."""
    sh = _spread(documents).select(
        F.col(id_col), string_shingles(text_col, k).alias("shs")
    )
    ex = sh.select(id_col, F.size("shs").alias("sz"), F.explode("shs").alias("s"))
    if max_df is not None:
        keep = (
            ex.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("s")
        )
        ex = ex.join(keep, "s")
        sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
        ex = ex.drop("sz").join(sizes, id_col)
    # Materialize the inverted index once: both self-join sides (and the
    # max_df df-count) otherwise recompute the full shingling pipeline.
    # A production 100 TB run writes this table out instead of caching.
    ex = _persist_generation("jaccard_ssjoin.index", ex)
    l, r = ex.alias("l"), ex.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.s") == F.col("r.s"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first(F.col("l.sz")).alias("sz_a"),
            F.first(F.col("r.sz")).alias("sz_b"),
        )
    )
    jac = F.round(
        F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
    )
    return (
        pairs.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _release_checkpoint(df: DataFrame) -> None:
    """Deterministically free a ``localCheckpoint``-ed frame's storage
    blocks (r6 advice): reach the LogicalRDD through the analyzed plan
    and unpersist it, instead of relying on driver GC + ContextCleaner
    timing — a long-lived session running many clustering calls would
    otherwise accumulate checkpoint blocks between GC cycles."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # non-LogicalRDD root or API drift — GC reclaims
        pass


def _star_components(
    pairs: DataFrame, max_iter: int, stats: dict | None = None
) -> DataFrame:
    """Alternating large-star/small-star connected components — the
    published MapReduce CC algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014).  Input: near-dup
    pairs (doc_a, doc_b); output: (id, label) with label = component min.

    Each round, per node u with closed-neighborhood min m(u):
    **large-star** re-hooks every LARGER neighbor v > u to m(u);
    **small-star** re-hooks every smaller neighbor (and u itself) to
    m(u).  Components contract to stars in O(log² n) rounds worst-case;
    on chains the diameter halves per round (~log₂ d rounds vs one hop
    per round for plain min-label propagation), so long mirror-farm
    chains converge in a handful of rounds instead of O(diameter).

    Scale notes: every step is an equi-join + groupBy on the EDGE list
    (≪ corpus — only near-dup members appear); each round's edge set is
    localCheckpoint-ed (plan stays O(1) deep) and the previous round's
    blocks are released explicitly."""
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # m(u) = min over N(u) ∪ {u}
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        large = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sym1 = large.union(
            large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m1 = sym1.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        small = (
            sym1.join(m1, "u")
            .filter(F.col("v") < F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m1.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        _release_checkpoint(large)
        n_new = small.count()
        # equal-size distinct sets are equal iff the one-way difference
        # is empty — one anti-join job, no symmetric difference needed
        # (left_anti, not subtract: both sides are .distinct() by
        # construction, and ExceptDistinct would re-dedup each per round)
        changed = (
            n_new != n_edges
            or small.join(edges, ["u", "v"], "left_anti").count() > 0
        )
        _release_checkpoint(edges)
        edges, n_edges = small, n_new
        if not changed:
            converged = True
            break
    if stats is not None:
        stats.update(rounds=rounds, converged=converged, method="star")
    if not converged:
        logging.getLogger(__name__).warning(
            "star components did not converge in %d rounds — components "
            "wider than the round budget are split; raise max_iter",
            max_iter,
        )
    # At the fixpoint every component is a star (child → root edges);
    # label children by their root and roots by themselves.  min() guards
    # the not-converged case, where a node may still carry two parents.
    return (
        edges.select(F.col("u").alias("id"), F.col("v").alias("label"))
        .union(edges.select(F.col("v").alias("id"), F.col("v").alias("label")))
        .groupBy("id")
        .agg(F.min("label").alias("label"))
    )


def near_duplicate_clusters(
    documents: DataFrame,
    threshold: float = 0.7,
    k: int = 3,
    id_col: str = "doc_id",
    max_iter: int = 25,
    max_df: int | None = None,
    pointer_jump: bool = False,
    method: str = "star",
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over the near-duplicate graph — the step that
    turns pairwise matches into dedup decisions (keep one representative
    per cluster, drop the rest).

    Pairs come from :func:`jaccard_similarity_join` (exact, so the result
    is engine-reproducible); components via min-label propagation: every
    vertex starts as its own label, then repeatedly takes the min label in
    its neighborhood until a fixpoint.  Converges in O(component diameter)
    iterations — near-dup clusters are shallow (pairs/chains of a few
    docs), so a handful of rounds; ``max_iter`` bounds pathological chains.

    ``pointer_jump=True`` adds a label-compression step per round
    (label := label(label), one extra equi-join on the label table):
    chains halve each round, so convergence drops to O(log diameter) —
    worth it on corpora with deep near-dup chains (mirror farms), pure
    per-round overhead on shallow fixtures, hence opt-in.

    Scale notes: each round is one join + one groupBy on the edge list
    (edges ≪ corpus — only near-dup docs appear); labels localCheckpoint
    per round, which BOTH caches the round's result and truncates plan
    lineage — persist alone caches data but leaves each round's plan
    nested inside the next, and the plan itself OOMs the driver once
    rounds grow (observed at diameter 7).  Output: (doc_id, cluster_rep,
    cluster_size) for every document that belongs to a near-dup cluster.

    ``max_df`` passes through to :func:`jaccard_similarity_join` (the
    stop-shingle cap).  If propagation exhausts ``max_iter`` before the
    fixpoint (a near-dup chain with diameter > max_iter), the labels are
    split clusters — that is loud, not silent: a warning is logged with
    the residual change count so callers can raise ``max_iter``.

    ``method`` selects the components algorithm: ``"star"`` (default —
    alternating large-star/small-star, O(log² n) rounds, see
    :func:`_star_components`) or ``"propagate"`` (min-label propagation
    as described above; ``pointer_jump`` applies to this method only).
    Both produce identical labels (component min); ``stats`` (optional
    dict) receives rounds/convergence for observability and tests."""
    pairs = jaccard_similarity_join(documents, threshold, k, id_col, max_df=max_df)
    if method == "star":
        labels = _star_components(pairs, max_iter, stats)
        sizes = labels.groupBy("label").agg(
            F.count(F.lit(1)).alias("cluster_size")
        )
        return labels.join(sizes, "label").select(
            F.col("id").alias(id_col),
            F.col("label").alias("cluster_rep"),
            "cluster_size",
        )
    if method != "propagate":
        raise ValueError(f"unknown components method: {method!r}")
    labels = _propagate_components(pairs, max_iter, pointer_jump, stats)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster_rep"),
        "cluster_size",
    )


def _propagate_components(
    pairs: DataFrame,
    max_iter: int,
    pointer_jump: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Min-label propagation components (the ``method="propagate"`` body
    of :func:`near_duplicate_clusters`, factored out so the loop's
    storage discipline is directly testable on a raw edge list): (id,
    label) with label = component min."""
    edges = _persist_generation(
        "components.edges",
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))),
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    rounds = 0
    prev_ckpt = labels  # the checkpointed frame whose blocks round N+1 frees
    for _ in range(max_iter):
        rounds += 1
        neighbor_min = (
            edges.join(labels, edges.v == labels.id)
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        # the old label rides along, so change detection is a filter on
        # this same frame — no second join against the previous labels
        stepped = labels.join(
            neighbor_min, labels.id == neighbor_min.u, "left"
        ).select(
            "id",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
        )
        # localCheckpoint (not persist): persist caches DATA but the logical
        # plan still nests one round inside the next — at high round counts
        # the plan itself OOMs the driver.  Checkpointing truncates lineage,
        # so plan size stays O(1) per round; blocks are reclaimed by the
        # ContextCleaner when prior rounds are garbage-collected.  It also
        # has to happen BEFORE the pointer jump: the jump self-joins this
        # frame, and both sides of an un-checkpointed self-join recompute
        # the whole neighbor-min subtree.
        stepped = stepped.localCheckpoint(eager=True)
        this_ckpt = stepped
        if pointer_jump:
            # label := label(label): labels always point to equal-or-smaller
            # ids, so the jump is monotone and chains halve per round
            parents = stepped.select(
                F.col("id").alias("pid"), F.col("label").alias("plabel")
            )
            stepped = stepped.join(
                parents, stepped.label == parents.pid, "left"
            ).select(
                "id",
                "old_label",
                F.least(F.col("label"), F.coalesce("plabel", "label")).alias(
                    "label"
                ),
            )
        changed = stepped.filter(F.col("label") != F.col("old_label")).count()
        # the prior round's checkpoint blocks are no longer reachable
        # (this round is materialized) — free them now instead of waiting
        # for GC + ContextCleaner (r6 advice).  NOTE: release the actual
        # checkpointed frame, not a projection of it.
        if prev_ckpt is not this_ckpt:
            _release_checkpoint(prev_ckpt)
        prev_ckpt = this_ckpt
        labels = stepped.select("id", "label")
        if changed == 0:
            break
    if stats is not None:
        stats.update(rounds=rounds, converged=changed == 0, method="propagate")
    if changed != 0:
        logging.getLogger(__name__).warning(
            "near_duplicate_clusters: label propagation did not converge in "
            "%d iterations (%d labels still changing) — clusters with "
            "diameter > max_iter are split; raise max_iter",
            max_iter,
            changed,
        )
    # edges stays persisted: the returned plan still depends on it through
    # the final labels' lineage if the cache evicts; the ContextCleaner
    # reclaims both when the plan is garbage-collected.
    return labels


# --------------------------------------------------------------- SimHash

def portable_token_hash64(w: Column) -> Column:
    """63-bit engine-portable token hash: md5 hex chars 1-8 (top 31 bits,
    sign-masked) and 9-16 (low 32 bits) each parsed with one built-in and
    combined arithmetically — always non-negative, so ``>>`` and ``&``
    behave identically everywhere.  Bit 63 is always 0 (63 effective
    SimHash bits).  DuckDB twin: :data:`PORTABLE_HASH64_SQL`."""
    m = F.md5(w.cast("binary"))
    hi = F.conv(F.substring(m, 1, 8), 16, 10).cast("long").bitwiseAND(
        F.lit(0x7FFFFFFF)
    )
    lo = F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
    return hi * F.lit(4294967296) + lo


#: DuckDB expression template for :func:`portable_token_hash64`.
PORTABLE_HASH64_SQL = (
    "((('0x' || substring(md5({w}), 1, 8))::BIGINT & 2147483647)"
    " * 4294967296 + ('0x' || substring(md5({w}), 9, 8))::BIGINT)"
)


def _simhash_from_hash_arrays():
    """Vectorized per-batch SimHash fold (guide §4.2): Arrow-batched
    pandas UDF that turns each row's ``array<long>`` of token hashes into
    the 64-bit majority signature with numpy — ``unpackbits`` expands the
    batch's tokens to a (tokens, 64) bit matrix once, ``add.reduceat``
    segment-sums it per document, and the majority/packing steps are two
    vectorized lines.  Bit-exact with the expression form it replaces
    (``(h >> i) & 1`` under two's complement equals the logical-shift
    bit for every i including the sign bit; majority and packing are
    integer ops) — pinned by the exceptAll parity probe and the oracle.

    Why a Python node is the RIGHT call here (r19): the expression form
    folded 64 interpreted higher-order ``size(filter(...))`` passes per
    row — measured 1.73 s at sf0.1 against 0.87 s for this batch fold,
    with tokenize+hash staging only 0.16 s of it.  The UDF is a pure
    projection (stream-legal, no shuffle at any scale); only ``_hs``
    crosses the Arrow boundary (~8 B/token), and the bit matrix is
    chunked to ≤ 2^21 tokens (~128 MB) so one wide batch cannot balloon
    worker memory."""
    import numpy as np

    def _sh(hs: pd.Series) -> pd.Series:
        if len(hs) == 0:
            return pd.Series([], dtype="int64")
        arrs = [np.asarray(a, dtype=np.int64).view(np.uint64) for a in hs]
        lens = np.fromiter(
            (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
        )
        shifts = np.arange(64, dtype=np.uint64)
        out = np.empty(len(arrs), dtype=np.uint64)
        # chunk on DOC boundaries with a ~2^21-token budget: fixed peak
        # memory however long the documents in a batch are
        budget, start = 1 << 21, 0
        while start < len(arrs):
            end, tok = start, 0
            while end < len(arrs) and (tok == 0 or tok + lens[end] <= budget):
                tok += lens[end]
                end += 1
            flat = np.concatenate(arrs[start:end])
            bits = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            n = lens[start:end]
            # reduceat gives an empty segment the NEXT row's bits (and
            # raises on a trailing one): fold only the non-empty docs and
            # leave the empty ones at zero votes, i.e. signature 0
            nz = n > 0
            cnt = np.zeros((end - start, 64), dtype=np.int64)
            if nz.any():
                seg = (np.cumsum(n) - n)[nz]
                cnt[nz] = np.add.reduceat(bits, seg, axis=0, dtype=np.int64)
            maj = (cnt * 2 > n[:, None]).astype(np.uint64)
            out[start:end] = (maj << shifts).sum(axis=1, dtype=np.uint64)
            start = end
        return pd.Series(out.view(np.int64))

    return F.pandas_udf(_sh, "long")


def simhash_table(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """64-bit SimHash per document: bit i of the result is 1 iff the count
    of tokens with bit i set exceeds half the token count.

    Pure per-row projection: the token array is hashed ONCE into a staged
    ``array<long>`` column in the JVM (md5/xxhash ride the scan), and the
    64 per-bit majority counts fold in a vectorized Arrow batch
    (:func:`_simhash_from_hash_arrays` — numpy ``unpackbits`` +
    ``add.reduceat``, guide §4.2).  No explode, no shuffle at ANY scale:
    SimHash rides the scan.  r19: the previous 64 interpreted
    ``size(filter(...))`` expression passes were 90% of the operator's
    cost (1.73 s vs 0.87 s at sf0.1, bit-identical output); r18 had
    already measured JVM-expression reformulations (aggregate fold,
    packed lanes) within ±6% — the interpreter overhead, not the
    formulation, was the wall.

    ``portable=True`` uses :func:`portable_token_hash64` so the DuckDB
    oracle reproduces every hash bit; xxhash64 is the throughput default."""
    tok_hash = (
        (lambda w: portable_token_hash64(w)) if portable else (lambda w: F.xxhash64(w))
    )
    staged = _spread(documents).select(
        F.col(id_col), F.transform(tokens(text_col), tok_hash).alias("_hs")
    )
    # Token-less docs (null text / no alphanumerics) have no signature:
    # emitting sh=0 for them would make every such doc a mutual hamming-0
    # "near-duplicate" of the others, and the explode-based oracle drops
    # them by construction.
    staged = staged.filter(F.size("_hs") > 0)
    return staged.select(
        id_col, _simhash_from_hash_arrays()(F.col("_hs")).alias("sh")
    )


def hamming_band_keys(
    sig: Column, max_hamming: int, n_blocks: int, n_bits: int = 64
) -> Column:
    """``array<struct<tbl int, key long>>`` of block-permuted banding
    keys for Hamming-radius search (Manku, Jain & Sarma 2007, "Detecting
    Near-Duplicates for Web Crawling" §3 — public): split the ``n_bits``
    signature into ``n_blocks`` blocks; two signatures within Hamming ≤
    ``max_hamming`` differ in at most ``max_hamming`` blocks, so they
    agree on ALL blocks of at least one of the C(n_blocks,
    n_blocks−max_hamming) block combinations (pigeonhole).  Keying every
    combination keeps recall EXACT while the key width grows to
    ~(1 − h/b)·n_bits — the scale dial the fixed 4×16-bit chunking
    lacked: at 10⁸⁺ items, 16-bit keys collide by birthday (~4·n²/2¹⁷
    candidate pairs); n_blocks=6 gives 20 tables keyed on ~32 bits,
    n_blocks=8 gives 56 tables on ~40 bits, each collapsing expected
    random collisions by 2¹⁶⁺×.

    ``n_blocks = max_hamming + 1`` (the default callers use) degenerates
    to single-block keys — exactly the classic 4-chunk pigeonhole."""
    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks={n_blocks} must exceed max_hamming={max_hamming} "
            "(pigeonhole needs at least one untouched block)"
        )
    if n_blocks > n_bits:
        raise ValueError(f"n_blocks={n_blocks} > n_bits={n_bits}")
    widths = [
        n_bits // n_blocks + (1 if i < n_bits % n_blocks else 0)
        for i in range(n_blocks)
    ]
    starts = [sum(widths[:i]) for i in range(n_blocks)]
    keep = n_blocks - max_hamming
    entries = []
    for t, combo in enumerate(itertools.combinations(range(n_blocks), keep)):
        key = F.lit(0).cast("long")
        off = 0
        for b in combo:
            # width 64 (n_blocks=1, i.e. max_hamming=0 exact matching):
            # (1<<64)-1 overflows LongType — the all-ones mask is -1
            mask = -1 if widths[b] == 64 else (1 << widths[b]) - 1
            block = F.shiftrightunsigned(sig, starts[b]).bitwiseAND(
                F.lit(mask)
            )
            key = key.bitwiseOR(F.shiftleft(block, off))
            off += widths[b]
        entries.append(
            F.struct(F.lit(t).cast("int").alias("tbl"), key.alias("key"))
        )
    return F.array(*entries)


def simhash_near_duplicates(
    documents: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    portable: bool = False,
    n_blocks: int | None = None,
) -> DataFrame:
    """SimHash near-dups via block-permuted banding
    (:func:`hamming_band_keys`): pairs within Hamming ≤ ``max_hamming``
    share at least one banding key (pigeonhole over ``n_blocks`` blocks),
    so the join is an equi-join on (table, key) — LSH-shaped, no
    crossJoin.  Verify with bit_count(a XOR b); recall is exact at ANY
    ``n_blocks``, which only dials candidate precision: the default 4
    reproduces the classic 4×16-bit chunking, 6+ widens keys to ~32+
    bits for 10⁸⁺-row corpora where 16-bit buckets collide by birthday.

    Scale shape: the corpus is collapsed to DISTINCT simhash values before
    pairing (duplicate hashes ride along via a final expansion join), the
    Hamming filter runs inside the pair join's projection, and only the
    surviving pairs are deduped — on correlated corpora (shared vocabulary)
    chunk buckets are big, so filtering before the distinct is the
    difference between deduping thousands of rows and tens of millions."""
    if n_blocks is None:
        n_blocks = max_hamming + 1  # minimal pigeonhole: 1-block keys
    # One SimHash pass, not three: distinct_sh and both expansion sides
    # reference this table — one long per document, tiny to cache.
    sh = _persist_generation(
        "simhash_near_dups.sh",
        simhash_table(documents, id_col=id_col, portable=portable),
    )
    distinct_sh = sh.select("sh").distinct()
    chunked = distinct_sh.select(
        "sh",
        F.explode(
            hamming_band_keys(F.col("sh"), max_hamming, n_blocks)
        ).alias("c"),
    ).select("sh", "c.tbl", "c.key")
    left, right = chunked.alias("l"), chunked.alias("r")
    hamming = F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh")))
    # pair distinct hash values; ≤ (not <) so duplicate-hash doc pairs
    # (hamming 0, equal sh) are representable after expansion
    sh_pairs = (
        left.join(
            right,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.sh") <= F.col("r.sh")),
        )
        .select(
            F.col("l.sh").alias("sh_a"),
            F.col("r.sh").alias("sh_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["sh_a", "sh_b"])
    )
    # expand hash pairs back to document pairs
    da = sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    db = sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        sh_pairs.join(da, "sh_a")
        .join(db, "sh_b")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "hamming")
    )


# ------------------------------------------------------------ exact dedup

def content_hash_dedup(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """X1 at scale: dedup on sha256 of normalized content (lower + collapsed
    whitespace) — the hash groupBy shuffles 32-byte keys, not documents."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        documents.select(F.sha2(norm, 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ------------------------------------------------ paragraph-level dedup

def paragraph_table(
    documents: DataFrame, k: int = 10, id_col: str = "doc_id"
) -> DataFrame:
    """Explode each document into "paragraphs" keyed by md5 hash.

    The fixture corpus carries no newlines (TESTDATA.md), so the paragraph
    boundary here is positional: non-overlapping ``k``-token windows.  On a
    real corpus the splitter is one line — ``split(text, '\\n\\n')`` — and
    everything downstream is unchanged; the *mechanism* (explode + 16-byte
    hash keys, never paragraph text, on the shuffle) is what scales.

    Explode-only: no shuffle happens in this function."""
    staged = documents.select(id_col, tokens("text").alias("_toks"))
    return staged.select(
        id_col, F.posexplode(_para_array("_toks", k)).alias("para_idx", "para")
    ).select(id_col, "para_idx", F.md5(F.col("para").cast("binary")).alias("para_hash"))


def _para_array(toks_col: str, k: int) -> Column:
    """Positional-paragraph array over a staged token-array column:
    non-overlapping ``k``-token windows rejoined to strings."""
    npar = F.ceil(F.size(toks_col) / F.lit(k)).cast("int")
    idx = F.when(npar > 0, F.sequence(F.lit(0), npar - F.lit(1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx, lambda i: F.array_join(F.slice(toks_col, i * k + 1, k), " ")
    )


def paragraph_dup_stats(documents: DataFrame, k: int = 10) -> DataFrame:
    """Corpus-level paragraph duplication profile (the MassiveText /
    RefinedWeb pre-dedup diagnostic): how many paragraph instances exist,
    how many are distinct, how many instances belong to a repeated
    paragraph, and the duplicate ratio.

    Shape at 100 TB: explode → groupBy on the 16-byte hash (map-side
    combined, shuffle bounded by distinct paragraphs) → single summary
    row.  Exact integer counts; the only double is the final ratio."""
    per_hash = paragraph_table(documents, k).groupBy("para_hash").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    dup_instances = F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0)))
    return per_hash.agg(
        F.sum("cnt").alias("n_paragraphs"),
        F.count(F.lit(1)).alias("n_distinct_paragraphs"),
        dup_instances.alias("n_dup_instances"),
        F.round(dup_instances / F.sum("cnt"), 6).alias("dup_ratio"),
    )


def dedup_survivors(
    documents: DataFrame,
    threshold: float = 0.7,
    k: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the greedy near-dup removal policy and return the surviving
    corpus ids: a document is dropped iff it has at least one
    near-duplicate with a smaller id (the keep-lowest-id convention most
    production dedup passes use — one anti-join, no iteration).  Greedy ≠
    connected-component dedup: in a chain a~b~c without a~c, b drops for
    a, and c still drops for b even though its surviving neighbor a is not
    near — :func:`near_duplicate_clusters` is the transitive variant.

    Scale shape: the pair join is the bounded inverted-index ssjoin; the
    drop list is pair-count-sized; the final anti-join broadcasts it when
    small and hash-joins otherwise.  The corpus never shuffles text."""
    pairs = jaccard_similarity_join(documents, threshold, k, id_col)
    drop = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return documents.join(drop, id_col, "left_anti").select(id_col)


# ------------------------------------- exact-substring overlap / calibration

def duplicated_span_stats(
    documents: DataFrame,
    n: int = 8,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Positional exact-substring duplication report — per document, the
    maximal verbatim spans it shares with OTHER documents (Lee et al.
    2021, arXiv:2107.06499 §3: remove substrings duplicated across the
    corpus, not whole near-dup documents).  It answers *where and how
    much* — the view a span-removal pass keys off.

    Semantics: every n-token gram START position whose gram occurs in
    ≥ ``min_df`` distinct documents is "duplicated"; each such position
    covers tokens [pos, pos+n-1]; overlapping/adjacent covered intervals
    merge into maximal spans (two start positions join one span iff their
    gap ≤ n-1 — same-length intervals sorted by start need no general
    interval merge).  Output per doc with ≥1 duplicated gram: token
    count, duplicated-gram count, span count, longest span in tokens,
    and the exact fraction of tokens covered by duplicated spans.

    Scale shape (this is the suffix-array-free approximation): the gram
    table is one posexplode — ~tokens/doc rows of (xxhash64 long, id,
    pos); the ≥min_df filter runs INSIDE one gram-keyed window pass
    (dense_rank over doc id, then its partition max = exact distinct-doc
    count), so the gram table is computed once and shuffled once — the
    previous groupBy(count_distinct) + equi-join-back shape computed the
    (unpersisted) gram subtree twice and shuffled it twice, and the
    32-hex md5 string key carried 4× the bytes of the 8-byte hash
    (r18: 2.87 → measured ~1.9 s at sf0.1, identical output; gram
    identity is a join/grouping key only, never surfaced, so the hash
    swap is the banding precedent — identical modulo a 64-bit
    collision).  No quadratic pair blowup — unlike the pairwise view,
    hot boilerplate grams cost df rows here, not df²; span merging is
    one per-doc window over only the duplicated positions.  The corpus
    text itself never shuffles.

    Skew tradeoff (r18 advisor): every occurrence of one gram lands in
    ONE task's window sort (window partitions cannot split), whereas the
    old groupBy(count_distinct) shape had map-side partial aggregation —
    so a single boilerplate gram occurring ~1e9 times would make one
    straggler task.  Acceptable at bench scale and for corpora without
    extreme boilerplate; for production profiles with hot grams, fall
    back to the groupBy+join shape over a persisted gram table (compute
    grams once, groupBy(gram).agg(count_distinct(id)) with partial agg,
    join the ≥min_df gram set back) — same output, one extra shuffle,
    skew-immune."""
    from pyspark.sql.window import Window

    staged = documents.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(id_col, "_toks", F.size("_toks").alias("_nt"))
    grams = staged.filter(F.col("_nt") >= n).select(
        F.col(id_col),
        F.col("_nt").cast("long").alias("n_tokens"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("_nt") - (n - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("_toks", i, n))),
            )
        ).alias("pos", "gram"),
    )
    gw = Window.partitionBy("gram")
    dpos = (
        grams.withColumn(
            "_dr", F.dense_rank().over(gw.orderBy(id_col))
        )
        .withColumn("_df", F.max("_dr").over(gw))
        .filter(F.col("_df") >= min_df)
        .select(id_col, "n_tokens", "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= n - 1, F.lit(0)
    ).otherwise(F.lit(1))
    islanded = dpos.select(
        id_col, "n_tokens", "pos", brk.alias("_brk")
    ).select(
        id_col,
        "n_tokens",
        "pos",
        F.sum("_brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_grp"),
    )
    spans = islanded.groupBy(id_col, "n_tokens", "_grp").agg(
        F.count(F.lit(1)).alias("_span_grams"),
        F.min("pos").alias("_s"),
        F.max("pos").alias("_e"),
    )
    covered = F.col("_e") - F.col("_s") + n
    per_doc = spans.groupBy(id_col, "n_tokens").agg(
        F.sum("_span_grams").cast("long").alias("n_dup_grams"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.max(covered).cast("long").alias("max_span_tokens"),
        F.sum(covered).cast("long").alias("_covered"),
    )
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        "n_dup_grams",
        "n_spans",
        "max_span_tokens",
        F.round(F.col("_covered") / F.col("n_tokens"), 6).alias(
            "dup_token_fraction"
        ),
    )


def strip_duplicated_spans(
    documents: DataFrame,
    n: int = 8,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The span-REMOVAL transform the stats view exists for (Lee et al.
    2021 §3: delete each duplicated substring from all but one
    occurrence): every doc keeps only tokens outside its duplicated
    spans, EXCEPT in the lowest-id document per duplicated gram's first
    span — here simplified to the policy "drop covered tokens in every
    doc that is not the minimum doc_id among those sharing any gram of
    the span" → deterministic, order-free, one pass.

    Output: (id, n_tokens, n_kept_tokens, kept_hash) where kept_hash is
    md5 over the space-joined surviving tokens — token-level because
    reconstructing original whitespace/markup is not meaningful after
    tokenization.  Docs with no duplicated spans pass through with all
    tokens kept.

    Scale shape: reuses the :func:`duplicated_span_stats` gram table
    (explode + one groupBy on the gram hash); the owner decision is a
    min-aggregate per gram joined back; token filtering is a per-row
    projection over the collected drop-intervals (intervals per doc ≈
    span count, small)."""
    from pyspark.sql.window import Window

    staged = documents.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(id_col, "_toks", F.size("_toks").alias("_nt"))
    grams = staged.filter(F.col("_nt") >= n).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("_nt") - (n - 1)),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice("_toks", i, n)).cast("binary")
                ),
            )
        ).alias("pos", "gram"),
    )
    owners = grams.groupBy("gram").agg(
        F.count_distinct(F.col(id_col)).alias("_df"),
        F.min(F.col(id_col)).alias("_owner"),
    )
    # duplicated gram occurrences in docs that do NOT own the gram
    dpos = (
        grams.join(owners.filter(F.col("_df") >= min_df), "gram")
        .filter(F.col(id_col) != F.col("_owner"))
        .select(id_col, "pos")
        .distinct()
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    islanded = dpos.select(
        id_col,
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(w) <= n - 1, F.lit(0))
        .otherwise(F.lit(1))
        .alias("_brk"),
    ).select(
        id_col,
        "pos",
        F.sum("_brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_grp"),
    )
    spans = (
        islanded.groupBy(id_col, "_grp")
        .agg(F.min("pos").alias("_s"), F.max("pos").alias("_e"))
        .groupBy(id_col)
        .agg(
            F.collect_list(F.struct(F.col("_s"), (F.col("_e") + n - 1).alias("_e")))
            .alias("_drops")
        )
    )
    joined = staged.join(spans, id_col, "left")
    covered = lambda i: F.exists(  # noqa: E731 — local predicate alias
        F.col("_drops"),
        lambda d: (d["_s"] <= i) & (i <= d["_e"]),
    )
    kept = F.when(F.col("_drops").isNull(), F.col("_toks")).otherwise(
        F.filter(F.col("_toks"), lambda t, i: ~covered(i))
    )
    return joined.select(
        F.col(id_col),
        F.col("_nt").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept_tokens"),
        F.md5(F.concat_ws(" ", kept).cast("binary")).alias("kept_hash"),
    )


def minhash_estimate_calibration(
    documents: DataFrame,
    n_bands: int = 16,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Estimator calibration: for every MinHash-LSH candidate pair, the
    signature-agreement estimate next to the EXACT string-shingle Jaccard
    and the absolute error — the view that justifies trusting the sketch
    at scale (and catches a broken hash family immediately: errors
    concentrate near E|err| ≈ sqrt(j(1-j)/64) ≈ 0.06, so a mean error
    drifting past ~0.1 is a red flag, not noise).

    Exact Jaccard is computed only for candidate pairs (semi-join
    bounded, like :func:`exact_jaccard_pairs`) but over STRING shingles
    so an engine-portable oracle can replay every value bit-exact."""
    # Persisted: referenced three times below (both arms of the id union
    # and the verify join) — without the marker the band self-join +
    # pair-dedup re-executes per reference (the signature stage is cached
    # inside lsh_candidate_pairs, but not the join above it).
    cand = _persist_generation(
        "calibration.cand",
        lsh_candidate_pairs(
            documents, n_bands, id_col=id_col, text_col=text_col, portable=True
        ),
    )
    ids = (
        cand.select(F.col("doc_a").alias(id_col))
        .union(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sh = _persist_generation(
        "calibration.sh",
        documents.join(ids, id_col, "left_semi")
        .select(F.col(id_col), string_shingles(text_col, k).alias("sh")),
    )
    joined = cand.join(
        sh.withColumnsRenamed({id_col: "doc_a", "sh": "sh_a"}), "doc_a"
    ).join(sh.withColumnsRenamed({id_col: "doc_b", "sh": "sh_b"}), "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    exact = F.round(inter / F.greatest(union, F.lit(1)), 6)
    return joined.select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        exact.alias("exact_jaccard"),
        F.round(F.abs(F.col("est_jaccard") - exact), 6).alias("abs_err"),
    )


def dedup_rate_by_source(
    documents: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source duplication report: corpus-wide content-hash dedup
    (same normalization as :func:`content_hash_dedup`), then for each
    source the count of documents that are non-representative copies of
    some hash group (min-id keeps) and the duplication rate — the
    curation dashboard number that decides which sources get aggressive
    dedup budgets.

    Two shuffles, both on small keys: the 32-byte hash groupBy (map-side
    combined) and the |sources|-row final aggregate."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    h = documents.select(
        F.col(source_col).alias("source"),
        F.col(id_col),
        F.sha2(norm, 256).alias("content_hash"),
    )
    rep = h.groupBy("content_hash").agg(F.min(id_col).alias("_keep"))
    flagged = h.join(rep, "content_hash").select(
        "source", (F.col(id_col) != F.col("_keep")).alias("_is_dup")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("_is_dup")).alias("n_dup_copies"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_copies",
            F.round(F.col("n_dup_copies") / F.col("n_docs"), 6).alias(
                "dup_rate"
            ),
        )
    )


def _gram_occurrences(
    staged: DataFrame, length: int, id_col: str
) -> DataFrame:
    """(id, gram) — every ``length``-token gram occurrence, gram as a
    128-bit struct of two independent xxhash64 lanes over the
    space-joined token slice (lane 2 appends a salt field to the hash
    input).  The hash is a grouping key only, never surfaced.

    Why 128 bits (r19, on the r18 advisor's finding): unlike the LSH
    banding keys — whose collisions are removed by the signature
    join-back — NOTHING downstream verifies these keys, and
    ``dup_exists``'s monotone boolean flips on a single false equality.
    At ~1e13 gram occurrences per probe (the 100 TB shape) 64-bit
    birthday collisions are expected in the millions; at 128 bits the
    expected count is ~1e-13 — the same exactness class as the sha256
    content hashes elsewhere in this module.  Versus the pre-r18 md5
    form this still shuffles 16 fixed bytes instead of a 32-hex string
    and computes two JVM intrinsics instead of md5 + hex encoding,
    across ~log2(max_len)+2 probe scans.  The gram string is let-bound
    so it is built once per position, not once per lane."""
    gram_pair = lambda i: _let(  # noqa: E731 — local expression builder
        F.concat_ws(" ", F.slice("_toks", i, length)),
        lambda s: F.struct(
            F.xxhash64(s).alias("g1"),
            F.xxhash64(s, F.lit(1)).alias("g2"),
        ),
    )
    return staged.filter(F.col("_nt") >= length).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("_nt") - (length - 1)),
                gram_pair,
            )
        ).alias("gram"),
    )


def longest_dup_substring(
    documents: DataFrame,
    max_len: int = 128,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT longest duplicated token-substring statistics (the
    suffix-array question of Lee et al. 2021, arXiv:2107.06499 §4,
    answered suffix-array-free; "exact" modulo 128-bit gram-hash
    collisions — expected ~1e-13 false equalities at 1e13 gram
    occurrences, the same exactness class as this module's sha256
    content hashes, and 2^64 times tighter than the unverified 64-bit
    key the r18 advisor flagged): one row —

      (max_dup_tokens, n_grams_at_max, n_occurrences_at_max,
       n_docs_at_max)

    where ``max_dup_tokens`` is the length in tokens of the LONGEST
    substring occurring at ≥ ``min_count`` (doc, position) sites
    corpus-wide (within-doc repeats count, exactly as in suffix-array
    dedup), capped at ``max_len``; the other columns profile the
    substrings that realize the maximum.  Complements
    :func:`duplicated_span_stats`, whose per-doc spans are an n-gram
    island APPROXIMATION (consecutive duplicated 8-grams may be
    duplicated against *different* partners, so an island need not be a
    verbatim corpus-level duplicate) — this operator's answer is exact.

    Scale design: "substring duplicated at length L" is MONOTONE in L
    (an occurrence pair at L is an occurrence pair at every prefix
    length), so binary search over L needs ceil(log2(max_len)) + 1
    probes.  Each probe is one corpus scan — a posexplode to
    (doc, 16-byte gram hash) rows plus a map-side-combined count with an
    early-out LIMIT 1 — and the final stats pass is one more scan at the
    answer length.  No suffix array, no global sort, no driver-side data
    beyond one boolean per probe; the corpus text itself never shuffles
    (only hashes do).  At 100 TB each probe shuffles ~tokens-per-doc ×
    docs hash rows — the same volume the gated 8-gram span pass already
    moves, log2(128) = 7 more times."""
    if max_len < 1 or min_count < 2:
        raise ValueError(
            f"max_len must be >= 1 and min_count >= 2, got {max_len}/{min_count}"
        )
    # Persist the tokenized corpus across the ~log2(max_len)+2 probes:
    # every probe (and the final stats pass) re-references `staged`, and
    # an unpersisted frame would re-read and re-tokenize the corpus per
    # probe — the generation registry releases it on the next call
    # (r13 verdict item; the default MEMORY_AND_DISK level spills rather
    # than OOMs when the token table outgrows executor memory at scale).
    staged = _persist_generation(
        "longest_dup_substring.staged",
        documents.select(
            F.col(id_col), tokens(text_col).alias("_toks")
        ).withColumn("_nt", F.size("_toks")),
    )

    def dup_exists(length: int) -> bool:
        return (
            _gram_occurrences(staged, length, id_col)
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= min_count)
            .limit(1)
            .count()
            > 0
        )

    spark = documents.sparkSession
    zero = spark.createDataFrame(
        [(0, 0, 0, 0)],
        "max_dup_tokens long, n_grams_at_max long, "
        "n_occurrences_at_max long, n_docs_at_max long",
    )
    if not dup_exists(1):
        return zero
    lo, hi = 1, max_len
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if dup_exists(mid):
            lo = mid
        else:
            hi = mid - 1
    occ = _gram_occurrences(staged, lo, id_col)
    dup = (
        occ.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    return (
        occ.join(dup.select("gram"), "gram")
        .agg(
            F.count_distinct("gram").cast("long").alias("n_grams_at_max"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences_at_max"),
            F.count_distinct(id_col).cast("long").alias("n_docs_at_max"),
        )
        .select(
            F.lit(lo).cast("long").alias("max_dup_tokens"),
            "n_grams_at_max",
            "n_occurrences_at_max",
            "n_docs_at_max",
        )
    )


# ------------------------------------------ X32 snapshot-admission report

def shard_admission_report(
    new_docs: DataFrame,
    index,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """X32 incremental-admission near-dedup report: admit a NEW shard
    against an existing corpus and report, per source, how much of the
    shard is (a) a near-duplicate of the corpus, (b) a near-duplicate
    WITHIN the shard, and (c) admissible — the one-operator form of the
    production re-crawl decision ("of today's crawl, what fraction is
    new content?"), closing the ingest side of the index lifecycle the
    way :func:`near_duplicates_vs_index` + :func:`extend_band_index`
    close the serving side.

    One row per shard source::

        (source, n_new, n_dup_vs_corpus, n_dup_within_new, n_admitted,
         admit_ppm)

    Policy (deterministic, non-cascading — the ``semantic_dedup`` rule):
    a shard document is ``dup_vs_corpus`` when ANY corpus document
    estimates Jaccard ≥ ``threshold`` against it; otherwise it is
    ``dup_within_new`` when ANY SMALLER-id shard document estimates
    ≥ ``threshold`` (keep-lowest-id, partner status ignored — no
    iterative cascade, so the answer is partitioning-invariant and
    SQL-expressible); the remainder is admitted.  ``admit_ppm`` is the
    exact half-up integer ppm of admitted over n_new.

    ``index`` is the corpus's :class:`~.similarity.AnnIndex` handle —
    :func:`minhash_index` in-plan, or ``load_ann_index`` over a
    :func:`write_minhash_index` directory — and the shard is banded with
    the (n_bands, k, portable) its record names.

    Scale shape at 100 TB: the shard is shingled/signatured ONCE (the
    persisted-generation cache feeds banding, the verification join-back
    and the self-join); corpus AND within-shard candidates come from ONE
    slim ID-ONLY (band, key) equi-join of the shard bands against the
    side-tagged union of the corpus band index and the shard's own bands
    — with a persisted index the corpus text is never re-shingled and,
    with the ``bands/`` layout partitioned by band, partition pruning
    reads only the shard's bands.  Signatures join back only for
    DEDUPLICATED candidate pairs (one union-keyed join, not one per
    side); every shuffle carries ids and 64-long signatures, never text.
    The final report is a |sources|-row aggregate over one groupBy(id)
    flag pass."""
    index_bands, index_sigs, n_bands, k, portable = _unpack_minhash_index(index)
    shard_sigs = _persist_generation(
        "shard_admission_report",
        minhash_table(
            new_docs, id_col=id_col, text_col=text_col, k=k,
            portable=portable,
        ),
    )
    shard_bands = band_keys_from_sigs(shard_sigs, n_bands, id_col=id_col)

    # ONE banded candidate pass + ONE verification pass (r19; guide
    # §2.4).  The corpus join and the within-shard self-join share the
    # same left side (shard_bands) and the same (band, key) equi-key, so
    # they run as a single join against the side-tagged union of both
    # partner band tables; likewise the two signature join-backs collapse
    # into one join against the side-tagged union of both partner sig
    # tables, and the two per-flag distinct+left-join pairs collapse into
    # one groupBy(id) flag aggregate.  Semantics are unchanged: corpus
    # partners count unconditionally, shard partners only when their id
    # is SMALLER (keep-lowest-id — the larger id of a qualifying pair is
    # the duplicate), pair dedup keys include the side so overlapping
    # shard/corpus id spaces stay disjoint (pinned by
    # test_shard_admission_overlapping_ids_across_sides), and
    # est_jaccard ≥ threshold is evaluated per deduplicated pair exactly
    # as before.  Plan effect at sf0.1: 2 banded joins → 1, 4 sig
    # join-backs → 2, 2 pair dedups → 1, 2 flag distincts + 2 left
    # joins → 1 groupBy + 1 left join.
    partners = index_bands.select(
        F.lit(1).alias("_pside"), F.col(id_col).alias("_pid"), "band", "key"
    ).unionByName(
        shard_bands.select(
            F.lit(0).alias("_pside"), F.col(id_col).alias("_pid"),
            "band", "key",
        )
    )
    cand = (
        shard_bands.join(partners, ["band", "key"])
        .filter((F.col("_pside") == 1) | (F.col("_pid") < F.col(id_col)))
        .select(id_col, "_pside", "_pid")
        .dropDuplicates([id_col, "_pside", "_pid"])
    )
    partner_sigs = index_sigs.select(
        F.lit(1).alias("_pside"),
        F.col(id_col).alias("_pid"),
        F.col("sig").alias("sig_b"),
    ).unionByName(
        shard_sigs.select(
            F.lit(0).alias("_pside"),
            F.col(id_col).alias("_pid"),
            F.col("sig").alias("sig_b"),
        )
    )
    verified = (
        cand.join(
            shard_sigs.select(F.col(id_col), F.col("sig").alias("sig_a")),
            id_col,
        )
        .join(partner_sigs, ["_pside", "_pid"])
        .select(id_col, "_pside", _sig_agreement())
        .filter(F.col("est_jaccard") >= threshold)
    )
    dup_flags = verified.groupBy(id_col).agg(
        F.max(F.col("_pside") == 1).alias("_dup_corpus"),
        F.max(F.col("_pside") == 0).alias("_dup_new"),
    )
    flags = (
        new_docs.select(F.col(id_col), F.col(source_col).alias("source"))
        .join(dup_flags, id_col, "left")
        .select(
            "source",
            F.coalesce("_dup_corpus", F.lit(False)).alias("_dc"),
            F.coalesce("_dup_new", F.lit(False)).alias("_dn"),
        )
    )
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.count_if(F.col("_dc")).alias("n_dup_vs_corpus"),
        F.count_if(~F.col("_dc") & F.col("_dn")).alias("n_dup_within_new"),
        F.count_if(~F.col("_dc") & ~F.col("_dn")).alias("n_admitted"),
    )
    # exact half-up integer ppm — the house (2a+b) DIV 2b identity
    admit_ppm = F.expr(
        "(CAST(n_admitted AS DECIMAL(38,0)) * 2000000 + n_new)"
        " DIV (2 * n_new)"
    )
    return agg.select(
        "source",
        "n_new",
        "n_dup_vs_corpus",
        "n_dup_within_new",
        "n_admitted",
        admit_ppm.cast("long").alias("admit_ppm"),
    )
