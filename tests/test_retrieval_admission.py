"""X31 hybrid RRF retrieval + X32 shard-admission report: independent
pure-Python twins over the sf0.001 fixture, API validation, and
index-handle parity.  Plan shapes are pinned in test_plans.py."""

from __future__ import annotations

import hashlib
import math
import re

import pytest

from market_data_ingestion_scraper_spark.operators.dedup import (
    _AB,
    HASH_P,
    N_HASHES,
    minhash_index,
    shard_admission_report,
)
from market_data_ingestion_scraper_spark.operators.retrieval import (
    hybrid_retrieval_rrf,
    rrf_fuse,
)

SF = "/root/testdata/sf0.001"
_TOK = re.compile(r"[a-z0-9]+")


def _toks(text: str) -> list[str]:
    return _TOK.findall(text.lower())


# ------------------------------------------------------- X31 python twin

def _py_bm25_top(docs: list[tuple[int, str]], terms: tuple[str, ...],
                 top_k: int = 20) -> list[tuple[int, float]]:
    """Independent BM25 from the published formula (k1=1.2, b=0.75), the
    operator's documented rounding chain re-derived by hand."""
    dl = {d: len(_toks(t)) for d, t in docs}
    n = len(docs)
    avgdl = round(sum(dl.values()) / n, 6)
    tf: dict[tuple[int, str], int] = {}
    for d, t in docs:
        for w in _toks(t):
            if w in terms:
                tf[(d, w)] = tf.get((d, w), 0) + 1
    df: dict[str, set] = {}
    for (d, w) in tf:
        df.setdefault(w, set()).add(d)
    pm: dict[int, int] = {}
    for (d, w), f in tf.items():
        idf = round(math.log((n - len(df[w]) + 0.5) / (len(df[w]) + 0.5) + 1.0), 6)
        wgt = round(f * 2.2 / (f + 1.2 * (0.25 + 0.75 * dl[d] / avgdl)), 6)
        pm[d] = pm.get(d, 0) + int(round(round(idf * wgt, 6) * 1_000_000))
    scored = sorted(
        ((d, round(p / 1e6, 6)) for d, p in pm.items()),
        key=lambda x: (-x[1], x[0]),
    )
    return scored[:top_k]


def _py_cosine_top(embs: list[tuple[int, list[float]]], qid: int,
                   top_k: int = 20) -> list[tuple[int, float]]:
    qv = dict(embs)[qid]
    out = []
    for vid, nv in embs:
        if vid == qid:
            continue
        dot = 0.0
        for a, b in zip(qv, nv):  # sequential fold, same IEEE order
            dot += a * b
        nq = 0.0
        for a in qv:
            nq += a * a
        nn = 0.0
        for b in nv:
            nn += b * b
        out.append((vid, round(dot / (math.sqrt(nq) * math.sqrt(nn)), 6)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:top_k]


def test_hybrid_rrf_matches_python_twin(spark):
    docs_df = spark.read.parquet(f"{SF}/documents.parquet")
    emb_df = spark.read.parquet(f"{SF}/embeddings.parquet")
    docs = [(r["doc_id"], r["text"]) for r in docs_df.select("doc_id", "text").collect()]
    embs = [(r["vec_id"], list(r["embedding"])) for r in emb_df.collect()]

    lex = {d: i + 1 for i, (d, _) in enumerate(_py_bm25_top(docs, ("hash", "join", "vector")))}
    sem = {d: i + 1 for i, (d, _) in enumerate(_py_cosine_top(embs, 0))}
    want = {}
    for d in set(lex) | set(sem):
        s = 0
        if d in lex:
            s += 10**9 // (60 + lex[d])
        if d in sem:
            s += 10**9 // (60 + sem[d])
        want[d] = s
    top = sorted(want.items(), key=lambda x: (-x[1], x[0]))[:10]

    got = hybrid_retrieval_rrf(
        docs_df, emb_df, ("hash", "join", "vector"),
        emb_df.filter("vec_id = 0"), k=10,
    ).collect()
    assert [(r["doc_id"], r["rrf_micro"]) for r in got] == top
    for r in got:
        assert (r["lex_rank"] or 0) == lex.get(r["doc_id"], 0)
        assert (r["sem_rank"] or 0) == sem.get(r["doc_id"], 0)


def test_rrf_fuse_three_lists(spark):
    """Hand-checked three-list fusion: doc 1 mid in all lists beats docs
    that top one list but miss the others — the RRF selling point."""
    l1 = spark.createDataFrame([(10, 1), (1, 2), (2, 3)], "doc_id long, rank int")
    l2 = spark.createDataFrame([(20, 1), (1, 2), (3, 3)], "doc_id long, rank int")
    l3 = spark.createDataFrame([(30, 1), (1, 2)], "doc_id long, rank int")
    got = rrf_fuse({"a": l1, "b": l2, "c": l3}, k=3, k_rrf=60).collect()
    s = 10**9
    want_doc1 = 3 * (s // 62)
    want_top1 = s // 61
    assert got[0]["doc_id"] == 1 and got[0]["rrf_micro"] == want_doc1
    # the three single-list leaders tie at 1/(60+1); smallest id wins
    assert [r["doc_id"] for r in got[1:]] == [10, 20]
    assert all(r["rrf_micro"] == want_top1 for r in got[1:])


def test_rrf_fuse_validation(spark):
    l1 = spark.createDataFrame([(1, 1)], "doc_id long, rank int")
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse({})
    with pytest.raises(ValueError, match="k_rrf"):
        rrf_fuse({"a": l1}, k_rrf=0)
    with pytest.raises(ValueError, match="identifier"):
        rrf_fuse({"bad name": l1})


def test_rrf_fuse_refuses_malformed_lists(spark):
    """r16 advisor fixes: a 0-based (or NULL) rank refuses in-plan
    instead of silently inflating every contribution, and duplicate ids
    within ONE list refuse instead of fanning out through the chained
    full-outer joins as duplicate fused rows."""
    ok = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    zero_based = spark.createDataFrame(
        [(1, 0), (2, 1)], "doc_id long, rank int")
    with pytest.raises(Exception, match="non-1-based"):
        rrf_fuse({"a": ok, "b": zero_based}).collect()
    null_rank = spark.createDataFrame(
        [(1, 1), (2, None)], "doc_id long, rank int")
    with pytest.raises(Exception, match="non-1-based"):
        rrf_fuse({"a": null_rank}).collect()
    negative = spark.createDataFrame(
        [(1, -60)], "doc_id long, rank int")  # rank == -k_rrf: div by 0
    with pytest.raises(Exception, match="non-1-based"):
        rrf_fuse({"a": negative}).collect()
    dup_ids = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 3)], "doc_id long, rank int")
    with pytest.raises(Exception, match="duplicate"):
        rrf_fuse({"a": ok, "b": dup_ids}).collect()
    # well-formed lists still fuse exactly as before the hardening
    got = rrf_fuse({"a": ok, "b": ok}, k=2).collect()
    s = 10**9
    assert [(r["doc_id"], r["rrf_micro"]) for r in got] == [
        (1, 2 * (s // 61)), (2, 2 * (s // 62))]


# ------------------------------------------------------- X32 python twin

def _py_sig(text: str) -> list[int]:
    hs = [
        int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % HASH_P
        for w in _toks(text)
    ]
    grams = {
        ((hs[i] * 131 + hs[i + 1]) % HASH_P * 131 + hs[i + 2]) % HASH_P
        for i in range(len(hs) - 2)
    }
    if not grams:
        return [HASH_P] * N_HASHES
    return [min((a * x + b) % HASH_P for x in grams) for a, b in _AB]


def _py_admission(docs, threshold=0.5, mod=5):
    """Independent full-pipeline twin: portable sigs, 16-band slice-key
    candidates, agreement verify, keep-lowest-id within the shard,
    half-up admit ppm per source."""
    sigs = {d: _py_sig(t) for d, t, _ in docs}
    bands: dict[tuple[int, tuple], list[int]] = {}
    for d in sigs:
        for b in range(16):
            bands.setdefault((b, tuple(sigs[d][b * 4 : b * 4 + 4])), []).append(d)

    def agree(a, b):
        m = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
        return round(m / N_HASHES, 6)

    new = {d for d, _, _ in docs if d % mod == 0}
    dc, dn = set(), set()
    for key, members in bands.items():
        ms = sorted(set(members))
        for i, a in enumerate(ms):
            for b in ms[i + 1 :]:
                if a in new and b in new:
                    if agree(a, b) >= threshold:
                        dn.add(b)
                elif (a in new) != (b in new):
                    n = a if a in new else b
                    if agree(a, b) >= threshold:
                        dc.add(n)
    out: dict[str, list[int]] = {}
    for d, _, src in docs:
        if d not in new:
            continue
        row = out.setdefault(src, [0, 0, 0, 0])
        row[0] += 1
        if d in dc:
            row[1] += 1
        elif d in dn:
            row[2] += 1
        else:
            row[3] += 1
    return {
        src: (
            r[0], r[1], r[2], r[3],
            (r[3] * 2_000_000 + r[0]) // (2 * r[0]),
        )
        for src, r in out.items()
    }


def test_shard_admission_matches_python_twin(spark):
    docs_df = spark.read.parquet(f"{SF}/documents.parquet")
    docs = [
        (r["doc_id"], r["text"], r["source"])
        for r in docs_df.select("doc_id", "text", "source").collect()
    ]
    want = _py_admission(docs)
    got = {
        r["source"]: (
            r["n_new"], r["n_dup_vs_corpus"], r["n_dup_within_new"],
            r["n_admitted"], r["admit_ppm"],
        )
        for r in shard_admission_report(
            docs_df.filter("doc_id % 5 = 0"),
            minhash_index(docs_df.filter("doc_id % 5 <> 0"), portable=True),
            threshold=0.5,
        ).collect()
    }
    assert got == want
    # the fixture must exercise BOTH drop directions or the twin is vacuous
    assert sum(v[1] for v in want.values()) > 0, "no vs-corpus dups planted"
    assert sum(v[2] for v in want.values()) > 0, "no within-new dups planted"


def test_shard_admission_planted_duplicates(spark):
    """Planted-corpus truth table: doc 5 copies corpus doc 1 (vs-corpus
    drop), doc 15 copies doc 10 (within-new drop, keep-lowest-id keeps
    10), doc 20 is novel."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, "s"),
        (2, "one totally different corpus document about ships", "s"),
        (5, base, "s"),
        (10, "the quick brown fox jumps over the lazy dog again", "s"),
        (15, "the quick brown fox jumps over the lazy dog again", "s"),
        (20, "completely novel content nothing shares these words", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = shard_admission_report(
        df.filter("doc_id % 5 = 0"),
        minhash_index(df.filter("doc_id % 5 <> 0"), portable=True),
        threshold=0.5,
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_new"], r["n_dup_vs_corpus"], r["n_dup_within_new"],
            r["n_admitted"]) == (4, 1, 1, 2)
    # admitted: doc 10 (lowest id of the within pair) and doc 20
    assert r["admit_ppm"] == (2 * 2_000_000 + 4) // 8


def test_shard_admission_index_handle_parity(spark, tmp_path):
    """The persisted-index serving form must report exactly what the
    in-plan index form reports (parameters from the sidecar, corpus
    never re-shingled)."""
    from market_data_ingestion_scraper_spark.operators.dedup import (
        write_minhash_index,
    )
    from market_data_ingestion_scraper_spark.operators.similarity import (
        load_ann_index,
    )

    docs_df = spark.read.parquet(f"{SF}/documents.parquet")
    new = docs_df.filter("doc_id % 5 = 0")
    corpus = docs_df.filter("doc_id % 5 <> 0")
    out = str(tmp_path / "mh_index")
    write_minhash_index(corpus, out, n_bands=16, portable=True)
    handle = load_ann_index(spark, out)
    via_index = {
        tuple(r) for r in shard_admission_report(
            new, threshold=0.5, index=handle
        ).collect()
    }
    via_frames = {
        tuple(r) for r in shard_admission_report(
            new, minhash_index(corpus, portable=True), threshold=0.5
        ).collect()
    }
    assert via_index == via_frames


def test_shard_admission_overlapping_ids_across_sides(spark, tmp_path):
    """The candidate and verification joins run against the side-tagged
    union of the corpus and shard tables (r19); the (side, id) keys must
    keep the two id spaces disjoint even when the SAME doc_id appears on
    both sides with different text.  The in-plan and the persisted index
    handle must agree, and both must give the planted truth."""
    from market_data_ingestion_scraper_spark.operators.dedup import (
        write_minhash_index,
    )
    from market_data_ingestion_scraper_spark.operators.similarity import (
        load_ann_index,
    )

    shard = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "s1"),
            (2, "totally unrelated shard text here now", "s1"),
        ],
        "doc_id long, text string, source string",
    )
    # corpus REUSES ids 1 and 2 with different text; corpus doc 1
    # near-duplicates shard doc 1 (same text), corpus doc 2 does not
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "c"),
            (2, "completely different corpus document text", "c"),
        ],
        "doc_id long, text string, source string",
    )
    union_form = {
        tuple(r) for r in shard_admission_report(
            shard, minhash_index(corpus, portable=True), threshold=0.5
        ).collect()
    }
    out = str(tmp_path / "mh_index")
    write_minhash_index(corpus, out, portable=True)
    separate_form = {
        tuple(r) for r in shard_admission_report(
            shard, load_ann_index(spark, out), threshold=0.5
        ).collect()
    }
    assert union_form == separate_form
    # and the planted truth: shard doc 1 is a vs-corpus dup, doc 2 admits
    assert union_form == {(u"s1", 2, 1, 0, 1, 500000)}


def test_shard_admission_validation(spark):
    docs_df = spark.read.parquet(f"{SF}/documents.parquet")
    with pytest.raises(TypeError, match="index"):
        shard_admission_report(docs_df.filter("doc_id % 5 = 0"))


def test_hybrid_rrf_column_params_and_one_query_guard(spark):
    """r15 review fixes: renamed id/text columns must flow through the
    BM25 side (the advertised parameters function), and a multi-row
    query frame must refuse instead of silently interleaving two
    queries' ranked lists."""
    docs_df = spark.read.parquet(f"{SF}/documents.parquet")
    emb_df = spark.read.parquet(f"{SF}/embeddings.parquet")
    renamed = docs_df.withColumnRenamed("doc_id", "id").withColumnRenamed(
        "text", "body"
    )
    base = hybrid_retrieval_rrf(
        docs_df, emb_df, ("hash", "join", "vector"),
        emb_df.filter("vec_id = 0"), k=5,
    ).collect()
    got = hybrid_retrieval_rrf(
        renamed, emb_df, ("hash", "join", "vector"),
        emb_df.filter("vec_id = 0"), k=5,
        doc_id_col="id", text_col="body",
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in base]
    assert got[0].__fields__[0] == "id"

    with pytest.raises(ValueError, match="exactly one query"):
        hybrid_retrieval_rrf(
            docs_df, emb_df, ("hash",), emb_df.filter("vec_id < 2"), k=5
        )
    with pytest.raises(ValueError, match="exactly one query"):
        hybrid_retrieval_rrf(
            docs_df, emb_df, ("hash",), emb_df.filter("vec_id < 0"), k=5
        )


# ------------------------------------------- X32 streaming admission

def test_minhash_signature_column_matches_table(spark):
    """The stream-legal projection signature must equal minhash_table's
    aggregated signature value-for-value (including the empty-doc
    sentinel) — the parity that makes the streaming admission filter's
    estimates identical to the batch report's."""
    from pyspark.sql import functions as F

    from market_data_ingestion_scraper_spark.operators.dedup import (
        minhash_signature,
        minhash_table,
    )

    docs_df = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).unionByName(
        spark.createDataFrame([(99_999, "")], "doc_id long, text string")
    )
    col_form = {
        r["doc_id"]: tuple(r["s"])
        for r in docs_df.select(
            "doc_id", minhash_signature("text", portable=True).alias("s")
        ).collect()
    }
    table_form = {
        r["doc_id"]: tuple(r["sig"])
        for r in minhash_table(docs_df, portable=True).collect()
    }
    assert col_form == table_form
    assert col_form[99_999] == (HASH_P,) * N_HASHES  # sentinel parity


def test_stream_shard_admission_matches_batch_report(spark, tmp_path):
    """Stream ≡ batch through the memory sink, and the admitted set is
    exactly the batch report's NOT-dup_vs_corpus documents (the stream
    covers the new-vs-corpus direction by contract)."""
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    docs_df = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    new = docs_df.filter("doc_id % 5 = 0").select("doc_id", "text")
    corpus = docs_df.filter("doc_id % 5 <> 0")
    index = minhash_index(corpus, portable=True)

    batch_admit = {
        r["doc_id"]: r["max_corpus_est"]
        for r in P.stream_shard_admission_filter(
            new, index, threshold=0.5
        ).collect()
    }
    # cross-operator: admitted ∪ vs-corpus-dropped == the whole shard
    from market_data_ingestion_scraper_spark.operators.dedup import (
        near_duplicates_vs_index,
    )

    dropped = {
        r["doc_id"]
        for r in near_duplicates_vs_index(new, index, threshold=0.5).collect()
    }
    all_ids = {r["doc_id"] for r in new.collect()}
    assert set(batch_admit) == all_ids - dropped
    assert dropped, "fixture must plant vs-corpus duplicates"

    src = str(tmp_path / "in")
    new.repartition(3).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = P.run_to_memory(
        P.stream_shard_admission_filter(stream, index, threshold=0.5),
        "t_shard_admit", spark,
    )
    stream_admit = {
        r["doc_id"]: r["max_corpus_est"] for r in out.collect()
    }
    assert stream_admit == batch_admit


def test_stream_shard_admission_index_handle_and_validation(spark, tmp_path):
    from market_data_ingestion_scraper_spark.operators.dedup import (
        write_minhash_index,
    )
    from market_data_ingestion_scraper_spark.operators.similarity import (
        load_ann_index,
    )
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    docs_df = spark.read.parquet(f"{SF}/documents.parquet")
    new = docs_df.filter("doc_id % 5 = 0").select("doc_id", "text")
    corpus = docs_df.filter("doc_id % 5 <> 0")
    out = str(tmp_path / "mh_index")
    write_minhash_index(corpus, out, n_bands=16, portable=True)
    handle = load_ann_index(spark, out)
    via_index = {
        tuple(r)
        for r in P.stream_shard_admission_filter(
            new, threshold=0.5, index=handle
        ).collect()
    }
    via_frames = {
        tuple(r)
        for r in P.stream_shard_admission_filter(
            new, minhash_index(corpus, portable=True), threshold=0.5
        ).collect()
    }
    assert via_index == via_frames
    with pytest.raises(TypeError, match="index"):
        P.stream_shard_admission_filter(new)


def test_minhash_index_handle_twins_serve_identically(
    spark, sf_oracle, tmp_path
):
    """The in-memory minhash_index handle and its persisted-and-loaded
    twin carry the same record and give identical results through all
    three serving operators on a non-default build (8 bands, portable)
    — 13 shard docs near-duplicate the corpus, 14 pairs, 87 of 100
    admitted by the stream filter.  The operators take only the handle:
    the banding parameters and the loose index frames are no longer
    parameters, so they cannot contradict the record."""
    from market_data_ingestion_scraper_spark.operators.dedup import (
        near_duplicates_vs_index,
        write_minhash_index,
    )
    from market_data_ingestion_scraper_spark.operators.similarity import (
        load_ann_index,
    )
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    new = docs.filter("doc_id % 5 = 0")
    corpus = docs.filter("doc_id % 5 <> 0")
    in_memory = minhash_index(corpus, n_bands=8, portable=True)
    out = str(tmp_path / "mh_index")
    write_minhash_index(corpus, out, n_bands=8, portable=True)
    persisted = load_ann_index(spark, out)
    assert in_memory.quantizer == persisted.quantizer

    def served(index):
        report = shard_admission_report(new, index, threshold=0.5).collect()
        pairs = near_duplicates_vs_index(new, index, threshold=0.5).collect()
        admitted = P.stream_shard_admission_filter(
            new.select("doc_id", "text"), index, threshold=0.5
        ).collect()
        return (
            sorted(map(tuple, report)), sorted(map(tuple, pairs)),
            sorted(map(tuple, admitted)),
        )

    got = served(in_memory)
    assert got == served(persisted)
    report, pairs, admitted = got
    assert sum(r[2] for r in report) == 13      # n_dup_vs_corpus
    assert len(pairs) == 14 and len(admitted) == 87
    serve_paths = (
        shard_admission_report, near_duplicates_vs_index,
        P.stream_shard_admission_filter,
    )
    for serve in serve_paths:
        for loose in ("n_bands", "k", "portable", "corpus_index",
                      "corpus_sigs"):
            with pytest.raises(TypeError, match=loose):
                serve(new, in_memory, **{loose: 8})


def test_hybrid_rrf_colliding_column_names(spark):
    """r15 review fix: a frame carrying a literal 'text' column alongside
    the custom text column must not trip an ambiguous-reference error —
    the adapter selects/aliases instead of renaming in place."""
    from pyspark.sql import functions as F

    docs_df = spark.read.parquet(f"{SF}/documents.parquet")
    emb_df = spark.read.parquet(f"{SF}/embeddings.parquet")
    tricky = docs_df.withColumnRenamed("text", "body").withColumn(
        "text", F.lit("decoy")
    ).withColumn("doc_id2", F.col("doc_id"))
    base = hybrid_retrieval_rrf(
        docs_df, emb_df, ("hash", "join", "vector"),
        emb_df.filter("vec_id = 0"), k=5,
    ).collect()
    got = hybrid_retrieval_rrf(
        tricky, emb_df, ("hash", "join", "vector"),
        emb_df.filter("vec_id = 0"), k=5,
        text_col="body",
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in base]


def test_hybrid_rrf_multi_matches_per_query_single(spark):
    """The batch-eval form must be per query BIT-IDENTICAL to the
    single-query operator: same BM25 arithmetic (literal isin filter ≡
    vocabulary semi-join), same cosine ranks, same fusion and tie
    order — including a query whose lexical side matches nothing."""
    from market_data_ingestion_scraper_spark.operators.retrieval import (
        hybrid_retrieval_rrf,
        hybrid_retrieval_rrf_multi,
    )

    docs_df = spark.read.parquet(f"{SF}/documents.parquet")
    emb_df = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = {
        0: ("hash", "join", "vector"),
        1: ("table", "scan"),
        2: ("zzzz_nomatch",),  # lexical side empty: fusion is sem-only
    }
    qt = spark.createDataFrame(
        [(q, t) for q, ts in queries.items() for t in ts],
        "query_id long, term string",
    )
    from pyspark.sql import functions as F

    qv = emb_df.filter(F.col("vec_id").isin(list(queries)))
    multi = hybrid_retrieval_rrf_multi(docs_df, emb_df, qt, qv, k=10)
    got = {
        q: sorted(
            (r["doc_id"], r["lex_rank"], r["sem_rank"], r["bm25"],
             r["cos_sim"], r["rrf_micro"])
            for r in multi.collect() if r["query_id"] == q
        )
        for q in queries
    }
    for q, terms in queries.items():
        single = hybrid_retrieval_rrf(
            docs_df, emb_df, terms, emb_df.filter(emb_df["vec_id"] == q),
            k=10,
        ).collect()
        want = sorted(
            (r["doc_id"], r["lex_rank"], r["sem_rank"], r["bm25"],
             r["cos_sim"], r["rrf_micro"])
            for r in single
        )
        assert got[q] == want, q
    # every query produced a full top-k
    assert all(len(v) == 10 for v in got.values())


def test_bm25_multi_matches_single(spark):
    from market_data_ingestion_scraper_spark.operators.text import (
        bm25_scores,
        bm25_scores_multi,
    )

    docs_df = spark.read.parquet(f"{SF}/documents.parquet")
    terms = ("hash", "join", "vector")
    qt = spark.createDataFrame(
        [(7, t) for t in terms] + [(8, "table")],
        "query_id long, term string",
    )
    multi = bm25_scores_multi(docs_df, qt, top_k=20).collect()
    got7 = sorted(
        (r["doc_id"], r["bm25"], r["n_terms_matched"])
        for r in multi if r["query_id"] == 7
    )
    want7 = sorted(
        (r["doc_id"], r["bm25"], r["n_terms_matched"])
        for r in bm25_scores(docs_df, terms, top_k=20).collect()
    )
    assert got7 == want7
    got8 = sorted(
        (r["doc_id"], r["bm25"]) for r in multi if r["query_id"] == 8
    )
    want8 = sorted(
        (r["doc_id"], r["bm25"])
        for r in bm25_scores(docs_df, ("table",), top_k=20).collect()
    )
    assert got8 == want8


def test_stream_admission_agrees_with_fused_batch_report(spark):
    """r19 (on the r18 verdict's parity ask): the stream-legal admission
    filter and the batch report must agree on the corpus direction
    through BOTH rewrites — the r18 fused window-lead minhash_table and
    the r19 single-pass union candidate join.  Per source, the stream
    filter's admitted count must equal the report's
    n_new - n_dup_vs_corpus (the stream covers new-vs-corpus only; the
    within-shard direction is the batch report's job by contract)."""
    from pyspark.sql import functions as F

    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    new = docs.filter("doc_id % 5 = 0")
    corpus = docs.filter("doc_id % 5 <> 0")
    index = minhash_index(corpus, portable=True)
    admitted_ids = {
        r["doc_id"]
        for r in P.stream_shard_admission_filter(
            new.select("doc_id", "text"), index, threshold=0.5
        ).collect()
    }
    stream_admitted = {
        r["source"]: r["n"]
        for r in new.filter(F.col("doc_id").isin(admitted_ids))
        .groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    report = {
        r["source"]: r
        for r in shard_admission_report(new, index, threshold=0.5).collect()
    }
    assert set(stream_admitted) <= set(report)
    for src, rep in report.items():
        assert stream_admitted.get(src, 0) == rep["n_new"] - rep[
            "n_dup_vs_corpus"
        ], (src, rep)
