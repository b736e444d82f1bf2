"""r14 frontier families: memorization/novelty profile and the
embedding-cluster domain-mix report — values differentialed against
independently-written pure-Python twins (re/math only — no Spark, no
shared code), plus planted-case exactness and invariants."""

from __future__ import annotations

import math
import re

from market_data_ingestion_scraper_spark.operators.decontam import (
    memorization_profile,
)
from market_data_ingestion_scraper_spark.operators.mixing import (
    domain_mix_report,
)

_TOK = re.compile(r"[a-z0-9]+")


# ---------------------------------------------------------- memorization


def _py_memorization(corpus_texts, bench_items, k=8):
    """Independent twin: string grams, per-doc boolean match array, run
    scan by hand."""
    cg = set()
    for t in corpus_texts:
        ts = _TOK.findall(t.lower())
        for p in range(len(ts) - k + 1):
            cg.add(" ".join(ts[p : p + k]))
    out = {}
    for bid, t in bench_items:
        ts = _TOK.findall(t.lower())
        npos = max(len(ts) - k + 1, 0)
        hit = [" ".join(ts[p : p + k]) in cg for p in range(npos)]
        runs = []
        cur = 0
        for h in hit:
            if h:
                cur += 1
            elif cur:
                runs.append(cur)
                cur = 0
        if cur:
            runs.append(cur)
        n_matched = sum(runs)
        max_ov = (max(runs) + k - 1) if runs else 0
        novelty = (
            (npos - n_matched) * 1_000_000 // npos if npos > 0 else 1_000_000
        )
        out[bid] = (npos, n_matched, len(runs), max_ov, novelty)
    return out


def _split(spark, texts, bench_every=3):
    corpus = [(i, t) for i, t in enumerate(texts) if i % bench_every != 0]
    bench = [(i, t) for i, t in enumerate(texts) if i % bench_every == 0]
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    bdf = spark.createDataFrame(bench, "bench_id long, text string")
    return cdf, bdf, corpus, bench


def test_memorization_planted_overlap_exact(spark):
    """A 12-token span copied verbatim from a corpus doc into an eval doc
    must profile as 5 matched 8-gram positions in one run with
    max_overlap_tokens == 12 exactly."""
    shared = " ".join(f"m{i}" for i in range(12))
    texts = [
        "prefix " + shared + " suffix words here",  # 0 -> bench
        "totally different tokens nowhere repeated at all",  # 1 -> corpus
        "lead in " + shared + " trail out",  # 2 -> corpus (the source)
    ]
    cdf, bdf, corpus, bench = _split(spark, texts)
    rows = {
        r.bench_id: r for r in memorization_profile(cdf, bdf, k=8).collect()
    }
    r = rows[0]
    assert (r.n_matched, r.n_runs, r.max_overlap_tokens) == (5, 1, 12)
    # 16 tokens -> 9 positions, 5 matched
    assert r.n_positions == 9
    assert r.novelty_ppm == (9 - 5) * 1_000_000 // 9


def test_memorization_novel_and_short_docs(spark):
    """A fully-novel eval doc gets zeros and novelty 1e6; an eval doc
    shorter than k has no measurable position and also reports 1e6."""
    texts = [
        "completely novel evaluation content with unique tokens only",  # bench
        "short one",  # bench (1 % 3 != 0 -> corpus)... index math below
        "corpus body with its own words that do not overlap the bench",
    ]
    # force explicit split: doc 0 bench, doc 1 bench(short), doc 2 corpus
    cdf = spark.createDataFrame([(2, texts[2])], "doc_id long, text string")
    bdf = spark.createDataFrame(
        [(0, texts[0]), (1, "short one")], "bench_id long, text string"
    )
    rows = {
        r.bench_id: r for r in memorization_profile(cdf, bdf, k=8).collect()
    }
    assert rows[0].n_matched == 0
    assert rows[0].max_overlap_tokens == 0
    assert rows[0].novelty_ppm == 1_000_000
    assert rows[1].n_positions == 0
    assert rows[1].novelty_ppm == 1_000_000
    assert len(rows) == 2  # zero-match docs are PRESENT (left join)


def test_memorization_matches_python_twin_on_fixture(spark):
    """Full twin differential on the sf0.001 corpus under the registered
    doc_id%29 split."""
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = [(r["doc_id"], r["text"]) for r in df.select("doc_id", "text").collect()]
    corpus = [(i, t) for i, t in pairs if i % 29 != 0]
    bench = [(i, t) for i, t in pairs if i % 29 == 0]
    want = _py_memorization([t for _, t in corpus], bench, k=8)
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    bdf = spark.createDataFrame(bench, "bench_id long, text string")
    got = {
        r.bench_id: (
            r.n_positions,
            r.n_matched,
            r.n_runs,
            r.max_overlap_tokens,
            r.novelty_ppm,
        )
        for r in memorization_profile(cdf, bdf, k=8).collect()
    }
    assert got == want
    assert len(got) == len(bench)
    # island bound: any match guarantees at least one full k-gram
    for npos, nm, nr, mx, nov in got.values():
        assert (mx >= 8) == (nm > 0)
        assert nm <= npos and 0 <= nov <= 1_000_000


# --------------------------------------------------------- domain mix


def _snap(v: float) -> int:
    x = float(v) * 1e6
    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


def _half_up_ppm(a: int, b: int) -> int:
    return (a * 2_000_000 + b) // (2 * b)


def _py_domain_mix(embs, doc_tokens):
    """Independent twin: micro-unit int prototype dots, dict arithmetic."""
    proto: dict[int, list[int]] = {}
    for _vid, vec, lab in embs:
        vm = [_snap(v) for v in vec]
        p = proto.setdefault(lab, [0] * len(vm))
        for i, x in enumerate(vm):
            p[i] += x
    per: dict[int, list[int]] = {}
    for vid, vec, lab in embs:
        if vid not in doc_tokens:
            continue
        vm = [_snap(v) for v in vec]
        best = max(
            proto.items(),
            key=lambda kv: (sum(a * b for a, b in zip(vm, kv[1])), -kv[0]),
        )[0]
        row = per.setdefault(best, [0, 0, 0])
        row[0] += 1
        row[1] += doc_tokens[vid]
        row[2] += int(lab == best)
    tot_docs = sum(r[0] for r in per.values())
    tot_tok = sum(r[1] for r in per.values())
    return {
        lab: (
            nd,
            nt,
            nm,
            _half_up_ppm(nd, tot_docs),
            _half_up_ppm(nt, tot_tok),
            _half_up_ppm(nm, nd),
        )
        for lab, (nd, nt, nm) in per.items()
    }


def test_domain_mix_matches_python_twin_on_fixture(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    embs = [
        (r["vec_id"], list(r["embedding"]), r["label"])
        for r in emb.collect()
    ]
    doc_tokens = {
        r["doc_id"]: len(_TOK.findall(r["text"].lower()))
        for r in docs.select("doc_id", "text").collect()
    }
    want = _py_domain_mix(embs, doc_tokens)
    got = {
        r.pred_label: (
            r.n_docs,
            r.n_tokens,
            r.n_label_match,
            r.doc_share_ppm,
            r.token_share_ppm,
            r.purity_ppm,
        )
        for r in domain_mix_report(docs, emb).collect()
    }
    assert got == want


def test_domain_mix_share_and_purity_invariants(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = domain_mix_report(docs, emb).collect()
    assert rows, "report must not be empty"
    # half-up ppm shares sum to 1e6 within one ulp per row
    for col in ("doc_share_ppm", "token_share_ppm"):
        s = sum(r[col] for r in rows)
        assert abs(s - 1_000_000) <= len(rows), (col, s)
    for r in rows:
        assert 0 <= r.purity_ppm <= 1_000_000
        assert 0 <= r.n_label_match <= r.n_docs
        assert r.n_tokens >= r.n_docs  # fixture docs are non-empty


def test_domain_mix_separable_labels_are_pure(spark):
    """On prototype-separable classes (orthogonal one-hot directions) the
    learned clustering must reproduce the labels exactly: every domain
    purity_ppm == 1e6 and counts match the construction."""
    dim = 4
    rows = []
    docs = []
    for lab in range(3):
        for j in range(4):
            vid = lab * 4 + j
            vec = [0.0] * dim
            vec[lab] = 1.0 + 0.01 * j
            rows.append((vid, vec, lab))
            docs.append((vid, "tok " * (lab + 1)))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.pred_label: r for r in domain_mix_report(ddf, emb).collect()}
    assert set(got) == {0, 1, 2}
    for lab, r in got.items():
        assert r.purity_ppm == 1_000_000
        assert r.n_docs == 4 and r.n_label_match == 4
        assert r.n_tokens == 4 * (lab + 1)


# ------------------------------------------------ streaming novelty gate


def _gram_hashes(texts, k=8):
    """Python twin of the gram-hash convention (md5 of the space-joined
    token slice) — doubles as a parity check that the bloom build keys
    match what the Spark expression produces."""
    import hashlib

    out = set()
    for t in texts:
        ts = _TOK.findall(t.lower())
        for p in range(len(ts) - k + 1):
            out.add(hashlib.md5(" ".join(ts[p : p + k]).encode()).hexdigest())
    return out


def _corpus_bloom(spark, texts, k=8, n_bits=1 << 18):
    from market_data_ingestion_scraper_spark.operators.bloom import (
        build_hash_bloom,
    )

    hashes = spark.createDataFrame(
        [(h,) for h in sorted(_gram_hashes(texts, k))], "content_hash string"
    )
    return build_hash_bloom(hashes, n_shards=4, n_bits=n_bits, n_hashes=3)


def test_stream_novelty_filter_matches_exact_profile(spark):
    """At a near-zero false-positive rate the bloom-backed profile must
    equal the exact batch memorization_profile on every doc (including
    shorter-than-k docs, which both report novelty 1e6)."""
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = [(r["doc_id"], r["text"]) for r in df.select("doc_id", "text").collect()]
    corpus = [(i, t) for i, t in pairs if i % 29 != 0][:200]
    bench = [(i, t) for i, t in pairs if i % 29 == 0][:12]
    blooms = _corpus_bloom(spark, [t for _, t in corpus])
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    bdf = spark.createDataFrame(bench, "bench_id long, text string")
    exact = {
        r.bench_id: (r.n_positions, r.n_matched, r.max_overlap_tokens, r.novelty_ppm)
        for r in memorization_profile(cdf, bdf, k=8).collect()
    }
    got = {
        r.bench_id: (
            r.n_positions,
            r.n_matched_maybe,
            r.max_overlap_tokens_ub,
            r.novelty_ppm,
        )
        for r in P.stream_novelty_filter(
            bdf, blooms, k=8, min_novelty_ppm=0, id_col="bench_id"
        ).collect()
    }
    assert got == exact


def test_stream_novelty_filter_admission_and_stream_parity(spark, tmp_path):
    """A verbatim near-copy of corpus content is REJECTED, genuinely
    novel content is admitted, shorter-than-k docs pass (policy), and
    the same code run as a stream through the memory sink returns the
    batch rows bit-for-bit."""
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    span = " ".join(f"c{i}" for i in range(40))
    corpus_texts = ["intro " + span + " outro", "other corpus doc entirely"]
    blooms = _corpus_bloom(spark, corpus_texts)
    incoming = spark.createDataFrame(
        [
            (1, "repost " + span + " tail"),  # ~copy -> dropped
            (2, " ".join(f"n{i}" for i in range(40))),  # novel -> admitted
            (3, "tiny doc"),  # < k tokens -> admitted by policy
        ],
        "doc_id long, text string",
    )
    batch = P.stream_novelty_filter(incoming, blooms, min_novelty_ppm=500_000)
    rows = {r.doc_id: r for r in batch.collect()}
    assert set(rows) == {2, 3}
    assert rows[2].n_matched_maybe == 0 and rows[2].novelty_ppm == 1_000_000
    assert rows[3].n_positions == 0 and rows[3].novelty_ppm == 1_000_000

    src = str(tmp_path / "novelty_docs")
    incoming.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = P.run_to_memory(
        P.stream_novelty_filter(stream, blooms, min_novelty_ppm=500_000),
        "t_novelty_adm",
        spark,
        mode="append",
    )
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(out) == key(batch)


def test_stream_novelty_filter_artifact_cap(spark):
    from market_data_ingestion_scraper_spark.streaming import pipeline as P
    import pytest

    blooms = _corpus_bloom(spark, ["some corpus text with enough tokens here ok"])
    rows = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_artifact_bytes"):
        P.stream_novelty_filter(rows, blooms, max_artifact_bytes=16)


def test_stream_novelty_filter_validates_k(spark):
    from market_data_ingestion_scraper_spark.streaming import pipeline as P
    import pytest

    blooms = _corpus_bloom(spark, ["corpus words here with enough tokens now"])
    rows = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k must be"):
        P.stream_novelty_filter(rows, blooms, k=0)


# ------------------------------------------------ streaming domain tag


def test_stream_domain_tag_matches_batch_assignment(spark, tmp_path):
    """The plan-literal serve must reproduce centroid_assign bit-for-bit
    on every scoreable row (same micro-unit snap, same int64 dots, same
    smallest-label tie order), and the same code run as a stream through
    the memory sink returns the batch rows exactly."""
    from market_data_ingestion_scraper_spark.operators.similarity import (
        centroid_assign,
        prototype_sums,
    )
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    protos = prototype_sums(emb)
    want = {
        (r.vec_id, r.pred_label, r.score) for r in centroid_assign(emb).collect()
    }
    batch = P.stream_domain_tag(emb, protos)
    got = {(r.vec_id, r.pred_label, r.score) for r in batch.collect()}
    assert got == want

    src = str(tmp_path / "tag_vecs")
    emb.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = P.run_to_memory(
        P.stream_domain_tag(stream, protos), "t_domain_tag", spark,
        mode="append",
    )
    assert {(r.vec_id, r.pred_label, r.score) for r in out.collect()} == want


def test_stream_domain_tag_drop_policy_and_validation(spark):
    from market_data_ingestion_scraper_spark.operators.similarity import (
        prototype_sums,
    )
    from market_data_ingestion_scraper_spark.streaming import pipeline as P
    import pytest

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [0.0, 1.0], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    protos = prototype_sums(emb)
    rows = spark.createDataFrame(
        [(10, [0.9, 0.1]), (11, None), (12, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.pred_label for r in P.stream_domain_tag(rows, protos).collect()}
    assert got == {10: 0}  # null and wrong-dim rows DROPPED

    with pytest.raises(ValueError, match="empty prototype"):
        P.stream_domain_tag(rows, protos.filter("label < 0"))
    with pytest.raises(ValueError, match="max_literal_terms"):
        P.stream_domain_tag(rows, protos, max_literal_terms=1)
    ragged = protos.filter("NOT (label = 1 AND pos = 1)")
    with pytest.raises(ValueError, match="ragged"):
        P.stream_domain_tag(rows, ragged)


def test_stream_domain_tag_artifact_and_element_hygiene(spark):
    """r14 review findings: a vector with a null ELEMENT is dropped (not
    emitted as a null-domain row); null labels / null sums / duplicated
    (label, pos) rows in the artifact refuse loudly."""
    from market_data_ingestion_scraper_spark.operators.similarity import (
        prototype_sums,
    )
    from market_data_ingestion_scraper_spark.streaming import pipeline as P
    import pytest

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [0.0, 1.0], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    protos = prototype_sums(emb)
    rows = spark.createDataFrame(
        [(10, [0.9, 0.1]), (11, [0.9, None])],
        "vec_id long, embedding array<double>",
    )
    out = P.stream_domain_tag(rows, protos).collect()
    assert {r.vec_id for r in out} == {10}
    assert all(r.pred_label is not None for r in out)

    with pytest.raises(ValueError, match="null label, pos, or _sm"):
        P.stream_domain_tag(
            rows,
            spark.createDataFrame(
                [(0, 0, None), (0, 1, 5)], "label int, pos int, _sm long"
            ),
        )
    with pytest.raises(ValueError, match="null label, pos, or _sm"):
        P.stream_domain_tag(
            rows,
            spark.createDataFrame(
                [(None, 0, 3), (None, 1, 5)], "label int, pos int, _sm long"
            ),
        )
    with pytest.raises(ValueError, match="duplicate"):
        P.stream_domain_tag(rows, protos.unionAll(protos))


def test_stream_novelty_probe_matches_bloom_probe_hashes(spark):
    """DIRECT parity between the admission filter's closure-side Python
    probe and the relational bloom_probe_hashes on the same artifact: a
    doc of exactly k tokens has exactly one gram, so its
    n_matched_maybe IS the bloom verdict of that gram's hash — compared
    for a mix of present and novel grams (r14 review: the parity was
    previously pinned only transitively through the ~0-fp profile
    test)."""
    import hashlib

    from market_data_ingestion_scraper_spark.operators.bloom import (
        bloom_probe_hashes,
    )
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    corpus_texts = ["alpha beta gamma delta epsilon zeta eta theta iota"]
    blooms = _corpus_bloom(spark, corpus_texts, n_bits=1 << 10)  # denser: fps likely
    probes = [
        "alpha beta gamma delta epsilon zeta eta theta",  # present gram
        "beta gamma delta epsilon zeta eta theta iota",  # present gram
        "nov1 nov2 nov3 nov4 nov5 nov6 nov7 nov8",  # novel
        "x1 x2 x3 x4 x5 x6 x7 x8",  # novel
    ]
    want = {}
    hdf = spark.createDataFrame(
        [(hashlib.md5(t.encode()).hexdigest(),) for t in probes], "_h string"
    )
    for r in bloom_probe_hashes(hdf, blooms).collect():
        want[r["_h"]] = bool(r["bloom_maybe"])
    rows = spark.createDataFrame(
        list(enumerate(probes)), "doc_id long, text string"
    )
    got = {
        r.doc_id: r.n_matched_maybe == 1
        for r in P.stream_novelty_filter(
            rows, blooms, min_novelty_ppm=0
        ).collect()
    }
    for i, t in enumerate(probes):
        h = hashlib.md5(t.encode()).hexdigest()
        assert got[i] == want[h], (t, got[i], want[h])


def test_bloom_duplicate_shard_rows_refused(spark):
    """An appended/rewritten bloom artifact (two bitmap generations per
    shard) must refuse — silently picking either generation loses set
    bits and produces false negatives, the one direction a bloom
    guarantees impossible."""
    from market_data_ingestion_scraper_spark.operators.bloom import (
        bloom_params_from_rows,
    )
    from market_data_ingestion_scraper_spark.streaming import pipeline as P
    import pytest

    blooms = _corpus_bloom(spark, ["corpus words here with enough tokens now"])
    doubled = blooms.unionAll(blooms)
    with pytest.raises(ValueError, match="duplicate shard"):
        bloom_params_from_rows(doubled.collect())
    rows = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="duplicate shard"):
        P.stream_novelty_filter(rows, doubled)


def test_bloom_shard_gap_refused(spark):
    """A partial/filtered bloom artifact (a shard row missing) must
    refuse on both the rows side and the frame side: grams routing to a
    missing shard would probe definitely-absent — silent false
    negatives, the one direction a bloom guarantees impossible."""
    from market_data_ingestion_scraper_spark.operators.bloom import (
        bloom_params_from_rows,
        bloom_probe_hashes,
    )
    from market_data_ingestion_scraper_spark.streaming import pipeline as P
    import pytest

    blooms = _corpus_bloom(spark, ["corpus words here with enough tokens now"])
    gapped = blooms.filter("shard <> 1")  # keeps shard 3 → max+1 = 4, gap at 1
    with pytest.raises(ValueError, match="shard gaps"):
        bloom_params_from_rows(gapped.collect())
    hdf = spark.createDataFrame([("x",)], "_h string")
    with pytest.raises(ValueError, match="shard gaps"):
        bloom_probe_hashes(hdf, gapped)
    rows = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="shard gaps"):
        P.stream_novelty_filter(rows, gapped)


def test_stream_domain_tag_null_pos_refused(spark):
    from market_data_ingestion_scraper_spark.streaming import pipeline as P
    import pytest

    rows = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<double>")
    bad = spark.createDataFrame(
        [(0, None, 3), (0, 0, 5)], "label int, pos int, _sm long"
    )
    with pytest.raises(ValueError, match="null label, pos, or _sm"):
        P.stream_domain_tag(rows, bad)


def test_stream_domain_tag_bounds_artifact_before_collect(spark):
    """A corpus-sized frame passed where prototype_sums output belongs
    must hit the loud max_literal_terms refusal via the bounded
    limit-probe, never a full driver collect (r14 advisor finding)."""
    from market_data_ingestion_scraper_spark.streaming import pipeline as P
    import pytest

    rows = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<double>")
    big = spark.range(0, 10_000).selectExpr(
        "CAST(id % 100 AS INT) AS label",
        "CAST(id DIV 100 AS INT) AS pos",
        "id AS _sm",
    )
    with pytest.raises(ValueError, match="max_literal_terms"):
        P.stream_domain_tag(rows, big, max_literal_terms=64)


def test_domain_mix_report_text_col_param(spark):
    """domain_mix_report must accept a differently-named text column —
    the r14 advisor found it hardcoded tokens("text") while every other
    column was parameterized."""
    from market_data_ingestion_scraper_spark.operators.mixing import (
        domain_mix_report,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    renamed = docs.withColumnRenamed("text", "body")
    base = {
        (r.pred_label, r.n_docs, r.n_tokens): r.token_share_ppm
        for r in domain_mix_report(docs, emb).collect()
    }
    got = {
        (r.pred_label, r.n_docs, r.n_tokens): r.token_share_ppm
        for r in domain_mix_report(renamed, emb, text_col="body").collect()
    }
    assert got == base and len(got) > 0
