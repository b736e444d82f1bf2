"""CLI smoke tests — the user-facing surface stays green.

The true `python -m` PROCESS contract (module entry point, JVM boot,
process exit codes) is covered by the three `_run_subprocess` smoke
tests below.  Every other test drives the SAME `main(argv)` dispatch
in-process through `_run` (r19): each subprocess run paid a fresh
~20 s JVM boot, which put this file alone at ~20 min of wall — the
argument parsing, validation, dispatch, artifact I/O and printed
output those tests assert on are byte-identical in-process, and
`get_spark` is `getOrCreate`, so the suite's shared session JVM
serves every invocation."""

from __future__ import annotations

import contextlib
import io
import subprocess
import sys
import traceback
from types import SimpleNamespace

import pytest


def _run_subprocess(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "market_data_ingestion_scraper_spark", *args],
        capture_output=True,
        text=True,
        timeout=300,
    )


def _run(*args: str) -> SimpleNamespace:
    """In-process CLI invocation with the subprocess result surface
    (.returncode/.stdout/.stderr).  SystemExit maps to its code (the
    argparse error path); any other exception maps to returncode 1 with
    the traceback on stderr — exactly what the subprocess form showed."""
    from market_data_ingestion_scraper_spark.__main__ import main

    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        try:
            rc = main(list(args))
        except SystemExit as exc:
            code = exc.code
            rc = code if isinstance(code, int) else (0 if code is None else 1)
        except BaseException:
            err.write(traceback.format_exc())
            rc = 1
    return SimpleNamespace(
        returncode=rc, stdout=out.getvalue(), stderr=err.getvalue()
    )


def test_cli_list():
    r = _run_subprocess("list")
    assert r.returncode == 0
    assert "top5_commodities" in r.stdout and "[oracle]" in r.stdout


def test_cli_unknown_query_exit_code():
    r = _run_subprocess("run", "definitely_not_a_query")
    assert r.returncode == 2
    assert "unknown query" in r.stderr


def test_cli_run_small_query():
    r = _run_subprocess(
        "run", "commodity_lookup", "--sf-dir", "/root/testdata/sf0.001"
    )
    assert r.returncode == 0
    assert "red gear" in r.stdout


def test_cli_ingest_corpus(tmp_path):
    import json as _json
    import os

    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "s.jsonl", "w") as f:
        f.write(_json.dumps({"doc_id": 1, "text": "hello", "lang": "en",
                             "source": "a", "n_chars": 5}) + "\n")
        f.write("nope\n")
    r = _run("ingest-corpus", "--landing", str(landing),
             "--gold", str(tmp_path / "gold"))
    assert r.returncode == 0
    assert "n_kept=1" in r.stdout and "n_quarantined=1" in r.stdout
    assert os.path.isdir(tmp_path / "gold" / "source=a")


def test_cli_ann_index_build_and_serve(tmp_path):
    """ann-index builds a partitioned, servable index: directory layout
    matches the partition key and the loaded relation serves lsh_topk."""
    import os

    out = str(tmp_path / "idx")
    r = _run(
        "ann-index", "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--out", out,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "kind=lsh" in r.stdout and "partition_by=t" in r.stdout
    assert os.path.isdir(os.path.join(out, "t=0"))
    # the quantizer sidecar records the parameters serving must reuse
    import json as _json

    with open(os.path.join(out, "_quantizer.json")) as f:
        q = _json.load(f)
    assert q == {"kind": "lsh", "n_planes": 4, "n_tables": 8, "dim": 64,
                 "seed_base": 1000}


def test_cli_ann_index_ivf_kind(tmp_path, spark):
    import os

    from market_data_ingestion_scraper_spark.operators.similarity import (
        fit_ivf_centroids,
    )

    out = str(tmp_path / "ivf")
    r = _run(
        "ann-index", "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--out", out, "--kind", "ivf", "--n-lists", "8",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "kind=ivf" in r.stdout and "partition_by=cell" in r.stdout
    assert any(d.startswith("cell=") for d in os.listdir(out))
    # the fitted centroids travel with the index — without them a
    # consumer would re-fit a DIFFERENT quantizer and probe wrong cells
    import json as _json

    with open(os.path.join(out, "_quantizer.json")) as f:
        q = _json.load(f)
    assert q["kind"] == "ivf" and q["n_lists"] == 8
    assert len(q["centroids"]) == 8 and len(q["centroids"][0]) == 64
    # the recorded centroids are the ones fitted with --seed (1000)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert q["centroids"] == fit_ivf_centroids(emb, n_lists=8, seed=1000)


def test_cli_ann_index_ivf_records_fitted_cell_count(tmp_path, spark):
    """KMeans fits at most one centroid per vector: a 10-vector corpus
    with --n-lists 16 gets 10 centroids.  The record names the 10 it
    holds (it used to record n_lists 16 beside 10 centroids), and the
    index serves through the handle."""
    from pyspark.sql import functions as F

    from market_data_ingestion_scraper_spark.operators.similarity import (
        ivf_topk,
        load_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    small_path = str(tmp_path / "small.parquet")
    small = emb.filter(F.col("vec_id") < 10).select("vec_id", "embedding")
    small.write.parquet(small_path)
    out = str(tmp_path / "ivf_small")
    r = _run(
        "ann-index", "--embeddings", small_path, "--out", out,
        "--kind", "ivf", "--n-lists", "16",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    handle = load_ann_index(spark, out)
    assert handle.quantizer["n_lists"] == len(handle.quantizer["centroids"]) == 10
    served = ivf_topk(small, small.filter(F.col("vec_id") < 2), handle, k=3)
    assert served.count() == 6


def test_load_ann_index_serves_lsh(tmp_path):
    """End-to-end lifecycle: CLI build -> load_ann_index -> serve with the
    sidecar's parameters -> identical top-k to an inline build."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo")
    from market_data_ingestion_scraper_spark.operators.similarity import (
        load_ann_index,
        lsh_index,
        lsh_topk,
    )
    from market_data_ingestion_scraper_spark.session import get_spark
    from pyspark.sql import functions as F

    out = str(tmp_path / "idx")
    # NON-default build parameters: serving via the handle must derive
    # them from the sidecar (r7 review: re-typed defaults would hash the
    # query side with the wrong hyperplanes and degrade recall silently)
    r = _run(
        "ann-index", "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--out", out, "--n-planes", "6", "--n-tables", "5", "--seed", "4321",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    spark = get_spark(app_name="test-load-ann")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4)
    handle = load_ann_index(spark, out)
    quant = handle.quantizer
    assert quant["n_planes"] == 6 and quant["seed_base"] == 4321
    served = lsh_topk(emb, q, handle, k=5)
    inline = lsh_topk(
        emb, q, lsh_index(emb, n_planes=6, n_tables=5, seed_base=4321), k=5
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, inline.collect())
    )
    # kind mismatch fails loudly instead of degrading recall to chance
    import pytest
    from market_data_ingestion_scraper_spark.operators.similarity import (
        ivf_topk,
    )

    with pytest.raises(ValueError, match="kind mismatch"):
        ivf_topk(emb, q, handle)


def test_cli_index_extend_without_record_exits_2(tmp_path, spark, sf_smoke):
    """index-extend on a directory without _quantizer.json (never built,
    or a near-dup-index rebuild that failed after its sigs/ write) prints
    the loader's message and exits 2 instead of a FileNotFoundError
    traceback."""
    idx = str(tmp_path / "no_record")
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    docs.select("doc_id").write.parquet(idx + "/sigs")
    r = _run("index-extend", "--index", idx,
             "--input", f"{sf_smoke}/documents.parquet")
    assert r.returncode == 2, (r.returncode, r.stderr[-2000:])
    assert "no index record" in r.stderr and "Traceback" not in r.stderr


def _partitions(path):
    import os

    return sorted(d for d in os.listdir(path) if "=" in d)


@pytest.mark.parametrize("kind", ["lsh", "ivf", "ivfpq", "rp", "minhash"])
def test_index_rebuild_replaces_partitions(tmp_path, spark, sf_oracle, kind):
    """A smaller rebuild replaces the index: the session's dynamic
    partition-overwrite mode kept the old build's partitions (t=4..7,
    cells 4..15, bands 8..15) next to the new record, so the index
    served rows of two builds.  After the rebuild the partition set and
    the row count are the new build's alone (for the flat RP index: the
    rows of the smaller corpus, at the new width)."""
    import os

    from pyspark.sql import functions as F

    from market_data_ingestion_scraper_spark.operators.dedup import (
        write_minhash_index,
    )
    from market_data_ingestion_scraper_spark.operators.similarity import (
        fit_ivf_centroids,
        fit_pq_codebooks,
        load_ann_index,
        write_ivfpq_index,
        write_rp_index,
    )

    out = str(tmp_path / kind)
    emb_path = f"{sf_oracle}/embeddings.parquet"
    emb = spark.read.parquet(emb_path)

    def cli(*args):
        r = _run("ann-index", "--embeddings", emb_path, "--out", out, *args)
        assert r.returncode == 0, r.stderr[-2000:]
        return int(r.stdout.split("rows=")[1].split()[0])

    if kind == "minhash":
        docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
        write_minhash_index(docs, out, n_bands=16)
        n_docs, n_rows = write_minhash_index(docs, out, n_bands=8)
        out = os.path.join(out, "bands")
        assert _partitions(out) == [f"band={b}" for b in range(8)]
        assert n_rows == spark.read.parquet(out).count() == n_docs * 8
        return
    if kind == "lsh":
        cli("--n-tables", "8")
        n = cli("--n-tables", "4")
        assert _partitions(out) == [f"t={t}" for t in range(4)]
        assert n == spark.read.parquet(out).count() == emb.count() * 4
        return
    if kind == "rp":
        write_rp_index(emb, out, out_dim=16)
        half = emb.filter(F.col("vec_id") % 2 == 0)
        n = write_rp_index(half, out, out_dim=8)
        assert _partitions(out) == []
        index = load_ann_index(spark, out)
        assert index.quantizer["out_dim"] == 8
        assert n == index.df.count() == half.count()
        assert {len(r.rvec) for r in index.df.collect()} == {8}
        return
    if kind == "ivf":
        cli("--kind", "ivf", "--n-lists", "16")
        n = cli("--kind", "ivf", "--n-lists", "4")
    else:
        books = fit_pq_codebooks(emb, m=8, k=8)
        write_ivfpq_index(emb, out, fit_ivf_centroids(emb, n_lists=16), books)
        n = write_ivfpq_index(emb, out, fit_ivf_centroids(emb, n_lists=4), books)
    assert set(_partitions(out)) <= {f"cell={c}" for c in range(4)}
    assert n == spark.read.parquet(out).count() == emb.count()


def test_cli_near_dup_index_build_and_serve(tmp_path):
    """MinHash index lifecycle: CLI build (non-default banding) ->
    load_ann_index -> incremental shard served with sidecar-derived
    parameters; a re-crawled document matches its own indexed copy."""
    import os
    import sys as _sys

    _sys.path.insert(0, "/root/repo")
    from market_data_ingestion_scraper_spark.operators.dedup import (
        near_duplicates_vs_index,
    )
    from market_data_ingestion_scraper_spark.operators.similarity import (
        load_ann_index,
    )
    from market_data_ingestion_scraper_spark.session import get_spark

    out = str(tmp_path / "ndidx")
    r = _run(
        "near-dup-index",
        "--documents", "/root/testdata/sf0.001/documents.parquet",
        "--out", out, "--n-bands", "8", "--shingle-k", "4",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "kind=minhash" in r.stdout and "layout=split" in r.stdout
    assert os.path.isdir(os.path.join(out, "bands", "band=0"))
    spark = get_spark(app_name="test-nd-index")
    handle = load_ann_index(spark, out)
    assert handle.quantizer == {
        "kind": "minhash", "layout": "split", "n_bands": 8, "shingle_k": 4,
        "portable": False,
    }
    assert handle.sigs is not None and "sig" not in handle.df.columns
    recrawl = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(5)
    got = {
        (r_["doc_id"], r_["corpus_id"]): r_["est_jaccard"]
        for r_ in near_duplicates_vs_index(
            recrawl, threshold=0.9, index=handle
        ).collect()
    }
    for r_ in recrawl.collect():
        assert got.get((r_["doc_id"], r_["doc_id"])) == 1.0


def test_cli_index_extend_lsh_and_minhash(tmp_path):
    """index-extend dispatches on the sidecar kind: an LSH index built by
    ann-index grows with an embeddings shard, a minhash index built by
    near-dup-index grows with a documents shard — one CLI entry point,
    parameters never re-typed."""
    import os
    import sys as _sys

    _sys.path.insert(0, "/root/repo")
    import duckdb

    lsh = str(tmp_path / "lsh_idx")
    r = _run(
        "ann-index", "--embeddings",
        "/root/testdata/sf0.001/embeddings.parquet", "--out", lsh,
        "--n-tables", "4",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    shard = str(tmp_path / "shard.parquet")
    duckdb.sql(
        "copy (select vec_id + 1000000 as vec_id, embedding from "
        "'/root/testdata/sf0.001/embeddings.parquet' limit 5) to "
        f"'{shard}' (format parquet)"
    )
    r = _run("index-extend", "--input", shard, "--index", lsh)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "kind=lsh appended_rows=20" in r.stdout  # 5 vectors × 4 tables

    mh = str(tmp_path / "mh_idx")
    r = _run(
        "near-dup-index", "--documents",
        "/root/testdata/sf0.001/documents.parquet", "--out", mh,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    dshard = str(tmp_path / "docs.parquet")
    duckdb.sql(
        "copy (select doc_id + 1000000 as doc_id, text from "
        "'/root/testdata/sf0.001/documents.parquet' limit 3) to "
        f"'{dshard}' (format parquet)"
    )
    r = _run("index-extend", "--input", dshard, "--index", mh)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "kind=minhash appended_rows=48" in r.stdout  # 3 docs × 16 bands

    # after the append, compaction folds each grown dir to one file and
    # the serving row count is unchanged
    before = duckdb.sql(
        f"select count(*) from '{os.path.join(mh, 'bands', '*', '*.parquet')}'"
    ).fetchone()[0]
    r = _run("index-compact", "--index", mh)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "dirs_compacted=" in r.stdout and "files_removed=" in r.stdout
    after = duckdb.sql(
        f"select count(*) from '{os.path.join(mh, 'bands', '*', '*.parquet')}'"
    ).fetchone()[0]
    assert after == before
    assert len([
        f for f in os.listdir(os.path.join(mh, "bands", "band=0"))
        if f.endswith(".parquet")
    ]) == 1
    # appended sigs landed in the split layout's sigs/ table too
    n_sigs = duckdb.sql(
        f"select count(*) from '{os.path.join(mh, 'sigs', '*.parquet')}'"
    ).fetchone()[0]
    base = duckdb.sql(
        "select count(*) from '/root/testdata/sf0.001/documents.parquet'"
    ).fetchone()[0]
    assert n_sigs == base + 3


def test_cli_ann_index_rejects_uri_paths():
    """os-level sidecar writes only work on local paths — a URI output
    must fail fast BEFORE the expensive build, not crash after it (or
    silently no-op, the be0a832 bug class)."""
    r = _run(
        "ann-index", "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--out", "hdfs://nn/idx",
    )
    assert r.returncode != 0
    assert "local filesystem path required" in r.stderr


def test_cli_train_quality_artifact_and_serving(tmp_path):
    from market_data_ingestion_scraper_spark.operators.classifier import (
        FEATURE_COLS,
        load_quality_weights,
    )

    out = tmp_path / "quality_weights.json"
    r = _run(
        "train-quality",
        "--documents", "/root/testdata/sf0.001/documents.parquet",
        "--out", str(out),
        "--iters", "10",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "train_loss=" in r.stdout
    w = load_quality_weights(str(out))
    assert len(w) == len(FEATURE_COLS)
    assert any(v != 0.0 for v in w)


def test_cli_corpus_profile_from_sketch_artifact(tmp_path):
    import json as _json

    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "s.jsonl", "w") as f:
        f.write(_json.dumps({"doc_id": 1, "text": "alpha beta gamma",
                             "lang": "en", "source": "a",
                             "n_chars": 16}) + "\n")
        f.write(_json.dumps({"doc_id": 2, "text": "beta delta",
                             "lang": "en", "source": "b",
                             "n_chars": 10}) + "\n")
    sk = str(tmp_path / "sketches")
    r = _run("ingest-corpus", "--landing", str(landing),
             "--gold", str(tmp_path / "gold"), "--incremental",
             "--sketch-path", sk)
    assert r.returncode == 0, r.stderr[-2000:]
    r2 = _run("corpus-profile", "--sketches", sk)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "n_token_instances=5" in r2.stdout
    assert "distinct_tokens_hll=4.0" in r2.stdout
    assert "doc_len_quartiles=" in r2.stdout


def test_cli_select_corpus_both_methods(tmp_path, spark):
    docs = "/root/testdata/sf0.001/documents.parquet"
    # dsir: carve a tiny target from the fixture
    target = str(tmp_path / "target.parquet")
    spark.read.parquet(docs).limit(8).write.parquet(target)

    out1 = str(tmp_path / "dsir_out")
    mpath = str(tmp_path / "dsir_model.json")
    r = _run("select-corpus", "--documents", docs, "--target", target,
             "--method", "dsir", "--k", "10", "--out", out1,
             "--save-model", mpath)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "method=dsir selected=10" in r.stdout
    assert f"model={mpath}" in r.stdout
    sel = spark.read.parquet(out1)
    assert sel.count() == 10 and "logratio" in sel.columns
    from market_data_ingestion_scraper_spark.operators.importance import (
        load_dsir_model,
        score_with_literal_model,
    )
    served = load_dsir_model(mpath)  # artifact loads and serves
    assert score_with_literal_model(
        spark.read.parquet(docs), served
    ).count() == spark.read.parquet(docs).count()

    out2 = str(tmp_path / "budget_out")
    r = _run("select-corpus", "--documents", docs, "--method", "budget",
             "--token-budget", "500", "--out", out2)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "method=budget selected=" in r.stdout
    sel2 = spark.read.parquet(out2)
    assert 0 < sel2.count() <= spark.read.parquet(docs).count()

    # missing required per-method args exit 2 with a message
    r = _run("select-corpus", "--documents", docs, "--method", "dsir",
             "--out", str(tmp_path / "x"))
    assert r.returncode == 2 and "--target is required" in r.stderr


def test_cli_lm_model_fit_score_filter(tmp_path, spark):
    docs = "/root/testdata/sf0.001/documents.parquet"
    model = str(tmp_path / "trigram_model")
    r = _run("lm-model", "--action", "fit", "--documents", docs,
             "--model", model)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "kind=trigram-stupid-backoff" in r.stdout

    out = str(tmp_path / "scored")
    r = _run("lm-model", "--action", "score", "--documents", docs,
             "--model", model, "--out", out)
    assert r.returncode == 0, r.stderr[-2000:]
    scored = spark.read.parquet(out)
    n_docs = spark.read.parquet(docs).count()
    assert scored.count() == n_docs  # fixture has no empty-token docs
    assert {"n_tokens", "avg_logprob"} <= set(scored.columns)

    # filter at the median-ish threshold drops some and keeps some
    med = scored.approxQuantile("avg_logprob", [0.5], 0.0)[0]
    fout = str(tmp_path / "kept")
    r = _run("lm-model", "--action", "filter", "--documents", docs,
             "--model", model, "--out", fout, "--min-logprob", str(med))
    assert r.returncode == 0, r.stderr[-2000:]
    kept = spark.read.parquet(fout).count()
    assert 0 < kept < n_docs

    # literal-plan filter agrees with the relational filter at a
    # threshold the capped model can honor (scores shift under capping,
    # so just pin behavior: runs, admits a nonempty strict subset)
    lout = str(tmp_path / "kept_lit")
    r = _run("lm-model", "--action", "filter", "--documents", docs,
             "--model", model, "--out", lout, "--min-logprob", str(med),
             "--literal")
    assert r.returncode == 0, r.stderr[-2000:]
    kept_lit = spark.read.parquet(lout).count()
    assert 0 < kept_lit < n_docs


def test_cli_sample_corpus_aes(tmp_path, spark):
    """sample-corpus: deterministic A-ES draw — fixed n, reproducible
    across runs, seed-sensitive, and the selection matches the library
    operator exactly (the CLI is a thin join-back shell)."""
    docs = "/root/testdata/sf0.001/documents.parquet"
    out1 = str(tmp_path / "s1")
    r = _run("sample-corpus", "--documents", docs, "--out", out1,
             "--n", "12", "--weight", "chars", "--seed", "cli-a")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "method=aes n=12" in r.stdout
    s1 = spark.read.parquet(out1)
    # the carried weight is aliased so a source 'weight' column can't
    # collide at write time
    assert s1.count() == 12 and "sample_weight" in s1.columns

    # rerun with the same seed: identical selection
    out2 = str(tmp_path / "s2")
    r = _run("sample-corpus", "--documents", docs, "--out", out2,
             "--n", "12", "--weight", "chars", "--seed", "cli-a")
    assert r.returncode == 0, r.stderr[-2000:]
    ids = lambda p: {x["doc_id"] for x in
                     spark.read.parquet(p).select("doc_id").collect()}
    assert ids(out1) == ids(out2)

    # library parity: the CLI draw IS weighted_reservoir_sample
    from pyspark.sql import functions as F

    from market_data_ingestion_scraper_spark.operators.sampling import (
        weighted_reservoir_sample,
    )

    lib = weighted_reservoir_sample(
        spark.read.parquet(docs).withColumn("_w", F.length("text")),
        12, weight_col="_w", key_col="doc_id", seed="cli-a",
    )
    assert ids(out1) == {x["doc_id"] for x in lib.select("doc_id").collect()}

    # different seed draws a different sample; bad weight exits 2
    out3 = str(tmp_path / "s3")
    r = _run("sample-corpus", "--documents", docs, "--out", out3,
             "--n", "12", "--weight", "chars", "--seed", "cli-b")
    assert r.returncode == 0 and ids(out3) != ids(out1)
    r = _run("sample-corpus", "--documents", docs,
             "--out", str(tmp_path / "x"), "--n", "5",
             "--weight", "no_such_col")
    assert r.returncode == 2 and "not a derived measure" in r.stderr


def test_cli_tokenizer_fit_encode_both_kinds(tmp_path, spark):
    """tokenizer: fit persists a kind-validated artifact, encode derives
    everything from it, and per-doc stats match the library operators."""
    docs = "/root/testdata/sf0.001/documents.parquet"
    n_docs = spark.read.parquet(docs).count()

    for kind, fit_args in (
        ("bpe", ["--n-merges", "40"]),
        ("unigram", ["--vocab-size", "80", "--em-rounds", "1"]),
    ):
        model = str(tmp_path / f"{kind}.json")
        r = _run("tokenizer", "--action", "fit", "--kind", kind,
                 "--documents", docs, "--model", model, *fit_args)
        assert r.returncode == 0, r.stderr[-2000:]
        assert f"kind={kind} vocab=" in r.stdout

        out = str(tmp_path / f"{kind}_enc")
        r = _run("tokenizer", "--action", "encode", "--documents", docs,
                 "--model", model, "--out", out)
        assert r.returncode == 0, r.stderr[-2000:]
        enc = spark.read.parquet(out)
        assert enc.count() == n_docs
        assert {"n_words", "n_pieces", "pieces_per_word"} <= set(enc.columns)
        row = enc.orderBy("doc_id").first()
        assert row["n_pieces"] >= row["n_words"] > 0

    # artifact parity: the persisted unigram stats equal the in-memory fit
    from market_data_ingestion_scraper_spark.operators.tokenizers import (
        load_tokenizer,
    )
    from market_data_ingestion_scraper_spark.operators.unigram_lm import (
        fit_unigram_lm,
        unigram_token_stats,
    )

    art = load_tokenizer(str(tmp_path / "unigram.json"))
    direct = fit_unigram_lm(
        spark.read.parquet(docs), vocab_size=80, em_rounds=1
    )
    assert art["lp_micro"] == direct
    lib = unigram_token_stats(spark.read.parquet(docs), direct)
    cli = spark.read.parquet(str(tmp_path / "unigram_enc")).select(
        "doc_id", "n_words", "n_pieces", "pieces_per_word"
    )
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(cli) == key(lib)

    # kind cross-check: encoding a unigram artifact as --kind bpe exits 2
    r = _run("tokenizer", "--action", "encode", "--kind", "bpe",
             "--documents", docs, "--model", str(tmp_path / "unigram.json"),
             "--out", str(tmp_path / "x"))
    assert r.returncode == 2 and "kind='unigram'" in r.stderr

    # fit without --kind exits 2
    r = _run("tokenizer", "--action", "fit", "--documents", docs,
             "--model", str(tmp_path / "y.json"))
    assert r.returncode == 2 and "--kind is required" in r.stderr


def test_cli_align_corpus_and_stats_artifact(tmp_path, spark):
    """align-corpus: mutual-best margin pairs via both candidate modes;
    the --stats-out artifact round-trips through the kind-validated
    loader and serves the streaming forward miner."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a_path = str(tmp_path / "a.parquet")
    b_path = str(tmp_path / "b.parquet")
    emb.filter(F.col("vec_id") % 2 == 0).write.parquet(a_path)
    emb.filter(F.col("vec_id") % 2 == 1).write.parquet(b_path)

    out = str(tmp_path / "aligned")
    stats = str(tmp_path / "stats")
    r = _run("align-corpus", "--side-a", a_path, "--side-b", b_path,
             "--out", out, "--k", "3", "--threshold-ppm", "1000000",
             "--stats-out", stats)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "mode=brute" in r.stdout and "stats_rows=" in r.stdout
    pairs = spark.read.parquet(out)
    assert pairs.count() > 0
    assert set(pairs.columns) == {"src_id", "tgt_id", "cos_sim", "margin"}
    # mutual best: src and tgt ids are unique across the pair set
    assert pairs.select("src_id").distinct().count() == pairs.count()
    assert pairs.select("tgt_id").distinct().count() == pairs.count()

    # library parity: the CLI IS xlingual_margin_align
    from market_data_ingestion_scraper_spark.operators.alignment import (
        load_neighborhood_stats,
        xlingual_margin_align,
    )

    lib = xlingual_margin_align(
        spark.read.parquet(a_path), spark.read.parquet(b_path),
        k=3, threshold_ppm=1_000_000,
    )
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(pairs) == key(lib)

    # stats artifact: loader validates kind and k, and the WHOLE artifact
    # drives the streaming forward miner — k comes from the sidecar, so a
    # parameter mismatch is impossible
    art = load_neighborhood_stats(spark, stats)
    stats_df, sidecar = art  # still unpacks as a (df, sidecar) pair
    assert sidecar["k"] == 3 and sidecar["kind"] == "xlingual-nb-stats"
    assert art.k == 3 and art.lsh is None  # brute-force build: no lsh meta
    from market_data_ingestion_scraper_spark.operators.similarity import (
        lsh_index,
    )
    from market_data_ingestion_scraper_spark.streaming.pipeline import (
        stream_margin_align,
    )

    index_a = lsh_index(spark.read.parquet(a_path))
    served = stream_margin_align(
        spark.read.parquet(b_path).limit(5),
        spark.read.parquet(a_path),
        art,
        index_a,
    )
    assert served.count() >= 0  # composes and runs
    # an explicit k conflicting with the artifact refuses to serve
    import pytest as _pytest2

    with _pytest2.raises(ValueError, match="conflicts with the stats"):
        stream_margin_align(
            spark.read.parquet(b_path).limit(1),
            spark.read.parquet(a_path),
            art,
            index_a,
            k=7,
        )

    # LSH candidate mode: subset of the brute-force pairs
    out2 = str(tmp_path / "aligned_lsh")
    r = _run("align-corpus", "--side-a", a_path, "--side-b", b_path,
             "--out", out2, "--k", "3", "--lsh", "--n-planes", "4",
             "--n-tables", "8")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "mode=lsh" in r.stdout
    lsh_pairs = {(x.src_id, x.tgt_id)
                 for x in spark.read.parquet(out2).collect()}
    assert lsh_pairs  # sf0.001 sides are dense enough to collide

    # wrong-kind artifact refusal
    import json as _json
    import os as _os

    with open(_os.path.join(stats, "_stats.json"), "w") as f:
        _json.dump({"kind": "something-else", "k": 3}, f)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a xlingual-nb-stats"):
        load_neighborhood_stats(spark, stats)


def test_cli_pack_order(tmp_path, spark):
    """pack-order: the X26 curriculum surface — one row per document,
    library parity, and a missing stratum column exits 2 before writes."""
    docs = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "order")
    r = _run("pack-order", "--documents", docs, "--out", out,
             "--ctx-tokens", "256", "--strata", "lang",
             "--salt", "epoch-1")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "ctx_tokens=256" in r.stdout and "strata=lang" in r.stdout
    got = spark.read.parquet(out)
    n_docs = spark.read.parquet(docs).count()
    assert got.count() == n_docs
    assert {"doc_id", "lang", "n_tokens", "curriculum_rank",
            "start_bin", "start_offset"} <= set(got.columns)

    # library parity: the CLI IS curriculum_pack_order
    from market_data_ingestion_scraper_spark.operators.chunking import (
        curriculum_pack_order,
    )

    lib = curriculum_pack_order(
        spark.read.parquet(docs), 256, "lang", salt="epoch-1"
    )
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(got) == key(lib)

    # a stratum column the parquet lacks refuses loudly, exit 2
    r = _run("pack-order", "--documents", docs,
             "--out", str(tmp_path / "x"), "--strata", "lang,no_such")
    assert r.returncode == 2 and "missing columns" in r.stderr


def test_cli_align_corpus_auto_n_planes(tmp_path, spark):
    """--n-planes auto resolves the width from the larger side via
    n_planes_for and records the RESOLVED int in the stats sidecar (the
    streaming serve derives its hash family from there)."""
    import json

    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a_path = str(tmp_path / "a.parquet")
    b_path = str(tmp_path / "b.parquet")
    emb.filter(F.col("vec_id") % 2 == 0).write.parquet(a_path)
    emb.filter(F.col("vec_id") % 2 == 1).write.parquet(b_path)
    n_bigger = max(
        spark.read.parquet(a_path).count(), spark.read.parquet(b_path).count()
    )

    from market_data_ingestion_scraper_spark.operators.alignment import (
        n_planes_for,
    )

    want = n_planes_for(n_bigger)
    out = str(tmp_path / "aligned")
    stats = str(tmp_path / "stats")
    r = _run("align-corpus", "--side-a", a_path, "--side-b", b_path,
             "--out", out, "--k", "3", "--lsh", "--n-planes", "auto",
             "--stats-out", stats)
    assert r.returncode == 0, r.stderr[-2000:]
    assert f"mode=lsh n_planes={want}" in r.stdout
    with open(f"{stats}/_stats.json") as f:
        sidecar = json.load(f)
    assert sidecar["meta"]["n_planes"] == want  # resolved, not "auto"
    assert sidecar["meta"]["lsh"] is True


def test_cli_tokenizer_eval(tmp_path, spark):
    """tokenizer --action eval: fertility/compression per stratum from a
    persisted artifact, library parity, bad stratum exits 2."""
    docs = "/root/testdata/sf0.001/documents.parquet"
    model = str(tmp_path / "bpe.json")
    r = _run("tokenizer", "--action", "fit", "--kind", "bpe",
             "--documents", docs, "--model", model, "--n-merges", "30")
    assert r.returncode == 0, r.stderr[-2000:]
    out = str(tmp_path / "fert")
    r = _run("tokenizer", "--action", "eval", "--documents", docs,
             "--model", model, "--out", out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "action=eval kind=bpe by=lang" in r.stdout
    got = spark.read.parquet(out)
    assert {"lang", "n_words", "n_pieces", "fertility_ppm",
            "chars_per_piece_ppm"} <= set(got.columns)

    from market_data_ingestion_scraper_spark.operators.tokenizers import (
        load_tokenizer,
        tokenizer_fertility,
    )

    lib = tokenizer_fertility(spark.read.parquet(docs), load_tokenizer(model))
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(got) == key(lib) and got.count() > 1

    r = _run("tokenizer", "--action", "eval", "--documents", docs,
             "--model", model, "--out", str(tmp_path / "x"),
             "--by", "no_such")
    assert r.returncode == 2 and "missing column" in r.stderr


def test_cli_align_corpus_n_planes_validation(tmp_path, spark):
    """r13 review: a malformed --n-planes exits 2 with a usage message
    (not a traceback), and 'auto' without --lsh is rejected up front —
    the width only parameterizes the LSH generator, and resolving it
    would cost two corpus count() jobs the brute-force path never uses."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a_path = str(tmp_path / "a.parquet")
    b_path = str(tmp_path / "b.parquet")
    emb.filter(F.col("vec_id") % 2 == 0).limit(5).write.parquet(a_path)
    emb.filter(F.col("vec_id") % 2 == 1).limit(5).write.parquet(b_path)

    r = _run("align-corpus", "--side-a", a_path, "--side-b", b_path,
             "--out", str(tmp_path / "o1"), "--lsh", "--n-planes", "4.5")
    assert r.returncode == 2 and "integer or 'auto'" in r.stderr

    r = _run("align-corpus", "--side-a", a_path, "--side-b", b_path,
             "--out", str(tmp_path / "o2"), "--n-planes", "auto")
    assert r.returncode == 2 and "requires --lsh" in r.stderr

    r = _run("pack-order", "--documents",
             "/root/testdata/sf0.001/documents.parquet",
             "--out", str(tmp_path / "o3"), "--ctx-tokens", "0")
    assert r.returncode == 2 and "--ctx-tokens" in r.stderr


def test_cli_align_corpus_auto_empty_sides_exit_2(tmp_path, spark):
    """r13 review #2: --n-planes auto over two EMPTY sides exits 2 with a
    message (not a ValueError traceback) — there is no corpus to derive a
    width from."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a_path = str(tmp_path / "a.parquet")
    b_path = str(tmp_path / "b.parquet")
    emb.filter(F.lit(False)).write.parquet(a_path)
    emb.filter(F.lit(False)).write.parquet(b_path)
    r = _run("align-corpus", "--side-a", a_path, "--side-b", b_path,
             "--out", str(tmp_path / "o"), "--lsh", "--n-planes", "auto")
    assert r.returncode == 2 and "both sides are empty" in r.stderr


def test_cli_memorization(tmp_path, spark):
    """memorization: the X29 surface — one row per eval doc, library
    parity, and a missing id column exits 2 before writes."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus_path = str(tmp_path / "corpus.parquet")
    bench_path = str(tmp_path / "bench.parquet")
    docs.filter(F.col("doc_id") % 29 != 0).write.parquet(corpus_path)
    (
        docs.filter(F.col("doc_id") % 29 == 0)
        .select(F.col("doc_id").alias("bench_id"), "text")
        .write.parquet(bench_path)
    )
    out = str(tmp_path / "profile")
    r = _run("memorization", "--corpus", corpus_path,
             "--benchmark", bench_path, "--out", out, "--k", "8")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "eval_docs=" in r.stdout and "max_overlap_tokens=" in r.stdout
    got = spark.read.parquet(out)
    n_bench = spark.read.parquet(bench_path).count()
    assert got.count() == n_bench
    assert {"bench_id", "n_positions", "n_matched", "n_runs",
            "max_overlap_tokens", "novelty_ppm"} == set(got.columns)

    from market_data_ingestion_scraper_spark.operators.decontam import (
        memorization_profile,
    )

    lib = memorization_profile(
        spark.read.parquet(corpus_path), spark.read.parquet(bench_path), k=8
    )
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(got) == key(lib)

    r = _run("memorization", "--corpus", corpus_path,
             "--benchmark", bench_path, "--out", str(tmp_path / "x"),
             "--bench-id-col", "no_such")
    assert r.returncode == 2 and "missing columns" in r.stderr

    r = _run("memorization", "--corpus", corpus_path,
             "--benchmark", bench_path, "--out", str(tmp_path / "x"),
             "--k", "0")
    assert r.returncode == 2 and "--k must be" in r.stderr


def test_cli_domain_mix(tmp_path, spark):
    """domain-mix: the X30 surface — per-domain lines printed, optional
    parquet matches the library, missing embedding columns exit 2."""
    docs = "/root/testdata/sf0.001/documents.parquet"
    emb = "/root/testdata/sf0.001/embeddings.parquet"
    out = str(tmp_path / "mix")
    r = _run("domain-mix", "--documents", docs, "--embeddings", emb,
             "--out", out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "token_share_ppm=" in r.stdout and "purity_ppm=" in r.stdout
    got = spark.read.parquet(out)

    from market_data_ingestion_scraper_spark.operators.mixing import (
        domain_mix_report,
    )

    lib = domain_mix_report(spark.read.parquet(docs), spark.read.parquet(emb))
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(got) == key(lib)

    r = _run("domain-mix", "--documents", docs, "--embeddings", docs)
    assert r.returncode == 2 and "missing columns" in r.stderr


def test_cli_hybrid_search(spark):
    """hybrid-search: the X31 surface — fused lines printed in library
    order, bad inputs exit 2."""
    docs = "/root/testdata/sf0.001/documents.parquet"
    emb = "/root/testdata/sf0.001/embeddings.parquet"
    r = _run("hybrid-search", "--documents", docs, "--embeddings", emb,
             "--terms", "hash,join,vector", "--query-vec-id", "0",
             "--k", "5")
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("doc=")]
    assert len(lines) == 5 and "rrf_micro=" in lines[0]

    from market_data_ingestion_scraper_spark.operators.retrieval import (
        hybrid_retrieval_rrf,
    )

    lib = hybrid_retrieval_rrf(
        spark.read.parquet(docs), spark.read.parquet(emb),
        ("hash", "join", "vector"),
        spark.read.parquet(emb).filter("vec_id = 0"), k=5,
    ).collect()
    assert [int(ln.split()[0][4:]) for ln in lines] == [r_["doc_id"] for r_ in lib]

    r = _run("hybrid-search", "--documents", docs, "--embeddings", emb,
             "--terms", " , ", "--query-vec-id", "0")
    assert r.returncode == 2 and "at least one" in r.stderr
    r = _run("hybrid-search", "--documents", docs, "--embeddings", emb,
             "--terms", "hash", "--query-vec-id", "99999999")
    assert r.returncode == 2 and "not found" in r.stderr


def test_cli_shard_admit(tmp_path, spark):
    """shard-admit: the X32 surface — per-source lines, parquet out
    matches the library, the index form agrees with the corpus form,
    mutually-exclusive source args exit 2."""
    import pyspark.sql.functions as F

    docs_path = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(docs_path)
    shard_path = str(tmp_path / "shard")
    corpus_path = str(tmp_path / "corpus")
    docs.filter(F.col("doc_id") % 5 == 0).write.parquet(shard_path)
    docs.filter(F.col("doc_id") % 5 != 0).write.parquet(corpus_path)
    out = str(tmp_path / "report")
    r = _run("shard-admit", "--shard", shard_path, "--corpus", corpus_path,
             "--portable", "--out", out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "admit_ppm=" in r.stdout

    from market_data_ingestion_scraper_spark.operators.dedup import (
        minhash_index,
        shard_admission_report,
        write_minhash_index,
    )

    lib = shard_admission_report(
        spark.read.parquet(shard_path),
        minhash_index(spark.read.parquet(corpus_path), portable=True),
        threshold=0.5,
    )
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(spark.read.parquet(out)) == key(lib)

    idx = str(tmp_path / "mh_index")
    write_minhash_index(
        spark.read.parquet(corpus_path), idx, n_bands=16, portable=True
    )
    r2 = _run("shard-admit", "--shard", shard_path, "--index", idx)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert sorted(
        ln for ln in r2.stdout.splitlines() if ln.startswith("source=")
    ) == sorted(ln for ln in r.stdout.splitlines() if ln.startswith("source="))

    r = _run("shard-admit", "--shard", shard_path)
    assert r.returncode == 2 and "exactly one" in r.stderr
    r = _run("shard-admit", "--shard", shard_path, "--corpus", corpus_path,
             "--index", idx)
    assert r.returncode == 2 and "exactly one" in r.stderr

    # r16 advisor fix: a wrong-KIND index directory (require('minhash')
    # mismatch) prints the message and exits 2 like every other
    # bad-input path in the subcommand, never a raw traceback
    import json
    import os

    wrong_kind = str(tmp_path / "rp_index")
    docs.limit(1).select("doc_id").write.parquet(wrong_kind)
    with open(os.path.join(wrong_kind, "_quantizer.json"), "w") as f:
        json.dump({"kind": "rp", "n_planes": 8, "seed": 42}, f)
    r = _run("shard-admit", "--shard", shard_path, "--index", wrong_kind)
    assert r.returncode == 2, (r.returncode, r.stderr[-2000:])
    assert "kind mismatch" in r.stderr and "Traceback" not in r.stderr


def test_failed_minhash_rebuild_serves_no_stale_record(
    tmp_path, spark, sf_smoke, monkeypatch
):
    """write_minhash_index removes an existing _quantizer.json before its
    first write and writes the new one last: a rebuild that fails after
    the sigs/ write must leave an index load_ann_index refuses — never
    the OLD record (n_bands=8, not portable) over the new half-written
    frames, which served 0 pairs without an error."""
    import pyspark.sql.functions as F
    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from market_data_ingestion_scraper_spark.operators.dedup import (
        write_minhash_index,
    )
    from market_data_ingestion_scraper_spark.operators.similarity import (
        load_ann_index,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    shard_path = str(tmp_path / "shard")
    docs.filter(F.col("doc_id") % 5 == 0).write.parquet(shard_path)
    idx = str(tmp_path / "mh_index")
    write_minhash_index(docs, idx, n_bands=8)

    def fault(*args, **kwargs):  # the bands/ write is the one partitioned
        raise RuntimeError("injected fault after the sigs/ write")

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "partitionBy", fault)
        with pytest.raises(RuntimeError, match="injected"):
            write_minhash_index(docs, idx, n_bands=16, portable=True)
    with pytest.raises(FileNotFoundError, match="rebuild"):
        load_ann_index(spark, idx)
    r = _run("shard-admit", "--shard", shard_path, "--index", idx)
    assert r.returncode == 2, (r.returncode, r.stderr[-2000:])
    assert "rebuild" in r.stderr and "Traceback" not in r.stderr


def test_cli_temporal_split(tmp_path, spark):
    """temporal-split: the X33 surface — report lines printed, the
    assignment and frozen-entity parquets match the library, bad cutoff
    exits 2."""
    from market_data_ingestion_scraper_spark.sources.tables import load_table

    ev_path = str(tmp_path / "events")
    load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "ts"
    ).write.parquet(ev_path)
    out = str(tmp_path / "assign")
    ents = str(tmp_path / "entities")
    r = _run("temporal-split", "--events", ev_path,
             "--cutoff", "2024-01-25 00:00:00",
             "--out", out, "--entities-out", ents)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "split=train" in r.stdout and "row_share_ppm=" in r.stdout

    from market_data_ingestion_scraper_spark.operators.splits import (
        temporal_split,
        train_entities,
    )

    ev = spark.read.parquet(ev_path)
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(spark.read.parquet(out)) == key(
        temporal_split(ev, "2024-01-25 00:00:00")
    )
    assert key(spark.read.parquet(ents)) == key(
        train_entities(ev, "2024-01-25 00:00:00")
    )

    r = _run("temporal-split", "--events", ev_path, "--cutoff", "garbage")
    assert r.returncode == 2 and "ISO timestamp" in r.stderr


def test_cli_corruption_and_ensemble(tmp_path, spark):
    """corrupt-spans / fim-examples / quality-ensemble: the X34/X35
    surfaces — parquet out matches the library, vote distribution
    prints, bad inputs exit 2."""
    docs_path = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "spans")
    r = _run("corrupt-spans", "--documents", docs_path, "--out", out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "examples=500" in r.stdout and "density_ppm=" in r.stdout

    from market_data_ingestion_scraper_spark.operators.corruption import (
        fim_examples,
        span_corruption_examples,
    )
    from market_data_ingestion_scraper_spark.operators.ensemble import (
        quality_ensemble,
    )

    docs = spark.read.parquet(docs_path)
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(spark.read.parquet(out)) == key(span_corruption_examples(docs))

    fout = str(tmp_path / "fim")
    r = _run("fim-examples", "--documents", docs_path, "--out", fout)
    assert r.returncode == 0, r.stderr[-2000:]
    assert key(spark.read.parquet(fout)) == key(fim_examples(docs))

    qout = str(tmp_path / "qe")
    r = _run("quality-ensemble", "--documents", docs_path, "--out", qout)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "votes=" in r.stdout and "kept=" in r.stdout
    assert key(spark.read.parquet(qout)) == key(quality_ensemble(docs))

    # bad inputs: missing columns and invalid parameters exit 2
    bad = str(tmp_path / "bad")
    docs.select("doc_id").write.parquet(bad)
    r = _run("corrupt-spans", "--documents", bad, "--out", str(tmp_path / "x"))
    assert r.returncode == 2 and "missing columns" in r.stderr
    r = _run("quality-ensemble", "--documents", docs_path, "--min-votes", "9")
    assert r.returncode == 2 and "min_votes" in r.stderr
    r = _run("corrupt-spans", "--documents", docs_path,
             "--out", str(tmp_path / "y"), "--max-span", "99")
    assert r.returncode == 2 and "min_block" in r.stderr


def test_cli_quality_fit_and_tag(tmp_path, spark):
    """quality-fit / quality-tag: the X35 fit-once/serve-many surface —
    the artifact-served tag matches the in-plan ensemble on the fit
    corpus; wrong-kind artifact dirs exit 2."""
    docs_path = "/root/testdata/sf0.001/documents.parquet"
    art = str(tmp_path / "qart")
    r = _run("quality-fit", "--documents", docs_path, "--out", art)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "kind=quality-ensemble" in r.stdout and "n_terms=" in r.stdout

    out = str(tmp_path / "tagged")
    r = _run("quality-tag", "--documents", docs_path, "--artifacts", art,
             "--out", out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "votes=" in r.stdout

    from market_data_ingestion_scraper_spark.operators.ensemble import (
        quality_ensemble,
    )

    key = lambda df: sorted(map(tuple, df.collect()))
    docs = spark.read.parquet(docs_path)
    assert key(spark.read.parquet(out)) == key(quality_ensemble(docs))

    r = _run("quality-tag", "--documents", docs_path,
             "--artifacts", str(tmp_path / "nowhere"))
    assert r.returncode == 2 and "_quality.json" in r.stderr


def test_cli_holdout_split(tmp_path, spark):
    """holdout-split: the X36 surface — per-split summary printed, the
    assignment parquet matches the library, bad args exit 2."""
    from market_data_ingestion_scraper_spark.sources.tables import load_table

    docs_path = str(tmp_path / "docs")
    load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).write.parquet(docs_path)
    out = str(tmp_path / "assign")
    r = _run("holdout-split", "--documents", docs_path, "--out", out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "split=train" in r.stdout and "split=eval" in r.stdout

    from market_data_ingestion_scraper_spark.operators.splits import (
        decontaminated_holdout,
    )

    docs = spark.read.parquet(docs_path)
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(spark.read.parquet(out)) == key(decontaminated_holdout(docs))
    # bad args: ValueError surfaces as exit 2, not a traceback
    r = _run("holdout-split", "--documents", docs_path,
             "--holdout-ppm", "0")
    assert r.returncode == 2 and "holdout_ppm" in r.stderr
    r = _run("holdout-split", "--documents", docs_path,
             "--cutoff", "2024-01-01")
    assert r.returncode == 2 and "temporal mode" in r.stderr


def test_cli_instruction_pairs(tmp_path, spark):
    """instruction-pairs: the X37 surface — summary line printed, the
    example parquet matches the library, bad args exit 2."""
    from market_data_ingestion_scraper_spark.sources.tables import load_table

    docs_path = str(tmp_path / "docs")
    load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "text"
    ).write.parquet(docs_path)
    out = str(tmp_path / "pairs")
    r = _run("instruction-pairs", "--documents", docs_path, "--out", out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "examples=" in r.stdout and "target_tokens=" in r.stdout

    from market_data_ingestion_scraper_spark.operators.instruct import (
        instruction_pairs,
    )

    docs = spark.read.parquet(docs_path)
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(spark.read.parquet(out)) == key(instruction_pairs(docs))
    r = _run("instruction-pairs", "--documents", docs_path, "--out", out,
             "--pair-bucket", "1")
    assert r.returncode == 2 and "pair_bucket" in r.stderr


def test_cli_build_training_data(tmp_path, spark):
    """build-training-data: the end-to-end job surface — funnel
    counters printed, missing columns exit 2."""
    from market_data_ingestion_scraper_spark.sources.tables import load_table

    docs_path = str(tmp_path / "docs")
    load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang", "source"
    ).write.parquet(docs_path)
    out = str(tmp_path / "build")
    r = _run("build-training-data", "--documents", docs_path, "--out", out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "n_train=" in r.stdout and "n_span_examples=" in r.stdout
    import os

    for sub in ("eval_docs", "train_span", "train_fim", "train_instruct"):
        assert os.path.isdir(os.path.join(out, sub)), sub
    # missing lang column -> exit 2
    bad = str(tmp_path / "bad")
    spark.read.parquet(docs_path).drop("lang").write.parquet(bad)
    r = _run("build-training-data", "--documents", bad, "--out", out)
    assert r.returncode == 2 and "missing columns" in r.stderr


def test_cli_preference_pairs(tmp_path, spark):
    """preference-pairs: the X38 surface — summary printed, parquet
    matches the library, missing lang exits 2."""
    from market_data_ingestion_scraper_spark.sources.tables import load_table

    docs_path = str(tmp_path / "docs")
    load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "text", "lang"
    ).write.parquet(docs_path)
    out = str(tmp_path / "prefs")
    r = _run("preference-pairs", "--documents", docs_path, "--out", out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "examples=" in r.stdout and "chosen_votes=" in r.stdout

    from market_data_ingestion_scraper_spark.operators.instruct import (
        preference_pairs,
    )

    docs = spark.read.parquet(docs_path)
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(spark.read.parquet(out)) == key(preference_pairs(docs))
    bad = str(tmp_path / "bad")
    docs.drop("lang").write.parquet(bad)
    r = _run("preference-pairs", "--documents", bad, "--out", out)
    assert r.returncode == 2 and "missing columns" in r.stderr


def test_cli_best_of_n(tmp_path, spark):
    """best-of-n: the X39 surface — summary printed, parquet matches
    the library, a bad n exits 2."""
    from market_data_ingestion_scraper_spark.sources.tables import load_table

    docs_path = str(tmp_path / "docs")
    load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "text", "lang"
    ).write.parquet(docs_path)
    out = str(tmp_path / "bofn")
    r = _run("best-of-n", "--documents", docs_path, "--out", out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "examples=" in r.stdout and "worst_votes=" in r.stdout

    from market_data_ingestion_scraper_spark.operators.instruct import (
        best_of_n_examples,
    )

    docs = spark.read.parquet(docs_path)
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(spark.read.parquet(out)) == key(best_of_n_examples(docs))
    r = _run("best-of-n", "--documents", docs_path, "--out", out, "--n", "1")
    assert r.returncode == 2 and "n must be >= 2" in r.stderr
