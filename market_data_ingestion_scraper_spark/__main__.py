"""CLI for the engine: run registered queries, benchmarks, or an ingest job.

    python -m market_data_ingestion_scraper_spark list
    python -m market_data_ingestion_scraper_spark run top5_commodities \
        [--sf-dir /root/testdata/sf0.01] [--explain] [--limit 20]
    python -m market_data_ingestion_scraper_spark ingest \
        --raw commodity=path.csv [--raw ...] --lake /path/lake --date 2026-08-13
"""

from __future__ import annotations

import argparse
import os
import sys


def _print_vote_distribution(out) -> None:
    """The shared quality-ensemble / quality-tag report: one line per
    vote count with how many of its documents the majority kept."""
    from pyspark.sql import functions as F

    dist = {
        r["votes"]: (r["n"], r["kept"])
        for r in out.groupBy("votes").agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("keep")).alias("kept"),
        ).collect()
    }
    for v in sorted(dist):
        n, kept = dist[v]
        print(f"votes={v} n_docs={n} kept={kept}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="market_data_ingestion_scraper_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    runp = sub.add_parser("run", help="run a registered query")
    runp.add_argument("name")
    runp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    runp.add_argument("--limit", type=int, default=20)
    runp.add_argument("--explain", action="store_true")

    ing = sub.add_parser("ingest", help="run the resumable market-ingestion job")
    ing.add_argument("--raw", action="append", required=True,
                     metavar="NAME=CSV", help="commodity display name = raw csv path")
    ing.add_argument("--lake", required=True)
    ing.add_argument("--date", required=True)
    ing.add_argument("--run-id", default=None)

    corp = sub.add_parser(
        "ingest-corpus",
        help="JSONL landing -> quarantine + exact dedup -> partitioned gold",
    )
    corp.add_argument("--landing", required=True)
    corp.add_argument("--gold", required=True)
    corp.add_argument("--incremental", action="store_true",
                      help="dedup against existing gold hashes and append")
    corp.add_argument("--bloom-path", default=None,
                      help="maintain a sharded Bloom sidecar here; "
                      "incremental runs probe it and skip the gold "
                      "anti-join for provably-novel rows")
    corp.add_argument("--sketch-path", default=None,
                      help="append one mergeable sketch row per source "
                      "shard covering the rows admitted this run; "
                      "`corpus-profile` answers globally by merging")

    tdb = sub.add_parser(
        "build-training-data",
        help="the engine end-to-end: quality gate (X35) -> exact dedup "
        "(X1) -> contamination-safe holdout (X36) -> span-corruption / "
        "FIM / instruction examples (X34/X37) over the train side; "
        "deterministic outputs, funnel counters printed",
    )
    tdb.add_argument("--documents", required=True,
                     help="parquet with (doc_id, text, lang[, source])")
    tdb.add_argument("--out", required=True,
                     help="output root (eval_docs/ split_assignment/ "
                     "train_span/ train_fim/ [train_instruct/])")
    tdb.add_argument("--min-votes", type=int, default=2)
    tdb.add_argument("--holdout-ppm", type=int, default=100_000)
    tdb.add_argument("--k", type=int, default=5)
    tdb.add_argument("--min-hits", type=int, default=1)
    tdb.add_argument("--sidecars", action="store_true",
                     help="also write the frozen-split gram bloom "
                     "sidecars (sidecar_{train,eval}_grams/) that "
                     "stream_holdout_tag serves later arrivals from")

    prof = sub.add_parser(
        "corpus-profile",
        help="global corpus profile (total/distinct tokens, doc-length "
        "quartiles) by MERGING the ingest-maintained sketch artifact — "
        "gold text is never rescanned",
    )
    prof.add_argument("--sketches", required=True,
                      help="sketch parquet maintained by ingest-corpus "
                      "--sketch-path")

    ann = sub.add_parser(
        "ann-index",
        help="build a persistable ANN index (LSH bucket table, IVF cell "
        "assignment, or IVF-PQ codes+cells) from an embeddings parquet, "
        "partitioned for serving",
    )
    ann.add_argument("--embeddings", required=True,
                     help="parquet with (vec_id, embedding) columns")
    ann.add_argument("--out", required=True)
    ann.add_argument("--kind", choices=("lsh", "ivf", "ivfpq"), default="lsh")
    ann.add_argument("--pq-m", type=int, default=8)
    ann.add_argument("--pq-codes", type=int, default=16)
    ann.add_argument("--n-planes", type=int, default=4)
    ann.add_argument("--n-tables", type=int, default=8)
    ann.add_argument("--n-lists", type=int, default=16)
    ann.add_argument("--dim", type=int, default=64)
    ann.add_argument("--seed", type=int, default=1000)

    tq = sub.add_parser(
        "train-quality",
        help="train the linear quality classifier on a documents parquet "
        "(weak labels from the composite quality score) and persist the "
        "weight artifact for batch/stream serving",
    )
    tq.add_argument("--documents", required=True,
                    help="parquet with (doc_id, text) columns")
    tq.add_argument("--out", required=True,
                    help="JSON weight artifact path")
    tq.add_argument("--iters", type=int, default=50)
    tq.add_argument("--lr", type=float, default=1.0)
    tq.add_argument("--label-threshold", type=float, default=0.6)

    nd = sub.add_parser(
        "near-dup-index",
        help="build the persistable MinHash band index from a documents "
        "parquet; incremental shards dedup against it via "
        "near_duplicates_vs_index without re-shingling the corpus",
    )
    nd.add_argument("--documents", required=True,
                    help="parquet with (doc_id, text) columns")
    nd.add_argument("--out", required=True)
    nd.add_argument("--n-bands", type=int, default=16)
    nd.add_argument("--shingle-k", type=int, default=3)
    nd.add_argument("--portable", action="store_true",
                    help="md5-fold token hash (oracle-reproducible) "
                    "instead of xxhash64 (throughput default)")

    ie = sub.add_parser(
        "index-extend",
        help="append a new shard to a persisted index (lsh/ivf vectors "
        "or minhash documents) — the incremental half of the index "
        "lifecycle; parameters always come from the index's sidecar",
    )
    ie.add_argument("--input", required=True,
                    help="parquet shard: (vec_id, embedding) for lsh/ivf "
                    "indexes, (doc_id, text) for minhash indexes")
    ie.add_argument("--index", required=True,
                    help="existing index directory (ann-index or "
                    "near-dup-index layout with _quantizer.json)")

    sc = sub.add_parser(
        "select-corpus",
        help="domain-targeted data selection over a documents parquet: "
        "DSIR importance resampling toward a target corpus, or budgeted "
        "per-source mixture fill; writes the selected documents",
    )
    sc.add_argument("--documents", required=True,
                    help="pool parquet with (doc_id, text, source) columns")
    sc.add_argument("--out", required=True,
                    help="output parquet of selected documents")
    sc.add_argument("--method", choices=("dsir", "budget"), default="dsir")
    sc.add_argument("--target", default=None,
                    help="target-domain documents parquet (dsir)")
    sc.add_argument("--k", type=int, default=1000,
                    help="documents to select (dsir)")
    sc.add_argument("--n-buckets", type=int, default=4096)
    sc.add_argument("--temperature", type=float, default=1.0)
    sc.add_argument("--token-budget", type=int, default=None,
                    help="total token budget across sources (budget)")
    sc.add_argument("--alpha", type=float, default=0.5,
                    help="mixture temperature exponent (budget)")
    sc.add_argument("--seed", default=None,
                    help="selection salt (defaults per method)")
    sc.add_argument("--save-model", default=None,
                    help="also persist the fitted DSIR model as a JSON "
                    "artifact here (dsir method) — the input to "
                    "stream_dsir_filter / score_with_literal_model")

    lm = sub.add_parser(
        "lm-model",
        help="reference-corpus trigram LM lifecycle: fit persists the "
        "count tables + sidecar, score runs the single-pass scorer, "
        "filter applies the CCNet-style fluency admission gate",
    )
    lm.add_argument("--action", choices=("fit", "score", "filter"),
                    required=True)
    lm.add_argument("--documents", required=True,
                    help="documents parquet with (doc_id, text) columns")
    lm.add_argument("--model", required=True,
                    help="trigram model directory (written by fit)")
    lm.add_argument("--out", default=None,
                    help="output parquet (score/filter)")
    lm.add_argument("--alpha", type=float, default=0.4,
                    help="stupid-backoff penalty (fit)")
    lm.add_argument("--min-logprob", type=float, default=None,
                    help="admission threshold on avg token log-prob "
                    "(filter)")
    lm.add_argument("--literal", action="store_true",
                    help="filter via the capped plan-literal model "
                    "(the streaming-admission plan) instead of the "
                    "count-table joins")

    sc2 = sub.add_parser(
        "sample-corpus",
        help="deterministic weighted sample (Efraimidis-Spirakis A-ES "
        "exponential keys, without replacement) over a documents parquet; "
        "writes the sampled documents — same (data, seed) always draws "
        "the same sample on any cluster",
    )
    sc2.add_argument("--documents", required=True,
                     help="parquet with (doc_id, text) columns")
    sc2.add_argument("--out", required=True,
                     help="output parquet of sampled documents")
    sc2.add_argument("--n", type=int, required=True,
                     help="sample size")
    sc2.add_argument("--weight", default="chars",
                     help="'chars' (length(text)), 'tokens' (word count), "
                     "or the name of an existing numeric column")
    sc2.add_argument("--seed", default="wrs-v1",
                     help="sampling salt; changing it draws an "
                     "independent sample")
    sc2.add_argument("--key-col", default="doc_id")

    tk = sub.add_parser(
        "tokenizer",
        help="learned subword tokenizer lifecycle (bpe or unigram-lm): "
        "fit persists the kind-validated JSON artifact, encode scores a "
        "documents parquet with per-doc piece accounting",
    )
    tk.add_argument("--action", choices=("fit", "encode", "eval"),
                    required=True)
    tk.add_argument("--by", default="lang",
                    help="stratum column for eval fertility/compression")
    tk.add_argument("--kind", choices=("bpe", "unigram"), default=None,
                    help="required for fit; on encode the artifact is "
                    "authoritative and a mismatching --kind errors")
    tk.add_argument("--documents", required=True,
                    help="documents parquet with (doc_id, text) columns")
    tk.add_argument("--model", required=True,
                    help="tokenizer artifact path (written by fit)")
    tk.add_argument("--out", default=None,
                    help="output parquet of per-doc piece stats (encode)")
    tk.add_argument("--n-merges", type=int, default=100,
                    help="BPE merge count (fit, kind=bpe)")
    tk.add_argument("--vocab-size", type=int, default=200,
                    help="unigram piece vocabulary (fit, kind=unigram)")
    tk.add_argument("--max-piece-len", type=int, default=4,
                    help="unigram max piece length (fit, kind=unigram)")
    tk.add_argument("--em-rounds", type=int, default=2,
                    help="unigram hard-EM rounds (fit, kind=unigram)")
    tk.add_argument("--max-vocab", type=int, default=100_000,
                    help="word-table cap consumed by either trainer")

    ac = sub.add_parser(
        "align-corpus",
        help="cross-lingual document alignment (ratio-margin mutual-best "
        "mining) between two embedding parquets; optionally persists the "
        "side-A neighborhood-stats artifact that the streaming forward "
        "miner serves against",
    )
    ac.add_argument("--side-a", required=True,
                    help="parquet with (vec_id, embedding) — the source "
                    "side (broadcast in brute-force mode)")
    ac.add_argument("--side-b", required=True,
                    help="parquet with (vec_id, embedding) — the target "
                    "side")
    ac.add_argument("--out", required=True,
                    help="output parquet of (src_id, tgt_id, cos_sim, "
                    "margin) aligned pairs")
    ac.add_argument("--k", type=int, default=4,
                    help="neighborhood size for the margin denominator")
    ac.add_argument("--threshold-ppm", type=int, default=1_000_000,
                    help="admission threshold in margin ppm (1e6 = 1.0)")
    ac.add_argument("--lsh", action="store_true",
                    help="generate candidates via the shared-hyperplane "
                    "LSH bucket join (the corpus-scale path) instead of "
                    "brute force")
    # defaults MATCH xlingual_candidates_lsh's (and ann-index's lsh kind):
    # a stats artifact built here and buckets built at library defaults
    # must come from the same hash family, or streaming margins are
    # computed over a systematically different candidate pool
    ac.add_argument("--n-planes", default="4",
                    help="signature width, or 'auto' to derive it from "
                    "the larger side's row count via n_planes_for — the "
                    "measured density law (fixed width densifies "
                    "candidates quadratically; width ~ log2(corpus) "
                    "keeps them linear)")
    ac.add_argument("--n-tables", type=int, default=8)
    ac.add_argument("--dim", type=int, default=64)
    ac.add_argument("--seed", type=int, default=1000)
    ac.add_argument("--stats-out", default=None,
                    help="also persist side-A top-k neighborhood stats "
                    "(parquet + kind-validated sidecar) for "
                    "stream_margin_align serving")

    po = sub.add_parser(
        "pack-order",
        help="curriculum-ordered sequence packing (X26): per-stratum "
        "short-first order + packing cumsum — each document's "
        "(curriculum_rank, start_bin, start_offset) in the warmup-ordered "
        "token stream",
    )
    po.add_argument("--documents", required=True,
                    help="parquet with (doc_id, text, strata columns)")
    po.add_argument("--out", required=True,
                    help="output parquet of the curriculum pack order")
    po.add_argument("--ctx-tokens", type=int, default=512,
                    help="context window length in tokens")
    po.add_argument("--strata", default="lang",
                    help="comma-separated stratum columns; at corpus "
                    "scale pass lang,shard so each window is "
                    "partition-sized")
    po.add_argument("--salt", default="curriculum-0",
                    help="tie-break salt — redraws the within-length "
                    "shuffle per epoch")
    po.add_argument("--id-col", default="doc_id")

    mp = sub.add_parser(
        "memorization",
        help="memorization/novelty profile (X29): per eval document, "
        "matched k-gram positions against the training corpus, maximal "
        "consecutive-match runs, longest verbatim-overlap extent, and "
        "the exact novelty fraction",
    )
    mp.add_argument("--corpus", required=True,
                    help="training-corpus parquet with (id, text)")
    mp.add_argument("--benchmark", required=True,
                    help="eval-set parquet with (bench id, text)")
    mp.add_argument("--out", required=True,
                    help="output parquet of the per-eval-doc profile")
    mp.add_argument("--k", type=int, default=8,
                    help="gram length in tokens")
    mp.add_argument("--id-col", default="doc_id")
    mp.add_argument("--bench-id-col", default="bench_id")

    dm = sub.add_parser(
        "domain-mix",
        help="embedding-space domain-mix report (X30): corpus "
        "cluster-assigned to nearest class prototypes, per predicted "
        "domain doc/token counts, exact ppm shares, and purity",
    )
    dm.add_argument("--documents", required=True,
                    help="parquet with (doc_id, text)")
    dm.add_argument("--embeddings", required=True,
                    help="parquet with (vec_id, embedding, label)")
    dm.add_argument("--out", default=None,
                    help="optional output parquet; the report always "
                    "prints (it is |labels| rows)")

    hs = sub.add_parser(
        "hybrid-search",
        help="hybrid retrieval (X31): BM25 over literal query terms "
        "fused with exact-cosine top-k for a query vector by "
        "reciprocal-rank fusion (exact integer RRF)",
    )
    hs.add_argument("--documents", required=True,
                    help="parquet with (doc_id, text)")
    hs.add_argument("--embeddings", required=True,
                    help="parquet with (vec_id, embedding)")
    hs.add_argument("--terms", required=True,
                    help="comma-separated lexical query terms")
    hs.add_argument("--query-vec-id", type=int, required=True,
                    help="vec_id of the semantic query vector (its own "
                    "row is excluded from the semantic side)")
    hs.add_argument("--k", type=int, default=10)
    hs.add_argument("--k-rrf", type=int, default=60)
    hs.add_argument("--n-candidates", type=int, default=20)

    sa = sub.add_parser(
        "shard-admit",
        help="incremental-admission near-dedup report (X32): per "
        "source, how much of a new shard near-duplicates the corpus, "
        "near-duplicates a smaller-id shard doc, or is admissible",
    )
    sa.add_argument("--shard", required=True,
                    help="new-shard parquet with (doc_id, text, source)")
    sa.add_argument("--index", default=None,
                    help="persisted near-dup-index directory (parameters "
                    "from its sidecar — the serving form)")
    sa.add_argument("--corpus", default=None,
                    help="corpus parquet with (doc_id, text); signatured "
                    "in-plan (the index-free form)")
    sa.add_argument("--threshold", type=float, default=0.5)
    sa.add_argument("--portable", action="store_true",
                    help="md5-fold token hash for the index-free form "
                    "(ignored with --index: the sidecar decides)")
    sa.add_argument("--out", default=None,
                    help="optional output parquet; the report always "
                    "prints (it is |sources| rows)")

    ts = sub.add_parser(
        "temporal-split",
        help="leakage-safe temporal train/val split (X33): assign every "
        "event train/embargo/val_warm/val_cold against a cutoff + "
        "embargo, with warm/cold entity stratification; prints the "
        "per-split report",
    )
    ts.add_argument("--events", required=True,
                    help="parquet with (event_id, user_id, ts)")
    ts.add_argument("--cutoff", required=True,
                    help="ISO timestamp, e.g. '2024-01-25 00:00:00'")
    ts.add_argument("--embargo-days", type=int, default=1)
    ts.add_argument("--out", default=None,
                    help="optional parquet of the per-event assignment")
    ts.add_argument("--entities-out", default=None,
                    help="optional parquet of the frozen train-entity "
                    "artifact (feeds stream_split_tag)")

    cx = sub.add_parser(
        "corrupt-spans",
        help="T5-style span-corruption training examples (X34): one "
        "hash-chosen masked span per 16-token block, <extra_id_B> "
        "sentinels, encoder input + decoder target per document; "
        "deterministic (pure function of doc_id + text)",
    )
    cx.add_argument("--documents", required=True,
                    help="parquet with (doc_id, text)")
    cx.add_argument("--out", required=True,
                    help="output parquet of (doc_id, n_tokens, n_spans, "
                    "n_masked, input_text, target_text)")
    cx.add_argument("--block-size", type=int, default=16)
    cx.add_argument("--max-span", type=int, default=4)

    fx = sub.add_parser(
        "fim-examples",
        help="fill-in-the-middle training examples (X34, PSM order): "
        "two hash-chosen cuts per document of >= 3 tokens; "
        "deterministic (pure function of doc_id + text)",
    )
    fx.add_argument("--documents", required=True,
                    help="parquet with (doc_id, text)")
    fx.add_argument("--out", required=True,
                    help="output parquet of (doc_id, n_tokens, cut1, "
                    "cut2, input_text, target_text)")

    hs = sub.add_parser(
        "holdout-split",
        help="contamination-aware eval-split builder (X36): select a "
        "deterministic hash (or temporal) holdout, quarantine selected "
        "docs sharing word k-grams with the training side; prints the "
        "per-split summary",
    )
    hs.add_argument("--documents", required=True,
                    help="parquet with (doc_id, text)")
    hs.add_argument("--holdout-ppm", type=int, default=100_000,
                    help="holdout fraction in ppm (hash mode)")
    hs.add_argument("--k", type=int, default=5,
                    help="contamination gram width")
    hs.add_argument("--min-hits", type=int, default=1,
                    help="distinct shared grams that quarantine a doc")
    hs.add_argument("--cutoff", default=None,
                    help="ISO timestamp: temporal mode (needs --ts-col)")
    hs.add_argument("--ts-col", default=None,
                    help="timestamp column for temporal mode")
    hs.add_argument("--out", default=None,
                    help="optional parquet of the per-doc assignment")

    ip = sub.add_parser(
        "instruction-pairs",
        help="instruction-example assembly from adjacent same-source "
        "document pairs (X37): hash-chosen template + capped token "
        "slices; deterministic (pure function of ids + text)",
    )
    ip.add_argument("--documents", required=True,
                    help="parquet with (doc_id, source, text)")
    ip.add_argument("--out", required=True,
                    help="output parquet of (prompt_doc_id, "
                    "response_doc_id, source, template_id, input_text, "
                    "target_text, n_prompt_tokens, n_target_tokens)")
    ip.add_argument("--pair-bucket", type=int, default=1024)
    ip.add_argument("--max-prompt-tokens", type=int, default=64)
    ip.add_argument("--max-target-tokens", type=int, default=256)

    pp = sub.add_parser(
        "preference-pairs",
        help="preference-example assembly (X38, RLHF/DPO shape): "
        "same-source document TRIPLES with chosen/rejected decided by "
        "the X35 quality-ensemble vote; vote ties emit nothing",
    )
    pp.add_argument("--documents", required=True,
                    help="parquet with (doc_id, source, text, lang)")
    pp.add_argument("--out", required=True,
                    help="output parquet of (prompt_doc_id, "
                    "chosen_doc_id, rejected_doc_id, source, template_id, "
                    "input_text, chosen_text, rejected_text, "
                    "chosen_votes, rejected_votes)")
    pp.add_argument("--pair-bucket", type=int, default=1024)
    pp.add_argument("--max-prompt-tokens", type=int, default=64)
    pp.add_argument("--max-response-tokens", type=int, default=256)

    bn = sub.add_parser(
        "best-of-n",
        help="rejection-sampling / best-of-n assembly (X39, SFT "
        "shape): runs of 1+n same-source documents, keep the "
        "candidate with the most X35 ensemble votes (ties to the "
        "lowest id)",
    )
    bn.add_argument("--documents", required=True,
                    help="parquet with (doc_id, source, text, lang)")
    bn.add_argument("--out", required=True,
                    help="output parquet of (prompt_doc_id, "
                    "chosen_doc_id, source, template_id, input_text, "
                    "chosen_text, chosen_votes, worst_votes)")
    bn.add_argument("--n", type=int, default=4,
                    help="candidate pool size per prompt")
    bn.add_argument("--pair-bucket", type=int, default=1024)
    bn.add_argument("--max-prompt-tokens", type=int, default=64)
    bn.add_argument("--max-response-tokens", type=int, default=256)

    qe = sub.add_parser(
        "quality-ensemble",
        help="document-quality ensembler (X35): LR classifier + "
        "perplexity tercile + Gopher rules composed with a majority "
        "vote; prints the vote distribution",
    )
    qe.add_argument("--documents", required=True,
                    help="parquet with (doc_id, text, lang)")
    qe.add_argument("--min-votes", type=int, default=2)
    qe.add_argument("--out", default=None,
                    help="optional per-document output parquet")

    qf = sub.add_parser(
        "quality-fit",
        help="fit the frozen quality-ensemble artifacts on a reference "
        "corpus and persist them (weights/ lp/ cutoffs/ + sidecar) — "
        "the fit-once half of the X35 serve",
    )
    qf.add_argument("--documents", required=True,
                    help="reference-corpus parquet with (doc_id, text, lang)")
    qf.add_argument("--out", required=True,
                    help="artifact directory to write")
    qf.add_argument("--label-threshold", type=float, default=0.6)
    qf.add_argument("--lr", type=float, default=1.0)

    qt = sub.add_parser(
        "quality-tag",
        help="tag a document shard with the FROZEN ensemble artifacts "
        "(quality-fit output) — the serve-many half of X35; prints the "
        "vote distribution",
    )
    qt.add_argument("--documents", required=True,
                    help="shard parquet with (doc_id, text, lang)")
    qt.add_argument("--artifacts", required=True,
                    help="quality-fit artifact directory")
    qt.add_argument("--min-votes", type=int, default=2)
    qt.add_argument("--out", default=None,
                    help="optional per-document output parquet")

    ic = sub.add_parser(
        "index-compact",
        help="fold an append-grown index's small files into one per "
        "partition dir (crash-safe write-ahead snapshots); rows, schema "
        "and sidecar untouched",
    )
    ic.add_argument("--index", required=True)
    ic.add_argument("--max-files", type=int, default=1,
                    help="compact partition dirs holding more than this "
                    "many files")
    ic.add_argument("--max-rows-per-file", type=int, default=None,
                    help="roll compacted output at this many rows")

    args = p.parse_args(argv)

    from .queries import REGISTRY

    if args.cmd == "list":
        for name, spec in REGISTRY.items():
            kind = "oracle" if spec.oracle else "rows-only"
            print(f"{name:32s} [{kind}] {spec.doc}")
        return 0

    from .session import get_spark

    spark = get_spark(app_name=f"cli:{args.cmd}")

    if args.cmd == "run":
        if args.name not in REGISTRY:
            print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
            return 2
        df = REGISTRY[args.name].fn(spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "ingest":
        from .jobs import run_market_ingestion

        raw_paths = dict(kv.split("=", 1) for kv in args.raw)
        metrics = run_market_ingestion(
            spark, raw_paths, args.lake, scrape_date=args.date, run_id=args.run_id
        )
        for unit, (n, n_data) in sorted(metrics.items()):
            print(f"{unit}: rows={n} data_rows={n_data}")
        print(f"processed {len(metrics)} unit(s)")
        return 0

    if args.cmd == "ingest-corpus":
        from .jobs import run_corpus_ingestion

        metrics = run_corpus_ingestion(
            spark,
            args.landing,
            args.gold,
            incremental=args.incremental,
            bloom_path=args.bloom_path,
            sketch_path=args.sketch_path,
        )
        for k, v in sorted(metrics.items()):
            print(f"{k}={v}")
        return 0

    if args.cmd == "build-training-data":
        from .jobs import run_training_data_build

        try:
            metrics = run_training_data_build(
                spark,
                args.documents,
                args.out,
                min_votes=args.min_votes,
                holdout_ppm=args.holdout_ppm,
                k=args.k,
                min_hits=args.min_hits,
                write_sidecars=args.sidecars,
            )
        except ValueError as exc:
            print(str(exc), file=sys.stderr)
            return 2
        for k, v in sorted(metrics.items()):
            print(f"{k}={v}")
        return 0

    if args.cmd == "corpus-profile":
        from .operators.sketches import merge_corpus_profile

        row = merge_corpus_profile(spark.read.parquet(args.sketches))
        print(f"n_token_instances={row['n_token_instances']}")
        print(f"distinct_tokens_hll={row['distinct_tokens_hll']:.1f}")
        print(f"distinct_tokens_theta={row['distinct_tokens_theta']:.1f}")
        print(
            "doc_len_quartiles="
            + ",".join(str(v) for v in row["doc_len_quartiles"])
        )
        return 0

    if args.cmd == "train-quality":
        from .operators.classifier import (
            classifier_features,
            fit_lr,
            logistic_loss,
            save_quality_weights,
        )
        from .operators.text import quality_features

        docs = spark.read.parquet(args.documents)
        feats = classifier_features(
            quality_features(docs), label_threshold=args.label_threshold
        ).persist()
        w = fit_lr(feats, n_iter=args.iters, lr=args.lr)
        loss = logistic_loss(feats, w)
        feats.unpersist()
        save_quality_weights(
            w,
            args.out,
            meta={
                "n_iter": args.iters,
                "lr": args.lr,
                "label_threshold": args.label_threshold,
                "train_loss": round(loss, 6),
            },
        )
        print(f"weights={w}")
        print(f"train_loss={round(loss, 6)}")
        print(f"artifact={args.out}")
        return 0

    if args.cmd == "ann-index":
        # The bucket/cell tables ARE the index (see SURVEY X14): built
        # once here, partitioned so a serving probe reads only its
        # table's/cell's files, loaded with load_ann_index and served
        # through the handle (lsh_topk / ann_enrich_stream /
        # stream_near_dup_filter / stream_margin_align, ivf_topk,
        # ivfpq_topk).  The QUANTIZER PARAMETERS travel with the index
        # as a `_quantizer.json` sidecar (underscore-prefixed → invisible
        # to parquet readers): serving with different hyperplanes or
        # centroids than the build silently degrades recall to chance,
        # so the parameters the index was built with are never guessed.
        # Every build replaces the whole directory, old partitions too.
        from .operators import similarity as S
        from .util import require_local_path

        require_local_path(args.out)  # the sidecar write is an os-level op
        emb = spark.read.parquet(args.embeddings)
        if args.kind == "lsh":
            n = S.write_lsh_index(
                emb, args.out, n_planes=args.n_planes,
                n_tables=args.n_tables, dim=args.dim, seed_base=args.seed,
            )
            part = "t"
        else:
            # the record holds the centroids actually fitted: fewer than
            # --n-lists when the corpus has fewer vectors
            cents = S.fit_ivf_centroids(emb, n_lists=args.n_lists, seed=args.seed)
            part = "cell"
            if args.kind == "ivf":
                n = S.write_ivf_index(emb, args.out, cents)
            else:
                # (id, codes, cell) rows: both quantizers in the record
                books = S.fit_pq_codebooks(
                    emb, m=args.pq_m, k=args.pq_codes, seed=args.seed
                )
                n = S.write_ivfpq_index(emb, args.out, cents, books)
        print(
            f"kind={args.kind} rows={n} out={args.out} partition_by={part} "
            f"quantizer=_quantizer.json"
        )
        return 0

    if args.cmd == "near-dup-index":
        # Same lifecycle as ann-index: the split (sigs/ + slim bands/)
        # index is partitioned by band so an incremental shard's
        # candidate join prunes to its bands' files; the parameter
        # sidecar is authoritative — banding a shard with different
        # (n_bands, k, hash) than the build silently destroys recall.
        from .operators.dedup import write_minhash_index
        from .util import require_local_path

        require_local_path(args.out)
        docs = spark.read.parquet(args.documents)
        n_docs, n_rows = write_minhash_index(
            docs, args.out, n_bands=args.n_bands, k=args.shingle_k,
            portable=args.portable,
        )
        print(
            f"kind=minhash docs={n_docs} rows={n_rows} out={args.out} "
            f"layout=split partition_by=band quantizer=_quantizer.json"
        )
        return 0

    if args.cmd == "index-extend":
        # One sidecar-dispatched entry point for every index family: the
        # record names the kind, so the caller cannot append with the
        # wrong row shape or re-typed parameters.  A directory without a
        # record, or a record the family's reader refuses, prints the
        # message and exits 2 (as shard-admit --index does).
        from .operators.dedup import extend_band_index
        from .operators.similarity import extend_ann_index, load_ann_index
        from .util import require_local_path

        require_local_path(args.index)
        try:
            kind = load_ann_index(spark, args.index).kind
            shard = spark.read.parquet(args.input)
            if kind == "minhash":
                n = extend_band_index(shard, args.index)
            else:
                n = extend_ann_index(shard, args.index)
        except (ValueError, FileNotFoundError) as exc:
            print(str(exc), file=sys.stderr)
            return 2
        print(f"kind={kind} appended_rows={n} index={args.index}")
        return 0

    if args.cmd == "select-corpus":
        from pyspark.sql.functions import broadcast as F_broadcast

        docs = spark.read.parquet(args.documents)
        if args.method == "dsir":
            if not args.target:
                print("--target is required for --method dsir", file=sys.stderr)
                return 2
            from .operators.importance import dsir_select

            target = spark.read.parquet(args.target)
            sel = dsir_select(
                docs,
                target,
                args.k,
                n_buckets=args.n_buckets,
                temperature=args.temperature,
                seed=args.seed or "dsir",
            )
            if args.save_model:
                from .operators.importance import (
                    fit_dsir_model,
                    save_dsir_model,
                )
                from .util import require_local_path

                require_local_path(args.save_model)
                save_dsir_model(
                    fit_dsir_model(docs, target, n_buckets=args.n_buckets),
                    args.save_model,
                    meta={"k": args.k, "temperature": args.temperature},
                )
                print(f"model={args.save_model}")
            # join back for the full rows; the k-row selection broadcasts
            out = docs.join(
                F_broadcast(sel.select("doc_id", "logratio")), "doc_id"
            )
        else:
            if args.token_budget is None:
                print(
                    "--token-budget is required for --method budget",
                    file=sys.stderr,
                )
                return 2
            from .operators.mixing import budget_fill_docs

            out = budget_fill_docs(
                docs, args.token_budget, alpha=args.alpha,
                seed=args.seed or "fill",
            )
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(f"method={args.method} selected={n} out={args.out}")
        return 0

    if args.cmd == "lm-model":
        from .operators.text import (
            fit_trigram_model,
            load_trigram_model,
            score_with_literal_trigram,
            score_with_trigram_model,
            trigram_literal_model,
        )

        docs = spark.read.parquet(args.documents)
        if args.action == "fit":
            from .util import require_local_path

            require_local_path(args.model)
            meta = fit_trigram_model(docs, args.model, alpha=args.alpha)
            print(f"kind={meta['kind']} total={meta['total']} "
                  f"alpha={meta['alpha']} model={args.model}")
            return 0
        if not args.out:
            print("--out is required for score/filter", file=sys.stderr)
            return 2
        model = load_trigram_model(spark, args.model)
        if args.action == "score":
            scored = score_with_trigram_model(docs, model)
        else:
            if args.min_logprob is None:
                print("--min-logprob is required for filter", file=sys.stderr)
                return 2
            if args.literal:
                scored = score_with_literal_trigram(
                    docs, trigram_literal_model(model)
                )
            else:
                scored = score_with_trigram_model(docs, model)
            scored = scored.filter(
                scored["avg_logprob"] >= float(args.min_logprob)
            )
        # join the scores back for the full document rows
        out = docs.join(
            scored.select("doc_id", "n_tokens", "avg_logprob"), "doc_id"
        )
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(f"action={args.action} rows={n} out={args.out}")
        return 0

    if args.cmd == "sample-corpus":
        from pyspark.sql import functions as F

        from .operators.sampling import weighted_reservoir_sample
        from .operators.text import tokens

        docs = spark.read.parquet(args.documents)
        # weight resolution: derived measures for the common cases, else
        # an existing numeric column by name
        if args.weight == "chars":
            weighted = docs.withColumn("_w", F.length("text"))
        elif args.weight == "tokens":
            weighted = docs.withColumn("_w", F.size(tokens("text")))
        elif args.weight in docs.columns:
            weighted = docs.withColumn("_w", F.col(args.weight))
        else:
            print(
                f"--weight {args.weight!r} is not a derived measure "
                "(chars/tokens) or an existing column",
                file=sys.stderr,
            )
            return 2
        sel = weighted_reservoir_sample(
            weighted, args.n, weight_col="_w", key_col=args.key_col,
            seed=args.seed,
        )
        # join back for the full rows; the n-row selection broadcasts.
        # The sample's weight column is ALIASED so a documents parquet
        # that already carries a 'weight' column doesn't produce a
        # duplicate-name write failure.
        from pyspark.sql.functions import broadcast as F_broadcast

        out = docs.join(
            F_broadcast(
                sel.select(
                    args.key_col, F.col("weight").alias("sample_weight")
                )
            ),
            args.key_col,
        )
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(f"method=aes n={n} weight={args.weight} seed={args.seed} "
              f"out={args.out}")
        return 0

    if args.cmd == "tokenizer":
        from .operators.tokenizers import load_tokenizer, save_tokenizer
        from .util import require_local_path

        docs = spark.read.parquet(args.documents)
        if args.action == "fit":
            if args.kind is None:
                print("--kind is required for fit", file=sys.stderr)
                return 2
            require_local_path(args.model)
            if args.kind == "bpe":
                from .operators.bpe import fit_bpe_merges

                merges = fit_bpe_merges(
                    docs, n_merges=args.n_merges, max_vocab=args.max_vocab
                )
                artifact = {"kind": "bpe", "merges": merges}
                size = len(merges)
                meta = {"n_merges": args.n_merges, "max_vocab": args.max_vocab}
            else:
                from .operators.unigram_lm import fit_unigram_lm

                lp = fit_unigram_lm(
                    docs,
                    vocab_size=args.vocab_size,
                    max_piece_len=args.max_piece_len,
                    em_rounds=args.em_rounds,
                    max_vocab=args.max_vocab,
                )
                artifact = {"kind": "unigram", "lp_micro": lp}
                size = len(lp)
                meta = {
                    "vocab_size": args.vocab_size,
                    "max_piece_len": args.max_piece_len,
                    "em_rounds": args.em_rounds,
                    "max_vocab": args.max_vocab,
                }
            save_tokenizer(artifact, args.model, meta=meta)
            print(f"kind={args.kind} vocab={size} model={args.model}")
            return 0
        # encode/eval: the artifact names the kind; --kind only cross-checks
        if not args.out:
            print(f"--out is required for {args.action}", file=sys.stderr)
            return 2
        artifact = load_tokenizer(args.model)
        if args.kind is not None and args.kind != artifact["kind"]:
            print(
                f"artifact is kind={artifact['kind']!r}, not {args.kind!r}",
                file=sys.stderr,
            )
            return 2
        if args.action == "eval":
            from .operators.tokenizers import tokenizer_fertility

            if args.by not in docs.columns:
                print(f"documents parquet missing column {args.by!r}",
                      file=sys.stderr)
                return 2
            fert = tokenizer_fertility(docs, artifact, by=args.by)
            fert.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(f"action=eval kind={artifact['kind']} by={args.by} "
                  f"strata={n} out={args.out}")
            return 0
        if artifact["kind"] == "bpe":
            from .operators.bpe import bpe_token_stats

            stats = bpe_token_stats(docs, artifact["merges"])
        else:
            from .operators.unigram_lm import unigram_token_stats

            stats = unigram_token_stats(docs, artifact["lp_micro"])
        out = docs.join(stats, "doc_id")
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(f"action=encode kind={artifact['kind']} rows={n} "
              f"out={args.out}")
        return 0

    if args.cmd == "align-corpus":
        from .operators.alignment import (
            save_neighborhood_stats,
            side_neighborhood_stats,
            xlingual_candidates_lsh,
            xlingual_margin_align,
        )

        from .operators.alignment import MAX_NEIGHBORHOOD_K

        # validate BEFORE any writes: the stats artifact enforces the
        # streaming-margin k cap, and failing after the aligned parquet
        # landed would leave a half-finished command
        if args.stats_out and not 1 <= args.k <= MAX_NEIGHBORHOOD_K:
            print(
                f"--k must be in [1, {MAX_NEIGHBORHOOD_K}] when "
                "--stats-out is set (streaming-margin exactness bound)",
                file=sys.stderr,
            )
            return 2
        if args.n_planes == "auto" and not args.lsh:
            print("--n-planes auto requires --lsh (the width only "
                  "parameterizes the LSH candidate generator)",
                  file=sys.stderr)
            return 2
        if args.n_planes != "auto":
            try:
                n_planes = int(args.n_planes)
            except ValueError:
                print(f"--n-planes must be an integer or 'auto', got "
                      f"{args.n_planes!r}", file=sys.stderr)
                return 2
        side_a = spark.read.parquet(args.side_a)
        side_b = spark.read.parquet(args.side_b)
        cand = None
        if args.lsh:
            if args.n_planes == "auto":
                # resolved HERE, inside the lsh branch: the two count()
                # jobs only run when the width actually drives bucketing
                from .operators.alignment import n_planes_for

                n_rows = max(side_a.count(), side_b.count())
                if n_rows < 1:
                    print("--n-planes auto: both sides are empty — "
                          "nothing to derive a width from",
                          file=sys.stderr)
                    return 2
                n_planes = n_planes_for(n_rows)
            cand = xlingual_candidates_lsh(
                side_a, side_b, n_planes=n_planes,
                n_tables=args.n_tables, dim=args.dim, seed_base=args.seed,
            )
            if args.stats_out:
                # the aligner and the stats builder both consume the
                # candidate set — cache it so the bucket join runs once
                # (the cosine scoring itself still runs per consumer:
                # the acceptable eval-path cost of two independent plans)
                cand = cand.persist()
        aligned = xlingual_margin_align(
            side_a, side_b, k=args.k, threshold_ppm=args.threshold_ppm,
            candidates=cand,
        )
        aligned.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        if args.stats_out:
            ns = save_neighborhood_stats(
                side_neighborhood_stats(
                    side_a, side_b, k=args.k, candidates=cand
                ),
                args.stats_out,
                k=args.k,
                meta={
                    "lsh": bool(args.lsh),
                    # the RESOLVED width, never the 'auto' sentinel: the
                    # streaming serve derives its hash family from here
                    "n_planes": n_planes,
                    "n_tables": args.n_tables,
                    "dim": args.dim,
                    "seed_base": args.seed,
                },
            )
            print(f"stats_rows={ns} stats={args.stats_out}")
        if cand is not None and args.stats_out:
            cand.unpersist()
        mode = f"lsh n_planes={n_planes}" if args.lsh else "brute"
        print(f"aligned_pairs={n} mode={mode} k={args.k} "
              f"threshold_ppm={args.threshold_ppm} out={args.out}")
        return 0

    if args.cmd == "pack-order":
        from .operators.chunking import curriculum_pack_order

        if args.ctx_tokens < 1:
            print(f"--ctx-tokens must be >= 1, got {args.ctx_tokens}",
                  file=sys.stderr)
            return 2
        docs = spark.read.parquet(args.documents)
        strata = [c.strip() for c in args.strata.split(",") if c.strip()]
        missing = [c for c in [args.id_col, "text", *strata]
                   if c not in docs.columns]
        if missing:
            print(f"documents parquet missing columns: {missing}",
                  file=sys.stderr)
            return 2
        order = curriculum_pack_order(
            docs, args.ctx_tokens, strata, id_col=args.id_col,
            salt=args.salt,
        )
        order.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(f"packed_docs={n} ctx_tokens={args.ctx_tokens} "
              f"strata={','.join(strata)} salt={args.salt} out={args.out}")
        return 0

    if args.cmd == "memorization":
        from pyspark.sql import functions as F

        from .operators.decontam import memorization_profile

        if args.k < 1:
            print(f"--k must be >= 1, got {args.k}", file=sys.stderr)
            return 2
        corpus = spark.read.parquet(args.corpus)
        bench = spark.read.parquet(args.benchmark)
        for frame, cols, what in (
            (corpus, [args.id_col, "text"], "corpus"),
            (bench, [args.bench_id_col, "text"], "benchmark"),
        ):
            missing = [c for c in cols if c not in frame.columns]
            if missing:
                print(f"{what} parquet missing columns: {missing}",
                      file=sys.stderr)
                return 2
        prof = memorization_profile(
            corpus, bench, k=args.k, id_col=args.id_col,
            bench_id_col=args.bench_id_col,
        )
        prof.write.mode("overwrite").parquet(args.out)
        agg = spark.read.parquet(args.out).agg(
            F.count(F.lit(1)).alias("n"),
            F.max("max_overlap_tokens").alias("mx"),
            F.min("novelty_ppm").alias("min_nov"),
        ).collect()[0]
        print(f"eval_docs={agg['n']} k={args.k} "
              f"max_overlap_tokens={agg['mx']} "
              f"min_novelty_ppm={agg['min_nov']} out={args.out}")
        return 0

    if args.cmd == "domain-mix":
        from .operators.mixing import domain_mix_report

        docs = spark.read.parquet(args.documents)
        emb = spark.read.parquet(args.embeddings)
        missing = [c for c in ("doc_id", "text") if c not in docs.columns] + [
            c for c in ("vec_id", "embedding", "label")
            if c not in emb.columns
        ]
        if missing:
            print(f"input parquet missing columns: {missing}",
                  file=sys.stderr)
            return 2
        report = domain_mix_report(docs, emb)
        if args.out:
            report.write.mode("overwrite").parquet(args.out)
            report = spark.read.parquet(args.out)
        # null-labeled embeddings yield a None domain row — sort it last
        # instead of crashing the print after the compute
        for r in sorted(
            report.collect(),
            key=lambda x: (x["pred_label"] is None, x["pred_label"]),
        ):
            print(f"domain={r['pred_label']} n_docs={r['n_docs']} "
                  f"n_tokens={r['n_tokens']} "
                  f"token_share_ppm={r['token_share_ppm']} "
                  f"purity_ppm={r['purity_ppm']}")
        return 0

    if args.cmd == "hybrid-search":
        from pyspark.sql import functions as F

        from .operators.retrieval import hybrid_retrieval_rrf

        terms = tuple(t.strip() for t in args.terms.split(",") if t.strip())
        if not terms:
            print("--terms must name at least one query term",
                  file=sys.stderr)
            return 2
        docs = spark.read.parquet(args.documents)
        emb = spark.read.parquet(args.embeddings)
        missing = [c for c in ("doc_id", "text") if c not in docs.columns] + [
            c for c in ("vec_id", "embedding") if c not in emb.columns
        ]
        if missing:
            print(f"input parquet missing columns: {missing}",
                  file=sys.stderr)
            return 2
        qv = emb.filter(F.col("vec_id") == args.query_vec_id)
        if not qv.take(1):
            print(f"query vec_id {args.query_vec_id} not found in "
                  f"{args.embeddings}", file=sys.stderr)
            return 2
        fused = hybrid_retrieval_rrf(
            docs, emb, terms, qv, k=args.k, k_rrf=args.k_rrf,
            n_candidates=args.n_candidates,
        )
        for r in fused.collect():
            print(f"doc={r['doc_id']} rrf_micro={r['rrf_micro']} "
                  f"lex_rank={r['lex_rank']} sem_rank={r['sem_rank']} "
                  f"bm25={r['bm25']} cos_sim={r['cos_sim']}")
        return 0

    if args.cmd == "shard-admit":
        from .operators.dedup import minhash_index, shard_admission_report

        if (args.index is None) == (args.corpus is None):
            print("pass exactly one of --index or --corpus",
                  file=sys.stderr)
            return 2
        shard = spark.read.parquet(args.shard)
        missing = [
            c for c in ("doc_id", "text", "source") if c not in shard.columns
        ]
        if missing:
            print(f"shard parquet missing columns: {missing}",
                  file=sys.stderr)
            return 2
        if args.index is not None:
            from .operators.similarity import load_ann_index

            # bad-input parity with the temporal-split subcommand: a
            # wrong-kind index directory (require('minhash') mismatch) or
            # unreadable/foreign layout prints the message and exits 2,
            # never a raw traceback (r15 advisor finding)
            try:
                handle = load_ann_index(spark, args.index)
                report = shard_admission_report(
                    shard, handle, threshold=args.threshold,
                )
            except (ValueError, FileNotFoundError) as exc:
                print(str(exc), file=sys.stderr)
                return 2
        else:
            corpus = spark.read.parquet(args.corpus)
            cmissing = [
                c for c in ("doc_id", "text") if c not in corpus.columns
            ]
            if cmissing:
                print(f"corpus parquet missing columns: {cmissing}",
                      file=sys.stderr)
                return 2
            report = shard_admission_report(
                shard, minhash_index(corpus, portable=args.portable),
                threshold=args.threshold,
            )
        if args.out:
            report.write.mode("overwrite").parquet(args.out)
            report = spark.read.parquet(args.out)
        for r in sorted(report.collect(), key=lambda x: x["source"]):
            print(f"source={r['source']} n_new={r['n_new']} "
                  f"dup_vs_corpus={r['n_dup_vs_corpus']} "
                  f"dup_within_new={r['n_dup_within_new']} "
                  f"admitted={r['n_admitted']} admit_ppm={r['admit_ppm']}")
        return 0

    if args.cmd == "temporal-split":
        from .operators.splits import (
            temporal_split,
            temporal_split_report,
            train_entities,
        )

        events = spark.read.parquet(args.events)
        missing = [
            c for c in ("event_id", "user_id", "ts") if c not in events.columns
        ]
        if missing:
            print(f"events parquet missing columns: {missing}",
                  file=sys.stderr)
            return 2
        # the entity distinct is the one non-scan cost — compute it ONCE,
        # persist it, and feed it to every consumer (report, assignment
        # write, artifact write) instead of re-deriving it per plan
        try:
            ents = train_entities(events, args.cutoff).persist()
            report = temporal_split_report(
                events, args.cutoff, embargo_days=args.embargo_days,
                entities=ents,
            ).collect()
        except ValueError as exc:
            print(str(exc), file=sys.stderr)
            return 2
        if args.out:
            temporal_split(
                events, args.cutoff, embargo_days=args.embargo_days,
                entities=ents,
            ).write.mode("overwrite").parquet(args.out)
        if args.entities_out:
            ents.write.mode("overwrite").parquet(args.entities_out)
        ents.unpersist()
        for r in sorted(report, key=lambda x: x["split"]):
            print(f"split={r['split']} n_rows={r['n_rows']} "
                  f"n_entities={r['n_entities']} "
                  f"row_share_ppm={r['row_share_ppm']}")
        return 0

    if args.cmd in ("corrupt-spans", "fim-examples"):
        docs = spark.read.parquet(args.documents)
        missing = [c for c in ("doc_id", "text") if c not in docs.columns]
        if missing:
            print(f"documents parquet missing columns: {missing}",
                  file=sys.stderr)
            return 2
        if args.cmd == "corrupt-spans":
            from .operators.corruption import span_corruption_examples

            try:
                out = span_corruption_examples(
                    docs, block_size=args.block_size, max_span=args.max_span,
                )
            except ValueError as exc:
                print(str(exc), file=sys.stderr)
                return 2
        else:
            from .operators.corruption import fim_examples

            out = fim_examples(docs)
        out.write.mode("overwrite").parquet(args.out)
        written = spark.read.parquet(args.out)
        n = written.count()
        if args.cmd == "corrupt-spans":
            from pyspark.sql import functions as F

            agg = written.agg(
                F.sum("n_masked").alias("m"), F.sum("n_tokens").alias("t"),
                F.sum("n_spans").alias("s"),
            ).collect()[0]
            density = (
                (agg["m"] * 1_000_000) // agg["t"] if agg["t"] else 0
            )
            print(f"examples={n} spans={agg['s']} "
                  f"density_ppm={density} out={args.out}")
        else:
            print(f"examples={n} out={args.out}")
        return 0

    if args.cmd == "holdout-split":
        from .operators.splits import decontaminated_holdout

        docs = spark.read.parquet(args.documents)
        need = ["doc_id", "text"] + ([args.ts_col] if args.ts_col else [])
        missing = [c for c in need if c not in docs.columns]
        if missing:
            print(f"documents parquet missing columns: {missing}",
                  file=sys.stderr)
            return 2
        try:
            assigned = decontaminated_holdout(
                docs, holdout_ppm=args.holdout_ppm, k=args.k,
                min_hits=args.min_hits, cutoff=args.cutoff,
                ts_col=args.ts_col,
            )
        except ValueError as exc:
            print(str(exc), file=sys.stderr)
            return 2
        if args.out:
            from .operators.splits import write_holdout_split

            # parquet + the authoritative parameter sidecar, so serving
            # (assignment= reuse, bloom builds, the stream tagger) can
            # refuse a gram-width or mode mismatch
            write_holdout_split(
                assigned, args.out, k=args.k,
                holdout_ppm=args.holdout_ppm, min_hits=args.min_hits,
                cutoff=args.cutoff, ts_col=args.ts_col,
            )
            assigned = spark.read.parquet(args.out)
        from pyspark.sql import functions as F

        report = (
            assigned.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .collect()
        )
        for r in sorted(report, key=lambda x: x["split"]):
            print(f"split={r['split']} n_docs={r['n_docs']}")
        return 0

    if args.cmd == "instruction-pairs":
        from .operators.instruct import instruction_pairs

        docs = spark.read.parquet(args.documents)
        missing = [
            c for c in ("doc_id", "source", "text") if c not in docs.columns
        ]
        if missing:
            print(f"documents parquet missing columns: {missing}",
                  file=sys.stderr)
            return 2
        try:
            out = instruction_pairs(
                docs, pair_bucket=args.pair_bucket,
                max_prompt_tokens=args.max_prompt_tokens,
                max_target_tokens=args.max_target_tokens,
            )
        except ValueError as exc:
            print(str(exc), file=sys.stderr)
            return 2
        out.write.mode("overwrite").parquet(args.out)
        written = spark.read.parquet(args.out)
        from pyspark.sql import functions as F

        agg = written.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_prompt_tokens").alias("p"),
            F.sum("n_target_tokens").alias("t"),
        ).collect()[0]
        print(f"examples={agg['n']} prompt_tokens={agg['p'] or 0} "
              f"target_tokens={agg['t'] or 0} out={args.out}")
        return 0

    if args.cmd == "preference-pairs":
        from .operators.instruct import preference_pairs

        docs = spark.read.parquet(args.documents)
        missing = [
            c for c in ("doc_id", "source", "text", "lang")
            if c not in docs.columns
        ]
        if missing:
            print(f"documents parquet missing columns: {missing}",
                  file=sys.stderr)
            return 2
        try:
            out = preference_pairs(
                docs, pair_bucket=args.pair_bucket,
                max_prompt_tokens=args.max_prompt_tokens,
                max_response_tokens=args.max_response_tokens,
            )
        except ValueError as exc:
            print(str(exc), file=sys.stderr)
            return 2
        out.write.mode("overwrite").parquet(args.out)
        written = spark.read.parquet(args.out)
        from pyspark.sql import functions as F

        agg = written.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("chosen_votes").alias("c"),
            F.sum("rejected_votes").alias("r"),
        ).collect()[0]
        print(f"examples={agg['n']} chosen_votes={agg['c'] or 0} "
              f"rejected_votes={agg['r'] or 0} out={args.out}")
        return 0

    if args.cmd == "best-of-n":
        from .operators.instruct import best_of_n_examples

        docs = spark.read.parquet(args.documents)
        missing = [
            c for c in ("doc_id", "source", "text", "lang")
            if c not in docs.columns
        ]
        if missing:
            print(f"documents parquet missing columns: {missing}",
                  file=sys.stderr)
            return 2
        try:
            out = best_of_n_examples(
                docs, n=args.n, pair_bucket=args.pair_bucket,
                max_prompt_tokens=args.max_prompt_tokens,
                max_response_tokens=args.max_response_tokens,
            )
        except ValueError as exc:
            print(str(exc), file=sys.stderr)
            return 2
        out.write.mode("overwrite").parquet(args.out)
        written = spark.read.parquet(args.out)
        from pyspark.sql import functions as F

        agg = written.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("chosen_votes").alias("c"),
            F.sum("worst_votes").alias("w"),
        ).collect()[0]
        print(f"examples={agg['n']} chosen_votes={agg['c'] or 0} "
              f"worst_votes={agg['w'] or 0} out={args.out}")
        return 0

    if args.cmd == "quality-ensemble":
        from .operators.ensemble import quality_ensemble

        docs = spark.read.parquet(args.documents)
        missing = [
            c for c in ("doc_id", "text", "lang") if c not in docs.columns
        ]
        if missing:
            print(f"documents parquet missing columns: {missing}",
                  file=sys.stderr)
            return 2
        try:
            out = quality_ensemble(docs, min_votes=args.min_votes)
        except ValueError as exc:
            print(str(exc), file=sys.stderr)
            return 2
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            out = spark.read.parquet(args.out)
        _print_vote_distribution(out)
        return 0

    if args.cmd in ("quality-fit", "quality-tag"):
        docs = spark.read.parquet(args.documents)
        missing = [
            c for c in ("doc_id", "text", "lang") if c not in docs.columns
        ]
        if missing:
            print(f"documents parquet missing columns: {missing}",
                  file=sys.stderr)
            return 2
        if args.cmd == "quality-fit":
            from .operators.ensemble import write_quality_artifacts

            try:
                side = write_quality_artifacts(
                    docs, args.out, label_threshold=args.label_threshold,
                    lr=args.lr,
                )
            except ValueError as exc:
                print(str(exc), file=sys.stderr)
                return 2
            print(f"kind={side['kind']} n_terms={side['n_terms']} "
                  f"n_langs={side['n_langs']} out={args.out}")
            return 0
        from .operators.ensemble import load_quality_artifacts
        from .streaming.pipeline import stream_quality_tag

        try:
            weights, lp, cuts, _side = load_quality_artifacts(
                spark, args.artifacts
            )
            out = stream_quality_tag(
                docs, weights, lp, cuts, min_votes=args.min_votes,
            )
        except ValueError as exc:
            print(str(exc), file=sys.stderr)
            return 2
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            out = spark.read.parquet(args.out)
        _print_vote_distribution(out)
        return 0

    if args.cmd == "index-compact":
        from .operators.maintenance import compact_index

        stats = compact_index(
            spark, args.index, max_files=args.max_files,
            max_rows_per_file=args.max_rows_per_file,
        )
        print(
            f"dirs_compacted={stats['dirs_compacted']} "
            f"files_removed={stats['files_removed']} index={args.index}"
        )
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
