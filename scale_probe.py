#!/usr/bin/env python
"""Scale-curve probe for the dedup/ANN family (SCALE.md evidence).

Runs the four headline near-dup/similarity operators on the base corpus
and on a content-distinct K× replica (operators/scaling.py), recording
wall time and output-pair counts.  Sound banding/indexing must show
~K× pair growth and far-sub-K² wall growth; quadratic pair growth means
an operator degenerated into all-pairs behavior.

Usage: python scale_probe.py [K]   (default K=10)
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
Prints one JSON line per (operator, factor) and a final summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from market_data_ingestion_scraper_spark.operators.dedup import (  # noqa: E402
    jaccard_similarity_join,
    lsh_candidate_pairs,
    minhash_index,
    near_duplicates_vs_index,
    simhash_near_duplicates,
)
from market_data_ingestion_scraper_spark.operators.scaling import (  # noqa: E402
    replicate_corpus,
    replicate_embeddings,
)
from market_data_ingestion_scraper_spark.operators.similarity import (  # noqa: E402
    lsh_index,
    lsh_topk,
)
from market_data_ingestion_scraper_spark.session import get_spark  # noqa: E402
from market_data_ingestion_scraper_spark.sources.tables import load_table  # noqa: E402


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="scale_probe")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    docs.count(), emb.count()  # warm the JVM before timing

    def ann(corpus):
        return lsh_topk(
            corpus, corpus.filter(F.col("vec_id") < 8), lsh_index(corpus), k=5
        )

    ops = {
        "minhash_lsh_candidates": lambda d, _e: lsh_candidate_pairs(
            d, portable=True
        ),
        "jaccard_ssjoin_near_dups": lambda d, _e: jaccard_similarity_join(d),
        "simhash_near_dups": lambda d, _e: simhash_near_duplicates(
            d, portable=True
        ),
        "lsh_topk_ann": lambda _d, e: ann(e),
    }

    from market_data_ingestion_scraper_spark.operators.similarity import (
        fit_pq_codebooks,
        pq_encode,
    )

    # fit once on the base corpus, untimed: the codebooks are the reusable
    # training artifact; the probe measures the per-corpus ENCODE pass
    codebooks = fit_pq_codebooks(emb)
    # fixed re-crawl shard for the incremental probe — factor-independent,
    # so serve cost vs index size is the only variable
    shard = docs.filter(F.col("doc_id") < 50)

    # r10: base shipment graph for the PageRank probe (distinct
    # supplier→customer edges; replicated with per-replica id offsets)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    base_edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + F.lit(1_000_000)).alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    results: dict[str, dict[int, dict[str, float]]] = {}
    for factor in (1, k):
        d = replicate_corpus(docs, factor)
        e = replicate_embeddings(emb, factor)
        for name, fn in ops.items():
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            pairs = fn(d, e).count()
            sec = round(time.perf_counter() - t0, 2)
            results.setdefault(name, {})[factor] = {"pairs": pairs, "sec": sec}
            print(json.dumps({"op": name, "factor": factor,
                              "pairs": pairs, "sec": sec}), flush=True)
        # r8: PQ corpus encode — one output row per vector, so pair growth
        # must be exactly K and wall far below K (broadcast codebook join)
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n = pq_encode(e, codebooks).count()
        sec = round(time.perf_counter() - t0, 2)
        results.setdefault("pq_encode", {})[factor] = {"pairs": n, "sec": sec}
        print(json.dumps({"op": "pq_encode", "factor": factor,
                          "pairs": n, "sec": sec}), flush=True)
        # r8: incremental near-dup serve of a FIXED shard against a K×
        # index (index build untimed — it is the amortized artifact).
        # Replicas are content-distinct, so flagged pairs stay CONSTANT
        # and serve wall must grow far below K.
        idx = minhash_index(d, portable=True)  # sigs cached by the builder
        idx.df.persist()
        idx.sigs.count(), idx.df.count()  # no clearCache: the warm index IS the point
        t0 = time.perf_counter()
        flagged = near_duplicates_vs_index(shard, idx, threshold=0.5).count()
        sec = round(time.perf_counter() - t0, 2)
        results.setdefault("near_dup_vs_index", {})[factor] = {
            "pairs": flagged, "sec": sec,
        }
        print(json.dumps({"op": "near_dup_vs_index", "factor": factor,
                          "pairs": flagged, "sec": sec}), flush=True)
        idx.df.unpersist(), idx.sigs.unpersist()
        # r9: bloom sidecar — build over the K× corpus (timed: one scan +
        # bit-population-bounded shuffle), then probe a FIXED mixed shard
        # (half present, half novel hashes).  The artifact stays
        # n_shards × n_bits/8 bytes at ANY corpus size; serve wall must
        # be shard-bounded, and positives ~constant (present hashes all
        # hit; novel false positives track the fill factor, not K).
        from market_data_ingestion_scraper_spark.jobs import _content_hash
        from market_data_ingestion_scraper_spark.operators.bloom import (
            bloom_probe_hashes,
            build_hash_bloom,
        )

        hashes = d.select(_content_hash().alias("content_hash"))
        t0 = time.perf_counter()
        blooms = build_hash_bloom(
            hashes, n_shards=16, n_bits=1 << 20, n_hashes=5
        ).persist()
        bloom_bytes = blooms.agg(
            F.sum(F.length("bitmap"))
        ).collect()[0][0]
        build_sec = round(time.perf_counter() - t0, 2)
        results.setdefault("bloom_build", {})[factor] = {
            "pairs": int(bloom_bytes), "sec": build_sec,
        }
        print(json.dumps({"op": "bloom_build", "factor": factor,
                          "bitmap_bytes": int(bloom_bytes),
                          "sec": build_sec}), flush=True)
        present = docs.filter(F.col("doc_id") < 250).select(
            _content_hash().alias("_h")
        )
        novel = spark.range(250).select(
            F.sha2(F.concat(F.lit("novel-"), F.col("id")), 256).alias("_h")
        )
        probe_shard = present.unionByName(novel)
        t0 = time.perf_counter()
        n_maybe = (
            bloom_probe_hashes(probe_shard, blooms)
            .where(F.col("bloom_maybe"))
            .count()
        )
        sec = round(time.perf_counter() - t0, 2)
        results.setdefault("bloom_probe", {})[factor] = {
            "pairs": n_maybe, "sec": sec,
        }
        print(json.dumps({"op": "bloom_probe", "factor": factor,
                          "positives": n_maybe, "sec": sec}), flush=True)
        blooms.unpersist()
        # r9: one full-corpus Lloyd refinement step — output is k × dim
        # rows at ANY corpus size; wall must grow far below K (one scan +
        # one bounded shuffle).
        from market_data_ingestion_scraper_spark.operators.similarity import (
            label_centroid_elements,
            refined_centroid_elements,
        )

        if factor == 1:
            elems = label_centroid_elements(
                emb.join(
                    load_table(spark, sf_dir, "embeddings").select(
                        "vec_id", "label"
                    ),
                    "vec_id",
                )
            ).collect()
            n_cells = max(r["label"] for r in elems) + 1
            dim = max(r["pos"] for r in elems) + 1
            cents = [[0.0] * dim for _ in range(n_cells)]
            for r in elems:
                cents[r["label"]][r["pos"]] = float(r["centroid_val"])
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n_rows = refined_centroid_elements(e, cents).count()
        sec = round(time.perf_counter() - t0, 2)
        results.setdefault("lloyd_refine_step", {})[factor] = {
            "pairs": n_rows, "sec": sec,
        }
        print(json.dumps({"op": "lloyd_refine_step", "factor": factor,
                          "out_rows": n_rows, "sec": sec}), flush=True)
        # r9: quality/retrieval family — classifier scoring must stay
        # scan-bound (zero hash exchanges), bm25's shuffle is bounded by
        # query-term occurrences, bigram-LM work is linear in tokens.
        from market_data_ingestion_scraper_spark.operators.classifier import (
            classifier_features,
            gradient_step_weights,
            logit_scores,
        )
        from market_data_ingestion_scraper_spark.operators.text import (
            bigram_logprob,
            bm25_scores,
            quality_features,
        )

        for op, fn2 in (
            ("classifier_scores", lambda d2: logit_scores(
                (f2 := classifier_features(quality_features(d2))),
                gradient_step_weights(f2),
            )),
            ("bm25_ranking", lambda d2: bm25_scores(
                d2, ("hash", "join", "vector"), top_k=20
            )),
            ("bigram_logprob", lambda d2: bigram_logprob(d2)),
        ):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            n2 = fn2(d).count()
            sec = round(time.perf_counter() - t0, 2)
            results.setdefault(op, {})[factor] = {"pairs": n2, "sec": sec}
            print(json.dumps({"op": op, "factor": factor, "rows": n2,
                              "sec": sec}), flush=True)
        # r10: PageRank over K disjoint replicas of the shipment graph
        # (node ids offset per replica): rank rows = nodes × K, each
        # iteration is one edge-bounded join + groupBy — wall must grow
        # ≲ K, and structure (per-replica top node) is preserved.
        from market_data_ingestion_scraper_spark.operators.graph import (
            pagerank,
        )
        from market_data_ingestion_scraper_spark.operators.similarity import (
            ivfpq_topk,
        )
        from market_data_ingestion_scraper_spark.operators.text import (
            tfidf_cosine_pairs,
        )

        rep_edges = (
            base_edges.crossJoin(
                spark.range(factor).select(F.col("id").alias("_r"))
            )
            .select(
                (F.col("src") + F.col("_r") * 10_000_000).alias("src"),
                (F.col("dst") + F.col("_r") * 10_000_000).alias("dst"),
            )
        )
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n_rows = pagerank(rep_edges, n_iter=3).count()
        sec = round(time.perf_counter() - t0, 2)
        results.setdefault("pagerank_3iter", {})[factor] = {
            "pairs": n_rows, "sec": sec,
        }
        print(json.dumps({"op": "pagerank_3iter", "factor": factor,
                          "rank_rows": n_rows, "sec": sec}), flush=True)
        # r10: sparse TF-IDF cosine self-join — replicas are
        # content-distinct (tagged tokens), so pairs must grow exactly K
        # (zero cross-replica pairs) and wall ≲ K.  The ABSOLUTE df
        # ceiling is the point under test: the first probe run measured
        # the fractional form at 3 699× pairs / 606× wall (boilerplate
        # admitted as N grows), which forced the redesign.
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n2 = tfidf_cosine_pairs(d, threshold=0.4, max_df=300).count()
        sec = round(time.perf_counter() - t0, 2)
        results.setdefault("tfidf_doc_pairs", {})[factor] = {
            "pairs": n2, "sec": sec,
        }
        print(json.dumps({"op": "tfidf_doc_pairs", "factor": factor,
                          "pairs": n2, "sec": sec}), flush=True)
        # r10: IVF-PQ serve of 8 fixed queries against the K× corpus with
        # frozen quantizers and the PERSISTED on-disk index (built
        # untimed — the amortized artifact, same discipline as
        # near_dup_vs_index): serving goes through write_ivfpq_index →
        # load_ann_index → ivfpq_topk(queries, handle), so the timed path includes
        # the probed-cell STATIC partition prune on the cell-partitioned
        # parquet.  Result rows fixed (queries × k), serve wall must stay
        # ~flat (probed cells bound the read regardless of K).
        import shutil
        import tempfile

        from market_data_ingestion_scraper_spark.operators.similarity import (
            load_ann_index,
            write_ivfpq_index,
        )

        idx_dir = tempfile.mkdtemp(prefix="probe_ivfpq_")
        write_ivfpq_index(e, idx_dir, cents, codebooks)
        handle = load_ann_index(spark, idx_dir)
        t0 = time.perf_counter()
        n2 = ivfpq_topk(
            emb.filter(F.col("vec_id") < 8), handle, k=5, n_probe=4
        ).count()
        sec = round(time.perf_counter() - t0, 2)
        shutil.rmtree(idx_dir, ignore_errors=True)
        results.setdefault("ivfpq_serve", {})[factor] = {
            "pairs": n2, "sec": sec,
        }
        print(json.dumps({"op": "ivfpq_serve", "factor": factor,
                          "rows": n2, "sec": sec}), flush=True)
        # r10: record linkage — the WORST CASE for blocking by design:
        # replicating parts K× keeps the (brand, size) key cardinality
        # FIXED, so blocks grow K× and uncapped pair fan-out grows ~K².
        # The probe measures that honestly, then shows the max_block
        # guard restoring a corpus-independent bound (capped pairs must
        # NOT grow once blocks exceed the cap).
        from market_data_ingestion_scraper_spark.operators.linkage import (
            linked_record_pairs,
        )

        part = load_table(spark, sf_dir, "part")
        rep_part = (
            part.crossJoin(
                spark.range(factor).select(F.col("id").alias("_r"))
            )
            .select(
                (F.col("p_partkey") + F.col("_r") * 10_000_000).alias(
                    "p_partkey"
                ),
                "p_name", "p_brand", "p_type", "p_size", "p_retailprice",
            )
        )
        for op, kw in (
            ("record_linkage_uncapped", {}),
            ("record_linkage_cap32", {"max_block": 32}),
        ):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            n2 = linked_record_pairs(rep_part, **kw).count()
            sec = round(time.perf_counter() - t0, 2)
            results.setdefault(op, {})[factor] = {"pairs": n2, "sec": sec}
            print(json.dumps({"op": op, "factor": factor, "pairs": n2,
                              "sec": sec}), flush=True)

        # r12: X26 curriculum packing over (lang, hash-shard) strata —
        # one window per stratum; rows must grow exactly K, wall ≪ K.
        # replicate_corpus prefixes replica tokens, so the lang column is
        # replicated via a doc_id join (strata count grows with replicas —
        # the honest 100 TB shape where stratum count tracks the corpus).
        from market_data_ingestion_scraper_spark.operators.chunking import (
            curriculum_pack_order,
        )

        docs_l = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang"
        )
        d_lang = replicate_corpus(docs_l.select("doc_id", "text"), factor).join(
            replicate_corpus(
                docs_l.select("doc_id", F.col("lang").alias("text")), factor
            ).select("doc_id", F.col("text").alias("lang")),
            "doc_id",
        )
        h12 = F.md5(
            F.concat(F.lit("cshard"), F.col("doc_id").cast("string")).cast("binary")
        )
        shard12 = F.pmod(
            F.ascii(F.substring(h12, 1, 1)) * 31 + F.ascii(F.substring(h12, 2, 1)),
            F.lit(8),
        )
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n3 = curriculum_pack_order(
            d_lang.withColumn("shard", shard12), 512, ["lang", "shard"]
        ).count()
        sec = round(time.perf_counter() - t0, 2)
        results.setdefault("curriculum_pack", {})[factor] = {
            "pairs": n3, "sec": sec,
        }
        print(json.dumps({"op": "curriculum_pack", "factor": factor,
                          "pairs": n3, "sec": sec}), flush=True)
        # r12: X25 margin alignment over LSH candidates.  Replicas get a
        # deterministic per-replica embedding offset (content-distinct
        # sides), and the signature WIDTH SCALES with the corpus
        # (n_planes 8 at 1x -> 12 at 10x): at fixed width candidates grow
        # with bucket density (measured 138x for 10x — within-bucket
        # quadratic, the tfidf-df-ceiling law), so the probe measures the
        # remedy, not the trap.
        from market_data_ingestion_scraper_spark.operators.alignment import (
            xlingual_candidates_lsh,
            xlingual_margin_align,
        )

        r_id = (F.col("vec_id") / F.lit(100_000_000)).cast("int")
        e_dist = e.withColumn(
            "embedding",
            F.transform(
                "embedding", lambda x, i: x + 0.01 * r_id * ((i % 3) - 1)
            ),
        )
        a_side = e_dist.filter(F.col("vec_id") % 2 == 0)
        b_side = e_dist.filter(F.col("vec_id") % 2 == 1)
        planes = 8 if factor == 1 else 12
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        cand12 = xlingual_candidates_lsh(
            a_side, b_side, n_planes=planes, n_tables=4
        )
        n4 = xlingual_margin_align(
            a_side, b_side, k=4, candidates=cand12
        ).count()
        sec = round(time.perf_counter() - t0, 2)
        results.setdefault("xlingual_lsh_align", {})[factor] = {
            "pairs": n4, "sec": sec,
        }
        print(json.dumps({"op": "xlingual_lsh_align", "factor": factor,
                          "n_planes": planes, "pairs": n4, "sec": sec}),
              flush=True)

        # r13: X28 exact longest duplicated substring.  replicate_corpus
        # makes replicas content-distinct (prefixed tokens), so grams only
        # match WITHIN a replica: the answer length must be INVARIANT
        # under K ("pairs" records it — growth 1.0 is the correctness
        # signal) while each binary-search probe scans K x the corpus
        # (wall should stay far below the ~8-probe x K naive bound).
        from market_data_ingestion_scraper_spark.operators.dedup import (
            longest_dup_substring,
        )

        spark.catalog.clearCache()
        t0 = time.perf_counter()
        row13 = longest_dup_substring(d).collect()[0]
        sec = round(time.perf_counter() - t0, 2)
        results.setdefault("longest_dup_substring", {})[factor] = {
            "pairs": int(row13["max_dup_tokens"]), "sec": sec,
        }
        print(json.dumps({"op": "longest_dup_substring", "factor": factor,
                          "pairs": int(row13["max_dup_tokens"]),
                          "occurrences": int(row13["n_occurrences_at_max"]),
                          "sec": sec}), flush=True)

        # r13: X27 tokenizer fertility eval.  Merges fit ONCE on the base
        # corpus (untimed — the artifact is the reusable model); the probe
        # measures the evaluation pass.  Strata (replica-prefixed langs)
        # and the distinct-word vocabulary both grow with K, so "pairs"
        # (strata rows) must grow exactly K while wall tracks the scan +
        # the vocabulary-bounded encode.
        from market_data_ingestion_scraper_spark.operators.tokenizers import (
            tokenizer_fertility,
        )

        if factor == 1:
            from market_data_ingestion_scraper_spark.operators.bpe import (
                fit_bpe_merges,
            )

            r13_merges = fit_bpe_merges(docs, n_merges=50)
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n5 = tokenizer_fertility(
            d_lang, {"kind": "bpe", "merges": r13_merges}
        ).count()
        sec = round(time.perf_counter() - t0, 2)
        results.setdefault("tokenizer_fertility_eval", {})[factor] = {
            "pairs": n5, "sec": sec,
        }
        print(json.dumps({"op": "tokenizer_fertility_eval", "factor": factor,
                          "pairs": n5, "sec": sec}), flush=True)

        # r14: X29 memorization profile.  The eval set is FIXED (the base
        # corpus's doc_id%29 slice — eval sets don't grow with training
        # data); the corpus is the K x replica.  Replica 0 is the base
        # byte-for-byte and replica r>0 tokens are prefixed, so the
        # matched-position totals must be INVARIANT under K ("pairs"
        # records sum(n_matched) — growth 1.0 is the correctness signal)
        # while the corpus gram scan grows K x (wall must stay far below
        # K: one broadcast semi-join pass, no corpus shuffle).
        from market_data_ingestion_scraper_spark.operators.decontam import (
            memorization_profile,
        )

        bench14 = docs.filter(F.col("doc_id") % 29 == 0).select(
            F.col("doc_id").alias("bench_id"), "text"
        )
        corpus14 = d.filter(F.col("doc_id") % 29 != 0)
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        agg14 = (
            memorization_profile(corpus14, bench14, k=8)
            .agg(
                F.sum("n_matched").alias("m"),
                F.max("max_overlap_tokens").alias("mx"),
            )
            .collect()[0]
        )
        sec = round(time.perf_counter() - t0, 2)
        results.setdefault("memorization_profile", {})[factor] = {
            "pairs": int(agg14["m"]), "sec": sec,
        }
        print(json.dumps({"op": "memorization_profile", "factor": factor,
                          "matched_positions": int(agg14["m"]),
                          "max_overlap": int(agg14["mx"]),
                          "sec": sec}), flush=True)

        # r14: X30 domain-mix report.  Embedding replicas repeat vectors
        # (prototypes scale by K, direction unchanged -> assignment
        # invariant) and doc replicas keep token counts (the z{r}z prefix
        # fuses into each token), so the report must hold |labels| rows
        # with INVARIANT shares/purity at any K while per-domain counts
        # grow exactly K x.  "pairs" records sum(token_share_ppm) + max
        # purity — both must be flat; wall is the prototype scan + two
        # id-keyed joins.
        from market_data_ingestion_scraper_spark.operators.mixing import (
            domain_mix_report,
        )

        e_lab = replicate_embeddings(
            load_table(spark, sf_dir, "embeddings"), factor
        )
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        rows14 = domain_mix_report(d, e_lab).collect()
        sec = round(time.perf_counter() - t0, 2)
        share_sum = sum(r["token_share_ppm"] for r in rows14)
        results.setdefault("domain_mix_report", {})[factor] = {
            "pairs": share_sum, "sec": sec,
        }
        print(json.dumps({"op": "domain_mix_report", "factor": factor,
                          "rows": len(rows14),
                          "token_share_ppm_sum": share_sum,
                          "n_docs_total": sum(r["n_docs"] for r in rows14),
                          "sec": sec}), flush=True)

        # r15: X31 hybrid RRF retrieval.  Fixed query (3 literal terms +
        # vector vec_id=0) against the K x corpus.  Replica tokens carry
        # the z{r}z prefix, so NO replica doc matches the query terms —
        # the lexical candidate SET is invariant — while replica VECTORS
        # repeat the originals, so the semantic list is legitimately
        # rank-crowded by the K copies (the corpus really does contain K
        # near-identical neighbors now) and the FUSED list may change:
        # correct retrieval behavior, not drift.  The invariant "pairs"
        # records is the semantic rank-1 doc — the base copy keeps it by
        # the (cos DESC, id ASC) tie-break at any K — EXCEPT that the
        # query vector's own replicas (exact copies at id + r*stride,
        # cos = 1.0) legitimately top the list at K > 1, so no doc-level
        # result invariant exists under vector replication; "pairs"
        # records the (trivially flat) row count and the wall ratio is
        # the signal.  Wall is the two retriever scans; the fusion stage
        # touches <= 40 rows at any K.
        from market_data_ingestion_scraper_spark.operators.retrieval import (
            hybrid_retrieval_rrf,
        )

        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fused15 = hybrid_retrieval_rrf(
            d, e, ("hash", "join", "vector"),
            emb.filter(F.col("vec_id") == 0), k=10,
        ).collect()
        sec = round(time.perf_counter() - t0, 2)
        results.setdefault("hybrid_rrf", {})[factor] = {
            "pairs": len(fused15), "sec": sec,
        }
        print(json.dumps({"op": "hybrid_rrf", "factor": factor,
                          "top1_doc": int(fused15[0]["doc_id"]),
                          "rows": len(fused15),
                          "sec": sec}), flush=True)

        # r15: the 100 TB form of the same fusion — rrf_fuse over the
        # PERSISTED-index LSH top-k (the X14 serving path: corpus buckets
        # built once, untimed) + the same BM25 list.  Wall must track the
        # BM25 term-filtered scan, not the vector corpus: the semantic
        # side serves from the warm bucket index.
        # lsh_topk/lsh_index come from the MODULE-level import: a
        # re-import here would make them locals of main() and break the
        # ann() closure above (NameError before first assignment)
        from market_data_ingestion_scraper_spark.operators.retrieval import (
            rrf_fuse,
        )
        from market_data_ingestion_scraper_spark.operators.text import (
            bm25_scores,
        )

        index15 = lsh_index(e)
        index15.df.persist().count()  # warm index = the amortized artifact
        t0 = time.perf_counter()
        lex15 = bm25_scores(d, ("hash", "join", "vector"), top_k=20)
        from market_data_ingestion_scraper_spark.functions.scalar import (
            bounded_window,
        )

        lex15 = lex15.select(
            "doc_id",
            F.row_number().over(
                bounded_window("doc_id", F.desc("bm25"), F.asc("doc_id"))
            ).alias("rank"),
        )
        sem15 = lsh_topk(
            e, e.filter(F.col("vec_id") == 0), index15, k=20
        ).select(F.col("neighbor_id").alias("doc_id"),
                 F.col("rnk").alias("rank"))
        fused_lsh = rrf_fuse({"lex": lex15, "sem": sem15}, k=10).collect()
        sec = round(time.perf_counter() - t0, 2)
        results.setdefault("hybrid_rrf_lsh_serve", {})[factor] = {
            "pairs": len(fused_lsh), "sec": sec,
        }
        print(json.dumps({"op": "hybrid_rrf_lsh_serve", "factor": factor,
                          "rows": len(fused_lsh),
                          "top1_doc": int(fused_lsh[0]["doc_id"]),
                          "sec": sec}), flush=True)
        index15.df.unpersist()

        # r15: X32 shard-admission report.  FIXED shard (the base
        # corpus's doc_id % 5 == 0 slice) admitted against a K x corpus
        # index (build untimed — the amortized artifact, the
        # near_dup_vs_index precedent).  Content-distinct replicas never
        # match the shard, and the shard's within-new pairs don't depend
        # on the corpus at all, so the ENTIRE report must be INVARIANT
        # under K ("pairs" records sum(n_dup_vs_corpus)+sum(n_admitted))
        # while serve wall grows far below K (banded ID-ONLY equi-join).
        from market_data_ingestion_scraper_spark.operators.dedup import (
            shard_admission_report,
        )

        adm_shard = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "source"
        ).filter(F.col("doc_id") % 5 == 0)
        adm_corpus = d.filter(F.col("doc_id") % 5 != 0)
        idx15 = minhash_index(adm_corpus, portable=True)
        idx15.df.persist()
        idx15.sigs.count(), idx15.df.count()  # warm index = the artifact
        t0 = time.perf_counter()
        rows15 = shard_admission_report(adm_shard, idx15, threshold=0.5).collect()
        sec = round(time.perf_counter() - t0, 2)
        inv15 = sum(r["n_dup_vs_corpus"] + r["n_admitted"] for r in rows15)
        results.setdefault("shard_admission", {})[factor] = {
            "pairs": inv15, "sec": sec,
        }
        print(json.dumps({"op": "shard_admission", "factor": factor,
                          "dup_plus_admitted": inv15,
                          "n_dup_vs_corpus": sum(r["n_dup_vs_corpus"] for r in rows15),
                          "n_admitted": sum(r["n_admitted"] for r in rows15),
                          "sec": sec}), flush=True)
        idx15.df.unpersist(), idx15.sigs.unpersist()

        # r15: X33 temporal split.  Event replicas keep (user, ts) and
        # offset only event_id, so every replica row gets the IDENTICAL
        # split as its base row: per-split counts must grow exactly K,
        # while n_entities and the half-up share ppms are INVARIANT
        # ("pairs" records total rows — growth K is the correctness
        # signal; shares print for the invariance check).  Wall is two
        # event scans + the entity-keyed join, far below K.
        from market_data_ingestion_scraper_spark.operators.splits import (
            temporal_split_report,
        )

        ev33 = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts"
        )
        ev33_k = ev33
        for r in range(1, factor):
            ev33_k = ev33_k.unionByName(
                ev33.withColumn(
                    "event_id", F.col("event_id") + F.lit(r * 100_000_000)
                )
            )
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        rows33 = temporal_split_report(ev33_k, "2024-01-25 00:00:00").collect()
        sec = round(time.perf_counter() - t0, 2)
        results.setdefault("temporal_split", {})[factor] = {
            "pairs": sum(r["n_rows"] for r in rows33), "sec": sec,
        }
        print(json.dumps({"op": "temporal_split", "factor": factor,
                          "n_rows_total": sum(r["n_rows"] for r in rows33),
                          "share_ppms": {r["split"]: r["row_share_ppm"]
                                         for r in rows33},
                          "n_entities": {r["split"]: r["n_entities"]
                                         for r in rows33},
                          "sec": sec}), flush=True)

        # r16: X34 span corruption.  A pure per-row projection: example
        # construction depends only on (doc_id, text), so replica 0's
        # examples inside the K× corpus must be BIT-IDENTICAL to the 1×
        # run (fingerprinted via xxhash64 over id+input+target — any
        # corpus-level coupling would move it), rows grow exactly K, and
        # wall tracks the scan, far below K.
        from market_data_ingestion_scraper_spark.operators.corruption import (
            span_corruption_examples,
        )
        from market_data_ingestion_scraper_spark.operators.scaling import (
            ID_STRIDE,
        )

        spark.catalog.clearCache()
        t0 = time.perf_counter()
        ex34 = span_corruption_examples(d)
        n34 = ex34.count()
        sec = round(time.perf_counter() - t0, 2)
        base34 = ex34.filter(F.col("doc_id") < ID_STRIDE).agg(
            F.sum(
                F.pmod(
                    F.xxhash64("doc_id", "input_text", "target_text"),
                    F.lit(1_000_000_007),
                )
            ).alias("fp"),
            F.sum("n_masked").alias("masked"),
            F.sum("n_tokens").alias("toks"),
        ).collect()[0]
        results.setdefault("span_corruption", {})[factor] = {
            "pairs": n34, "sec": sec,
        }
        print(json.dumps({"op": "span_corruption", "factor": factor,
                          "n_rows": n34,
                          "base_slice_fp": int(base34["fp"]),
                          "base_masked": int(base34["masked"]),
                          "base_density_ppm": int(
                              base34["masked"] * 1_000_000 // base34["toks"]),
                          "sec": sec}), flush=True)

        # r17: X36 contamination-aware holdout builder.  Replicas are
        # content-distinct (prefixed tokens), so cross-replica grams
        # never match: a replica-0 eval candidate can only be
        # contaminated by replica-0 train docs, hence the replica-0
        # slice of the assignment must be BIT-IDENTICAL to the 1× run
        # (fingerprinted) while rows grow exactly K.  Wall tracks the
        # gram join, which carries each side's own grams only.
        from market_data_ingestion_scraper_spark.operators.splits import (
            decontaminated_holdout,
        )

        spark.catalog.clearCache()
        t0 = time.perf_counter()
        hold = decontaminated_holdout(d.select("doc_id", "text"))
        n36 = hold.count()
        sec = round(time.perf_counter() - t0, 2)
        base36 = hold.filter(F.col("doc_id") < ID_STRIDE).agg(
            F.sum(
                F.pmod(
                    F.xxhash64(
                        "doc_id", "split", "n_hit_grams", "n_train_docs_hit"
                    ),
                    F.lit(1_000_000_007),
                )
            ).alias("fp"),
            F.count(F.when(F.col("split") == "quarantine", 1)).alias("nq"),
            F.count(F.when(F.col("split") == "eval", 1)).alias("ne"),
        ).collect()[0]
        results.setdefault("decontam_holdout", {})[factor] = {
            "pairs": n36, "sec": sec,
        }
        print(json.dumps({"op": "decontam_holdout", "factor": factor,
                          "n_rows": n36,
                          "base_slice_fp": int(base36["fp"]),
                          "base_eval": int(base36["ne"]),
                          "base_quarantine": int(base36["nq"]),
                          "sec": sec}), flush=True)

        # r17: X37 instruction-pair assembly.  Pairing is positional
        # inside (source, doc_id DIV 1024) buckets; replica id blocks
        # are ID_STRIDE apart so they never share a bucket, hence the
        # replica-0 slice must be BIT-IDENTICAL to the 1× run (ids,
        # texts, bucket cuts all unchanged).  Pair count grows ~K, not
        # exactly K: ID_STRIDE % 1024 != 0, so each replica's bucket
        # boundaries fall at a different id offset and re-cut a few
        # pairs (measured 24 570 vs 24 600 at K=10 — the documented
        # <= 1-pair-per-bucket-boundary loss, nothing else).  Wall is
        # the single bounded window exchange + projection.
        from market_data_ingestion_scraper_spark.operators.instruct import (
            instruction_pairs,
        )

        spark.catalog.clearCache()
        # the shared K× frame `d` carries (doc_id, text) only — rebuild
        # with source carried through for the pairing key
        docs_src = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "source"
        )
        d37 = replicate_corpus(docs_src, factor)
        t0 = time.perf_counter()
        ex37 = instruction_pairs(d37)
        n37 = ex37.count()
        sec = round(time.perf_counter() - t0, 2)
        base37 = ex37.filter(F.col("prompt_doc_id") < ID_STRIDE).agg(
            F.sum(
                F.pmod(
                    F.xxhash64(
                        "prompt_doc_id", "response_doc_id", "template_id",
                        "input_text", "target_text",
                    ),
                    F.lit(1_000_000_007),
                )
            ).alias("fp"),
            F.count(F.lit(1)).alias("n_base"),
        ).collect()[0]
        results.setdefault("instruction_pairs", {})[factor] = {
            "pairs": n37, "sec": sec,
        }
        print(json.dumps({"op": "instruction_pairs", "factor": factor,
                          "n_pairs": n37,
                          "base_slice_fp": int(base37["fp"]),
                          "base_pairs": int(base37["n_base"]),
                          "sec": sec}), flush=True)

        # r18: X39 best-of-n assembly.  Same bucket geometry as X37
        # (runs of 1+4 inside (source, doc_id DIV 1024); replica blocks
        # never share a bucket), so the replica-0 slice must be
        # BIT-IDENTICAL to the 1× run and example count grows ~K (the
        # same bucket-boundary re-cuts).  The probe passes a FIXED
        # pure-function-of-id votes relation (pmod(id, 5)) so the X39
        # machinery — window + ONE votes join + bounded argmax groupBy —
        # is isolated from the corpus-DEPENDENT ensemble fit, whose own
        # scaling is the quality_ensemble/classifier rows' evidence;
        # replica-0 votes are unchanged by construction, which is what
        # makes the invariant meaningful.
        from market_data_ingestion_scraper_spark.operators.instruct import (
            best_of_n_examples,
        )

        spark.catalog.clearCache()
        votes39 = d37.select(
            "doc_id", F.pmod(F.col("doc_id"), F.lit(5)).cast("int").alias("votes")
        )
        t0 = time.perf_counter()
        ex39 = best_of_n_examples(d37, quality=votes39)
        n39 = ex39.count()
        sec = round(time.perf_counter() - t0, 2)
        base39 = ex39.filter(F.col("prompt_doc_id") < ID_STRIDE).agg(
            F.sum(
                F.pmod(
                    F.xxhash64(
                        "prompt_doc_id", "chosen_doc_id", "template_id",
                        "input_text", "chosen_text", "chosen_votes",
                        "worst_votes",
                    ),
                    F.lit(1_000_000_007),
                )
            ).alias("fp"),
            F.count(F.lit(1)).alias("n_base"),
        ).collect()[0]
        results.setdefault("best_of_n", {})[factor] = {
            "pairs": n39, "sec": sec,
        }
        print(json.dumps({"op": "best_of_n", "factor": factor,
                          "n_examples": n39,
                          "base_slice_fp": int(base39["fp"]),
                          "base_examples": int(base39["n_base"]),
                          "sec": sec}), flush=True)

    summary = {
        name: {
            "pairs_growth": round(r[k]["pairs"] / max(r[1]["pairs"], 1), 2),
            "wall_growth": round(r[k]["sec"] / max(r[1]["sec"], 1e-9), 2),
            "linear_target": float(k),
        }
        for name, r in results.items()
    }
    print(json.dumps({"sf_dir": sf_dir, "k": k, "summary": summary}))


if __name__ == "__main__":
    main()
