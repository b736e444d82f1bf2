"""End-to-end batch jobs — the reference's ``main()`` orchestration
(``main.py:15-53`` → ``handle_div_links_in_iframe``,
``div_link_handler.py:460-567``) re-expressed as a Spark job.

The reference's per-commodity browser loop becomes: enumerate the work list
as a DataFrame, anti-join away completed units, and process each remaining
(commodity, link_type) unit through normalize → classify → partitioned
silver write, with status-table checkpointing around each unit.  The
control flow that HAD to be sequential in a browser (one page at a time)
stays a driver-side loop over *units*, but all data movement inside a unit
is distributed — and units are partition-isolated, so a cluster scheduler
could run them concurrently against the same lake.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import ingest as I
from .operators import state as S
from .operators.ingest import _sanitize_py
from .operators.metrics import observed_ingest

LINK_TYPES = ("summary", "container", "variety")


def build_work_list(spark: SparkSession, commodities: list[str]) -> DataFrame:
    """S3: the <select> option list × expected link types, as a DataFrame
    keyed by the sanitized commodity (the partition key downstream)."""
    rows = [
        (_sanitize_py(c), lt) for c in commodities for lt in LINK_TYPES
    ]
    return spark.createDataFrame(rows, "commodity string, link_type string")


def run_market_ingestion(
    spark: SparkSession,
    raw_paths: dict[str, str],
    lake_root: str,
    scrape_date: str,
    run_id: str | None = None,
) -> dict[str, tuple[int, int]]:
    """Ingest every raw table into the silver lake, resumably.

    ``raw_paths``: {commodity_display_name: csv_path} — the landed raw
    scrape output (S1's file boundary).  Returns per-unit (rows, data_rows)
    observed metrics.  Re-running skips completed units (L3/P5) and
    re-does any in-flight unit idempotently (L2/L6).
    """
    work = build_work_list(spark, list(raw_paths))
    by_key = {_sanitize_py(c): c for c in raw_paths}
    metrics: dict[str, tuple[int, int]] = {}

    def process(commodity_key: str, link_type: str, rid: str) -> None:
        display = by_key[commodity_key]
        raw = I.read_raw_csv(spark, raw_paths[display])
        # A4/L11 dispatch: classification decides which link types apply
        # (single-container commodities have no per-container tables)
        if link_type != "summary" and I.classify_table(raw) == "single_container":
            return
        silver = I.normalize(raw, scrape_date, display, link_type, rid)
        observed, obs = observed_ingest(silver, "commodity_raw", "container")
        I.write_silver(observed, lake_root)
        got = obs.get
        metrics[f"{commodity_key}/{link_type}"] = (got["n_rows"], got["n_data_rows"])

    S.run_incremental(spark, lake_root, work, process, run_id=run_id)
    return metrics


def daily_report(spark: SparkSession, lake_root: str) -> DataFrame:
    """The reference README's promised analytics over the silver lake:
    per (commodity, scrape_date) volume/revenue stats with partition
    pruning available on both keys."""
    silver = I.read_silver(spark, lake_root)
    return (
        silver.filter(F.col("link_type") == "summary")
        .groupBy("commodity", "scrape_date")
        .agg(
            F.sum(F.col("qty_sold").cast("decimal(18,2)")).cast("double").alias("total_qty"),
            F.sum(F.col("total_value").cast("decimal(18,2)")).cast("double").alias("total_revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def _content_hash(text_col: str = "text"):
    """Normalized-content hash shared by the ingest job and
    operators.dedup.content_hash_dedup (same normalization, same digest —
    a doc hashed at ingest time matches one hashed at query time)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return F.sha2(norm, 256)


def _gold_hashes(spark: SparkSession, gold_path: str):
    """Distinct content hashes already in gold, or None if no gold exists
    yet.  Existence is probed by READING, not ``os.path`` — a driver-local
    filesystem check returns False for every hdfs:///s3a:// URI, which
    would silently turn an incremental run into a full overwrite on
    exactly the object-store deployments this job targets (review r7
    finding)."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        return (
            spark.read.parquet(gold_path)
            .select(F.col("content_hash").alias("_gold_hash"))
            .distinct()
        )
    except AnalysisException:
        return None


#: underscore-prefixed so Spark's parquet reader never lists it as data
GOLD_BUILD_MARKER = "_ingest_build.json"


def _write_gold_build_id(gold_path: str) -> str | None:
    """Stamp a fresh unique generation id inside the gold directory and
    return it, or None when the marker cannot be written (non-local gold
    URI).  The bloom sidecar records the id of the gold write it covers;
    a mismatch on load means gold changed without the sidecar (stale
    filter → rebuild).  The failure path MUST return None, not the
    unwritten id: recording an id the marker doesn't carry makes every
    later load read back None ≠ sidecar_id and permanently defeats the
    bloom fast path (r10 review) — with None on both sides the row-count
    check governs, the intended degraded mode.  Local paths only — a
    cluster deployment writes the same marker through the Hadoop
    FileSystem API."""
    import json as _json
    import os as _os
    import uuid as _uuid

    build_id = _uuid.uuid4().hex
    try:
        with open(_os.path.join(gold_path, GOLD_BUILD_MARKER), "w") as f:
            _json.dump({"build_id": build_id}, f)
    except OSError:
        return None  # non-local gold URI: the row-count check still applies
    return build_id


def _read_gold_build_id(gold_path: str) -> str | None:
    import json as _json
    import os as _os

    try:
        with open(_os.path.join(gold_path, GOLD_BUILD_MARKER)) as f:
            return _json.load(f)["build_id"]
    except (OSError, ValueError, KeyError):
        return None


def run_corpus_ingestion(
    spark: SparkSession,
    landing_path: str,
    gold_path: str,
    incremental: bool = False,
    bloom_path: str | None = None,
    sketch_path: str | None = None,
) -> dict[str, int]:
    """Training-corpus twin of :func:`run_market_ingestion`: JSONL landing
    directory → corrupt-line quarantine → exact content dedup (keep
    lowest doc_id per normalized-content hash) → partitioned, sorted,
    zstd gold parquet carrying a ``content_hash`` column.  Returns the
    counters a corpus dashboard needs.

    ``incremental=True`` is the continuous-crawl mode: the batch is ALSO
    deduplicated against every document already in gold (anti-join on
    the persisted ``content_hash`` column — parquet column pruning means
    the history scan reads 32-byte hashes, never text) and the survivors
    are APPENDED.  Re-landing the same shards appends nothing (their
    hashes all exist), so re-runs are idempotent at the corpus level; at
    real scale the append belongs in a transactional table format so a
    mid-write failure can't leave a partial batch visible.

    ``bloom_path`` (with ``incremental``) maintains a sharded
    Bloom-filter sidecar over gold's content hashes (operators.bloom):
    batch hashes probe the fixed-size artifact first, and only
    bloom-POSITIVE rows pay the gold anti-join — a novel crawl (all
    negative) appends without scanning gold at all.  No false negatives
    means the result is IDENTICAL to the plain path (pytest-pinned);
    false positives only cost the redundant exact check.  The invariant
    that makes skipping sound — bloom ⊇ gold's hashes — is maintained
    here: the first bloom-less run builds the filter from gold after
    writing, and every append extends it with exactly the appended
    hashes before returning.

    ``sketch_path`` maintains the mergeable profile artifact
    (operators.sketches): each run appends ONE sketch row per source
    shard covering exactly the rows admitted to gold this run, so the
    global corpus profile (total/distinct tokens, doc-length quantiles)
    is answered by MERGING the artifact — `merge_corpus_profile` /
    the `corpus-profile` CLI — and gold text is never rescanned.
    Content-level exactly-once carries over for free: a re-delivered
    batch admits zero rows and therefore appends zero sketch rows.

    Scale shape: the landing scan is line-splittable text; dedup shuffles
    32-byte hashes (map-side combined), never documents; the keep-set
    semi-join broadcasts when small.  The hash-group table is persisted
    because both counters and the keep-join read it — it holds one row
    per DISTINCT document, the corpus's smallest useful summary."""
    from .operators.dedup import content_hash_dedup
    from .sources.jsonl import read_jsonl
    from .sources.writer import write_gold

    if bloom_path is not None:
        # before anything is read or written: the bloom sidecar goes
        # through open(), and a URI path would read as "no sidecar yet"
        # and fail only after gold was written
        from .util import require_local_path

        require_local_path(bloom_path)
    clean, quarantine = read_jsonl(spark, landing_path)
    clean = clean.withColumn("content_hash", _content_hash())
    groups = content_hash_dedup(clean).persist()
    keeps = groups.select(F.col("keep_doc_id").alias("doc_id"))
    deduped = clean.join(keeps, "doc_id", "left_semi")

    bloom = None
    if incremental and bloom_path is not None:
        from .operators.bloom import load_hash_bloom

        try:
            bloom, _sidecar = load_hash_bloom(spark, bloom_path)
        except FileNotFoundError:
            bloom = None  # first run: built from gold after the write
        else:
            # Staleness guard (r9 review): trusting a bloom-negative
            # verdict is only sound while bloom ⊇ gold's hashes.  Two
            # independent checks, both must pass:
            # 1. build-id handshake (r9 advice): every gold write here
            #    stamps a fresh unique id into `_ingest_build.json`
            #    inside the gold dir, and the sidecar records the id it
            #    was written against.  Any rewrite that went through
            #    this job without --bloom-path changes the marker; a
            #    full external overwrite deletes it — either way the
            #    ids diverge, even when the row count happens to match
            #    (the case the count check below cannot see).
            # 2. row-count match (parquet-metadata count, no data scan):
            #    catches external APPENDS that keep the marker file.
            # On any mismatch the filter is stale: fall back to the
            # exact path for this run and rebuild from gold after the
            # write.
            try:
                gold_now = spark.read.parquet(gold_path).count()
            except Exception:
                gold_now = None  # no readable gold yet
            if (
                _sidecar.get("gold_build_id") != _read_gold_build_id(gold_path)
                or _sidecar.get("gold_rows") != gold_now
            ):
                bloom = None

    n_seen_before = 0
    n_bloom_skipped = 0
    mode = "overwrite"
    fresh = None
    flagged = None
    history = _gold_hashes(spark, gold_path) if incremental else None
    counts = groups.agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("n_copies").alias("n_clean"),
    ).collect()[0]
    n_batch = counts["n_distinct"]
    if history is not None:
        mode = "append"
        if bloom is not None:
            from .operators.bloom import bloom_probe_hashes

            verdicts = bloom_probe_hashes(
                deduped.select(F.col("content_hash").alias("_h")), bloom
            )
            # eqNullSafe both here and below: NULL-text docs hash to NULL
            # and must route through the exact path (their bloom verdict
            # is always "maybe"), never silently re-append (r7 finding)
            flagged = deduped.join(
                verdicts,
                deduped["content_hash"].eqNullSafe(verdicts["_h"]),
                "left",
            ).drop("_h").persist()
            maybe = flagged.where(F.col("bloom_maybe")).drop("bloom_maybe")
            definite_new = flagged.where(~F.col("bloom_maybe")).drop(
                "bloom_maybe"
            )
            n_maybe = maybe.count()
            if n_maybe == 0:
                # the whole batch is provably novel — gold never scanned
                checked = maybe
            else:
                checked = maybe.join(
                    history,
                    maybe["content_hash"].eqNullSafe(history["_gold_hash"]),
                    "left_anti",
                )
            # localCheckpoint, NOT persist: fresh's lineage reads the gold
            # path (the history anti-join), and writing gold below makes
            # Spark recache-by-path RECOMPUTE any cached plan that scans
            # it — a persisted fresh silently re-evaluates to EMPTY after
            # the append (its own rows now match history), so every
            # post-write consumer (bloom extend, sketch append) would see
            # nothing.  Eager checkpointing materializes the admitted
            # rows NOW and truncates the lineage, making them immune to
            # the append.
            fresh = definite_new.unionByName(checked).localCheckpoint(
                eager=True
            )
            n_bloom_skipped = n_batch - n_maybe
        else:
            fresh = deduped.join(
                history,
                deduped["content_hash"].eqNullSafe(history["_gold_hash"]),
                "left_anti",
            ).localCheckpoint(eager=True)
        n_seen_before = n_batch - fresh.count()
        deduped = fresh

    write_gold(
        deduped,
        gold_path,
        partition_by=("source",),
        sort_within=("doc_id",),
        mode=mode,
    )
    # Stamp the gold generation UNCONDITIONALLY (even without
    # --bloom-path): the build-id handshake above needs every gold write
    # to move the marker, so a later bloom-guarded run can detect that
    # gold changed behind the sidecar's back.  Written before the
    # sidecar — a crash in between leaves the ids mismatched, which
    # reads as stale (a rebuild), never as a false "fresh".
    gold_build_id = _write_gold_build_id(gold_path)
    if bloom_path is not None:
        from .operators.bloom import (
            build_hash_bloom,
            extend_hash_bloom,
            write_hash_bloom,
        )

        if bloom is not None:
            # write_hash_bloom checkpoints before it writes, so
            # overwriting the path this table was loaded from is safe
            updated = extend_hash_bloom(bloom, deduped.select("content_hash"))
        else:
            # first run (or rebuild after a lost sidecar): cover ALL of
            # gold, not just this batch — the ⊇ invariant must hold
            updated = build_hash_bloom(
                spark.read.parquet(gold_path).select("content_hash")
            )
        # record the gold generation the filter covers: the build id of
        # the write it just absorbed plus the row count (parquet-metadata
        # count) — the staleness guard above compares both on load
        write_hash_bloom(
            updated,
            bloom_path,
            extra_meta={
                "gold_rows": spark.read.parquet(gold_path).count(),
                "gold_build_id": gold_build_id,
            },
        )
    if sketch_path is not None and (
        mode == "overwrite" or counts["n_distinct"] - n_seen_before > 0
    ):
        from .operators.sketches import shard_token_sketches

        # sketch exactly the admitted rows; merge-time multiplicity is
        # fine (HLL/theta unions and count sums are associative), so the
        # artifact is append-only in incremental mode.  When gold was
        # OVERWRITTEN the old corpus is gone — stale sketch rows would
        # double-count — so the artifact resets with it (r9 review).
        shard_token_sketches(deduped).write.mode(
            "overwrite" if mode == "overwrite" else "append"
        ).parquet(sketch_path)
    groups.unpersist()
    if fresh is not None:
        fresh.unpersist()
    if flagged is not None:
        flagged.unpersist()
    return {
        "n_clean": counts["n_clean"] or 0,
        "n_quarantined": quarantine.count(),
        "n_kept": counts["n_distinct"] - n_seen_before,
        "n_dup_copies_removed": (counts["n_clean"] or 0) - counts["n_distinct"],
        "n_seen_before": n_seen_before,
        "n_bloom_skipped": n_bloom_skipped,
    }


def run_training_data_build(
    spark: SparkSession,
    documents_path: str,
    out_root: str,
    min_votes: int = 2,
    holdout_ppm: int = 100_000,
    k: int = 5,
    min_hits: int = 1,
    write_sidecars: bool = False,
) -> dict[str, int]:
    """The engine end-to-end as ONE job: raw documents → quality gate →
    exact dedup → contamination-safe holdout → training examples — each
    stage an oracle-gated operator, composed here into the pipeline a
    training run actually consumes, with the same determinism contract
    as :func:`run_corpus_ingestion` (every stage is a pure function of
    content and ids, so a re-run writes byte-identical outputs —
    pytest-pinned).

    Stages and outputs under ``out_root``:

    1. quality gate — :func:`~.operators.ensemble.quality_ensemble`
       (X35, 2-of-3 vote), drop ``keep = false``;
    2. exact dedup — :func:`~.operators.dedup.content_hash_dedup`
       (X1, keep lowest doc_id per normalized content hash);
    3. split — :func:`~.operators.splits.decontaminated_holdout`
       (X36): ``eval_docs/`` holds the clean held-out documents,
       quarantined docs join neither side, and only TRAIN documents
       feed example construction (eval text must never appear in
       training examples — the whole point of the split);
    4. training examples over the train side —
       ``train_span/`` (X34 span corruption), ``train_fim/`` (X34
       FIM), ``train_instruct/`` (X37 adjacent-pair instruction
       examples, when a ``source`` column exists);
    5. with ``write_sidecars=True``, the frozen-split serve artifacts —
       ``sidecar_train_grams/`` and ``sidecar_eval_grams/``
       (:func:`~.operators.splits.holdout_gram_hashes` over the SAME
       persisted assignment → :func:`~.operators.bloom.build_hash_bloom`
       → :func:`~.operators.bloom.write_hash_bloom`, each sidecar
       carrying the split record), so
       :func:`~.streaming.pipeline.stream_holdout_tag` can route later
       arrivals against exactly this build's split, reading its
       parameters from the two sidecars — the build → serve handoff in
       one command.

    Returns the funnel counters (input → kept → deduped → per-split →
    per-example-family) a build dashboard needs; the numbers reconcile
    exactly with the gated per-stage operators run independently
    (pytest-pinned).

    Scale shape: every stage runs once.  Only the frames several
    stages read are persisted — the slim keep-id frame of the quality
    gate (the ensemble then runs once, for the kept count and for the
    dedup), the slim deduped corpus, the assignment and each side's
    distinct gram hashes (sized and bloom-built from one explode) — and
    all of them are released when the build returns or raises.  The
    example counters are ``DataFrame.observe`` riders on the writes
    themselves, so no output is read back to be counted, and
    :func:`~.operators.bloom.write_hash_bloom` materializes each sidecar
    once for its checks and its write.  Outputs use the deterministic
    single-file-per-output layout of :func:`~.sources.writer.write_gold`
    (swap ``files_per_partition`` up for real corpora)."""
    import os

    from .operators.corruption import fim_examples, span_corruption_examples
    from .operators.dedup import content_hash_dedup
    from .operators.ensemble import quality_ensemble
    from .operators.metrics import observed_count
    from .operators.splits import decontaminated_holdout
    from .sources.writer import write_gold

    docs = spark.read.parquet(documents_path)
    need = [c for c in ("doc_id", "text", "lang") if c not in docs.columns]
    if need:
        raise ValueError(f"documents parquet missing columns: {need}")
    n_input = docs.count()

    cached: list[DataFrame] = []

    def persisted(df: DataFrame) -> DataFrame:
        cached.append(df.persist())
        return df

    try:
        kept = persisted(
            quality_ensemble(docs, min_votes=min_votes)
            .where(F.col("keep"))
            .select("doc_id")
        )
        gated = docs.join(kept, "doc_id", "left_semi")
        n_kept = gated.count()

        groups = content_hash_dedup(
            gated.withColumn("content_hash", _content_hash())
        )
        deduped = persisted(
            gated.join(
                groups.select(F.col("keep_doc_id").alias("doc_id")),
                "doc_id",
                "left_semi",
            )
        )
        n_deduped = deduped.count()

        assignment = persisted(
            decontaminated_holdout(
                deduped.select("doc_id", "text"),
                holdout_ppm=holdout_ppm,
                k=k,
                min_hits=min_hits,
            )
        )
        split_counts = {
            r["split"]: r["n"]
            for r in assignment.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        sides = {
            side: deduped.join(
                assignment.where(F.col("split") == side).select("doc_id"),
                "doc_id",
                "left_semi",
            )
            for side in ("train", "eval")
        }
        write_gold(
            sides["eval"], os.path.join(out_root, "eval_docs"),
            sort_within=("doc_id",),
        )
        # the split artifact carries its split record (above all the
        # gram width k): the sidecar builds and the streaming tagger
        # read the parameters from it
        from .operators.splits import write_holdout_split

        split_meta = write_holdout_split(
            assignment, os.path.join(out_root, "split_assignment"),
            k=k, holdout_ppm=holdout_ppm, min_hits=min_hits,
        )
        train = sides["train"]
        span, span_obs = observed_count(
            span_corruption_examples(train), "n_span_examples"
        )
        write_gold(
            span, os.path.join(out_root, "train_span"), sort_within=("doc_id",)
        )
        fim, fim_obs = observed_count(fim_examples(train), "n_fim_examples")
        write_gold(
            fim, os.path.join(out_root, "train_fim"), sort_within=("doc_id",)
        )
        counters = {
            "n_input": n_input,
            "n_quality_kept": n_kept,
            "n_deduped": n_deduped,
            "n_train": split_counts.get("train", 0),
            "n_eval": split_counts.get("eval", 0),
            "n_quarantine": split_counts.get("quarantine", 0),
            "n_span_examples": span_obs.get["n_rows"],
            "n_fim_examples": fim_obs.get["n_rows"],
        }
        if "source" in docs.columns:
            from .operators.instruct import instruction_pairs

            pairs, pairs_obs = observed_count(
                instruction_pairs(train), "n_instruct_examples"
            )
            write_gold(
                pairs, os.path.join(out_root, "train_instruct"),
                sort_within=("prompt_doc_id",),
            )
            counters["n_instruct_examples"] = pairs_obs.get["n_rows"]
        if write_sidecars:
            from .operators.bloom import build_hash_bloom, write_hash_bloom
            from .operators.splits import HoldoutSplit, holdout_gram_hashes

            handle = HoldoutSplit(assignment, split_meta)
            for side in ("train", "eval"):
                # the handle carries the gram width, so the sidecar
                # cannot be built at the wrong k; persisted so the count
                # that sizes the bloom and the bloom build share one
                # gram explode
                grams = persisted(
                    holdout_gram_hashes(
                        deduped.select("doc_id", "text"), side,
                        assignment=handle,
                    )
                )
                # size to the documented ~10 bits/key rule from the
                # side's distinct-gram count (next power of two, floor
                # 2^20)
                n_grams = grams.count()
                n_bits = 1 << max(20, (n_grams * 10 // 16).bit_length())
                write_hash_bloom(
                    build_hash_bloom(grams, "gram_hash", n_bits=n_bits),
                    os.path.join(out_root, f"sidecar_{side}_grams"),
                    hash_col="gram_hash",
                    # the split record, so the tagger reads the split
                    # parameters from the bloom it serves; the bloom
                    # keeps its own kind
                    extra_meta={key: v for key, v in split_meta.items()
                                if key != "kind"},
                )
                counters[f"n_{side}_grams"] = n_grams
    finally:
        for df in cached:
            df.unpersist()
    return counters
