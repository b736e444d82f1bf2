"""The benchmark's workloads.

- ``ingest`` — one crawl cycle per operation: three
  ``jobs.run_corpus_ingestion`` calls into empty gold, bloom and sketch
  directories (``first``: landing A; ``append``: the re-crawl landing B
  on the bloom fast path; ``replay``: landing B again, which admits
  nothing).
- ``build`` — one ``jobs.run_training_data_build(write_sidecars=True)``
  per operation over a generated corpus.  A traced run then serves with
  what the last build wrote: it writes a ``write_minhash_index`` over the
  corpus and runs two file-source streams over the arrival files, one
  file per micro-batch — ``stream_holdout_tag`` (append mode, one
  ``mapInPandas`` bloom probe per batch over the build's gram sidecars)
  and ``stream_shard_admission_filter`` (stream-static join plus a
  stateful aggregation, update mode).

``check`` verifies every operation of the run outside the timed region.
An operation counted in ``attempted`` is a job call or a micro-batch, and
input generation once; each one whose output fails a check counts once
in ``failed``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
# micro-batches at the start of each stream left out of the latency
# sample: the first pays query planning and Python-worker start
STREAM_WARMUP_BATCHES = 1


def _parquet_sha(path: str) -> str:
    """Digest of a parquet file's decoded rows, in file order.  Spark's
    parquet writer lists each column chunk's encodings in the footer in an
    order that differs between JVMs, so the files two processes write for
    the same rows differ in those bytes only."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue()).hexdigest()


def parts_digest(root: str) -> dict[str, list[str]]:
    """Per directory, the sorted row digests of its part files (names carry
    a per-write UUID, so they are not compared)."""
    out: dict[str, list[str]] = {}
    for dirpath, _, names in os.walk(root):
        parts = [n for n in names if n.startswith("part-")]
        if parts:
            out[os.path.relpath(dirpath, root)] = sorted(
                _parquet_sha(os.path.join(dirpath, n)) for n in parts)
    return out


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, state_dir: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.state_dir = state_dir
        #: set by the caller once the traced operations start
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.ops: list[dict] = []

    def expect(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok

    def setup_inputs(self) -> float:
        """Generate the inputs; return the time it took."""
        t0 = time.perf_counter()
        self.inputs = os.path.join(self.work, "inputs")
        self.meta = gen.INPUTS[self.name](self.seed, self.inputs)
        gen_s = time.perf_counter() - t0
        self.input_sizes = self.meta["sizes"]
        self.input_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.inputs) for f in fs)
        return gen_s

    def check_inputs(self) -> None:
        """The generator's two claims, counted as one operation: a second
        process writes byte-identical files for this seed, and the next
        seed writes different content of the same size."""
        again = os.path.join(self.work, "inputs-again")
        other = os.path.join(self.work, "inputs-other")
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), self.name,
                        str(self.seed), again], check=True)
        gen.INPUTS[self.name](self.seed + 1, other)
        mine, theirs = gen.files(self.inputs), gen.files(other)
        ok = self.expect(gen.files(again) == mine,
                         "generator: a second process wrote other bytes for this seed")
        ok &= self.expect(
            {k: n for k, (_, n) in theirs.items()} == {k: n for k, (_, n) in mine.items()}
            and all(theirs[k][0] != h for k, (h, _) in mine.items()),
            "generator: the next seed did not give different files of the same size")
        shutil.rmtree(again)
        shutil.rmtree(other)
        self.attempted += 1
        self.failed += not ok


class Ingest(Workload):
    """One crawl cycle per operation: landing A, then landing B twice."""

    name = "ingest"
    STEPS = ("first", "append", "replay")

    def run_op(self, i: int) -> None:
        from market_data_ingestion_scraper_spark import jobs

        out = os.path.join(self.work, f"op{i}")
        kw = dict(incremental=True, bloom_path=os.path.join(out, "bloom"),
                  sketch_path=os.path.join(out, "sketch"))
        land_a = os.path.join(self.inputs, "landing_a")
        land_b = os.path.join(self.inputs, "landing_b")
        calls, walls = {}, {}
        for step, land in zip(self.STEPS, (land_a, land_b, land_b)):
            t = time.perf_counter()
            calls[step] = jobs.run_corpus_ingestion(
                self.spark, land, os.path.join(out, "gold"), **kw)
            walls[step] = time.perf_counter() - t
        self.attempted += len(self.STEPS)
        self.ops.append({"gold": os.path.join(out, "gold"), "calls": calls, "walls": walls})

    def check(self) -> None:
        norm = gen.norm
        clean_a, clean_b = self.meta["clean"]
        n_corrupt = self.meta["n_corrupt"]
        first_id: dict[str, int] = {}
        for d in clean_a:
            k = norm(d["text"])
            first_id[k] = min(first_id.get(k, d["doc_id"]), d["doc_id"])
        new_b: dict[str, int] = {}
        for d in clean_b:
            k = norm(d["text"])
            if k not in first_id:
                new_b[k] = min(new_b.get(k, d["doc_id"]), d["doc_id"])
        norms_b = {norm(d["text"]) for d in clean_b}
        want = {
            "first": dict(n_clean=len(clean_a), n_quarantined=n_corrupt[0],
                          n_kept=len(first_id), n_seen_before=0),
            "append": dict(n_clean=len(clean_b), n_quarantined=n_corrupt[1],
                           n_kept=len(new_b), n_seen_before=len(norms_b & set(first_id))),
            "replay": dict(n_clean=len(clean_b), n_quarantined=n_corrupt[1],
                           n_kept=0, n_seen_before=len(norms_b)),
        }
        want_a, want_b = set(first_id.values()), set(new_b.values())
        ids_a = {d["doc_id"] for d in clean_a}
        for n, op in enumerate(self.ops):
            bad = set()
            for step, exp in want.items():
                got = {k: op["calls"][step][k] for k in exp}
                if not self.expect(got == exp, f"op{n} ingest {step}: {got} != {exp}"):
                    bad.add(step)
            gold = [r[0] for r in self.spark.read.parquet(op["gold"]).select("doc_id").collect()]
            gold_ids = set(gold)
            if not self.expect(len(gold) == len(gold_ids), f"op{n} gold: repeated doc_ids"):
                bad.update(("first", "append"))
            if not self.expect(gold_ids & ids_a == want_a,
                               f"op{n} gold: landing A rows != its distinct normalized texts"):
                bad.add("first")
            if not self.expect(gold_ids - ids_a == want_b,
                               f"op{n} gold: landing B rows != its new normalized texts"):
                bad.add("append")
            self.failed += len(bad)

    def end_to_end(self) -> dict:
        walls = [sum(op["walls"].values()) for op in self.ops]
        lines_a, lines_b = self.input_sizes["landing_docs"]
        return {"op_wall_s": statistics.median(walls),
                "op_rows_per_s": (lines_a + 2 * lines_b) * len(self.ops) / sum(walls)}

    def layer_metrics(self) -> dict:
        out = {f"jobs.ingest_{s}_s": statistics.median(op["walls"][s] for op in self.ops)
               for s in self.STEPS}
        # bloom skips ÷ distinct documents of the append call
        out["operators.bloom.skip_ratio"] = statistics.median(
            op["calls"]["append"]["n_bloom_skipped"]
            / max(1, op["calls"]["append"]["n_kept"] + op["calls"]["append"]["n_seen_before"])
            for op in self.ops)
        return out

    def detail(self) -> dict:
        return {"ops": [{k: op[k] for k in ("walls", "calls")} for op in self.ops]}


class Build(Workload):
    """Corpus → training data and serve sidecars, one build per operation;
    the traced run then serves arrivals with the last build's sidecars."""

    name = "build"
    STREAMS = ("tag", "admit")

    def __init__(self, *args):
        super().__init__(*args)
        self.streams: dict[str, dict] = {}

    def run_op(self, i: int) -> None:
        from market_data_ingestion_scraper_spark import jobs

        out = os.path.join(self.work, f"op{i}")
        t = time.perf_counter()
        counters = jobs.run_training_data_build(
            self.spark, os.path.join(self.inputs, "corpus"), out, write_sidecars=True)
        self.attempted += 1
        self.ops.append({"out": out, "wall_s": time.perf_counter() - t,
                         "counters": counters})

    def check(self) -> None:
        path = os.path.join(self.state_dir, f"build-digest-seed{self.seed}.json")
        earlier = None
        if os.path.exists(path):
            with open(path) as f:
                earlier = json.load(f)
        for n, op in enumerate(self.ops):
            c = op["counters"]
            ok = all([
                self.expect(c["n_input"] == gen.CORPUS_DOCS, f"op{n}: n_input != corpus rows"),
                self.expect(c["n_train"] + c["n_eval"] + c["n_quarantine"] == c["n_deduped"],
                            f"op{n}: n_train + n_eval + n_quarantine != n_deduped"),
                self.expect(c["n_span_examples"] == c["n_train"],
                            f"op{n}: n_span_examples != n_train"),
            ])
            # determinism: every build on this seed, in this run and in
            # earlier runs in this checkout, writes the same rows in the
            # same order to its part files
            digest = parts_digest(op["out"])
            if earlier is None:
                earlier = digest
                with open(path, "w") as f:
                    json.dump(digest, f)
            differ = sorted(k for k in set(earlier) | set(digest)
                            if earlier.get(k) != digest.get(k))
            ok &= self.expect(not differ, f"op{n}: part files of {differ} differ from "
                              "an earlier build on this seed")
            self.failed += not ok
        if self.streams:
            self.check_streams()

    def end_to_end(self) -> dict:
        walls = [op["wall_s"] for op in self.ops]
        return {"op_wall_s": statistics.median(walls),
                "op_rows_per_s": gen.CORPUS_DOCS * len(self.ops) / sum(walls)}

    # -- serving, in traced runs ------------------------------------------

    def serve(self) -> None:
        """Write the MinHash index, then run each stream over the arrival
        files until all are processed."""
        from market_data_ingestion_scraper_spark.operators.bloom import load_hash_bloom
        from market_data_ingestion_scraper_spark.operators.dedup import write_minhash_index
        from market_data_ingestion_scraper_spark.operators.similarity import load_ann_index

        build = self.ops[-1]["out"]
        docs = self.spark.read.parquet(os.path.join(self.inputs, "corpus")).select(
            "doc_id", "text")
        write_minhash_index(docs, os.path.join(self.work, "index"))
        self.blooms = [load_hash_bloom(self.spark, os.path.join(build, f"sidecar_{s}_grams"))
                       for s in ("train", "eval")]
        self.index = load_ann_index(self.spark, os.path.join(self.work, "index"))
        schema = "doc_id long, text string, lang string, source string, n_chars long"
        self.streams = {}
        for name, mode in zip(self.STREAMS, ("append", "update")):
            t = time.perf_counter()
            rows = (self.spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(os.path.join(self.inputs, "arrivals"))
                    .select("doc_id", "text"))
            q = (self._operator(name, rows).writeStream.outputMode(mode).format("memory")
                 .queryName(f"perfbench_{name}")
                 .option("checkpointLocation", os.path.join(self.work, f"ck_{name}"))
                 .start())
            with self.tracer.span("streaming.pipeline", f"query:{name}") as s:
                # a streaming query runs its batches under its runId as group
                self.tracer.group_alias[str(q.runId)] = s.id
                q.processAllAvailable()
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            q.stop()
            self.streams[name] = {"wall_s": time.perf_counter() - t, "progress": progress}
            self.attempted += max(len(progress), gen.STREAM_FILES)

    def _operator(self, stream: str, rows):
        from market_data_ingestion_scraper_spark.streaming import pipeline as P

        if stream == "tag":
            (tb, tm), (eb, em) = self.blooms
            return P.stream_holdout_tag(rows, tb, eb, train_meta=tm, eval_meta=em)
        return P.stream_shard_admission_filter(rows, index=self.index)

    def check_streams(self) -> None:
        static = self.spark.read.parquet(os.path.join(self.inputs, "arrivals")).select(
            "doc_id", "text")
        for name, s in self.streams.items():
            want = {tuple(r) for r in self._operator(name, static).collect()}
            got = {tuple(r) for r in self.spark.table(f"perfbench_{name}").collect()}
            ok = self.expect(len(s["progress"]) == gen.STREAM_FILES,
                             f"serve {name}: {len(s['progress'])} batches for "
                             f"{gen.STREAM_FILES} files")
            ok &= self.expect(got == want,
                              f"serve {name}: stream output ({len(got)} rows) != "
                              f"batch operator over the same rows ({len(want)} rows)")
            # a wrong stream output cannot be pinned on one micro-batch
            self.failed += 0 if ok else max(len(s["progress"]), gen.STREAM_FILES)
            s["rows_out"] = len(got)

    def layer_metrics(self) -> dict:
        out, batches = {}, []
        for name, s in self.streams.items():
            timed = s["progress"][STREAM_WARMUP_BATCHES:]
            batches += timed
            out[f"streaming.pipeline.{name}_batch_p50_ms"] = statistics.median(
                p["durationMs"]["triggerExecution"] for p in timed)
            out[f"streaming.pipeline.{name}_rows_per_s"] = (
                sum(p["numInputRows"] for p in s["progress"]) / s["wall_s"])
        for key, step in (("query_planning_ms", "queryPlanning"),
                          ("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit")):
            out[f"streaming.pipeline.{key}"] = statistics.median(
                p["durationMs"].get(step, 0) for p in batches)
        last = self.streams["admit"]["progress"][-1]["stateOperators"]
        out["streaming.pipeline.state_rows"] = sum(o["numRowsTotal"] for o in last)
        out["streaming.pipeline.state_memory_bytes"] = sum(o["memoryUsedBytes"] for o in last)
        return out

    def detail(self) -> dict:
        return {
            "ops": [{"wall_s": op["wall_s"], "counters": op["counters"]} for op in self.ops],
            "streams": {name: {"wall_s": s["wall_s"], "rows_out": s.get("rows_out"),
                               "batch_ms": [p["durationMs"]["triggerExecution"]
                                            for p in s["progress"]]}
                        for name, s in self.streams.items()},
        }


WORKLOADS = {w.name: w for w in (Ingest, Build)}
