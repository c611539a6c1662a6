"""The four benchmark workloads, each a closed loop with one client.

A workload runs *passes*: one pipeline run (medallion), the ten headline
queries (analytics), the three corpus queries (corpus_dedup) or one
drain of the staged stream (stream_ingest). The first pass is the
warm-up; it also captures the query outputs the checks compare. Later
passes are measured.

Every call into the engine goes through its public functions.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from datetime import datetime

from breweries_data_pipeline_spark.cache import release_caches
from breweries_data_pipeline_spark.pipeline import (
    PathResolver,
    load_pipeline_config,
    run_aggregate_stage,
    run_ingest_stage,
    run_pipeline,
    run_quality_stage,
    run_transform_stage,
)
from breweries_data_pipeline_spark.queries import oracle_sql, queries
from breweries_data_pipeline_spark.streaming import corpus_ingest

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))

# bench.py's round-1 HEADLINE set, in its order
HEADLINE = [
    "q_pricing_summary", "q_join_shuffle", "q_join_broadcast", "q_topk_per_group",
    "q_rollup", "q_dedup_by_key", "q_event_window", "q_count_distinct",
    "q_gold_union", "q_scan_parquet",
]
# both MinHash signature paths (md5 lanes, Arrow kernel) and exact
# cosine top-k; NOTES.md says why q_corpus_funnel and q_dedup_embedding
# are left out
CORPUS = ["q_minhash_lsh", "q_neardup_buckets_minhash", "q_similarity_topk"]


class Workload:
    """Shared bookkeeping: op latencies, items, attempted/failed ops."""

    op_unit = "op"

    def __init__(self, spark, tracer, inputs: dict, facts: dict, work: str, cores: int):
        self.spark, self.tracer = spark, tracer
        self.inputs, self.facts, self.work, self.cores = inputs, facts, work, cores
        self.latencies: list[float] = []  # measured ops only
        self.items = 0  # items completed in measured passes
        self.busy_s = 0.0  # wall time of the measured operations, failed ones too
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer_samples: dict[str, list[float]] = {}

    def prepare(self) -> None:
        """Input-side work done before the session starts (oracles)."""

    def run_pass(self, measured: bool) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """Checks on the warm-up outputs, after measurement."""

    def note(self, key: str, value: float) -> None:
        self.layer_samples.setdefault(key, []).append(value)


# ---------------------------------------------------------------------------
# medallion
# ---------------------------------------------------------------------------


class Medallion(Workload):
    op_unit = "pipeline run"
    RUNNERS = {"transform": run_transform_stage, "aggregate": run_aggregate_stage,
               "quality": run_quality_stage}

    def prepare(self) -> None:
        self.config = load_pipeline_config(os.path.join(HERE, "config", "breweries_pipeline.yml"))
        self.stages = {s.task_id: s for s in self.config.stages}
        self.records = gen.load_pages(self.inputs["pages"])
        self.input_bytes = os.path.getsize(self.inputs["pages"])
        self.fetch_s = 0.0
        self.n_op = 0
        self.prev_base: str | None = None
        self.last_outputs: dict | None = None

    def fetch_page(self, page: int, per_page: int) -> list[dict]:
        t0 = time.time()
        out = self.records[(page - 1) * per_page: page * per_page]
        t1 = time.time()
        self.fetch_s += t1 - t0
        if self.tracer.enabled:
            self.tracer.add("sources.fetch_page", t0, t1, parent=self.tracer.current)
        return out

    def _traced_run(self, variables: dict) -> dict:
        """The four public stage runners in run_pipeline's order, one
        span each."""
        paths = PathResolver(variables)
        results = {}
        for stage in self.config.stages:
            with self.tracer.span(f"pipeline.{stage.kind}"):
                if stage.kind == "ingest":
                    res = run_ingest_stage(self.spark, stage, paths, self.fetch_page)
                    paths.overrides[res["raw_path"]] = res["enriched_path"]
                else:
                    res = self.RUNNERS[stage.kind](self.spark, stage, paths)
            results[stage.task_id] = res
        return results

    def run_pass(self, measured: bool) -> None:
        base = os.path.join(self.work, "medallion", f"op{self.n_op}")
        self.n_op += 1
        variables = {"ds": "2025-01-01", "base": base, "configs": os.path.join(HERE, "config")}
        self.attempted += 1
        self.fetch_s = 0.0
        t0 = time.perf_counter()
        try:
            with self.tracer.span("pipeline.run"):
                if self.tracer.enabled:
                    res = self._traced_run(variables)
                else:
                    res = run_pipeline(self.spark, self.config, variables=variables,
                                       fetch_page=self.fetch_page)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            self.failed += 1
            self.problems.append(f"pipeline raised {type(e).__name__}: {e}")
            return
        finally:
            wall = time.perf_counter() - t0
            if measured:
                self.busy_s += wall
        rows = res["transform_silver"]["rows"]
        if (res["fetch_data_bronze"]["records"] != self.facts["records"]
                or not self.facts["silver_min"] <= rows <= self.facts["silver_max"]):
            self.failed += 1
            self.problems.append(f"pipeline run {self.n_op}: silver rows {rows} out of bounds")
        if measured:
            self.latencies.append(wall)
            self.items += self.facts["records"]
            self.note("sources.fetch_wait_s", self.fetch_s)
            files, nbytes = _tree_size(base)
            self.note("sources.files_written", files)
            self.note("sources.bytes_written", nbytes)
            self.note("sources.write_amp", nbytes / self.input_bytes)
        self.note("silver_rows", rows)
        self.last_outputs = {
            "silver": res["transform_silver"]["output_path"],
            "gold": res["aggregate_gold"]["output_path"],
            "report": res["validate_gold_quality"]["report_path"],
        }
        if self.prev_base:
            shutil.rmtree(self.prev_base, ignore_errors=True)
        self.prev_base = base

    def finish(self) -> None:
        if self.last_outputs is None:
            return
        bad = checks.check_medallion(self.last_outputs, self.facts, self.stages)
        if bad:
            self.failed += 1
            self.problems.extend(bad)


def _tree_size(path: str) -> tuple[int, int]:
    """Data files and bytes under ``path``, leaving out checksum and
    marker files."""
    files = nbytes = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


# ---------------------------------------------------------------------------
# registry queries: analytics and corpus_dedup
# ---------------------------------------------------------------------------


class QueryWorkload(Workload):
    op_unit = "query"
    op_is_pass = False  # the latency samples are whole passes, not queries
    names: list[str] = []

    def prepare(self) -> None:
        sql = oracle_sql()
        self.fns = queries()
        self.oracle = checks.run_oracles(
            self.inputs["sf_dir"], {q: sql[q] for q in self.names if q in sql})
        self.outputs: dict = {}
        self.runs = {q: 0 for q in self.names}
        self.per_query: dict[str, list[float]] = {}  # warm-up first
        self.raised = {q: 0 for q in self.names}

    def _one(self, q: str, measured: bool) -> None:
        self.attempted += 1
        self.runs[q] += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"queries.{q}"):
                df = self.fns[q](self.spark, self.inputs["sf_dir"])
                if measured:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    self.outputs[q] = df.toPandas()
                if measured and self.tracer.enabled:
                    self.note("cache.block_bytes", _cached_bytes(self.spark))
                persisted = release_caches()
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            self.raised[q] += 1
            self.problems.append(f"{q} raised {type(e).__name__}: {e}")
            return
        wall = time.perf_counter() - t0
        self.per_query.setdefault(q, []).append(wall)
        if measured:
            if not self.op_is_pass:
                self.latencies.append(wall)
            self.note("cache.persisted", persisted)

    def run_pass(self, measured: bool) -> None:
        t0 = time.perf_counter()
        for q in self.names:
            self._one(q, measured)
        if measured:
            wall = time.perf_counter() - t0
            self.busy_s += wall
            self.items += self.pass_items()
            if self.op_is_pass:
                self.latencies.append(wall)

    def pass_items(self) -> int:
        return len(self.names)

    def check_output(self, q: str, got) -> list[str]:
        return checks.compare_frames(got, self.oracle[q])

    def finish(self) -> None:
        for q in self.names:
            if q not in self.outputs:
                bad = ["no warm-up output"]
            else:
                bad = self.check_output(q, self.outputs[q])
            # a wrong result makes every run of that query a failed op
            self.failed += self.runs[q] if bad else self.raised[q]
            self.problems.extend(f"{q}: {b}" for b in bad)


def _cached_bytes(spark) -> int:
    """Memory plus disk bytes of every cached RDD block right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


class Analytics(QueryWorkload):
    names = HEADLINE


class CorpusDedup(QueryWorkload):
    op_unit = "corpus pass"
    op_is_pass = True
    names = CORPUS

    def pass_items(self) -> int:
        return self.facts["docs"]

    def check_output(self, q: str, got) -> list[str]:
        if q == "q_neardup_buckets_minhash":
            return checks.check_buckets(got["doc_id"].tolist(), self.facts["exact_dup_groups"])
        return super().check_output(q, got)


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


def _progress_listener():
    """A StreamingQueryListener that keeps every progress event per run
    id. Built lazily: the listener base class needs a live session."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.events: dict[str, list] = {}
            self.done: set[str] = set()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.events.setdefault(str(p.runId), []).append({
                    "batch": p.batchId,
                    "start": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                    "duration_s": p.batchDuration / 1000.0,
                    "phases_ms": dict(p.durationMs),
                    "rows": p.numInputRows,
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.done.add(str(event.runId))

    return Progress()


class StreamIngest(Workload):
    op_unit = "micro-batch"

    def prepare(self) -> None:
        self.input_bytes = _tree_size(self.inputs["source_dir"])[1]
        self.n_drain = 0
        self.schema = None
        self.listener = None

    def _drain(self, measured: bool) -> None:
        spark = self.spark
        if self.listener is None:
            self.listener = _progress_listener()
            spark.streams.addListener(self.listener)
            self.schema = spark.read.parquet(self.inputs["source_dir"]).schema
        d = os.path.join(self.work, "stream", f"drain{self.n_drain}")
        self.n_drain += 1
        # the warm-up drain replays only the first few files
        key, source = ("", "source_dir") if measured else ("warmup_", "warmup_dir")
        n_batches = self.facts[f"{key}batches"]
        before = set(self.listener.events)
        self.attempted += n_batches
        t0 = time.perf_counter()
        try:
            with self.tracer.span("streaming.drain") as span:
                sdf = (spark.readStream.schema(self.schema)
                       .option("maxFilesPerTrigger", 1).parquet(self.inputs[source]))
                corpus_ingest.streaming_corpus_ingest(
                    sdf, os.path.join(d, "store"), checkpoint_dir=os.path.join(d, "ckpt"))
        except Exception as e:  # noqa: BLE001 — a failed drain is counted, not fatal
            self.failed += n_batches
            self.problems.append(f"drain raised {type(e).__name__}: {e}")
            return
        finally:
            if measured:
                self.busy_s += time.perf_counter() - t0
        batches = self._wait_progress(before, n_batches)
        accepted = corpus_ingest.read_corpus(spark, os.path.join(d, "store"))
        bad = checks.check_stream([r[0] for r in accepted.select("doc_id").collect()],
                                  self.facts[f"{key}accepted_ids"])
        if len(batches) != n_batches:
            bad.append(f"{len(batches)} micro-batches reported, expected {n_batches}")
        if bad:
            self.failed += n_batches
            self.problems.extend(bad)
        if measured:
            self.latencies.extend(b["duration_s"] for b in batches)
            self.items += self.facts["docs"]
            files, nbytes = _tree_size(os.path.join(d, "store"))
            self.note("sources.files_written", files)
            self.note("sources.bytes_written", nbytes)
            self.note("sources.write_amp", nbytes / self.input_bytes)
            for b in batches:
                for k, v in b["phases_ms"].items():
                    self.note(f"streaming.{k}_ms", v)
                self.note("streaming.input_rows", b["rows"])
            lat = [b["duration_s"] for b in batches]
            if len(lat) >= 10:
                self.note("streaming.growth_x", statistics.mean(lat[-5:]) / statistics.mean(lat[:5]))
            if self.tracer.enabled:
                for b in batches:
                    self.tracer.add("streaming.batch", b["start"], b["start"] + b["duration_s"],
                                    parent=span, batch=b["batch"], stream_run=b["run"])
        shutil.rmtree(d, ignore_errors=True)

    def _wait_progress(self, before: set, n: int, timeout: float = 30.0) -> list[dict]:
        """Progress events arrive on the listener bus after the drain
        returns; wait for the run to report termination."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.listener.lock:
                new = [r for r in self.listener.events if r not in before]
                if len(new) == 1 and new[0] in self.listener.done:
                    return [dict(e, run=new[0]) for e in self.listener.events[new[0]]]
            time.sleep(0.05)
        return []

    def run_pass(self, measured: bool) -> None:
        self._drain(measured)


WORKLOADS = {
    "medallion": Medallion,
    "analytics": Analytics,
    "corpus_dedup": CorpusDedup,
    "stream_ingest": StreamIngest,
}
