"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed under ``.bench_work/``, starts one Spark session on
``local[<cores>]`` sized from the host it runs on, runs one warm-up pass (counted
in ``setup_s``), then measured passes in a closed loop with one client
until ``--seconds`` of measured time have passed, then checks every
output. All scratch files (Spark local dirs, event log, outputs) stay
under ``.bench_work/`` and are removed at exit; the spans of a traced
run are kept in ``.bench_work/traces/``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run writes a Spark event log, records a span and a
job group around every layer call, and the last line carries the
per-layer metrics. The line before it is a report with the host
settings, sample counts and the metrics under their per-workload names.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
STAGES = ("ingest", "transform", "aggregate", "quality")
QUERY_FIELDS = ("driver_s", "jobs", "stages", "tasks", "utilization", "task_s", "cpu_s",
                "offcpu_s", "gc_s", "shuffle_write_bytes", "shuffle_records",
                "spill_bytes", "output_bytes", "task_skew")
STREAM_PHASES = ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset")
PER_LAYER = (
    ["session.start_s", "session.warmup_s"]
    + [f"pipeline.{s}.{m}" for s in STAGES for m in ("self_s", "jobs", "tasks", "task_skew")]
    + ["pipeline.gc_s", "pipeline.output_bytes",
       "sources.fetch_wait_s", "sources.files_written", "sources.bytes_written",
       "sources.write_amp"]
    + [f"queries.{m}" for m in QUERY_FIELDS]
    + ["cache.persisted", "cache.block_bytes"]
    + [f"streaming.{p}_ms" for p in STREAM_PHASES]
    + ["streaming.input_rows", "streaming.growth_x", "streaming.jobs", "streaming.tasks",
       "streaming.gc_s", "trace.op_p50_s", "trace.spans"]
)
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "ops_ok_frac": "ratio",
             "op_p50_s": "s", "op_p90_s": "s", "items_per_s": "1/s"}
UNITS = {"_s": "s", "_ms": "ms", "_bytes": "B", "bytes_written": "B", "_x": "x",
         "utilization": "ratio", "task_skew": "x", "write_amp": "x"}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name; the rest are counts."""
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------


def host_settings() -> dict:
    """Cores from the scheduler affinity (what ``nproc`` prints), Spark
    driver heap as an eighth of the memory the host or its cgroup allows."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem = mem_kb * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            mem = min(mem, int(limit))
    except OSError:
        pass
    heap_mb = max(1024, mem // 8 // 2**20 // 256 * 256)
    return {"cores": cores, "mem_total_mb": mem // 2**20, "driver_heap_mb": heap_mb}


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))


def start_session(host: dict, work: str, trace: bool):
    from breweries_data_pipeline_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{host['driver_heap_mb']}m",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: peak RSS then does not hinge on when G1
        # decides to grow it
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                          f"-Xms{host['driver_heap_mb']}m"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{host['cores']}]",
                      shuffle_partitions=host["cores"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()  # first job: executor and codegen start-up
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def percentile(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    k = (len(xs) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least 10 samples beyond it."""
    if n < 11:
        return None
    return int(100 * (n - 10) / n)


def end_to_end(wl, setup_s: float, peak_rss_mb: float) -> dict:
    lat = wl.latencies
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "ops_ok_frac": 1.0 - wl.failed / max(wl.attempted, 1),
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "op_p90_s": percentile(lat, 0.9) if lat else 0.0,
        "items_per_s": wl.items / wl.busy_s if wl.busy_s > 0 else 0.0,
    }


def workload_view(name: str, wl, e2e: dict, passes: int) -> dict:
    """The end-to-end metrics under their per-workload names."""
    lat, n = wl.latencies, len(wl.latencies)
    tail = tail_percentile(n)
    out = {"samples": n, "passes": passes,
           "ops_failed_frac": wl.failed / max(wl.attempted, 1),
           "tail_percentile": tail,
           "tail_s": percentile(lat, tail / 100) if tail else None}
    if hasattr(wl, "per_query"):
        out["per_query_s"] = wl.per_query
    if name == "medallion":
        out.update(pipeline_s=e2e["op_p50_s"], records_per_s=e2e["items_per_s"],
                   silver_rows=wl.layer_samples.get("silver_rows"))
    elif name == "analytics":
        out.update(query_p50_s=e2e["op_p50_s"], query_p90_s=e2e["op_p90_s"],
                   queries_per_s=e2e["items_per_s"])
    elif name == "corpus_dedup":
        out.update(corpus_pass_s=e2e["op_p50_s"], docs_per_s=e2e["items_per_s"])
    else:
        out.update(batch_p50_ms=1000 * e2e["op_p50_s"], batch_p90_ms=1000 * e2e["op_p90_s"],
                   stream_docs_per_s=e2e["items_per_s"])
    return out


def mean(xs) -> float:
    return statistics.mean(xs) if xs else 0.0


def per_layer(wl, tracer, log, measure_from: int, cores: int,
              start_s: float, warmup_s: float) -> dict:
    """Per-layer metrics of the measured passes: per-op means of the
    event-log counters of each layer's spans, plus the samples the
    workload noted."""
    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"], m["session.warmup_s"] = start_s, warmup_s
    spans = tracer.spans[measure_from:]

    def span_ledger(s):
        return log.ledger([j for j in log.jobs.values() if j.group == tracer.group_id(s)],
                          s.wall, cores)

    runs = [s for s in spans if s.name == "pipeline.run"]
    if runs:
        gc = 0.0
        for stage in STAGES:
            ss = [s for s in spans if s.name == f"pipeline.{stage}"]
            ls = [span_ledger(s) for s in ss]
            m[f"pipeline.{stage}.self_s"] = mean([tracer.self_s(s) for s in ss])
            m[f"pipeline.{stage}.jobs"] = mean([x["jobs"] for x in ls])
            m[f"pipeline.{stage}.tasks"] = mean([x["tasks"] for x in ls])
            m[f"pipeline.{stage}.task_skew"] = statistics.median([x["task_skew"] for x in ls])
            gc += sum(x["gc_s"] for x in ls)
            m["pipeline.output_bytes"] += sum(x["output_bytes"] for x in ls) / len(runs)
        m["pipeline.gc_s"] = gc / len(runs)

    qs = [s for s in spans if s.name.startswith("queries.")]
    if qs:
        ls = [span_ledger(s) for s in qs]
        for f in QUERY_FIELDS:
            m[f"queries.{f}"] = mean([x[f] for x in ls])
        m["queries.task_skew"] = statistics.median([x["task_skew"] for x in ls])
        m["queries.utilization"] = (sum(x["task_s"] for x in ls)
                                    / (cores * sum(s.wall for s in qs)))

    batches = [s for s in spans if s.name == "streaming.batch"]
    if batches:
        ls = []
        for b in batches:
            jobs = [j for j in log.jobs.values()
                    if j.group == b.attrs["stream_run"]
                    and j.props.get("streaming.sql.batchId") == str(b.attrs["batch"])]
            ls.append(log.ledger(jobs, b.wall, cores))
        m["streaming.jobs"] = mean([x["jobs"] for x in ls])
        m["streaming.tasks"] = mean([x["tasks"] for x in ls])
        m["streaming.gc_s"] = mean([x["gc_s"] for x in ls])

    for key, xs in wl.layer_samples.items():
        if key not in m:
            continue
        m[key] = statistics.median(xs) if key.endswith(("_ms", "growth_x")) else mean(xs)
    m["trace.op_p50_s"] = statistics.median(wl.latencies) if wl.latencies else 0.0
    m["trace.spans"] = len(tracer.spans)
    return m


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the engine is built from this checkout's source; nothing else
    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(1, HERE)
    try:
        import breweries_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2

    import gen
    from ledger import Tracer, find_event_log, read_event_log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(root, ".bench_work", run_id)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata file under /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    trace = bool(args.trace)
    spark = None
    # SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_begin = time.perf_counter()
    try:
        inputs, facts = gen.generate(args.workload, args.seed, os.path.join(work, "input"))
        host = host_settings()
        tracer = Tracer(trace, run_id)
        wl = WORKLOADS[args.workload](None, tracer, inputs, facts, work, host["cores"])
        wl.prepare()
        prepare_s = time.perf_counter() - t_begin

        t0 = time.perf_counter()
        spark = start_session(host, work, trace)
        start_s = time.perf_counter() - t0
        wl.spark = tracer.spark = spark
        with tracer.span("session.warmup", group=False):
            wl.run_pass(measured=False)
        warmup_s = time.perf_counter() - t0 - start_s

        measure_from = len(tracer.spans)
        t_measure, passes = time.perf_counter(), 0
        while wl.busy_s < args.seconds:
            wl.run_pass(measured=True)
            passes += 1
        measured_s = time.perf_counter() - t_measure
        t_finish = time.perf_counter()
        wl.finish()
        finish_s = time.perf_counter() - t_finish

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0
        host.update(spark=spark.version,
                    java=spark._jvm.java.lang.System.getProperty("java.version"))
        stop_session(spark)
        spark = None

        e2e = end_to_end(wl, start_s + warmup_s, peak_rss_mb)
        report = {"workload": args.workload, "seed": args.seed, "trace": trace, "host": host,
                  "op": wl.op_unit,
                  "timing": {"inputs_and_oracles_s": prepare_s, "start_s": start_s,
                             "warmup_s": warmup_s, "measured_s": measured_s,
                             "busy_s": wl.busy_s,
                             "checks_s": finish_s},
                  "view": workload_view(args.workload, wl, e2e, passes),
                  "problems": wl.problems[:20]}
        if trace:
            log = read_event_log(find_event_log(os.path.join(work, "events")))
            metrics = per_layer(wl, tracer, log, measure_from, host["cores"], start_s, warmup_s)
            traces = os.path.join(root, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{args.workload}-s{args.seed}.spans.jsonl"))
            report["end_to_end_traced"] = e2e
        else:
            metrics = e2e
        print(json.dumps({"report": report}, default=str))
        print(json.dumps({
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": v, "unit": unit_of(k) if trace else E2E_UNITS[k]}
                        for k, v in metrics.items()},
        }))
        return 0
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
