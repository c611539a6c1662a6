"""Tests of the benchmark itself: seeded inputs are reproducible, every
check catches a deliberately corrupted output, and the event-log ledger
agrees with Spark's status tracker.

    python3 -m pytest perfbench/test_bench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(1, HERE)

import checks  # noqa: E402
import gen  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    return all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.fixture(autouse=True)
def small_inputs(monkeypatch):
    monkeypatch.setattr(gen, "MEDALLION_RECORDS", 2000)
    monkeypatch.setattr(gen, "ANALYTICS_ORDERS", 3000)
    monkeypatch.setattr(gen, "CORPUS_DOCS", 300)
    monkeypatch.setattr(gen, "CORPUS_EMBEDDINGS", 100)
    monkeypatch.setattr(gen, "STREAM_BATCHES", 4)
    monkeypatch.setattr(gen, "STREAM_WARMUP_BATCHES", 2)


@pytest.mark.parametrize("workload", sorted(gen.MAKERS))
def test_same_seed_same_bytes(tmp_path, workload):
    _, fa = gen.generate(workload, 11, str(tmp_path / "a"))
    _, fb = gen.generate(workload, 11, str(tmp_path / "b"))
    _, fc = gen.generate(workload, 12, str(tmp_path / "c"))
    assert fa == fb
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_medallion_input_properties(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "MEDALLION_RECORDS", 10_000)  # the benchmark's size
    inputs, facts = gen.generate("medallion", 3, str(tmp_path))
    recs = gen.load_pages(inputs["pages"])
    ids = [r["id"] for r in recs]
    assert 0.03 < 1 - len(set(ids)) / len(ids) < 0.07  # re-delivered ids
    assert facts["silver_min"] < facts["silver_max"] <= facts["distinct_ids"]
    hot = sum(r["state"] is not None and r["state"].strip().lower() == facts["hot_state"]
              for r in recs)
    assert 0.25 < hot / len(recs) < 0.35


def test_compare_frames_catches_corruption():
    want = pd.DataFrame({"k": ["a", "b", "c"], "v": [1.5, 2.0, 0.1 + 0.2]})
    assert checks.compare_frames(want.iloc[::-1].reset_index(drop=True), want) == []
    bumped = want.copy()
    bumped.loc[2, "v"] = 0.3  # differs from 0.1 + 0.2 in the last bit
    assert checks.compare_frames(bumped, want)
    assert checks.compare_frames(want.iloc[:2], want)
    assert checks.compare_frames(want.rename(columns={"v": "w"}), want)


def test_bucket_and_stream_checks_catch_corruption():
    groups = [[1, 5], [2, 7, 9]]
    assert checks.check_buckets([1, 2, 3], groups) == []
    assert checks.check_buckets([1, 2, 3, 9], groups)
    assert checks.check_buckets([1, 1, 2], groups)
    want = [0, 1, 4]
    assert checks.check_stream([4, 0, 1], want) == []
    assert checks.check_stream([0, 1, 4, 6], want)  # a re-delivery let through
    assert checks.check_stream([0, 1], want)


# ---------------------------------------------------------------------------
# with a Spark session
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("work"))
    host = run.host_settings()
    host["driver_heap_mb"] = 1024
    spark = run.start_session(host, work, trace=True)
    yield spark, os.path.join(work, "events"), host["cores"]
    run.stop_session(spark)


def test_medallion_check_catches_corruption(session, tmp_path):
    import workloads
    from ledger import Tracer

    spark, _, cores = session
    inputs, facts = gen.generate("medallion", 5, str(tmp_path / "in"))
    wl = workloads.Medallion(spark, Tracer(False, "t"), inputs, facts, str(tmp_path), cores)
    wl.prepare()
    wl.run_pass(measured=True)
    wl.finish()
    assert wl.failed == 0, wl.problems
    out = wl.last_outputs

    silver = out["silver"]
    part = next(d for d in sorted(os.listdir(silver)) if d.startswith("state="))
    src = next(f for f in os.listdir(os.path.join(silver, part)) if f.endswith(".parquet"))
    dup = os.path.join(silver, part, "dup-" + src)
    with open(os.path.join(silver, part, src), "rb") as a, open(dup, "wb") as b:
        b.write(a.read())
    assert any("not unique" in p for p in checks.check_medallion(out, facts, wl.stages))
    os.remove(dup)

    with open(out["report"]) as f:
        report = json.load(f)
    report[0]["invalid_count"] += 1
    with open(out["report"], "w") as f:
        json.dump(report, f)
    assert any("report rule" in p for p in checks.check_medallion(out, facts, wl.stages))


@pytest.mark.parametrize("query", ["q_pricing_summary", "q_corpus_funnel"])
def test_ledger_matches_status_tracker(session, tmp_path, query):
    from breweries_data_pipeline_spark.queries import queries
    from ledger import Tracer, find_event_log, wait_for_jobs

    spark, events, cores = session
    workload = "analytics" if query == "q_pricing_summary" else "corpus_dedup"
    inputs, _ = gen.generate(workload, 1, str(tmp_path))
    tracer = Tracer(True, f"ledger-{query}", spark)
    with tracer.span(f"queries.{query}") as span:
        queries()[query](spark, inputs["sf_dir"]).write.format("noop").mode("overwrite").save()
    st = spark.sparkContext.statusTracker()
    job_ids = set(st.getJobIdsForGroup(tracer.group_id(span)))
    assert job_ids
    log = wait_for_jobs(events, job_ids)
    mine = [j for j in log.jobs.values() if j.group == tracer.group_id(span)]
    ledger = log.ledger(mine, span.wall, cores)
    assert ledger["jobs"] == len(job_ids)
    stage_ids = {s for j in job_ids for s in st.getJobInfo(j).stageIds}
    infos = [st.getStageInfo(s) for s in stage_ids]
    completed = sum(i.numCompletedTasks for i in infos if i is not None)
    ran = [s for j in mine for s in j.stages if s in log.stage_tasks]
    assert ledger["tasks"] == completed == sum(log.stage_tasks[s] for s in ran)
    assert ledger["task_s"] >= ledger["cpu_s"] > 0
    assert find_event_log(events)
