"""Gold views (reference U1 + A4): ``gold_views`` computes every declared
view in one grouping-sets aggregate, and must return exactly what a
per-view ``groupBy().agg()`` stacked with
``unionByName(allowMissingColumns=True)`` returns — same schema, same
column order, same rows — and the gold stage must scan its input once.
"""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from breweries_data_pipeline_spark import pipeline
from breweries_data_pipeline_spark.operators.aggregate import gold_views
from breweries_data_pipeline_spark.pipeline import (
    PathResolver,
    load_pipeline_config,
    run_aggregate_stage,
)
from breweries_data_pipeline_spark.queries import REGISTRY

STAMP = "2025-01-01"

ROWS = [
    ("tx", "micro", "austin", "us", 3),
    ("tx", "micro", "dallas", "us", 5),
    ("tx", "nano", "austin", "us", 1),
    ("tx", None, None, "us", 2),
    ("or", "micro", "portland", "us", 7),
    ("or", "brewpub", "portland", "us", None),
    (None, "micro", "bend", "us", 4),
    (None, None, None, "ie", 6),
    ("co", "regional", "denver", None, 9),
]
SCHEMA = "state string, brewery_type string, city string, country string, n int"


def _count(name="brewery_count"):
    return [{"name": name, "expr": "count(*)"}]


MEDALLION = [
    {"name": "by_state", "group_by": ["state"], "metrics": _count()},
    {"name": "by_type", "group_by": ["brewery_type"], "metrics": _count()},
    {"name": "by_country", "group_by": ["country"], "metrics": _count()},
    {"name": "by_state_type", "group_by": ["state", "brewery_type"], "metrics": _count()},
]

CASES = {
    "medallion": MEDALLION,
    # the same key set, in both orders, with different metrics
    "duplicate_key_sets": [
        {"name": "st_count", "group_by": ["state", "brewery_type"], "metrics": _count("n_rows")},
        {"name": "ts_sum", "group_by": ["brewery_type", "state"],
         "metrics": [{"name": "total", "expr": "sum(n)"}]},
        {"name": "s_max", "group_by": ["state"],
         "metrics": [{"name": "top_city", "expr": "max(city)"}]},
        {"name": "s_count", "group_by": ["state"], "metrics": _count("n_rows")},
    ],
    # one metric name, three expressions and two types across views
    "shared_metric_name": [
        {"name": "a", "group_by": ["state"], "metrics": [{"name": "v", "expr": "count(*)"}]},
        {"name": "b", "group_by": ["brewery_type"], "metrics": [{"name": "v", "expr": "sum(n)"}]},
        {"name": "c", "group_by": ["country"], "metrics": [{"name": "v", "expr": "avg(n)"}]},
    ],
    "count_distinct": [
        {"name": "cities", "group_by": ["state"],
         "metrics": [{"name": "n_cities", "expr": "count(distinct city)"},
                     {"name": "n_rows", "expr": "count(*)"}]},
        {"name": "types", "group_by": ["country"],
         "metrics": [{"name": "n_types", "expr": "count(DISTINCT brewery_type)"}]},
    ],
    "global_view": [
        {"name": "all", "group_by": [],
         "metrics": [{"name": "n_rows", "expr": "count(*)"},
                     {"name": "total", "expr": "sum(n)"}]},
        *MEDALLION[:2],
        {"name": "all_cities", "group_by": [],
         "metrics": [{"name": "n_cities", "expr": "count(distinct city)"}]},
    ],
    "only_global": [
        {"name": "all", "group_by": [], "metrics": _count("n_rows")},
    ],
}


def _union_reference(df, specs, stamp_value):
    """The per-view form ``gold_views`` replaces: one aggregate per view,
    tagged, stacked with unionByName(allowMissingColumns=True)."""
    out = None
    for s in specs:
        aggs = [F.expr(m["expr"]).alias(m["name"]) for m in s["metrics"]]
        view = df.groupBy(*s["group_by"]).agg(*aggs) if s["group_by"] else df.agg(*aggs)
        view = view.withColumn("aggregation", F.lit(s["name"]))
        out = view if out is None else out.unionByName(view, allowMissingColumns=True)
    if stamp_value is not None:
        out = out.withColumn("transformation_date", F.lit(stamp_value))
    return out


def _assert_same(got, want):
    assert got.columns == want.columns
    assert got.schema == want.schema
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))


@pytest.mark.parametrize("case", sorted(CASES))
def test_gold_views_matches_per_view_union(spark, case):
    df = spark.createDataFrame(ROWS, SCHEMA)
    specs = CASES[case]
    _assert_same(gold_views(df, specs, stamp_value=STAMP), _union_reference(df, specs, STAMP))


@pytest.mark.parametrize("case", ["medallion", "global_view", "only_global"])
def test_gold_views_empty_input(spark, case):
    # the () grouping set yields no row over empty input; a global view
    # must still give its one row, as df.agg does
    df = spark.createDataFrame([], SCHEMA)
    specs = CASES[case]
    got = gold_views(df, specs, stamp_value=STAMP)
    _assert_same(got, _union_reference(df, specs, STAMP))
    n_global = sum(1 for s in specs if not s["group_by"])
    assert got.count() == n_global


def test_gold_views_without_stamp(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = gold_views(df, MEDALLION)
    assert "transformation_date" not in got.columns
    _assert_same(got, _union_reference(df, MEDALLION, None))


def test_gold_views_null_keys_keep_their_view(spark):
    # a null state in by_state is a group of its own, not a by_type row
    df = spark.createDataFrame(ROWS, SCHEMA)
    rows = gold_views(df, MEDALLION).collect()
    by_state = {r.state: r.brewery_count for r in rows if r.aggregation == "by_state"}
    assert by_state == {"tx": 4, "or": 2, None: 2, "co": 1}
    assert sum(r.brewery_count for r in rows if r.aggregation == "by_state_type") == len(ROWS)


def test_gold_stage_one_scan_one_shuffle(spark, tmp_path, monkeypatch):
    """The gold stage over a state-partitioned silver dir plans ONE parquet
    scan and ONE shuffle for four views (the per-view union planned four
    of each)."""
    silver = str(tmp_path / "silver")
    spark.createDataFrame(ROWS, SCHEMA).write.partitionBy("state").parquet(silver)

    cfg = load_pipeline_config("perfbench/config/breweries_pipeline.yml")
    stage = next(s for s in cfg.stages if s.kind == "aggregate")
    assert [v["name"] for v in stage.parameters["aggregations"]] == [
        "by_state", "by_type", "by_country", "by_state_type",
    ]
    plans = []
    write = pipeline.write_parquet

    def capture(df, path, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write(df, path, **kw)

    monkeypatch.setattr(pipeline, "write_parquet", capture)
    paths = PathResolver({"ds": STAMP, "base": str(tmp_path)}, {})
    paths.overrides[paths.resolve(stage.parameters["input_path"])] = silver
    res = run_aggregate_stage(spark, stage, paths)

    (plan,) = plans
    assert plan.count("FileScan parquet") == 1
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1
    assert len(re.findall(r"\bExchange\b", plan)) == 1
    assert "Expand" in plan
    assert res["rows"] == spark.read.parquet(res["output_path"]).count()


def test_gold_union_query_scans_orders_once(spark, sf_dir):
    df = REGISTRY["q_gold_union"][0](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
