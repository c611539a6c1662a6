"""Correctness checks, independent of the engine.

Query outputs are compared with the registry's DuckDB oracle SQL run on
the same generated files; medallion, stream and bucket outputs are read
back with pyarrow and checked against facts the generator emitted.
Every check returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import json
import math
import os

import duckdb
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings")


def run_oracles(sf_dir: str, sql: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Run each oracle query on DuckDB over ``sf_dir``'s parquet files."""
    con = duckdb.connect()
    try:
        for t in ORACLE_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {name: con.sql(q).df() for name, q in sql.items()}
    finally:
        con.close()


def _canon(v) -> str:
    if v is None or v is pd.NaT or v is pd.NA or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)  # bit-exact, as the registry's oracles are written for
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    return sorted(tuple(_canon(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Same column names, row count and order-insensitive values."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns differ: got={sorted(got.columns)} want={sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row counts differ: got={len(got)} want={len(want)}"]
    a, b = canonical_rows(got), canonical_rows(want)
    if a != b:
        sa, sb = set(a), set(b)
        return [f"values differ; got-only={sorted(sa - sb)[:3]}; want-only={sorted(sb - sa)[:3]}"]
    return []


def check_buckets(survivors: list[int], dup_groups: list[list[int]]) -> list[str]:
    """Rows-only MinHash bucket dedup: every injected exact-duplicate
    pair shares a bucket, so at most one member of each exact group
    survives."""
    alive = set(survivors)
    bad = [g for g in dup_groups if sum(i in alive for i in g) > 1]
    if len(alive) != len(survivors):
        return ["duplicate doc_id in output"]
    return [f"{len(bad)} exact-duplicate groups kept >1 member, e.g. {bad[0]}"] if bad else []


def check_stream(accepted: list[int], want: list[int]) -> list[str]:
    """The store holds exactly the smallest doc_id per fingerprint."""
    got = sorted(accepted)
    if got == want:
        return []
    extra, missing = set(got) - set(want), set(want) - set(got)
    return [f"accepted ids differ: {len(got)} vs {len(want)}; "
            f"extra={sorted(extra)[:3]} missing={sorted(missing)[:3]}"]


def _read_dir(path: str) -> pd.DataFrame:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def check_medallion(outputs: dict, facts: dict, stages: dict) -> list[str]:
    """Silver: ids unique, required columns non-null, strings trimmed and
    lower-case, row count within [ids whose every copy is valid, ids
    with any valid copy]. Gold: each view equals a group-by count of
    silver. Report: exactly the configured rules, with the invalid
    counts gold actually has."""
    problems = []
    silver = _read_dir(outputs["silver"])
    silver["state"] = silver["state"].astype(str)
    n = len(silver)
    if silver["id"].duplicated().any():
        problems.append("silver ids not unique")
    nulls = {c: int(silver[c].isna().sum()) for c in facts["required"]}
    if any(nulls.values()) or (silver["state"] == "__HIVE_DEFAULT_PARTITION__").any():
        problems.append(f"nulls in required silver columns: {nulls}")
    if not facts["silver_min"] <= n <= facts["silver_max"]:
        problems.append(f"silver rows {n} outside [{facts['silver_min']}, {facts['silver_max']}]")
    for c in ("name", "brewery_type", "city", "state", "country"):
        s = silver[c].dropna()
        if not (s == s.str.strip().str.lower()).all():
            problems.append(f"silver column {c} not normalized")
    if silver["latitude"].dtype.kind != "f" or silver["latitude"].isna().any():
        problems.append("silver latitude not cast to double")
    if (silver["state"] == facts["hot_state"]).sum() < 0.2 * n:
        problems.append("hot state partition missing or too small")

    gold = pq.read_table(outputs["gold"]).to_pandas()
    for view in stages["aggregate_gold"].parameters["aggregations"]:
        keys = view["group_by"]
        got = gold[gold["aggregation"] == view["name"]][keys + ["brewery_count"]]
        want = silver.groupby(keys).size().reset_index(name="brewery_count")
        if compare_frames(got.reset_index(drop=True), want):
            problems.append(f"gold view {view['name']} differs from silver group-by")
        if got["brewery_count"].sum() != n:
            problems.append(f"gold view {view['name']} sums to {got['brewery_count'].sum()}, not {n}")

    with open(outputs["report"]) as f:
        report = json.load(f)
    rules = stages["validate_gold_quality"].quality_rules
    want_rules = sorted((r["rule"], r["type"], r["column"]) for r in rules)
    got_rules = sorted((r["rule_name"], r["rule"], r["column"]) for r in report)
    if got_rules != want_rules:
        problems.append(f"report rules {got_rules} != configured {want_rules}")
    views = {v["name"] for v in stages["aggregate_gold"].parameters["aggregations"]}
    expect_invalid = {
        "greater_than_zero": int((gold["brewery_count"] <= 0).sum()),
        "not_null": None,
        "in_set": int((~gold["aggregation"].isin(views)).sum()),
    }
    for r in report:
        want = expect_invalid.get(r["rule"])
        if want is None:
            want = int(gold[r["column"]].isna().sum())
        if r["invalid_count"] != want or r["passed"] != (want == 0):
            problems.append(f"report rule {r['rule_name']}: {r['invalid_count']} invalid, expected {want}")
    return problems
