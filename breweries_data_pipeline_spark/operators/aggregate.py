"""Aggregation operators (SURVEY.md §2.4 A1-A5, §2.5 U1).

``declarative_aggregate`` implements the reference's *declared* config
contract (configs/breweries_gold_pipeline.yml:41-51 — group_by list +
named metric exprs) which the reference's code never actually honours
(it hard-codes three groupBy-counts instead). ``gold_views`` produces
the reference's distinctive Gold output shape: heterogeneous aggregate
views stacked long-format with a discriminator column and
missing-columns-as-nulls (breweries_aggregate_gold_notebook.py:37-60).

Scale notes: groupBy compiles to partial (map-side) + final hash
aggregation — the shuffle moves only group keys × partial states, not
rows. The reference builds its Gold table as N groupBys unioned, which
scans and shuffles the input once per view. ``gold_views`` compiles all
views into ONE grouping-sets aggregate instead — one scan, one Expand,
one partial aggregate, one shuffle — whatever the views' keys: the
grouping keys are the union of every view's keys, and each output row
is routed to its view(s) by ``grouping_id()``. Expand multiplies the
rows entering the partial aggregate by the number of distinct key sets,
which the map-side combine reduces before the shuffle.
"""

from __future__ import annotations

from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def grouped_count(
    df: DataFrame, keys: list[str], count_name: str = "total_count"
) -> DataFrame:
    """Group-by count (reference A1-A3,
    breweries_aggregate_gold_notebook.py:37-53)."""
    return df.groupBy(*keys).agg(F.count("*").alias(count_name))


def declarative_aggregate(
    df: DataFrame,
    group_by: list[str],
    metrics: list[dict[str, str]],
) -> DataFrame:
    """Compile a declarative aggregation spec to groupBy().agg().

    ``metrics``: ``[{name: ..., expr: "count(*)"}, ...]`` — SQL
    expressions compiled with F.expr so they run JVM-side inside the
    hash aggregate (reference A4 contract,
    configs/breweries_gold_pipeline.yml:41-51).
    """
    aggs = [F.expr(m["expr"]).alias(m["name"]) for m in metrics]
    if not aggs:
        raise ValueError("declarative aggregate requires at least one metric")
    if group_by:
        return df.groupBy(*group_by).agg(*aggs)
    return df.agg(*aggs)


def gold_views(
    df: DataFrame,
    specs: list[dict[str, Any]],
    *,
    tag_column: str = "aggregation",
    stamp_column: str | None = "transformation_date",
    stamp_value: Any | None = None,
) -> DataFrame:
    """Compute declared aggregate views and stack them long-format
    (reference U1 + P2/P3) in ONE grouping-sets aggregate over one scan.

    ``specs``: ``[{name, group_by: [...], metrics: [{name, expr}]}]``.
    The result equals ``declarative_aggregate`` per view, each tagged
    with a literal ``tag_column`` naming it, combined with
    ``unionByName(allowMissingColumns=True)`` and stamped with a literal
    ``stamp_column`` when ``stamp_value`` is given (injected, not
    ``date.today()``): same columns in the same order — first view's
    keys, metrics and tag, then each later view's new columns, then the
    stamp — with typed nulls where a view lacks a column.

    A view's rows are selected by ``grouping_id()``, not by key
    nullness, so null key values stay in their own groups. Views with an
    empty ``group_by`` are computed with ``df.agg`` and unioned on: the
    empty grouping set yields no row over empty input, a global
    aggregate yields one.
    """
    if not specs:
        raise ValueError("gold_views requires at least one view")
    if any(not s["metrics"] for s in specs):
        raise ValueError("declarative aggregate requires at least one metric")
    # one aggregate column per distinct (name, expr), shared by the views
    # that declare it
    metric_cols: dict[tuple[str, str], str] = {}
    for s in specs:
        for m in s["metrics"]:
            metric_cols.setdefault((m["name"], m["expr"]), f"__m{len(metric_cols)}")
    stamped = stamp_column is not None and stamp_value is not None
    columns = list(dict.fromkeys([
        *(c
          for s in specs
          for c in [*s.get("group_by", []), *(m["name"] for m in s["metrics"]), tag_column]),
        *([stamp_column] if stamped else []),
    ]))

    def view_columns(spec: dict[str, Any]) -> list[Column]:
        have = {k: F.col(k) for k in spec.get("group_by", [])}
        have.update(
            (m["name"], F.col(metric_cols[(m["name"], m["expr"])]))
            for m in spec["metrics"]
        )
        have[tag_column] = F.lit(spec["name"])
        if stamped:
            have[stamp_column] = F.lit(stamp_value)
        return [have.get(c, F.lit(None)).alias(c) for c in columns]

    def aggregates(views: list[dict[str, Any]]) -> list[Column]:
        exprs = {metric_cols[(m["name"], m["expr"])]: m["expr"]
                 for s in views for m in s["metrics"]}
        return [F.expr(e).alias(c) for c, e in exprs.items()]

    parts = []
    grouped = [s for s in specs if s.get("group_by")]
    if grouped:
        keys = list(dict.fromkeys(k for s in grouped for k in s["group_by"]))

        def gid(spec: dict[str, Any]) -> int:
            # grouping_id(): bit (n-1-i) is set when keys[i] is NOT grouped
            return sum(1 << (len(keys) - 1 - i)
                       for i, k in enumerate(keys) if k not in spec["group_by"])

        sets = list(dict.fromkeys(
            tuple(k for k in keys if k in s["group_by"]) for s in grouped
        ))
        agg = df.groupingSets([list(ks) for ks in sets], *keys).agg(
            *aggregates(grouped), F.grouping_id().alias("__gid")
        )
        view_gids = F.array(*[F.lit(gid(s)) for s in grouped])
        rows = F.array(*[F.struct(*view_columns(s)) for s in grouped])
        # a non-null array keeps each field's own nullability through inline
        parts.append(agg.select(F.inline(
            F.filter(rows, lambda _, i: view_gids[i] == F.col("__gid"))
        )))
    parts += [
        df.agg(*aggregates([s])).select(*view_columns(s))
        for s in specs
        if not s.get("group_by")
    ]
    return reduce(DataFrame.union, parts)


def mode_agg(df: DataFrame, keys: list[str], value_col: str, out: str = "mode") -> DataFrame:
    """Deterministic MODE (most frequent value, lexicographic
    tie-break) per key group — the engine's custom-aggregation surface
    in its SCALE form: a JVM-side partial ``groupBy(keys,
    value).count()`` (map-side combine, whole-stage codegen) reduces
    the input to one row per distinct (key, value) pair, the pairs are
    hash-repartitioned by key, and one ``mapInPandas`` pass does a
    fully VECTORIZED partition-local argmax (sort by count desc /
    value asc, ``drop_duplicates`` per key) — zero per-group
    JVM<->Python round-trips.

    Why not a grouped-agg pandas UDF (``mode_agg_grouped`` below)?
    Measured on this engine, ``AggregateInPandasExec`` ships ONE Arrow
    batch per GROUP — ~0.7 ms of round-trip per group regardless of
    group size, so wall time scales with the NUMBER OF KEYS (1500
    users -> ~1.3 s; 15k users -> ~10 s). This form's Python cost is
    one Arrow stream per partition with pandas-vectorized work inside,
    so it scales with distinct (key, value) pairs / parallelism.
    Memory is bounded by distinct pairs per partition (post-reduction,
    not raw rows) — skew-proof by construction.

    Null semantics (identical to the grouped form): null values never
    win; a key whose values are ALL null still appears with a null
    mode. The same result is expressible as count + row_number (zero
    Python); this surface exists for aggregates that DON'T reduce to
    SQL (weighted medians, sketches over ordered values)."""
    import pandas as pd

    counts = df.groupBy(*keys, value_col).agg(F.count("*").alias("__mode_n"))
    parts = counts.repartition(*[F.col(k) for k in keys])
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.select(*keys).schema.fields
    )
    schema = f"{out_fields}, `{out}` string"
    klist = list(keys)

    def _finalize(batches):
        chunks = list(batches)  # bounded: distinct (key,value) pairs here
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        nn = pdf[pdf[value_col].notna()].sort_values(
            ["__mode_n", value_col], ascending=[False, True], kind="stable"
        )
        winners = nn.drop_duplicates(subset=klist, keep="first")[
            klist + [value_col]
        ].rename(columns={value_col: out})
        all_keys = pdf[klist].drop_duplicates()
        yield all_keys.merge(winners, on=klist, how="left")

    return parts.mapInPandas(_finalize, schema)


def mode_agg_grouped(
    df: DataFrame, keys: list[str], value_col: str, out: str = "mode"
) -> DataFrame:
    """MODE via a grouped-agg pandas UDF — the literal
    ``AggregateInPandasExec`` surface, kept for parity-testing that
    executor path. Two-level: JVM partial count first, so the UDAF's
    Arrow transfer is bounded by value cardinality per key, not row
    count. CAUTION at scale: Spark ships one Arrow batch per GROUP
    here (~0.7 ms/group measured), so wall time grows with the number
    of keys — prefer ``mode_agg`` (mapInPandas finalize) on high-
    cardinality keys."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    counts = df.groupBy(*keys, value_col).agg(F.count("*").alias("__mode_n"))

    def _argmax(v, n):
        # numpy, not pandas, inside the per-GROUP kernel: this runs
        # once per key, so fixed per-call pandas overhead (mask
        # Series, boolean indexing, .max() dispatch) dominates wall
        # time at high key cardinality — the structural per-group
        # Arrow round-trip is the cost this surface demonstrates; the
        # kernel shouldn't add to it
        vv = v.to_numpy()
        nn = n.to_numpy()
        mask = ~pd.isna(vv)
        vv, nn = vv[mask], nn[mask]
        if vv.size == 0:
            return None
        top = vv[nn == nn.max()]
        return min(top)

    _argmax.__annotations__ = {"v": pd.Series, "n": pd.Series, "return": str}
    return counts.groupBy(*keys).agg(
        pandas_udf("string")(_argmax)(F.col(value_col), F.col("__mode_n")).alias(out)
    )
