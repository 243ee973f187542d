"""suite_mix: headline suite queries over seeded tiny tables.

Inputs are tiny, so plan build, job scheduling and Python worker
start/init dominate while kernels do little (the fixed-cost question).
Each query is fully materialized through Arrow (every output column
consumed, no stage pruned) and checked against its DuckDB oracle
(``__spark_entry__.oracle_sql_builders()``) on the same tables.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from . import harness as H
from . import kernels
from .tables import write_tables

#: the timed part of ``bench.bench_queries()``: four of the five
#: queries whose Python stage ``count()`` prunes, among them the
#: multi-job llm operators, and one JVM-only query
SUITE = (
    "cellfromlonlat",
    "tpch_pricing_summary",
    "wkt_roundtrip",
    "semdedup",
    "kmeans_clusters",
)

#: the fifth pruned query runs once per run, in the warm-up pass, and is
#: checked but not timed: its latency depends on which Python worker
#: gets its single task (0.7 s when that worker's cache holds the 25
#: rectangles' encodings, 2-5 s when not), which moved the suite median
#: by 20% between runs
CHECKED_ONLY = ("rect_measures",)

#: cell level of the traced run's containment join: the nation
#: rectangles are 55 x 25 degrees, too large for finer fixed levels
JOIN_LEVEL = 4

#: timed passes every run makes, so runs agree on the mix of samples
#: (the first timed pass still runs slower than the next ones)
MIN_PASSES = 3

#: repetitions of input generation inside the set-up figure
GEN_REPS = 3


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Order- and engine-independent form of a result: columns by name,
    floats rounded to 9 digits, objects as strings, timestamps as
    naive UTC strings, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if isinstance(col.dtype, pd.DatetimeTZDtype):
            col = col.dt.tz_convert("UTC").dt.tz_localize(None)
        if col.dtype == object:
            df[c] = col.map(lambda v: str(list(v)) if isinstance(v, np.ndarray) else str(v))
        elif np.issubdtype(col.dtype, np.floating):
            df[c] = col.astype(np.float64).round(9)
        elif np.issubdtype(col.dtype, np.integer) or col.dtype == bool:
            df[c] = col.astype(np.int64)
        elif np.issubdtype(col.dtype, np.datetime64):
            df[c] = col.astype("datetime64[us]").astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def content_hash(df: pd.DataFrame) -> tuple:
    """(row count, column names, order-independent content hash)."""
    n = norm_frame(df)
    h = int(pd.util.hash_pandas_object(n, index=False).sum()) & 0xFFFFFFFFFFFFFFFF
    return len(n), tuple(n.columns), h


def suite_inputs(seed: int):
    """The suite's own geography inputs, Spark-free: customer points
    (synth.cust_lon/cust_lat) and nation rectangles (synth.nation_wkt),
    as (lonlat array, polygon WKT list)."""
    from .tables import ROWS

    k = np.arange(ROWS["customer"], dtype=np.int64)
    lon = (k * 2654435761 % 360000) / 1000.0 - 180.0
    lat = (k * 40503 % 180000) / 1000.0 - 90.0
    polys = []
    for n in range(ROWS["nation"]):
        x0, y0 = (n % 6) * 60.0 - 180.0, (n // 6) * 30.0 - 60.0
        x1, y1 = x0 + 55.0, y0 + 25.0
        polys.append(
            f"POLYGON (({x0:.0f} {y0:.0f}, {x1:.0f} {y0:.0f}, {x1:.0f} {y1:.0f}, "
            f"{x0:.0f} {y1:.0f}, {x0:.0f} {y0:.0f}))"
        )
    return np.column_stack([lon, lat]), polys


def suite_joins(spark, pts, polys, tracer) -> dict:
    """The joins layer on the suite's own geographies: customer points
    in nation rectangles through joins.cell_containment_join."""
    import pandas as pd

    from duckdb_geography_spark.functions import cells as C
    from duckdb_geography_spark.functions.io import s2_geogfromtext

    from .points_in_polygons import join_counts

    p = spark.createDataFrame(pd.DataFrame({"lon": pts[:, 0], "lat": pts[:, 1]}))
    p = p.select(C.s2_cellfromlonlat("lon", "lat").alias("cell"))
    r = spark.createDataFrame(pd.DataFrame({"wkt": polys})).select(s2_geogfromtext("wkt").alias("geog"))
    return join_counts(p, r, JOIN_LEVEL, tracer)


def run(ctx) -> dict:
    import duckdb

    import __spark_entry__ as e

    spark, tracer = ctx.spark, ctx.tracer
    sf = os.path.join(ctx.work, "tables")
    # -- set-up: input generation (repeated, median) + warm-up ----------
    gen = []
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        input_bytes = write_tables(ctx.seed, sf)
        gen.append(time.perf_counter() - t0)
    # oracle builders read driver-side samples from the same tables
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf
    qs = e.queries()
    plan_nodes, under_count = {}, {}

    def run_query(qid: str, name: str) -> H.Op:
        op = H.Op(spark, tracer, qid, name)
        try:
            tb = op.run(lambda: qs[name](spark, sf), lambda df: df.toArrow())
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, the run goes on
            op.error = f"{type(exc).__name__}: {exc}"[:300]
            return op
        op.error = None
        op.rows = tb.num_rows
        op.digest = content_hash(tb.to_pandas())
        if name not in plan_nodes:
            plan_nodes[name] = H.plan_python_nodes(op.obj)
            under_count[name] = H.python_nodes(
                op.obj.groupBy().count()._jdf.queryExecution().sparkPlan().toString())
        return op

    # warm-up: one untimed, checked pass starts the Python workers and
    # compiles the JVM paths
    t0 = time.perf_counter()
    warm_ops = [run_query(f"w{i}", name) for i, name in enumerate(SUITE + CHECKED_ONLY)]
    warm = time.perf_counter() - t0

    # -- timed closed loop: whole passes over the suite in order, at
    #    least MIN_PASSES; one more only if it would still end within
    #    --seconds
    ops, passes = [], []
    with H.RssSampler(ctx.pids) as rss:
        loop0 = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - loop0 + passes[-1] <= ctx.seconds:
            p0 = time.perf_counter()
            ops.extend(run_query(f"q{len(ops)}", name) for name in SUITE)
            passes.append(time.perf_counter() - p0)
        loop_s = time.perf_counter() - loop0

    # -- verification: DuckDB oracle on the same tables ------------------
    con = duckdb.connect()
    for t in e.TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{sf}/{t}.parquet'")
    builders = e.oracle_sql_builders()
    want = {}
    for name in SUITE + CHECKED_ONLY:
        try:
            want[name] = content_hash(con.sql(builders[name]()).df())
        except Exception as exc:  # noqa: BLE001 - an oracle failure fails the query, not the run
            want[name] = ("oracle error", str(exc)[:200])
    con.close()
    failures = []
    for op in warm_ops + ops:
        if op.error:
            failures.append(f"{op.name}: {op.error}")
        elif op.digest != want[op.name]:
            failures.append(f"{op.name}: output differs from oracle (rows {op.digest[0]} vs {want[op.name][0]})")
        else:
            planned, executed = plan_nodes[op.name]
            if executed != planned:
                failures.append(f"{op.name}: executed {executed} of {planned} Python nodes")
            else:
                continue
        op.failed = True
    good = [op for op in ops if not getattr(op, "failed", False)]
    walls = [op.wall_s for op in good]
    rows = sum(op.rows for op in good)
    out = {
        "setup_parts": {"input_gen_s": H.median(gen), "warmup_s": warm},
        "attempted": len(warm_ops) + len(ops),
        "failed": len(failures),
        "failures": failures,
        "loop_s": loop_s,
        "peak_rss_mb": rss.peak_mb,
        "query_walls": walls,
        "e2e": {
            "suite_pass_s": (H.median(passes), "s"),
            "rows_per_s": (rows / sum(walls) if walls else 0.0, "rows/s"),
        },
        "info": {
            "passes": len(passes),
            "setup_parts": {"input_gen_s": H.median(gen), "warmup_s": warm},
            "pass_walls": [round(x, 3) for x in passes],
            "walls": {n: [round(o.wall_s, 3) for o in good if o.name == n] for n in SUITE},
            "suite": list(SUITE),
            "warm_up_walls": {o.name: round(o.wall_s, 3) for o in warm_ops if not o.error},
            "input_bytes": input_bytes,
            "python_nodes": {k: {"planned": p, "executed": x, "under_count": under_count[k]}
                             for k, (p, x) in plan_nodes.items()},
            # the queries whose Python stage a count() action would skip
            "pruned_under_count": sorted(k for k, (p, _) in plan_nodes.items() if under_count[k] < p),
        },
    }
    if ctx.trace:
        layers = H.median_layers(H.layer_breakdown(good, ctx.rest_snapshot(), tracer))
        pts, polys = suite_inputs(ctx.seed)
        layers.update(suite_joins(spark, pts, polys, tracer))
        with tracer.span("kernels.replay"):
            layers.update(kernels.replay(pts, polys, [], ctx.seed, level=JOIN_LEVEL))
        out["layers"] = layers
    return out
