"""Self-tests of the benchmark's own arithmetic and references.

    python3 -m pytest perfbench -q

The last test starts a local Spark session (about a minute)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import geogen as G  # noqa: E402
from perfbench import harness as H  # noqa: E402


# -- percentiles --------------------------------------------------------------


@pytest.mark.parametrize(
    "n, level",
    [(19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, level):
    xs = list(range(1, n + 1))
    got = H.tail_percentile(xs)
    assert (got[0] if got else None) == level
    if got:
        beyond = sum(1 for x in xs if x > got[1])
        assert beyond >= 10


def test_percentile_nearest_rank():
    xs = [5, 1, 4, 2, 3, 6, 7, 8, 9, 10]
    assert H.percentile(xs, 90) == 9
    assert H.percentile(xs, 50) == 5
    assert H.percentile(xs, 100) == 10


# -- spans ---------------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    # children overlap (1-3, 2-5) and one sticks out of the parent (8-12)
    assert H.self_time(0.0, 10.0, [(1, 3), (2, 5), (8, 12)]) == pytest.approx(4.0)
    assert H.self_time(0.0, 10.0, []) == pytest.approx(10.0)
    assert H.self_time(0.0, 10.0, [(11, 12)]) == pytest.approx(10.0)


def test_tracer_tree_self_time():
    t = H.Tracer(True)
    q = t.add("query", 0.0, 10.0)
    b = t.add("plan.build", 0.0, 2.0, q)
    a = t.add("action", 2.0, 10.0, q)
    t.add("spark.job", 1.0, 1.5, b)
    t.add("spark.job", 3.0, 9.0, a)
    assert t.self_time(q) == pytest.approx(0.0)
    assert t.self_time(b) == pytest.approx(1.5)
    assert t.self_time(a) == pytest.approx(2.0)
    assert H.Tracer(False).add("x", 0, 1) is None
    with t.span("kernels.replay") as sid:
        pass
    assert t.spans[sid]["end"] >= t.spans[sid]["start"] > 0


# -- failed_frac ---------------------------------------------------------------


def test_failed_frac():
    assert H.failed_frac(10, 2) == pytest.approx(0.2)
    assert H.failed_frac(7, 0) == 0.0
    with pytest.raises(ValueError):
        H.failed_frac(0, 0)


# -- REST aggregation by job group ---------------------------------------------


def _snapshot():
    t = "2026-01-01T00:00:0{}.000GMT"
    jobs = [
        {"jobId": 0, "jobGroup": "q0", "stageIds": [0, 1], "submissionTime": t.format(0), "completionTime": t.format(2)},
        {"jobId": 1, "jobGroup": "q0", "stageIds": [2], "submissionTime": t.format(3), "completionTime": t.format(4)},
        {"jobId": 2, "jobGroup": "q1", "stageIds": [3], "submissionTime": t.format(5), "completionTime": t.format(6)},
    ]

    def stage(i, status="COMPLETE", run=100, cpu=50_000_000, shuffle=10):
        return {"stageId": i, "status": status, "numCompleteTasks": 4, "numFailedTasks": 0,
                "executorRunTime": run, "executorCpuTime": cpu, "jvmGcTime": 5,
                "executorDeserializeTime": 2, "shuffleWriteBytes": shuffle, "shuffleReadBytes": shuffle,
                "shuffleFetchWaitTime": 1, "memoryBytesSpilled": 0, "diskBytesSpilled": 0,
                "submissionTime": t.format(0), "completionTime": t.format(1)}

    stages = [stage(0), stage(1, status="SKIPPED"), stage(2), stage(3, run=7)]
    py = {"nodeName": "ArrowEvalPython", "metrics": [
        {"name": "time to initialize Python workers", "value": "total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms, 3 ms (stage 0.0: task 1))"},
        {"name": "data sent to Python workers", "value": "total (min, med, max (stageId: taskId))\n2.0 KiB (1 B, 2 B, 3 B (stage 0.0: task 1))"},
    ]}
    scan = {"nodeName": "Scan parquet", "metrics": [{"name": "number of files read", "value": "1,234"}]}
    sql = [
        {"id": 0, "successJobIds": [0], "failedJobIds": [], "runningJobIds": [], "nodes": [py, scan]},
        {"id": 1, "successJobIds": [1], "failedJobIds": [], "runningJobIds": [], "nodes": [py]},
        {"id": 2, "successJobIds": [2], "failedJobIds": [], "runningJobIds": [], "nodes": [scan]},
    ]
    return {"jobs": jobs, "stages": stages, "sql": sql}


def test_group_metrics_aggregates_one_job_group():
    g = H.group_metrics(_snapshot(), "q0")
    assert g["spark.jobs"] == 2
    assert g["spark.stages"] == 2  # the skipped stage never ran
    assert g["spark.tasks"] == 8
    assert g["spark.executor_run_s"] == pytest.approx(0.2)
    assert g["spark.executor_cpu_s"] == pytest.approx(0.1)
    assert g["spark.shuffle_write_bytes"] == 20
    assert g["pyworker.init_s"] == pytest.approx(3.0)
    assert g["pyworker.bytes_sent"] == pytest.approx(4096)
    assert g["sources.files_read"] == 1234
    assert len(g["job_intervals"]) == 2
    q1 = H.group_metrics(_snapshot(), "q1")
    assert q1["spark.jobs"] == 1 and q1["pyworker.init_s"] == 0.0
    assert q1["spark.executor_run_s"] == pytest.approx(0.007)


@pytest.mark.parametrize(
    "text, value",
    [("1,234", 1234), ("9 ms", 0.009), ("1509.0 B", 1509), ("3.0 KiB", 3072),
     ("total (min, med, max (stageId: taskId))\n2.5 s (1 s, 1 s, 1 s (stage 1.0: task 1))", 2.5),
     ("1.2 m", 72.0)],
)
def test_parse_sql_metric(text, value):
    assert H.parse_sql_metric(text) == pytest.approx(value)


def test_python_node_count():
    plan = (
        "ResultQueryStage 1\n+- *(3) Sort [a]\n   +- ArrowEvalPython [f(a)], [p0], 200\n"
        "      +- MapInArrow f(a), [b]\n         +- *(1) FlatMapGroupsInPandas [a]\n"
        "            +- Project [pythonUDF0#9]\n"
    )
    assert H.python_nodes(plan) == 3


def test_metric_lists_match_benchmark_json():
    import importlib.util
    import json

    here = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(here, "run.py"))
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYERS
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


# -- references and inputs -----------------------------------------------------


def test_tables_repeat_exactly_for_a_seed():
    from perfbench.tables import make_tables

    a, b, c = make_tables(7), make_tables(7), make_tables(8)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_content_hash_ignores_row_and_column_order():
    from perfbench.suite_mix import content_hash

    df = pd.DataFrame({"a": [1, 2, 3], "b": [0.1, 0.2, 0.3], "c": ["x", "y", "z"]})
    shuffled = df.iloc[[2, 0, 1]][["c", "a", "b"]]
    assert content_hash(df) == content_hash(shuffled)
    assert content_hash(df) != content_hash(df.assign(b=[0.1, 0.2, 0.4]))


def test_gnomonic_reference_agrees_with_geo_ops():
    from duckdb_geography_spark.geo import ops
    from duckdb_geography_spark.geo.geography import Geography, from_wkt

    rng = np.random.default_rng(3)
    rings = [G.ring(179.5, 10.0, 2.0, 9, rng), G.ring(-20.0, -45.0, 1.5, 6, rng),
             G.polar_cap(True, 84.0, 12), G.polar_cap(False, 84.0, 12)]
    for r in rings:
        poly = from_wkt(G.polygon_wkt(r))
        c, cr = G.cap_of(r)
        # points scattered over the cap and a little beyond
        lon0, lat0 = np.degrees(np.arctan2(c[1], c[0])), np.degrees(np.arcsin(c[2]))
        lon, lat = G.destination(lon0, lat0, rng.uniform(0, 2 * np.pi, 300),
                                 np.arccos(cr) * 1.3 * np.sqrt(rng.uniform(0, 1, 300)))
        got = G.points_in_ring(G.to_xyz(lon, lat), r)
        want = [ops.intersects(Geography.point(float(x), float(y)), poly) for x, y in zip(lon, lat)]
        assert got.tolist() == want
        assert 0 < got.sum() < len(got)


def test_parse_ring_round_trip():
    r = G.ring(10.0, 20.0, 1.0, 7, np.random.default_rng(1))
    np.testing.assert_allclose(G.parse_ring(G.polygon_wkt(r)), r, atol=1e-6)


# -- exact repeat of the count metrics for one seed ---------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    H.prepare_env(str(tmp_path_factory.mktemp("spark")))
    s, _ = H.start_session()
    yield s
    H.stop_session(s)


def test_count_metrics_repeat_exactly(spark, tmp_path):
    """spark.jobs, joins.candidate_pairs, sources.bytes_written and
    stored_bytes_per_input_byte read the same twice for one seed."""
    from perfbench import geog_store, points_in_polygons, suite_mix

    tracer = H.Tracer(True)
    pts, polys = suite_mix.suite_inputs(11)
    j1 = suite_mix.suite_joins(spark, pts, polys, tracer)
    j2 = suite_mix.suite_joins(spark, pts, polys, tracer)
    assert j1 == j2 and j1["joins.candidate_pairs"] > 0

    base = geog_store.Generator(11).batch(200)
    sizes = []
    for k in range(2):
        store = str(tmp_path / f"store{k}")
        geog_store.ingest(spark, store, base)
        files, size = geog_store.store_bytes(store)
        sizes.append((files, size, size / base["wkt"].str.len().sum()))
    assert sizes[0] == sizes[1]

    jobs = []
    rest = H.Rest(spark)
    for k in range(2):
        op = H.Op(spark, tracer, f"t{k}", "pip")
        work = str(tmp_path / "pip")
        if k == 0:
            points_in_polygons.make_inputs(11, work)
        op.run(lambda: points_in_polygons.build_query(spark, work, 0), lambda df: df.collect())
        jobs.append(op.qid)
    snap = rest.snapshot()
    counts = [H.group_metrics(snap, q)["spark.jobs"] for q in jobs]
    assert counts[0] == counts[1] > 0
