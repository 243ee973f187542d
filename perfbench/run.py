"""Repository benchmark: seeded closed-loop workloads against the
engine on local[4], every output checked.

    python3 perfbench/run.py --workload suite_mix --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 1

One client thread sends each operation after the previous one
completed. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics (spans, Spark UI REST metrics by job group and
Spark-free kernel replays). The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the lines
before it (prefixed ``#``) carry every metric with its unit, the run
stamp and the failures. ``--workload all`` runs every workload in its
own process (with ``--trace 1``: untraced, then traced, and prints the
tracing overhead). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

WORKLOADS = ("suite_mix", "points_in_polygons", "geog_store")

#: end-to-end metrics every workload reports (BENCHMARK.json end_to_end)
E2E = {"setup_s": "s", "query_p50_s": "s", "rows_per_s": "rows/s"}

#: per-layer metrics every traced run reports (0 = layer not exercised)
LAYERS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "plan.build_s": "s", "plan.eager_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.task_deser_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.codegen_s": "s", "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_fetch_wait_s": "s", "spark.spill_bytes": "B",
    "pyworker.start_s": "s", "pyworker.init_s": "s", "pyworker.run_s": "s",
    "pyworker.bytes_sent": "B", "pyworker.bytes_received": "B",
    "ingest.pyworker.run_s": "s", "ingest.pyworker.bytes_sent": "B",
    "ingest.pyworker.bytes_received": "B",
    "s2.cellmath.lonlat_to_cellid_ns": "ns", "s2.cellmath.parent_ns": "ns",
    "s2.coverer.adaptive_ms": "ms", "s2.coverer.fixed_level_ms": "ms",
    "geo.geography.from_wkt_us": "us", "geo.geography.encode_us": "us",
    "geo.geography.decode_us": "us", "geo.geography.to_wkt_us": "us",
    "geo.ops.intersects_us": "us", "geo.ops.distance_us": "us", "geo.ops.area_us": "us",
    "geoudfs.decode_hit_ratio": "ratio", "geoudfs.parts_hit_ratio": "ratio",
    "joins.candidate_pairs": "count", "joins.result_pairs": "count", "joins.refine_ratio": "ratio",
    "sources.files_written": "count", "sources.bytes_written": "B",
    "sources.files_read": "count", "sources.partitions_read": "count",
    "self.plan_build_s": "s", "self.action_s": "s", "self.spark_job_s": "s",
    "trace.setup_s": "s", "trace.query_p50_s": "s",
}

#: a run must end within 180 s; past this the JVM is killed
WATCHDOG_S = 170.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Ctx:
    """What a workload's run() receives."""

    def __init__(self, seed, seconds, trace, work, spark, tracer):
        from perfbench import harness as H

        self.seed, self.seconds, self.trace = seed, seconds, bool(trace)
        self.work, self.spark, self.tracer = work, spark, tracer
        self.pids = [os.getpid(), H.jvm_pid(spark)]
        self._rest = H.Rest(spark) if trace else None

    def rest_snapshot(self) -> dict:
        return self._rest.snapshot()


def _watchdog(holder: dict) -> threading.Timer:
    """Kill the JVM (its Python workers exit with it) and leave with
    code 3 if the run outlives WATCHDOG_S."""

    def fire():
        print(f"# watchdog: run exceeded {WATCHDOG_S:.0f} s, killing Spark", file=sys.stderr)
        proc = holder.get("proc")
        if proc is not None:
            proc.kill()
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                pass
        os._exit(3)

    t = threading.Timer(WATCHDOG_S, fire)
    t.daemon = True
    t.start()
    return t


def run_one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import __spark_entry__  # noqa: F401
        import bench  # noqa: F401
        import duckdb_geography_spark  # noqa: F401
    except ImportError as exc:
        print(f"# cannot import the program: {exc}", file=sys.stderr)
        sys.exit(2)
    import importlib

    from perfbench import harness as H

    mod = importlib.import_module(f"perfbench.{workload}")
    work = os.path.join(H.WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    holder: dict = {}
    dog = _watchdog(holder)
    try:
        H.prepare_env(work)
        st = H.stamp(seed)
        spark, session_s = H.start_session()
        holder["proc"] = spark.sparkContext._gateway.proc
        tracer = H.Tracer(bool(trace))
        try:
            res = mod.run(Ctx(seed, seconds, trace, work, spark, tracer))
        finally:
            H.stop_session(spark)
            holder.pop("proc", None)
        if trace:
            os.makedirs(H.OUT_DIR, exist_ok=True)
            res["info"]["spans_file"] = os.path.join(H.OUT_DIR, f"spans_{workload}_{seed}.json")
            tracer.dump(res["info"]["spans_file"])
    finally:
        dog.cancel()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(H.WORK_ROOT)
        except OSError:
            pass
    st = H.close_stamp(st)
    return assemble(workload, res, session_s, st, trace)


def assemble(workload: str, res: dict, session_s: float, st: dict, trace: int) -> dict:
    """Every end-to-end metric of the run with its unit, plus the
    contract metrics of this trace mode."""
    from perfbench import harness as H

    walls = res["query_walls"]
    setup = session_s + res["setup_parts"]["input_gen_s"] + res["setup_parts"]["warmup_s"]
    e2e = {
        "setup_s": (setup, "s"),
        "query_p50_s": (H.median(walls), "s"),
        "failed_frac": (H.failed_frac(res["attempted"], res["failed"]), "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    e2e.update(res["e2e"])
    tail = H.tail_percentile(walls)
    if len(walls) >= 100:
        e2e["query_p90_s"] = (H.percentile(walls, 90), "s")
    rec = {
        "workload": workload,
        "e2e": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "samples": len(walls),
        "tail": {"level": tail[0], "value": tail[1]} if tail else None,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "failures": res["failures"],
        "loop_s": res["loop_s"],
        "info": res["info"],
        "stamp": st,
    }
    if trace:
        layers = dict(res["layers"])
        layers["session.start_s"] = session_s
        layers["session.warmup_s"] = res["setup_parts"]["warmup_s"]
        layers["trace.setup_s"] = setup
        layers["trace.query_p50_s"] = H.median(walls)
        rec["not_exercised"] = sorted(k for k in LAYERS if k not in layers)
        rec["layers"] = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in LAYERS.items()}
        metrics = rec["layers"]
    else:
        metrics = {k: {"value": float(e2e[k][0]), "unit": u} for k, u in E2E.items()}
    rec["result"] = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    return rec


def print_record(rec: dict) -> None:
    w = rec["workload"]
    for k, m in rec["e2e"].items():
        print(f"# {w} {k} = {m['value']:.6g} {m['unit']}")
    if "query_p90_s" not in rec["e2e"]:
        t = rec["tail"]
        tail = f"p{t['level']} = {t['value']:.6g} s" if t else "none"
        print(f"# {w} query_p90_s = n/a ({rec['samples']} samples < 100; highest tail with >=10 beyond: {tail})")
    print(f"# {w} samples = {rec['samples']}, attempted = {rec['attempted']}, failed = {rec['failed']}")
    for f in rec["failures"]:
        print(f"# {w} FAILED {f}")
    for k, m in rec.get("layers", {}).items():
        print(f"# {w} layer {k} = {m['value']:.6g} {m['unit']}")
    if rec.get("not_exercised"):
        print(f"# {w} layers not exercised (reported as 0): {', '.join(rec['not_exercised'])}")
    print(f"# {w} info {json.dumps(rec['info'], default=str)}")
    print(f"# {w} stamp {json.dumps(rec['stamp'], default=str)}")


def run_all(args) -> int:
    """Each workload in its own process; with --trace 1 untraced then
    traced, and the tracing overhead (traced minus untraced)."""
    modes = (0, 1) if args.trace else (0,)
    totals = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        recs = {}
        for t in modes:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(t), "--record"]
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            sys.stdout.write("".join(l + "\n" for l in out.stdout.splitlines() if l.startswith("#")))
            if out.returncode != 0:
                sys.stderr.write(out.stderr[-4000:])
                return out.returncode
            recs[t] = json.loads(out.stdout.strip().splitlines()[-1])
            r = recs[t]["result"]
            totals["correct"] &= r["correct"]
            totals["attempted"] += r["attempted"]
            totals["failed"] += r["failed"]
            for k, m in r["metrics"].items():
                totals["metrics"][f"{w}.{k}"] = m
        if args.trace:
            for k in ("setup_s", "query_p50_s"):
                base = recs[0]["e2e"][k]["value"]
                over = recs[1]["layers"][f"trace.{k}"]["value"] - base
                print(f"# {w} tracing overhead {k} = {over:+.6g} s ({over / base:+.1%})")
    print(json.dumps(totals))
    return 0


def main(argv=None) -> int:
    # a terminated run still stops its Spark JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    argv = sys.argv[1:] if argv is None else argv
    # --record (used by --workload all) prints the whole run record as
    # the last line instead of the result object
    as_record = "--record" in argv
    args = parse_args([a for a in argv if a != "--record"])
    if args.workload == "all":
        return run_all(args)
    t0 = time.perf_counter()
    rec = run_one(args.workload, args.seed, args.seconds, args.trace)
    rec["run_s"] = time.perf_counter() - t0
    print_record(rec)
    print(json.dumps(rec if as_record else rec["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
