"""Shared machinery of the benchmark: statistics, spans, memory
sampling, run stamps, the Spark session lifecycle and Spark's UI REST
API. Nothing here knows about a particular workload."""

from __future__ import annotations

import contextlib
import json
import math
import os
import re
import statistics
import subprocess
import sys
import threading
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: scratch space of one run, inside the checkout (removed at exit)
WORK_ROOT = os.path.join(REPO, ".perfbench_work")
#: where a traced run writes its spans
OUT_DIR = os.path.join(REPO, ".perfbench_out")
CPUS = 4

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

#: percentiles considered for a tail figure, highest first
TAIL_LEVELS = (99, 95, 90, 75, 50)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return float(s[k - 1])


def tail_percentile(xs, min_beyond: int = 10):
    """(level, value) of the highest percentile in TAIL_LEVELS that
    keeps at least ``min_beyond`` samples strictly above its rank, or
    None when no level does. With n samples, level p keeps
    n - ceil(p*n/100) samples beyond it."""
    n = len(xs)
    for p in TAIL_LEVELS:
        if n - max(1, math.ceil(p / 100.0 * n)) >= min_beyond:
            return p, percentile(xs, p)
    return None


def failed_frac(attempted: int, failed: int) -> float:
    """(failed + wrong-output operations) / attempted."""
    if attempted <= 0:
        raise ValueError("attempted must be positive")
    return failed / attempted


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. A span is (id, name, start, end,
    parent id, query id); times are seconds on the time.time() clock
    so spans line up with Spark's REST timestamps. Disabled tracers
    record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name, start, end, parent=None, qid=None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end,
             "parent": parent, "qid": qid, **attrs}
        )
        return sid

    @contextlib.contextmanager
    def span(self, name: str):
        """Record the enclosed block as a top-level span."""
        sid = self.add(name, time.time(), None)
        try:
            yield sid
        finally:
            if sid is not None:
                self.spans[sid]["end"] = time.time()

    def children(self, sid) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid) -> float:
        s = self.spans[sid]
        return self_time(s["start"], s["end"], [(c["start"], c["end"]) for c in self.children(sid)])

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def union_length(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of [start, end] its children
    cover (children clipped to the parent, overlaps counted once)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if min(e, end) > max(s, start)]
    return (end - start) - union_length(clipped)


# ---------------------------------------------------------------------------
# memory: peak summed RSS of the driver python, the JVM and its workers
# ---------------------------------------------------------------------------


def _children_map() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root_pids) -> int:
    """Summed resident set of the given processes and all descendants."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    seen, stack, total = set(), list(root_pids), 0
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
        stack.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Background thread sampling tree_rss_bytes every ``period`` s
    while armed; ``peak_mb`` is the highest sample."""

    def __init__(self, pids, period: float = 0.25):
        self.pids, self.period = list(pids), period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pids))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.pids))
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


# ---------------------------------------------------------------------------
# run stamp
# ---------------------------------------------------------------------------


def stamp(seed: int) -> dict:
    """Seed, core count, library versions and box load of one run."""
    import numpy
    import pyarrow
    import pyspark

    from bench import load_snapshot

    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "cpus_used": CPUS,
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "load_start": load_snapshot(),
    }


def close_stamp(st: dict) -> dict:
    from bench import cpu_mix_over_run, load_snapshot

    st["load_end"] = load_snapshot()
    st["cpu_mix_pct"] = cpu_mix_over_run(st["load_start"], st["load_end"])
    return st


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------


def prepare_env(work: str) -> None:
    """Point every temp/scratch location of Python, Spark and the JVM
    into the run's work dir so the run writes only inside the
    checkout. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # keep every job/stage/SQL execution of a run in the UI store so
    # the traced run can read them all back at the end
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.port": "0",
    }
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def start_session():
    """(spark, seconds): the engine's own session builder, timed."""
    from duckdb_geography_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark, shut the gateway JVM down and wait until it (and the
    Python workers it forked) have exited."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = gw.proc
    try:
        spark.stop()
    finally:
        try:
            gw.shutdown()
        except Exception as exc:  # noqa: BLE001 - teardown must go on
            print(f"# gateway shutdown: {exc}", file=sys.stderr)
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------------------
# Spark UI REST API
# ---------------------------------------------------------------------------


class Rest:
    """Reader of the local UI REST API of one application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.loads(r.read().decode())

    def settle(self, timeout: float = 30.0) -> None:
        """Wait until the UI store has caught up: no job is running and
        the job count stopped changing."""
        deadline, last = time.time() + timeout, -1
        while time.time() < deadline:
            jobs = self.get("/jobs")
            running = [j for j in jobs if j["status"] == "RUNNING"]
            if not running and len(jobs) == last:
                return
            last = len(jobs)
            time.sleep(0.5)

    def snapshot(self) -> dict:
        self.settle()
        return {
            "jobs": self.get("/jobs"),
            "stages": self.get("/stages?details=false"),
            "sql": self.get("/sql?details=true&planDescription=false&length=100000"),
        }


_UNIT_S = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_UNIT_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NUM_UNIT = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-zµ]*)")


def parse_sql_metric(value: str) -> float:
    """Total of one SQL UI metric string. Timing/size metrics read
    'total (min, med, max (stageId: taskId))\\n2.3 s (...)'; sums read
    '1,234'. Times come back in seconds, sizes in bytes."""
    text = value.split("\n", 1)[1] if value.startswith("total") and "\n" in value else value
    m = _NUM_UNIT.match(text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _UNIT_S:
        return num * _UNIT_S[unit]
    if unit in _UNIT_B:
        return num * _UNIT_B[unit]
    return num


#: SQL UI node metrics summed per job group: (node-name regex, metric name) -> layer metric
SQL_METRICS = {
    "pyworker.start_s": (r".*", "time to start Python workers"),
    "pyworker.init_s": (r".*", "time to initialize Python workers"),
    "pyworker.run_s": (r".*", "time to run Python workers"),
    "pyworker.bytes_sent": (r".*", "data sent to Python workers"),
    "pyworker.bytes_received": (r".*", "data returned from Python workers"),
    "spark.codegen_s": (r"^WholeStageCodegen", "duration"),
    "sources.files_read": (r"^Scan ", "number of files read"),
    "sources.partitions_read": (r"^Scan ", "number of partitions read"),
}

#: per-stage REST fields summed per job group -> (layer metric, scale)
STAGE_METRICS = {
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "executorDeserializeTime": ("spark.task_deser_s", 1e-3),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1.0),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1.0),
    "shuffleFetchWaitTime": ("spark.shuffle_fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spark.spill_bytes", 1.0),
    "diskBytesSpilled": ("spark.spill_bytes", 1.0),
}


def rest_time(ts: str) -> float:
    """Spark REST timestamp ('2026-10-17T08:42:38.123GMT') -> epoch s."""
    from datetime import datetime, timezone

    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def group_metrics(snap: dict, group: str) -> dict:
    """Layer metrics of the jobs tagged with one job group: counts of
    jobs/stages/tasks, the jobs' [start, end] intervals, stage sums and
    the SQL node metrics of every execution those jobs belong to."""
    jobs = [j for j in snap["jobs"] if j.get("jobGroup") == group]
    job_ids = {j["jobId"] for j in jobs}
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    # a skipped stage is listed by the job but never ran
    stages = [s for s in snap["stages"] if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": len({s["stageId"] for s in stages}),
        "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "job_intervals": [
            (rest_time(j["submissionTime"]), rest_time(j["completionTime"]))
            for j in jobs if "submissionTime" in j and "completionTime" in j
        ],
    }
    for field, (name, scale) in STAGE_METRICS.items():
        out[name] = out.get(name, 0.0) + sum(s.get(field, 0) for s in stages) * scale
    for name in SQL_METRICS:
        out[name] = 0.0
    execs = [
        e for e in snap["sql"]
        if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []) + e.get("runningJobIds", []))
    ]
    for e in execs:
        for node in e.get("nodes", []):
            for m in node.get("metrics", []):
                for name, (node_re, metric) in SQL_METRICS.items():
                    if m["name"] == metric and re.match(node_re, node["nodeName"]):
                        out[name] += parse_sql_metric(m["value"])
    return out


# ---------------------------------------------------------------------------
# measured operations and their layer breakdown
# ---------------------------------------------------------------------------

#: physical Python exec node names (UDF and map/group-in-Arrow/pandas)
PY_NODE = re.compile(
    r"^[ +\-:|]*(?:\*\(\d+\) )?(\w*(?:EvalPython\w*|InPandas|InArrow|AggregatePython|WindowPython))\b",
    re.M,
)


def python_nodes(plan_str: str) -> int:
    return len(PY_NODE.findall(plan_str))


def plan_python_nodes(df) -> tuple[int, int]:
    """(planned, executed) Python exec node counts of an executed
    DataFrame: the physical plan as planned for every output column,
    and the final adaptive plan the action actually ran."""
    qe = df._jdf.queryExecution()
    planned = python_nodes(qe.sparkPlan().toString())
    ep = qe.executedPlan()
    if ep.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        ep = ep.executedPlan()
    return planned, python_nodes(ep.toString())


class Op:
    """One measured operation: job group set, builder and action timed.
    ``wall_s`` runs from the builder call to the last output consumed."""

    def __init__(self, spark, tracer: Tracer, qid: str, name: str, kind: str = "query"):
        self.spark, self.tracer, self.qid, self.name, self.kind = spark, tracer, qid, name, kind
        self.result = None

    def run(self, build, action):
        sc = self.spark.sparkContext
        sc.setJobGroup(self.qid, self.name)
        try:
            self.t0 = time.time()
            p0 = time.perf_counter()
            obj = build()
            p1 = time.perf_counter()
            self.t1 = time.time()
            self.result = action(obj)
            p2 = time.perf_counter()
            self.t2 = time.time()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.build_s, self.wall_s = p1 - p0, p2 - p0
        self.obj = obj
        if self.tracer.enabled:
            q = self.tracer.add(self.kind, self.t0, self.t2, None, self.qid, op=self.name)
            self.tracer.add("plan.build", self.t0, self.t1, q, self.qid)
            self.tracer.add("action", self.t1, self.t2, q, self.qid)
            self.span = q
        return self.result


def layer_breakdown(ops, snap: dict, tracer: Tracer) -> list[dict]:
    """Per operation: REST metrics of its job group, Spark jobs and
    stages attached to its span tree, and self times."""
    stages_by_id = {}
    for s in snap["stages"]:
        if s["status"] != "SKIPPED" and "submissionTime" in s and "completionTime" in s:
            stages_by_id[s["stageId"]] = s
    out = []
    for op in ops:
        g = group_metrics(snap, op.qid)
        q = op.span
        build_id, action_id = [c["id"] for c in tracer.children(q)]
        eager = 0
        for j in (j for j in snap["jobs"] if j.get("jobGroup") == op.qid):
            if "submissionTime" not in j or "completionTime" not in j:
                continue
            js, je = rest_time(j["submissionTime"]), rest_time(j["completionTime"])
            # REST times have ms resolution: a job submitted before the
            # builder returned is an eager (driver-side) job
            parent = build_id if js < op.t1 - 0.001 else action_id
            eager += parent == build_id
            jid = tracer.add("spark.job", js, je, parent, op.qid, job=j["jobId"])
            for sid in j["stageIds"]:
                s = stages_by_id.get(sid)
                if s is not None:
                    tracer.add("spark.stage", rest_time(s["submissionTime"]),
                               rest_time(s["completionTime"]), jid, op.qid, stage=sid)
        g["plan.build_s"] = op.build_s
        g["plan.eager_jobs"] = eager
        jobs_union = [(max(s, op.t0), min(e, op.t2)) for s, e in g.pop("job_intervals")]
        g["spark.driver_gap_s"] = (op.t2 - op.t0) - union_length([iv for iv in jobs_union if iv[1] > iv[0]])
        g["self.plan_build_s"] = tracer.self_time(build_id)
        g["self.action_s"] = tracer.self_time(action_id)
        jobs = [c["id"] for c in tracer.children(action_id) + tracer.children(build_id) if c["name"] == "spark.job"]
        g["self.spark_job_s"] = sum(tracer.self_time(j) for j in jobs)
        out.append(g)
    return out


#: per-operation layer metrics reported as the median over a run's operations
OP_LAYER_METRICS = (
    "plan.build_s", "plan.eager_jobs",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s", "spark.task_deser_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s", "spark.codegen_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.shuffle_fetch_wait_s",
    "spark.spill_bytes",
    "pyworker.start_s", "pyworker.init_s", "pyworker.run_s",
    "pyworker.bytes_sent", "pyworker.bytes_received",
    "sources.files_read", "sources.partitions_read",
    "self.plan_build_s", "self.action_s", "self.spark_job_s",
)


def median_layers(rows: list[dict]) -> dict:
    return {k: median([r[k] for r in rows]) for k in OP_LAYER_METRICS}
