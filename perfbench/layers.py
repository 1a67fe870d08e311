"""Per-layer probes and the result report.

Everything here reads the program from outside: the process table,
Spark's status tracker and event log, the QueryExecution an action ran,
a StreamingQueryListener, and hooks looked up by name that may be absent.
"""

from __future__ import annotations

import importlib
import json
import math
import os
import platform
import signal
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime


MB = 1 << 20
# An op reconciles when the independently measured layers explain its
# charged time to within this share.
RECONCILE_TOL = 0.10
# The op modules (``fn.__module__``) with a declare/action metric; every
# workload op lives in one of them. An op moved elsewhere still counts in
# pass_s and its own op.<name>_s.
MODULES = (
    "portrait", "aggregates", "windows", "joins", "llm_dedup", "llm_text",
    "llm_similarity", "pipeline_ext", "streaming", "scans",
)
STREAM_PARTS = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
}


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def optional_hook(module: str, name: str, seen: dict[str, bool]):
    """``module.name`` if it exists, else None; records which it was."""
    try:
        obj = getattr(importlib.import_module(module), name)
    except (ImportError, AttributeError):
        obj = None
    seen[f"{module.split('.', 1)[1]}.{name}"] = obj is not None
    return obj


# -- processes --------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _alive(pid: int) -> bool:
    f = _stat(pid)
    return f is not None and f[0] != "Z"


def _cpu_s(pid: int, children: bool) -> float:
    f = _stat(pid)
    if f is None:
        return 0.0
    # fields after the ")" start at state (3): utime=14, stime=15, cutime=16, cstime=17
    ticks = int(f[11]) + int(f[12]) + ((int(f[13]) + int(f[14])) if children else 0)
    return ticks / _TICK


def _write_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat(int(d))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class ProcStats:
    """CPU and bytes written by the JVM, this process and the JVM's
    Python workers (the JVM's descendants)."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._gateway.proc.pid

    def sample(self) -> dict[str, float]:
        own = os.times()
        workers = sum(_cpu_s(p, children=True) for p in _descendants(self.jvm))
        jvm_w = _write_bytes(self.jvm)
        return {
            "jvm_cpu_s": _cpu_s(self.jvm, children=False),
            "py_cpu_s": own.user + own.system + workers,
            "write_mb": (jvm_w + _write_bytes(os.getpid())) / MB,
            "jvm_write_mb": jvm_w / MB,
        }

    def stop(self, spark, timeout: float = 60.0) -> None:
        """Stop the session, then the JVM gateway, and wait until the JVM
        and every process under it (the Python workers) have exited."""
        from pyspark import SparkContext

        gateway = spark.sparkContext._gateway
        proc = gateway.proc
        children = _descendants(self.jvm)
        spark.stop()
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + timeout
        for pid in children:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, signal.SIGKILL)

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the JVM")


def host_probe_s(n: int = 300_000) -> float:
    """Seconds for a fixed pure-Python loop: the host's speed at this
    moment, to tell a slow host (noisy neighbours) from a slow program."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.perf_counter() - t0


def tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                size += os.lstat(os.path.join(d, n)).st_size
                files += 1
            except OSError:
                pass
    return files, size


# -- Spark ------------------------------------------------------------------


def catalyst_phases(qe) -> dict[str, tuple[float, float]]:
    """Phase (start, end) epoch milliseconds recorded by the QueryExecution
    the action ran."""
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt.isDefined():
            out[ph] = (float(opt.get().startTimeMs()), float(opt.get().endTimeMs()))
    return out


class StreamProbe:
    """StreamingQueryListener recording each micro-batch's progress under
    the op that started the query."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                probe._started(str(event.runId))

            def onQueryProgress(self, event):
                probe._progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                probe._terminated(str(event.runId))

        self.listener = _Listener()
        self._lock = threading.Lock()
        self._group: str | None = None
        self._owner: dict[str, str] = {}  # runId -> job group of the op
        self._live: set[str] = set()
        self.batches: list[dict] = []

    def begin(self, group: str) -> None:
        self._group = group

    def end(self, timeout: float = 15.0) -> None:
        """Wait until every query started so far has reported termination
        (listener events arrive asynchronously)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if not self._live:
                    return
            time.sleep(0.01)

    def run_ids(self, group: str) -> list[str]:
        with self._lock:
            return [r for r, g in self._owner.items() if g == group]

    def _started(self, run_id: str) -> None:
        with self._lock:
            self._owner[run_id] = self._group or "?"
            self._live.add(run_id)

    def _terminated(self, run_id: str) -> None:
        with self._lock:
            self._live.discard(run_id)

    def _progress(self, p) -> None:
        states = p.stateOperators or []
        duration = dict(p.durationMs or {})
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() * 1000.0
        rec = {
            "group": self._owner.get(str(p.runId), "?"),
            "rows": p.numInputRows,
            "duration": duration,
            "trigger_iv": (start, start + duration.get("triggerExecution", 0)),
            "state_commit_ms": sum(s.commitTimeMs for s in states),
            "state_rows": sum(s.numRowsTotal for s in states),
            "state_bytes": sum(s.memoryUsedBytes for s in states),
            "state_stores": sum(s.numStateStoreInstances for s in states),
        }
        with self._lock:
            self.batches.append(rec)


def _event_files(eventlog_dir: str) -> list[str]:
    """Event log files in write order: a single file, or the rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` layout."""
    out = []
    for d, _, names in os.walk(eventlog_dir):
        for n in names:
            if n.startswith(("appstatus", ".")):
                continue
            parts = n.split("_")
            idx = int(parts[1]) if n.startswith("events_") and parts[1].isdigit() else 0
            out.append((idx, os.path.join(d, n)))
    return [p for _, p in sorted(out)]


SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def _task_parts(ev: dict) -> dict[str, float]:
    m = ev["Task Metrics"]
    info = ev.get("Task Info", {})
    total = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    run = m.get("Executor Run Time", 0)
    deser = m.get("Executor Deserialize Time", 0)
    ser = m.get("Result Serialization Time", 0)
    fetch = info.get("Getting Result Time", 0)
    sr = m.get("Shuffle Read Metrics", {})
    parts = {
        "tasks": 1,
        "run_ms": run,
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "deserialize_ms": deser,
        "sched_delay_ms": max(0, total - run - deser - ser - fetch),
        "shuffle_write_mb": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
        "spill_mb": m.get("Disk Bytes Spilled", 0) / MB,
        "python_sent_mb": 0.0,
        "python_received_mb": 0.0,
    }
    for acc in info.get("Accumulables", ()):
        name = acc.get("Name", "")
        if name == "data sent to Python workers":
            parts["python_sent_mb"] += float(acc.get("Update", 0)) / MB
        elif name == "data returned from Python workers":
            parts["python_received_mb"] += float(acc.get("Update", 0)) / MB
    return parts


def event_log(eventlog_dir: str, run_groups: dict[str, str]) -> tuple[dict, list]:
    """Read the event log once. Returns, per job group, the jobs, the stages
    that ran, the tasks with their time parts, shuffle, spill and Python
    bytes, and the (start, end) epoch ms of every job; and the (start, end)
    of every SQL execution. ``run_groups`` maps streaming run ids (the job
    group Spark gives a query's jobs) to the op's own group."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, tuple[str, float]] = {}
    sql_start: dict[int, float] = {}
    sql: list[tuple[float, float]] = []
    out: dict[str, dict] = {}

    def acc(g: str) -> dict:
        return out.setdefault(g, {"jobs": 0, "stages": 0, "job_iv": []})

    for path in _event_files(eventlog_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    g = run_groups.get(g, g)
                    if g is None:
                        continue
                    acc(g)["jobs"] += 1
                    job_group[ev["Job ID"]] = (g, float(ev["Submission Time"]))
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    g, t0 = job_group.pop(ev["Job ID"], (None, 0.0))
                    if g is not None:
                        acc(g)["job_iv"].append((t0, float(ev["Completion Time"])))
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if g is not None:
                        acc(g)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None or not ev.get("Task Metrics"):
                        continue
                    a = acc(g)
                    for k, v in _task_parts(ev).items():
                        a[k] = a.get(k, 0.0) + v
                elif kind == SQL_START:
                    sql_start[ev["executionId"]] = float(ev["time"])
                elif kind == SQL_END:
                    t0 = sql_start.pop(ev["executionId"], None)
                    if t0 is not None:
                        sql.append((t0, float(ev["time"])))
    return out, sql


def covered_s(intervals: list[tuple[float, float]], windows: list[tuple[float, float]]) -> float:
    """Seconds of the ``windows`` that the union of ``intervals`` covers;
    both in epoch milliseconds."""
    total = 0.0
    for w0, w1 in windows:
        clipped = sorted((max(a, w0), min(b, w1)) for a, b in intervals if b > w0 and a < w1)
        end = w0
        for a, b in clipped:
            if b > end:
                total += b - max(a, end)
                end = b
    return total / 1000.0


def explained_share(rec: dict, log: dict, sql: list[tuple[float, float]],
                    triggers: list[tuple[float, float]] = ()) -> float:
    """Share of an op run's charged time (declare, action, pin release) that
    figures measured apart from the benchmark's own spans account for: the
    union of its Spark jobs and SQL executions from the event log, its
    streaming triggers, and the Catalyst phases of the QueryExecution that
    ran, plus the Spark driver's own Python CPU time. Whatever is left is time no
    layer explains: py4j round trips, plan building and code generation
    outside any execution, file work in the Spark driver."""
    ivs = list(log.get(rec["group"], {}).get("job_iv", ()))
    ivs += sql
    ivs += triggers
    ivs += list(rec.get("phases_iv", {}).values())
    charged = sum(b - a for a, b in rec["windows"]) / 1000.0
    if charged <= 0:
        return 1.0
    return (covered_s(ivs, rec["windows"]) + rec["driver_cpu_s"]) / charged


# -- aggregation ------------------------------------------------------------


def _per_pass(records: list[dict], key) -> list[float]:
    """Sum ``key(record)`` within each timed pass; one value per pass."""
    by: dict[int, float] = {}
    for r in records:
        by[r["pass"]] = by.get(r["pass"], 0.0) + key(r)
    return list(by.values())


def geomean(values: list[float]) -> float:
    """Geometric mean: every op moves it by its own relative change. 0.0
    for an empty sample (every op failed, so the run is already incorrect)."""
    if not values:
        return 0.0
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _med(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(bench, timed: list[dict], scratch_files: int, scratch_bytes: int) -> dict:
    """Every per-layer metric, as the median over timed passes of its
    per-pass total (or, for ops, of the op's latency)."""
    from workloads import WORKLOADS

    m: dict[str, tuple[float, str]] = {}
    m["session.get_spark_s"] = (bench.session_s, "s")
    m["registry.load_all_ops_s"] = (bench.registry_s, "s")
    m["setup.warmup_s"] = (bench.warmup_s, "s")
    m["catalog.pins"] = (_med(_per_pass(timed, lambda r: r["pins"])), "count")
    m["catalog.release_pins_s"] = (_med(_per_pass(timed, lambda r: r["release_s"])), "s")
    for mod in MODULES:
        mine = [r for r in timed if r["module"] == mod]
        for part in ("declare", "action"):
            m[f"ops.{mod}.{part}_s"] = (_med(_per_pass(mine, lambda r, p=part: r[f"{p}_s"])), "s")
    all_ops = sorted({o for w in WORKLOADS.values() for o in w.ops})
    for name in all_ops:
        vals = [r["declare_s"] + r["action_s"] for r in timed if r["op"] == name]
        m[f"op.{name}_s"] = (_med(vals), "s")
    for ph in ("analysis", "optimization", "planning"):
        m[f"spark.catalyst.{ph}_ms"] = (_med(_per_pass(timed, lambda r, ph=ph: _phase_ms(r, ph))), "ms")

    run_groups = {}
    if bench.stream is not None:
        for r in timed:
            for rid in bench.stream.run_ids(r["group"]):
                run_groups[rid] = r["group"]
    tasks, sql = event_log(bench.paths["eventlog"], run_groups)
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = (_med(_per_pass(timed, lambda r, k=k: tasks.get(r["group"], {}).get(k, 0))),
                           "count")
    task_keys = {
        "spark.task.run_ms": ("run_ms", "ms"), "spark.task.cpu_ms": ("cpu_ms", "ms"),
        "spark.task.gc_ms": ("gc_ms", "ms"), "spark.task.deserialize_ms": ("deserialize_ms", "ms"),
        "spark.task.sched_delay_ms": ("sched_delay_ms", "ms"),
        "spark.shuffle.write_mb": ("shuffle_write_mb", "MB"),
        "spark.shuffle.read_mb": ("shuffle_read_mb", "MB"), "spark.spill_mb": ("spill_mb", "MB"),
        "spark.python.sent_mb": ("python_sent_mb", "MB"),
        "spark.python.received_mb": ("python_received_mb", "MB"),
    }
    for metric, (k, unit) in task_keys.items():
        vals = _per_pass(timed, lambda r, k=k: tasks.get(r["group"], {}).get(k, 0.0))
        m[metric] = (_med(vals), unit)

    batches = []
    if bench.stream is not None:
        timed_groups = {r["group"] for r in timed}
        batches = [b for b in bench.stream.batches if b["group"] in timed_groups]
    n_pass = max(1, len({r["pass"] for r in timed}))
    m["stream.batches"] = (len(batches) / n_pass, "count")
    for metric, part in STREAM_PARTS.items():
        m[metric] = (sum(b["duration"].get(part, 0) for b in batches) / n_pass, "ms")
    m["stream.state_commit_ms"] = (sum(b["state_commit_ms"] for b in batches) / n_pass, "ms")
    m["stream.state_rows"] = (max((b["state_rows"] for b in batches), default=0), "count")
    m["stream.state_mb"] = (max((b["state_bytes"] for b in batches), default=0) / MB, "MB")
    m["stream.state_stores"] = (max((b["state_stores"] for b in batches), default=0), "count")
    trig = [float(b["duration"].get("triggerExecution", 0)) for b in batches]
    rows = sum(b["rows"] for b in batches)
    m["stream.batch_p50_ms"] = (_med(trig), "ms")
    m["stream.events_per_s"] = (rows / (sum(trig) / 1000.0) if sum(trig) > 0 else 0.0, "1/s")

    m["disk.scratch_files"] = (scratch_files, "count")
    m["disk.jvm_write_mb"] = (_med([p["jvm_write_mb"] for p in bench.passes]), "MB")
    m["scratch_mb"] = (scratch_bytes / MB, "MB")
    m["host.probe_ms"] = (_med([p["host_probe_s"] for p in bench.passes]) * 1000.0, "ms")
    m["proc.jvm_cpu_s"] = (_med([p["jvm_cpu_s"] for p in bench.passes]), "s")
    m["proc.py_cpu_s"] = (_med([p["py_cpu_s"] for p in bench.passes]), "s")
    for w in WORKLOADS.values():
        for op, _ in w.recall_gates:
            m[f"check.recall_at5.{op}"] = (bench.recalls.get(op, 0.0), "ratio")
    m["error_rate"] = (bench.outcomes.error_rate, "ratio")
    if bench.args.trace:
        shares = op_shares(timed, tasks, sql, batches)
        bench.explained = shares
        m["trace.explained_min"] = (min(shares.values(), default=0.0), "ratio")
        m["trace.unreconciled_ops"] = (sum(abs(v - 1.0) > RECONCILE_TOL for v in shares.values()), "count")
    untraced = _last_untraced(bench)
    pass_med = _med([p["pass_s"] for p in bench.passes])
    m["trace.overhead_s"] = (pass_med - untraced if untraced is not None else 0.0, "s")
    return m


def _phase_ms(rec: dict, phase: str) -> float:
    a, b = rec.get("phases_iv", {}).get(phase, (0.0, 0.0))
    return b - a


def op_shares(timed: list[dict], tasks: dict, sql: list, batches: list[dict]) -> dict[str, float]:
    """Per op, the median over its timed runs of ``explained_share``."""
    triggers: dict[str, list] = {}
    for b in batches:
        triggers.setdefault(b["group"], []).append(b["trigger_iv"])
    by: dict[str, list[float]] = {}
    for r in timed:
        by.setdefault(r["op"], []).append(explained_share(r, tasks, sql, triggers.get(r["group"], [])))
    return {op: statistics.median(v) for op, v in sorted(by.items())}


def _last_path(bench) -> str:
    return os.path.join(bench.paths["state"], f"last_untraced_{bench.workload.name}.json")


def _last_untraced(bench) -> float | None:
    """pass_s of the last untraced run of the same ops in this checkout."""
    try:
        with open(_last_path(bench)) as f:
            last = json.load(f)
    except (OSError, ValueError):
        return None
    return last.get("pass_s") if last.get("ops") == list(bench.workload.ops) else None


# -- report -----------------------------------------------------------------


def environment(bench) -> dict:
    import duckdb
    import pyspark

    conf = bench.spark.sparkContext.getConf() if bench.spark else None
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": conf.get("spark.driver.memory") if conf else None,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "data": {"sf": bench.data_sf, "seed": bench.data_seed},
        "hooks": bench.hooks,
    }


def report(bench, out: dict) -> int:
    """Print the human-readable table, then the one-line JSON result."""
    env = bench.env
    print(f"perfbench {bench.workload.name} seed={bench.args.seed} trace={bench.args.trace} "
          f"env={json.dumps(env, sort_keys=True)}")
    print(f"passes={len(bench.passes)} op_runs={bench.outcomes.attempted} "
          f"failed={bench.outcomes.failed}")
    for p in bench.passes:
        print("  pass " + " ".join(f"{k}={v:.4f}" for k, v in p.items() if k != "pass"))
    for op in bench.workload.ops:
        lat = [r["declare_s"] + r["action_s"] for r in bench.records if r["op"] == op and r["pass"] >= 0]
        if lat:
            print(f"  op {op} median_s={statistics.median(lat):.4f} n={len(lat)}")
    for op, share in getattr(bench, "explained", {}).items():
        flag = "" if abs(share - 1.0) <= RECONCILE_TOL else "  (outside 10%)"
        print(f"  explained {op} share={share:.4f}{flag}")
    for op, reason in bench.outcomes.failures:
        print(f"  FAIL {op}: {reason}")
    metrics = {}
    if bench.args.trace:
        for name, (v, unit) in sorted(out["per_layer"].items()):
            metrics[name] = {"value": float(v), "unit": unit}
            print(f"  {name:44s} {float(v):14.4f} {unit}")
    else:
        for name, (v, unit) in out["e2e"].items():
            if hasattr(v, "median"):
                tail = f" p{v.tail_p * 100:g}={v.tail:.4f}" if v.tail_p and v.tail_p > 0.5 else ""
                print(f"  {name:20s} median={v.median:.4f} q1={v.q1:.4f} q3={v.q3:.4f}{tail} n={v.n} {unit}")
                v = v.median
            else:
                print(f"  {name:20s} {v:.4f} {unit} (n=1)")
            metrics[name] = {"value": float(v), "unit": unit}
        with open(_last_path(bench), "w") as f:
            json.dump({"ops": list(bench.workload.ops), "pass_s": metrics["pass_s"]["value"]}, f)
    result = {
        "correct": bench.outcomes.failed == 0,
        "attempted": bench.outcomes.attempted,
        "failed": bench.outcomes.failed,
        "metrics": metrics,
    }
    sys.stdout.flush()
    print(json.dumps(result))
    return 0
