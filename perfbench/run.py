#!/usr/bin/env python3
"""Layered, seeded benchmark of the registry's ops through ``__spark_entry__``.

Run from the repository root:

    python3 perfbench/run.py --workload portrait_batch --seed 1 --seconds 12 --trace 0

One process, one client thread, closed loop: the workload's ops run back to
back, each timed as declare (``fn(spark, data_dir)``) plus an action that
executes the op's full output through the DataFrame's own QueryExecution.
``--seed`` permutes the op order of every pass; the inputs themselves are a
fixed seeded table set generated into ``.perfbench_state/`` on first use,
together with the cached DuckDB oracle hashes.

A run: reset the program's persisted roots, start the session, load the
registry and run one warm pass whose every output is checked against its
oracle hash or recall gate (together ``setup_s``), then the workload's
untimed JIT warm-up passes, then timed passes until ``--seconds`` have
passed and at least two have run. Warm-up and timed passes check each op's
row count again. With ``--trace 1`` the Spark event log is on, spans are
recorded around every call into a layer, and the per-layer metrics are
printed instead of the end-to-end ones. The last stdout line is the JSON
result.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
from stats import Outcomes, summarize  # noqa: E402
from trace import Tracer  # noqa: E402
from workloads import EXACT_KNN, WORKLOADS  # noqa: E402

# pass_s is the median of at least this many timed passes.
MIN_PASSES = 2
DATA_SF = 0.01
DATA_SEED = 20240101
STATE = ".perfbench_state"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare(root: str, trace: bool) -> dict[str, str]:
    """Empty every root the program or Spark persists into, point them all
    inside the checkout, and set the process environment the session will
    inherit. Returns the state paths."""
    state = os.path.join(root, STATE)
    paths = {
        "state": state,
        "data": os.path.join(state, "data"),
        "oracle": os.path.join(state, "oracle"),
        "run": os.path.join(state, "run"),
        "scratch": os.path.join(root, "_scratch"),
    }
    for sub in ("tmp", "local", "stream_stage", "eventlog"):
        paths[sub] = os.path.join(paths["run"], sub)
    for d in (paths["run"], paths["scratch"]):
        shutil.rmtree(d, ignore_errors=True)
    for sub in ("tmp", "local", "stream_stage", "eventlog"):
        os.makedirs(paths[sub])
    cpus = str(layers.nproc())
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = cpus
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = paths["local"]
    env["TMPDIR"] = paths["tmp"]
    # -XX:-UsePerfData: the JVM would otherwise keep hsperfdata under /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={paths['tmp']} -XX:-UsePerfData"
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{paths['eventlog']}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return paths


class Bench:
    def __init__(self, args, root: str, paths: dict[str, str]):
        self.args = args
        self.root = root
        self.paths = paths
        self.workload = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(f"{args.workload}-{args.seed}", bool(args.trace))
        self.outcomes = Outcomes()
        self.records: list[dict] = []  # one per op run
        self.passes: list[dict] = []  # one per timed pass
        self.expected: dict[str, dict] = {}  # op -> oracle hash
        self.expected_rows: dict[str, int] = {}
        self.recalls: dict[str, float] = {}
        self.knn_rows: dict[str, dict[int, set[int]]] = {}  # op -> top-5 per query
        self.hooks: dict[str, bool] = {}
        self.stream = None
        self.spark = None
        self.proc = None
        self.data_sf, self.data_seed = DATA_SF, DATA_SEED

    # -- set-up -----------------------------------------------------------

    def expected_results(self) -> None:
        """Oracle hashes for the workload's ops; cached in the checkout and
        computed outside every timed region."""
        self.oracles = self.entry.oracle_sql()
        cache = oracle.OracleCache(self.paths["oracle"], self.paths["data"])
        try:
            for name in sorted(self.workload.ops):
                if name in self.oracles:
                    self.expected[name] = cache.expected(name, self.oracles[name])
            if self.workload.recall_gates:
                self.knn_rows[EXACT_KNN] = cache.top5(EXACT_KNN, self.oracles[EXACT_KNN])
        finally:
            cache.close()

    def setup(self) -> None:
        """Session start, registry load and the checked warm pass; their
        sum is ``setup_s``. Inputs are generated before, untimed."""
        datagen.ensure(self.paths["data"], DATA_SF, DATA_SEED)
        sys.path.insert(0, self.root)
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            from userportrait.session import get_spark

            self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        self.proc = layers.ProcStats(self.spark)
        with self.tracer.span("registry.load_all_ops"):
            import __spark_entry__ as entry

            queries = entry.queries()
        t2 = time.perf_counter()
        self.entry = entry
        self.expected_results()
        self.ops = {n: queries[n] for n in self.workload.ops}
        self.session_s, self.registry_s = t1 - t0, t2 - t1
        self.release_pins = layers.optional_hook("userportrait.catalog", "release_pins", self.hooks)
        self.clear_caches = layers.optional_hook(
            "userportrait.ops.llm_dedup", "clear_worker_caches", self.hooks
        )
        # The staged event stream is the program's one persisted root outside
        # the checkout; point it at this run's state so every run starts empty.
        stage = layers.optional_hook("userportrait.ops.streaming", "_STAGE_ROOT", self.hooks)
        if stage is not None:
            import userportrait.ops.streaming as streaming

            streaming._STAGE_ROOT = self.paths["stream_stage"]
        if self.args.trace:
            self.stream = layers.StreamProbe()
            self.spark.streams.addListener(self.stream.listener)
        warm_s = self.run_pass(-1, check=True)
        self.setup_s = self.session_s + self.registry_s + warm_s
        self.check_recalls()
        t0 = time.perf_counter()
        for i in range(self.workload.warmup_passes):
            self.run_pass(-2 - i, check=False)
        self.warmup_s = time.perf_counter() - t0

    # -- one op, one pass -------------------------------------------------

    def run_op(self, pass_no: int, name: str, check: bool) -> float:
        """Declare + execute one op; returns the seconds the pass is charged
        (declare, action, pin release). Checks run outside that time."""
        fn = self.ops[name]
        module = fn.__module__.rsplit(".", 1)[-1]
        group = f"perfbench:{pass_no}:{name}"
        sc = self.spark.sparkContext
        rec = {"pass": pass_no, "op": name, "module": module, "group": group, "ok": True}
        self.tracer.pass_no, self.tracer.op = pass_no, name
        if self.stream is not None:
            self.stream.begin(group)
        sc.setJobGroup(group, name)
        rows = None
        epoch0, cpu0 = time.time(), _own_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                with self.tracer.span(f"ops.{module}.declare"):
                    df = fn(self.spark, self.paths["data"])
                t1 = time.perf_counter()
                with self.tracer.span(f"ops.{module}.action"):
                    qe = df._jdf.queryExecution()
                    if check:
                        cols = df.columns
                        rows = [tuple(r) for r in df.collect()]
                        n = len(rows)
                    else:
                        n = qe.toRdd().count()
            t2 = time.perf_counter()
            cpu2 = _own_cpu_s()
        except Exception as e:  # an op failure is recorded and the run goes on
            traceback.print_exc(file=sys.stderr)
            self.outcomes.fail(name, f"{type(e).__name__}: {e}"[:300])
            sc.setJobGroup("perfbench:idle", "idle")
            rec.update(ok=False, declare_s=0.0, action_s=0.0, rows=-1)
            self.records.append(rec)
            return time.perf_counter() - t0
        rec.update(declare_s=t1 - t0, action_s=t2 - t1, rows=n)
        if self.args.trace:
            rec["phases_iv"] = layers.catalyst_phases(qe)
        sc.setJobGroup("perfbench:idle", "idle")
        if check:
            self.check_result(name, cols, rows, rec)
        else:
            self.check_rows(name, n, rec)
        t3, cpu3 = time.perf_counter(), _own_cpu_s()
        pins = 0
        if self.release_pins is not None:
            with self.tracer.span("catalog.release_pins"):
                pins = self.release_pins()
        t4, cpu4 = time.perf_counter(), _own_cpu_s()
        ms = lambda t: (epoch0 + (t - t0)) * 1000.0  # noqa: E731
        rec.update(pins=pins, release_s=t4 - t3, windows=[(ms(t0), ms(t2)), (ms(t3), ms(t4))],
                   driver_cpu_s=(cpu2 - cpu0) + (cpu4 - cpu3))
        if self.stream is not None:
            self.stream.end()
        self.records.append(rec)
        return (t2 - t0) + (t4 - t3)

    def run_pass(self, pass_no: int, check: bool) -> float:
        if self.workload.cold_worker_cache and self.clear_caches is not None:
            with self.tracer.span("ops.llm_dedup.clear_worker_caches"):
                self.clear_caches(self.spark)
        order = list(self.workload.ops)
        self.rng.shuffle(order)
        probe = layers.host_probe_s()
        before = self.proc.sample()
        charged = 0.0
        t0 = time.perf_counter()
        with self.tracer.span("pass"):
            for name in order:
                charged += self.run_op(pass_no, name, check)
        wall = time.perf_counter() - t0
        after = self.proc.sample()
        if pass_no >= 0:
            delta = {k: after[k] - before[k] for k in before}
            self.passes.append({"pass": pass_no, "pass_s": charged, "wall_s": wall,
                                "host_probe_s": probe, **delta})
        return charged

    # -- correctness ------------------------------------------------------

    def check_result(self, name: str, cols: list[str], rows: list[tuple], rec: dict) -> None:
        if name in self.expected:
            got = oracle.result_hash(cols, rows)
            want = self.expected[name]
            if got != want:
                self._fail(rec, f"oracle mismatch: got {got['rows']} rows {got['hash'][:12]}, "
                                f"want {want['rows']} rows {want['hash'][:12]}")
                return
        elif name not in dict(self.workload.recall_gates):
            self._fail(rec, "no oracle and no recall gate")
            return
        self.expected_rows[name] = len(rows)
        if name in dict(self.workload.recall_gates):
            # counted once its recall is known
            self.knn_rows[name] = oracle.top5(_pairs(cols, rows))
        else:
            self.outcomes.ok()

    def check_rows(self, name: str, n: int, rec: dict) -> None:
        want = self.expected_rows.get(name)
        if want is None or n != want:
            self._fail(rec, f"row count {n}, want {want}")
        else:
            self.outcomes.ok()

    def _fail(self, rec: dict, reason: str) -> None:
        rec["ok"] = False
        self.outcomes.fail(rec["op"], reason)
        print(f"perfbench: FAIL {rec['op']} (pass {rec['pass']}): {reason}", file=sys.stderr)

    def check_recalls(self) -> None:
        rows = self.knn_rows
        for name, gate in self.workload.recall_gates:
            if name not in rows:
                continue  # the op itself failed and is already counted
            r = oracle.recall_at5(rows[EXACT_KNN], rows[name])
            self.recalls[name] = r
            if r < gate:
                self._fail({"op": name, "pass": -1}, f"recall@5 {r:.4f} below gate {gate}")
            else:
                self.outcomes.ok()

    # -- measurement ------------------------------------------------------

    def measure(self) -> None:
        """Timed passes until ``--seconds`` have passed and at least
        MIN_PASSES have run."""
        deadline = time.perf_counter() + self.args.seconds
        pass_no = 0
        while pass_no < MIN_PASSES or time.perf_counter() < deadline:
            self.run_pass(pass_no, check=False)
            pass_no += 1

    def finish(self) -> dict:
        """Stop the session (flushing the event log) and gather every metric."""
        timed = [r for r in self.records if r["pass"] >= 0 and r["ok"]]
        scratch_files, scratch_bytes = layers.tree_size(self.paths["scratch"])
        jvm_hwm = self.proc.jvm_peak_rss_mb()
        if self.stream is not None:
            self.stream.end()
        self.env = layers.environment(self)
        self.stop()
        e2e = {
            "setup_s": (self.setup_s, "s"),
            "pass_s": (summarize([p["pass_s"] for p in self.passes]), "s"),
            "op_geomean_s": (layers.geomean([r["declare_s"] + r["action_s"] for r in timed]), "s"),
            "disk_write_mb": (summarize([p["write_mb"] for p in self.passes]), "MB"),
        }
        per_layer = layers.per_layer(self, timed, scratch_files, scratch_bytes)
        per_layer["proc.jvm_peak_rss_mb"] = (jvm_hwm, "MB")
        lat = [r["declare_s"] + r["action_s"] for r in timed]
        per_layer["op_p50_s"] = (summarize(lat).median if lat else 0.0, "s")
        if self.args.trace:
            self.write_trace()
        return {"e2e": e2e, "per_layer": per_layer}

    def stop(self) -> None:
        """Stop the session and wait for the JVM and its workers, once, on
        every path out of the run."""
        if self.proc is not None:
            proc, self.proc = self.proc, None
            proc.stop(self.spark)

    def write_trace(self) -> None:
        """Spans, one record per op run, and the streaming progress, kept in
        memory during the run and written once here."""
        out_dir = os.path.join(self.paths["state"], "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.workload.name}-{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump({
                "spans": self.tracer.as_dicts(),
                "ops": self.records,
                "passes": self.passes,
                "stream_batches": self.stream.batches if self.stream else [],
            }, f)


def _own_cpu_s() -> float:
    """CPU seconds of this process, the Python side of the Spark driver."""
    t = os.times()
    return t.user + t.system


def _pairs(cols: list[str], rows: list[tuple]) -> list[tuple]:
    qi, ni = cols.index("vec_id"), cols.index("neighbor_id")
    return [(r[qi], r[ni]) for r in rows]


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "userportrait"))):
        print("perfbench: run from the repository root; __spark_entry__.py and "
              "userportrait/ are missing here", file=sys.stderr)
        return 2
    paths = prepare(root, bool(args.trace))
    bench = Bench(args, root, paths)
    try:
        bench.setup()
        bench.measure()
        out = bench.finish()
    finally:
        bench.stop()
    return layers.report(bench, out)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
