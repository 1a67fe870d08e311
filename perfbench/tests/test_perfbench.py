"""The benchmark's own rules, checked without Spark.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from stats import Outcomes, percentile, summarize, tail_percentile  # noqa: E402
from workloads import EXACT_KNN  # noqa: E402

# -- percentiles and sample counts ------------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [(1, None), (19, None), (20, 0.5), (99, 0.5), (100, 0.9), (999, 0.9), (1000, 0.99), (10_000, 0.999)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_percentile_interpolates_and_matches_median():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 0.0) == 1.0
    assert percentile(xs, 1.0) == 5.0
    assert percentile(xs, 0.5) == statistics.median(xs)
    assert percentile(xs, 0.25) == 2.0
    assert percentile([1.0, 2.0], 0.5) == 1.5
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_summary_reports_tail_only_when_supported():
    small = summarize([float(i) for i in range(19)])
    assert small.n == 19 and small.tail_p is None and small.tail is None
    big = summarize([float(i) for i in range(100)])
    assert big.tail_p == 0.9
    assert big.tail == pytest.approx(89.1)
    assert big.q1 <= big.median <= big.q3


# -- error_rate accounting --------------------------------------------------


def test_outcomes_count_every_failure():
    o = Outcomes()
    assert o.error_rate == 0.0
    for _ in range(3):
        o.ok()
    o.fail("a", "wrong hash")
    assert (o.attempted, o.failed, o.error_rate) == (4, 1, 0.25)


def _bench(workload="curation_stream_ann", trace=0):
    args = types.SimpleNamespace(workload=workload, seed=7, seconds=0.0, trace=trace)
    paths = {k: "/nonexistent" for k in ("data", "eventlog", "state", "scratch")}
    return run.Bench(args, "/nonexistent", paths)


def test_wrong_results_and_missed_gates_fail_exactly_once():
    b = _bench()
    rows = [(1, "x")]
    b.expected["dedup_near_minhash"] = oracle.result_hash(["id", "v"], rows)
    rec = lambda op: {"op": op, "pass": -1, "ok": True}  # noqa: E731

    b.check_result("dedup_near_minhash", ["id", "v"], rows, rec("dedup_near_minhash"))
    b.check_result("dedup_near_minhash", ["id", "v"], [(1, "y")], rec("dedup_near_minhash"))
    assert (b.outcomes.attempted, b.outcomes.failed) == (2, 1)

    # an op with neither oracle nor gate cannot pass
    b.check_result("stream_tumbling", ["a"], [(1,)], rec("stream_tumbling"))
    assert (b.outcomes.attempted, b.outcomes.failed) == (3, 2)

    # timed passes compare row counts with the checked warm pass
    b.check_rows("dedup_near_minhash", 1, rec("dedup_near_minhash"))
    b.check_rows("dedup_near_minhash", 2, rec("dedup_near_minhash"))
    assert (b.outcomes.attempted, b.outcomes.failed) == (5, 3)

    # the gated ANN read counts once, when its recall is known
    exact = [(q, n, 0.0) for q in range(4) for n in range(10, 15)]
    ann_good = [(q, n, 0.0) for q in range(4) for n in (10, 11, 12, 99, 98)]
    cols = ["vec_id", "neighbor_id", "sim"]
    b.knn_rows[EXACT_KNN] = oracle.top5(exact)
    b.check_result("sim_knn_ivf_kmeans", cols, ann_good, rec("sim_knn_ivf_kmeans"))
    assert (b.outcomes.attempted, b.outcomes.failed) == (5, 3)
    b.check_recalls()
    assert b.recalls["sim_knn_ivf_kmeans"] == pytest.approx(0.6)
    assert (b.outcomes.attempted, b.outcomes.failed) == (6, 3)

    ann_bad = [(q, n, 0.0) for q in range(4) for n in (10, 95, 96, 97, 98)]
    b.check_result("sim_knn_ivf_kmeans", cols, ann_bad, rec("sim_knn_ivf_kmeans"))
    b.check_recalls()
    assert b.recalls["sim_knn_ivf_kmeans"] == pytest.approx(0.2)
    assert (b.outcomes.attempted, b.outcomes.failed) == (7, 4)
    assert b.outcomes.error_rate == pytest.approx(4 / 7)


def test_result_hash_ignores_row_and_column_order():
    a = oracle.result_hash(["x", "y"], [(1, 2.0), (3, None)])
    b = oracle.result_hash(["y", "x"], [(None, 3), (2.0, 1)])
    assert a == b
    assert a != oracle.result_hash(["x", "y"], [(1, 2.5), (3, None)])


# -- event log and reconciliation -------------------------------------------


def _write_log(path, events):
    import json

    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def test_event_log_counts_jobs_stages_tasks_per_group(tmp_path):
    props = lambda g: {"spark.jobGroup.id": g}  # noqa: E731
    task = lambda sid, run: {  # noqa: E731
        "Event": "SparkListenerTaskEnd", "Stage ID": sid,
        "Task Info": {"Launch Time": 100, "Finish Time": 100 + run + 5, "Accumulables": []},
        "Task Metrics": {"Executor Run Time": run, "Executor Deserialize Time": 2,
                         "Executor CPU Time": run * 1_000_000},
    }
    _write_log(tmp_path / "app-1", [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [1, 2], "Properties": props("perfbench:0:a")},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        task(1, 10), task(1, 20), task(1, 30),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        # a streaming query's job runs under its run id, which maps to the op
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
         "Stage IDs": [3], "Properties": props("run-42")},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
        task(3, 7),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
        {"Event": layers.SQL_START, "executionId": 5, "time": 900},
        {"Event": layers.SQL_END, "executionId": 5, "time": 1450},
    ])
    groups, sql = layers.event_log(str(tmp_path), {"run-42": "perfbench:0:a"})
    g = groups["perfbench:0:a"]
    # stage 2 was skipped: it never completed, so it did not run
    assert (g["jobs"], g["stages"], g["tasks"]) == (2, 2, 4)
    assert g["run_ms"] == 67 and g["cpu_ms"] == pytest.approx(67)
    assert g["sched_delay_ms"] == pytest.approx(4 * 3)
    assert sorted(g["job_iv"]) == [(1000.0, 1400.0), (1500.0, 1600.0)]
    assert sql == [(900.0, 1450.0)]


def test_covered_s_unions_overlaps_and_clips_to_windows():
    ivs = [(0, 400), (300, 600), (700, 800), (1500, 2500)]
    assert layers.covered_s(ivs, [(0, 1000)]) == pytest.approx(0.7)
    assert layers.covered_s(ivs, [(0, 1000), (2000, 3000)]) == pytest.approx(1.2)
    assert layers.covered_s([], [(0, 1000)]) == 0.0


def test_explained_share_leaves_unexplained_time_visible():
    rec = {"group": "g", "windows": [(0.0, 1000.0)], "driver_cpu_s": 0.1,
           "phases_iv": {"planning": (700.0, 800.0)}}
    log = {"g": {"job_iv": [(0.0, 400.0)]}}
    # jobs and SQL cover 0.6 s, planning 0.1 s, driver CPU 0.1 s: 0.2 s of
    # the 1 s is explained by no layer
    assert layers.explained_share(rec, log, [(300.0, 600.0)]) == pytest.approx(0.8)
    full = dict(rec, driver_cpu_s=0.2)
    assert layers.explained_share(full, log, [(300.0, 700.0)]) == pytest.approx(1.0)


# -- a delay in one layer shows in that layer and in pass_s only ------------


class _Count:
    def __init__(self, n):
        self.n = n

    def count(self):
        return self.n


class _QE:
    def __init__(self, n, delay):
        self.n, self.delay = n, delay

    def toRdd(self):
        time.sleep(self.delay)
        return _Count(self.n)


class _DF:
    def __init__(self, n, action_delay):
        self._jdf = types.SimpleNamespace(queryExecution=lambda: _QE(n, action_delay))


class _Proc:
    def sample(self):
        return {"jvm_cpu_s": 0.0, "py_cpu_s": 0.0, "write_mb": 0.0, "jvm_write_mb": 0.0}


def _fake_op(module, declare_delay, action_delay):
    def fn(spark, data_dir):
        time.sleep(declare_delay)
        return _DF(3, action_delay)

    fn.__module__ = f"userportrait.ops.{module}"
    return fn


BASE = 0.02
DELAY = 0.25


def _measure(delays: dict[str, float]) -> dict[str, float]:
    """Run two timed passes of a fake two-op workload; ``delays`` adds
    seconds to one layer: portrait.declare, portrait.action, joins.declare,
    joins.action or release_pins."""
    b = _bench("portrait_batch")
    sc = types.SimpleNamespace(setJobGroup=lambda g, d: None)
    b.spark = types.SimpleNamespace(sparkContext=sc)
    b.ops = {
        "tag_rfm": _fake_op("portrait", BASE + delays.get("portrait.declare", 0),
                            BASE + delays.get("portrait.action", 0)),
        "join_sortmerge_big": _fake_op("joins", BASE + delays.get("joins.declare", 0),
                                       BASE + delays.get("joins.action", 0)),
    }
    b.workload = types.SimpleNamespace(ops=tuple(b.ops), recall_gates=(), cold_worker_cache=False,
                                       name="portrait_batch")

    def release():
        time.sleep(BASE + delays.get("release_pins", 0))
        return 1

    b.release_pins, b.clear_caches, b.proc = release, None, _Proc()
    b.session_s = b.registry_s = b.warmup_s = 0.0
    b.expected_rows = {n: 3 for n in b.ops}
    for p in range(2):
        b.run_pass(p, check=False)
    timed = [r for r in b.records if r["ok"]]
    m = {k: v for k, (v, _) in layers.per_layer(b, timed, 0, 0).items()}
    m["pass_s"] = statistics.median(p["pass_s"] for p in b.passes)
    assert b.outcomes.failed == 0
    return m


WATCHED = {
    "portrait.declare": "ops.portrait.declare_s",
    "portrait.action": "ops.portrait.action_s",
    "joins.declare": "ops.joins.declare_s",
    "joins.action": "ops.joins.action_s",
    "release_pins": "catalog.release_pins_s",
}


@pytest.mark.parametrize("layer", sorted(WATCHED))
def test_injected_delay_moves_its_layer_and_pass_s_only(layer):
    base = _measure({})
    slow = _measure({layer: DELAY})
    tol = 0.1
    per_pass = DELAY * (2 if layer == "release_pins" else 1)  # pins are released after each op
    assert slow[WATCHED[layer]] - base[WATCHED[layer]] == pytest.approx(per_pass, abs=tol)
    assert slow["pass_s"] - base["pass_s"] == pytest.approx(per_pass, abs=tol)
    for other in set(WATCHED.values()) - {WATCHED[layer]}:
        assert abs(slow[other] - base[other]) < tol, other
    # op latency (declare + action) includes the op's layers, not pin release
    moved_op = {"portrait": "op.tag_rfm_s", "joins": "op.join_sortmerge_big_s"}
    for prefix, metric in moved_op.items():
        expect = DELAY if layer.startswith(prefix) else 0.0
        assert slow[metric] - base[metric] == pytest.approx(expect, abs=tol), metric
