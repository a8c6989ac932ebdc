"""Tests of the benchmark's own code. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

None of them starts Spark.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time
from types import SimpleNamespace

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import measure  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_metric_names_are_valid_and_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    for name in list(e2e) + list(layer) + [w["name"] for w in spec["workloads"]]:
        assert measure.valid_metric_name(name), name
    assert not measure.valid_metric_name("bad name")
    assert not measure.valid_metric_name("_leading")
    assert not measure.valid_metric_name("x" * 65)


def test_percentile_needs_ten_samples_beyond_it():
    assert measure.beyond(100, 90) == 10
    assert measure.beyond(99, 90) == 9
    assert measure.percentile([float(i) for i in range(99)], 90) is None
    xs = [float(i) for i in range(1, 101)]
    random.Random(0).shuffle(xs)
    assert measure.percentile(xs, 90) == 90.0
    assert measure.percentile(xs, 50) == 50.0
    assert measure.percentile([], 50) is None


def test_self_times_subtract_the_union_of_clipped_children():
    S = measure.Span
    spans = [
        S("key", 0.0, 10.0),
        S("operators.build", 1.0, 3.0, 0),
        S("catalyst.plan", 2.0, 5.0, 0),  # overlaps build: covered once
        S("exec.run", 8.0, 12.0, 0),  # runs past its parent: clipped at 10
        S("key", 20.0, 21.0),
        S("exec.run", 20.5, 21.0, 4),
    ]
    got = measure.self_times(spans)
    assert abs(got["key"] - ((10 - 6) + 0.5)) < 1e-12
    assert got["operators.build"] == 2.0
    assert got["catalyst.plan"] == 3.0
    assert got["exec.run"] == 4.5


class _Node:
    def __init__(self, name, *children, inner=None):
        self.name, self.kids, self.inner = name, children, inner

    def nodeName(self):
        return self.name

    def children(self):
        return _Seq(self.kids)

    def executedPlan(self):
        return self.inner

    plan = executedPlan


class _Seq:
    def __init__(self, xs):
        self.xs = list(xs)

    def iterator(self):
        return self

    def hasNext(self):
        return bool(self.xs)

    def next(self):
        return self.xs.pop(0)


def test_plan_nodes_follow_aqe_and_stages_but_not_cached_relations():
    scan = _Node("InMemoryTableScan")  # its cached plan is not a child
    join = _Node("BroadcastHashJoin", scan, _Node("ShuffleQueryStage", inner=_Node("Exchange", _Node("Scan parquet"))))
    plan = _Node("AdaptiveSparkPlan", inner=_Node("Project", join))
    assert probes.plan_nodes(plan) == 7


def test_fingerprint_ignores_order_and_last_bits_but_not_values():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, 1e-17]})
    b = pd.DataFrame({"v": [0.0, 0.3], "k": [2, 1]})
    assert measure.fingerprint(a) == measure.fingerprint(b)
    c = pd.DataFrame({"k": [1, 2], "v": [0.3001, 0.0]})
    assert measure.fingerprint(a)["hash"] != measure.fingerprint(c)["hash"]
    assert measure.check({"rows": 2, "hash": None}, measure.fingerprint(c))
    assert not measure.check(None, measure.fingerprint(c))


def _reference_fingerprint(pdf: pd.DataFrame) -> dict:
    """The fingerprint computed row by row from ``oracle.canon_df``."""
    import hashlib

    from hive_test_spark.oracle import canon_df

    def ref(v):
        if isinstance(v, tuple):
            return "(" + ",".join(ref(x) for x in v) + ")"
        return measure.cell(v)

    rows = sorted("\x1f".join(ref(v) for v in row) for row in canon_df(pdf))
    h = hashlib.sha256(repr(sorted(pdf.columns)).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"rows": len(pdf), "hash": h.hexdigest()[:16]}


def test_fingerprint_matches_the_row_by_row_canon_df_reference():
    ts = pd.to_datetime(["2024-01-01 00:00:00", "2024-01-02 03:04:05.123456789", None], format="ISO8601")
    pdf = pd.DataFrame({
        "i": [3, 1, 2],
        "f": [0.1 + 0.2, float("nan"), -1e-12],
        "s": ["b", None, "a"],
        "b": [True, False, True],
        "t": ts,
        "tz": ts.tz_localize("Europe/Paris"),
        "l": [[1.0, 2.0], [], None],
        "d": [{"k": 1}, {}, {"a": 2.5}],
    })
    assert measure.fingerprint(pdf) == _reference_fingerprint(pdf)


def _fake_bench(pdf: pd.DataFrame, tmp_path) -> run.Bench:
    jsc = SimpleNamespace(getPersistentRDDs=lambda: SimpleNamespace(size=lambda: 0))
    spark = SimpleNamespace(
        conf=SimpleNamespace(getAll={}),
        sparkContext=SimpleNamespace(_jsc=jsc),
    )
    qs = {"k1": lambda spark, sf: SimpleNamespace(toPandas=lambda: pdf)}
    io = SimpleNamespace(SCRATCH_DIR=str(tmp_path), DEFAULT_SF_DIR=str(tmp_path / "sf0.001"))
    return run.Bench(spark, qs, io, ["k1"], traced=False)


def test_fingerprint_mismatch_counts_as_a_failed_run(tmp_path):
    pdf = pd.DataFrame({"k": [1, 2, 3]})
    good = measure.fingerprint(pdf)

    bench = _fake_bench(pdf, tmp_path)
    bench.check_pass({"k1": good})
    assert (bench.attempted, bench.failed) == (1, 0)

    bench = _fake_bench(pdf, tmp_path)
    bench.check_pass({"k1": dict(good, hash="0" * 16)})
    assert (bench.attempted, bench.failed) == (1, 1)
    assert "fingerprint" in bench.failures["k1"]

    def broken(spark, sf):
        raise RuntimeError("boom")

    bench = _fake_bench(pdf, tmp_path)
    bench.qs["k1"] = broken
    bench.check_pass({"k1": good})
    assert (bench.attempted, bench.failed) == (1, 1)
    assert "boom" in bench.failures["k1"]


def test_parse_size_reads_single_and_multi_task_metrics():
    assert probes.parse_size("708.0 B") == 708
    assert probes.parse_size("total (min, med, max (stageId: taskId))\n1.5 KiB (1.0 B, 2.0 B, 3.0 B (stage 1.0: task 4))") == 1536
    assert probes.parse_size("") == 0


def test_evt_sample_takes_one_key_per_cost_stratum():
    n, m = 21, workloads.EVT_SAMPLE
    keys = [f"evt_{i:02d}" for i in range(n)]
    cost = {k: float(n - i) for i, k in enumerate(keys)}  # names do not order by cost
    for seed in range(5):
        got = workloads.evt_sample(keys, cost, random.Random(seed))
        ranks = [n - 1 - int(k[-2:]) for k in got]  # position by ascending cost
        assert [r * m // n for r in ranks] == list(range(m))


def test_workload_keys_are_fixed_by_the_seed():
    fps = workloads.load_fingerprints()

    def registered(key):
        fn = lambda spark, sf: None  # noqa: E731
        fn.__module__ = "hive_test_spark.operators.analytics" if key.startswith("evt_") else "other"
        return fn

    qs = {k: registered(k) for k in fps}
    for name in ("olap_mix", "iterative_eager"):
        a = workloads.keys_for(name, qs, 7, fps)
        assert a == workloads.keys_for(name, qs, 7, fps)
        assert all(k in fps for k in a)
    olap = workloads.keys_for("olap_mix", qs, 7, fps)
    assert set(workloads.HEADLINE) <= set(olap)
    assert len(olap) == len(workloads.HEADLINE) + workloads.EVT_SAMPLE


def test_stop_processes_ends_children_and_grandchildren():
    # A child that starts a grandchild and ignores SIGTERM, like a JVM
    # whose Python workers outlive it.
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import signal, subprocess, sys, time;"
         "signal.signal(signal.SIGTERM, signal.SIG_IGN);"
         "subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)']);"
         "time.sleep(60)"],
    )
    try:
        for _ in range(200):
            below = run.descendants(os.getpid())
            if len(below) >= 2:
                break
            time.sleep(0.05)
        assert child.pid in below and len(below) >= 2
        run.stop_processes(grace=0.5)
        assert not any(run._alive(p, s) for p, s in below.items())
    finally:
        child.kill()
        child.wait()
