"""Layered OLAP benchmark of the hive_test_spark engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 5 --trace 0

One process, one ``local[nproc]`` session, one closed-loop client: each
key starts when the previous one has finished. A run

1. starts the session and loads the registry (``api.queries()``);
2. runs every key of the workload once, untimed, collects its result and
   checks it against ``fingerprints.json`` -- this is also the warm pass;
3. runs complete passes over the keys (a ``noop`` write forces each
   result) until ``--seconds`` have passed.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` splits each key
run into build / plan / exec spans with counters and prints the per-layer
metrics. The last line of stdout is one JSON object; see README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")  # JVM/Spark temp files and traces

import measure  # noqa: E402
import probes  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
}
PER_LAYER = {
    "jvm_peak_rss_mb": "MB",
    "registry.load_s": "s",
    "session.start_s": "s",
    "session.conf_leaks": "count",
    "io.load_table_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "catalyst.plan_s": "s",
    "catalyst.plan_nodes": "count",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_mem_bytes": "bytes",
    "exec.persisted_rdds": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "trace.key_self_s": "s",
    "trace.pass_s": "s",
}


def process_age() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env() -> str:
    """Keep Spark's, the JVM's and Python's temp files inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + opts).strip()
    return tmp


class Bench:
    def __init__(self, spark, qs, io, keys: list[str], traced: bool) -> None:
        self.spark, self.qs, self.io, self.keys, self.traced = spark, qs, io, keys, traced
        self.sf_dir = workloads.sf_dir(io)
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}  # key -> first failure
        self.leaks: dict[str, str] = {}  # conf key -> first key run that changed it
        self.rdd_growth: dict[str, int] = {}
        self.warm: dict[str, float] = {}  # key -> seconds of its warm run
        self.sinks = [0, 0]  # bytes, files written under io.SCRATCH_DIR
        self.counters = probes.Counters(spark) if traced else None
        self.key_counts: dict[str, dict] = {}  # key -> counters of its last traced run
        self.spans: list[list] = []  # per complete traced pass

    def fail(self, key: str, why: str | None = None) -> None:
        """Count a failed key run; ``why`` defaults to the exception being handled."""
        self.failed += 1
        self.failures.setdefault(key, why or traceback.format_exc(limit=1).strip().splitlines()[-1])

    def hygiene(self, key: str, fn) -> float:
        """Run ``fn`` and record conf keys, persisted RDDs and scratch
        files it changed. Returns the seconds ``fn`` took."""
        conf0, rdd0 = probes.conf_snapshot(self.spark), probes.persisted_rdds(self.spark)
        files0 = probes.scratch_files(self.io.SCRATCH_DIR)
        t0 = time.perf_counter()
        fn()
        took = time.perf_counter() - t0
        conf1 = probes.conf_snapshot(self.spark)
        for k in sorted(set(conf0) | set(conf1)):
            if conf0.get(k) != conf1.get(k):
                self.leaks.setdefault(k, key)
        grew = probes.persisted_rdds(self.spark) - rdd0
        if grew:
            self.rdd_growth[key] = self.rdd_growth.get(key, 0) + grew
        nbytes, nfiles = probes.written(files0, probes.scratch_files(self.io.SCRATCH_DIR))
        self.sinks[0] += nbytes
        self.sinks[1] += nfiles
        return took

    def check_pass(self, expected: dict[str, dict]) -> None:
        """Run each key once, collect and fingerprint its result. Records
        in ``warm`` the seconds each key took, without the bookkeeping."""
        for key in self.keys:
            self.attempted += 1
            result = {}

            def collect(key=key, result=result):
                df = self.qs[key](self.spark, self.sf_dir)
                if key in workloads.ROWS_ONLY:
                    result["got"] = {"rows": df.count()}
                else:
                    result["pdf"] = df.toPandas()

            try:
                self.warm[key] = self.hygiene(key, collect)
            except Exception:
                self.fail(key)
                continue
            got = result.get("got") or measure.fingerprint(result["pdf"])
            if not measure.check(expected.get(key), got):
                self.fail(key, f"fingerprint {got} != expected {expected.get(key)}")

    def run_key(self, key: str) -> float:
        t0 = time.perf_counter()
        self.qs[key](self.spark, self.sf_dir).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    def traced_key(self, key: str, spans: list, pass_counts: dict) -> float:
        c = self.counters
        root = measure.Span("key", time.perf_counter(), 0.0, key=key)
        i = len(spans)
        spans.append(root)
        self.spark.sparkContext.setJobGroup(f"perfbench:{key}", key)
        j0 = c.next_job()
        batches0, batch_ms0 = c.streaming()
        out = {}

        def body():
            t0 = time.perf_counter()
            df = self.qs[key](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            out["j1"] = c.next_job()
            plan = df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            out["nodes"] = probes.plan_nodes(plan)
            t3 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t4 = time.perf_counter()
            spans.append(measure.Span("operators.build", t0, t1, i, key))
            spans.append(measure.Span("catalyst.plan", t1, t2, i, key))
            spans.append(measure.Span("exec.run", t3, t4, i, key))

        try:
            self.hygiene(key, body)
        except Exception:
            root.end = time.perf_counter()
            raise
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        c.settle()
        j2 = c.next_job()
        stages, tasks = c.stages_and_tasks(out["j1"], j2)
        batches1, batch_ms1 = c.streaming()
        counts = {
            "operators.build_jobs": out["j1"] - j0,
            "catalyst.plan_nodes": out["nodes"],
            "exec.jobs": j2 - out["j1"],
            "exec.stages": stages,
            "exec.tasks": tasks,
            "streaming.batches": batches1 - batches0,
            "streaming.batch_s": (batch_ms1 - batch_ms0) / 1000,
        }
        self.key_counts[key] = counts
        sql = c.sql_metrics()
        counts["exec.shuffle_write_bytes"] = sql["shuffle_write_bytes"]
        counts["exec.spill_bytes"] = sql["spill_bytes"]
        for k, v in counts.items():
            pass_counts[k] = pass_counts.get(k, 0) + v
        pass_counts["exec.peak_mem_bytes"] = max(
            pass_counts.get("exec.peak_mem_bytes", 0), sql["peak_mem_bytes"]
        )
        root.end = time.perf_counter()
        return root.end - root.start

    def timed_passes(self, seconds: float, min_passes: int):
        """Closed loop of complete passes over the keys until ``seconds``
        have passed and ``min_passes`` passes are done. Returns (samples,
        pass times, per-pass layers)."""
        samples: dict[str, list[float]] = {k: [] for k in self.keys}
        pass_times: list[float] = []
        layers: list[dict] = []
        if self.traced:
            self.counters.sql_metrics()  # skip the warm pass's executions
        deadline = time.perf_counter() + seconds
        while len(pass_times) < min_passes or time.perf_counter() < deadline:
            spans: list = []
            counts: dict = {}
            if self.traced:
                t0 = time.perf_counter()
                for t in self.io.TABLES:
                    self.io.load_table(self.spark, self.sf_dir, t)
                counts["io.load_table_s"] = time.perf_counter() - t0
            start = time.perf_counter()
            for key in self.keys:
                self.attempted += 1
                try:
                    if self.traced:
                        samples[key].append(self.traced_key(key, spans, counts))
                    else:
                        samples[key].append(self.run_key(key))
                except Exception:
                    self.fail(key)
            pass_times.append(time.perf_counter() - start)
            if self.traced:
                own = measure.self_times(spans)
                counts.update({f"{k}_s": v for k, v in own.items() if k != "key"})
                counts["trace.key_self_s"] = own.get("key", 0.0)
                counts["trace.pass_s"] = pass_times[-1]
                counts["exec.persisted_rdds"] = probes.persisted_rdds(self.spark)
                layers.append(counts)
                self.spans.append(spans)
        return samples, pass_times, layers


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        return run(args)
    finally:
        stop_processes()


def run(args) -> int:
    origin = time.perf_counter() - process_age()
    tmp = prepare_env()
    sys.path.insert(0, ROOT)
    try:
        import pyspark
        from hive_test_spark import api, io, session
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.isdir(workloads.sf_dir(io)):
        print(f"perfbench: fixture directory {workloads.sf_dir(io)} is missing", file=sys.stderr)
        return 2
    expected = workloads.load_fingerprints()
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf_dir": workloads.sf_dir(io),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "pyspark": pyspark.__version__,
        "load1_start": os.getloadavg()[0],
    }

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        qs = api.queries()
        registry_load_s = time.perf_counter() - t0
        keys = workloads.keys_for(args.workload, qs, args.seed, expected)
        context.update(keys=keys, session_start_s=session_start_s, registry_load_s=registry_load_s)
        bench = Bench(spark, qs, io, keys, bool(args.trace))
        t0 = time.perf_counter()
        bench.check_pass(expected)
        warm = sum(bench.warm.values())
        context["warm_pass_s"] = warm
        context["check_overhead_s"] = time.perf_counter() - t0 - warm
        setup_s = t0 - origin + warm
        samples, pass_times, layers = bench.timed_passes(
            args.seconds, workloads.min_passes(args.workload)
        )
        rss = probes.jvm_peak_rss_mb(spark)
    finally:
        spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    context["load1_end"] = os.getloadavg()[0]

    all_samples = [x for xs in samples.values() for x in xs]
    print(json.dumps({"context": context}))
    for key in keys:
        xs = samples[key]
        med = f"{statistics.median(xs):.3f}s" if xs else "-"
        print(f"key {key}: warm {bench.warm.get(key, float('nan')):.3f}s, {len(xs)} timed runs, median {med}")
    for key, why in bench.failures.items():
        print(f"FAILED {key}: {why}")
    for conf, key in bench.leaks.items():
        print(f"conf leak: {conf} changed by {key}")
    for key, n in bench.rdd_growth.items():
        print(f"persisted RDDs: {n:+d} after {key}")
    print(f"sinks: {bench.sinks[0]} bytes in {bench.sinks[1]} files written under io.SCRATCH_DIR")
    p90 = measure.percentile(all_samples, 90)
    print(
        f"query_p90_s: {p90:.4f} over {len(all_samples)} samples" if p90 is not None
        else f"query_p90_s: not reported, {len(all_samples)} samples leave fewer than 10 beyond p90"
    )
    print(f"error_rate: {bench.failed}/{bench.attempted} = {bench.failed / bench.attempted:.4f}")

    if args.trace:
        values = {
            "registry.load_s": registry_load_s,
            "session.start_s": session_start_s,
            "session.conf_leaks": len(bench.leaks),
            "jvm_peak_rss_mb": rss,
        }
        for name in PER_LAYER:
            if name not in values:
                values[name] = statistics.median([lay.get(name, 0) for lay in layers])
        for key in keys:
            split = {n: [] for n in ("operators.build", "catalyst.plan", "exec.run")}
            for spans in bench.spans:
                for s in spans:
                    if s.key == key and s.name in split:
                        split[s.name].append(s.end - s.start)
            med = {n: statistics.median(v) if v else 0.0 for n, v in split.items()}
            total = sum(med.values()) or 1.0
            counts = bench.key_counts.get(key, {})
            parts = [f"{n} {v:.3f}s ({v / total:.0%})" for n, v in med.items()]
            parts += [f"{n} {counts[n]}" for n in ("operators.build_jobs", "exec.jobs", "catalyst.plan_nodes") if n in counts]
            print(f"split {key}: " + ", ".join(parts))
        write_trace(args, origin, bench.spans, layers)
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(pass_times),
            "query_p50_s": statistics.median(all_samples),
        }
        units = END_TO_END
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(pid: int) -> dict[int, str]:
    """Every live process below ``pid``, mapped to its start time (so a
    reused pid is not mistaken for it)."""
    children: dict[int, list[int]] = {}
    started: dict[int, str] = {}
    for name in os.listdir("/proc"):
        fields = _stat(int(name)) if name.isdigit() else None
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
            started[int(name)] = fields[19]
    out, stack = {}, list(children.get(pid, []))
    while stack:
        p = stack.pop()
        out[p] = started[p]
        stack.extend(children.get(p, []))
    return out


def _alive(pid: int, started: str) -> bool:
    fields = _stat(pid)
    return fields is not None and fields[19] == started and fields[0] != "Z"


def stop_processes(grace: float = 20.0) -> None:
    """Stop the JVM behind the session and every process started below
    this one (the JVM's Python workers too), and wait until each has
    ended: the JVM exits when its stdin closes; whatever is still alive
    after ``grace`` seconds is killed."""
    procs = descendants(os.getpid())
    context = sys.modules.get("pyspark.core.context")
    gateway = context.SparkContext._gateway if context else None
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=grace)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        context.SparkContext._gateway = context.SparkContext._jvm = None
    deadline = time.monotonic() + grace
    while procs:
        procs = {p: s for p, s in procs.items() if _alive(p, s)}
        if procs and time.monotonic() > deadline:
            for p in procs:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def write_trace(args, origin: float, passes: list[list], layers: list[dict]) -> None:
    path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
    doc = {
        "passes": [
            {
                "layers": lay,
                "spans": [
                    {"name": s.name, "key": s.key, "parent": s.parent,
                     "start": s.start - origin, "end": s.end - origin}
                    for s in spans
                ],
            }
            for spans, lay in zip(passes, layers)
        ]
    }
    with open(path, "w") as fh:
        json.dump(doc, fh)
    print(f"trace: {path}")


if __name__ == "__main__":
    sys.exit(main())
