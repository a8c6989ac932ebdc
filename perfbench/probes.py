"""What the benchmark reads from a live Spark session: job, stage and
task counts, SQL operator metrics, streaming progress, session hygiene
and the JVM's memory. Every reading goes through public PySpark
objects or the JVM objects behind them; nothing in the engine changes.
"""

from __future__ import annotations

import os
import re
import threading

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

# SQL operator metrics summed per key (name in Spark's status store -> ours).
SQL_METRICS = {
    "shuffle bytes written": "shuffle_write_bytes",
    "spill size": "spill_bytes",
    "peak memory": "peak_mem_bytes",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_SIZE = re.compile(r"^([0-9.]+) (B|KiB|MiB|GiB|TiB|PiB)\b")


def parse_size(text: str) -> int:
    """Bytes in a formatted SQL size metric: either ``12.0 KiB`` or, for
    several tasks, ``total (min, med, max ...)`` over ``12.0 KiB (...)``."""
    for line in text.splitlines():
        m = _SIZE.match(line.strip())
        if m:
            return int(float(m.group(1)) * _UNITS[m.group(2)])
    return 0


def jvm_peak_rss_mb(spark: SparkSession) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def plan_nodes(plan) -> int:
    """Physical operators in a plan. An adaptive plan and a query stage
    count with the plan they wrap; a cached relation counts as its scan,
    since the plan it was built from belongs to whichever key cached it."""
    n, stack = 0, [plan]
    while stack:
        node = stack.pop()
        n += 1
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return n


def conf_snapshot(spark: SparkSession) -> dict[str, str]:
    return dict(spark.conf.getAll)


def persisted_rdds(spark: SparkSession) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def scratch_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files new or changed between two snapshots."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return sum(after[p][0] for p in changed), len(changed)


class _StreamCounter(StreamingQueryListener):
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.batches = 0
        self.batch_ms = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self.lock:
            self.batches += 1
            self.batch_ms += event.progress.durationMs.get("triggerExecution", 0)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Counters:
    """Monotone counters of one session, read at span boundaries.

    Job and stage ids come from the DAG scheduler's id allocators, so jobs
    started on other threads (streaming micro-batches) count too."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.stream = _StreamCounter()
        spark.streams.addListener(self.stream)
        self.next_execution = 0

    def next_job(self) -> int:
        return self.jsc.dagScheduler().nextJobId()

    def settle(self) -> None:
        """Wait until every listener event posted so far is delivered, so
        the status stores and the streaming counter are complete."""
        self.jsc.listenerBus().waitUntilEmpty()

    def stages_and_tasks(self, first_job: int, end_job: int) -> tuple[int, int]:
        stages, tasks = set(), 0
        for jid in range(first_job, end_job):
            job = self.tracker.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                info = self.tracker.getStageInfo(sid)
                if info and info.numCompletedTasks > 0 and sid not in stages:
                    stages.add(sid)
                    tasks += info.numCompletedTasks
        return len(stages), tasks

    def sql_metrics(self) -> dict[str, int]:
        """Summed SQL metrics of the executions finished since the last
        call; ``peak_mem_bytes`` is the largest single execution's sum."""
        out = dict.fromkeys(SQL_METRICS.values(), 0)
        eid, misses = self.next_execution, 0
        while misses < 3:  # execution ids are dense; stop past the newest
            opt = self.sql_store.execution(eid)
            if opt.isEmpty():
                misses += 1
                eid += 1
                continue
            misses = 0
            # One py4j call per list: SQLPlanMetric(name,accumulatorId,type)
            # case-class strings, and "accumulatorId -> value" map entries.
            names = {}
            for m in filter(None, opt.get().metrics().mkString("\x01").split("\x01")):
                name, acc, _ = m[len("SQLPlanMetric("):-1].rsplit(",", 2)
                if name in SQL_METRICS:
                    names[acc] = SQL_METRICS[name]
            per_exec = dict.fromkeys(SQL_METRICS.values(), 0)
            for kv in self.sql_store.executionMetrics(eid).mkString("\x01").split("\x01"):
                acc, _, value = kv.partition(" -> ")
                if acc in names:
                    per_exec[names[acc]] += parse_size(value)
            out["shuffle_write_bytes"] += per_exec["shuffle_write_bytes"]
            out["spill_bytes"] += per_exec["spill_bytes"]
            out["peak_mem_bytes"] = max(out["peak_mem_bytes"], per_exec["peak_mem_bytes"])
            eid += 1
            self.next_execution = eid
        return out

    def streaming(self) -> tuple[int, int]:
        with self.stream.lock:
            return self.stream.batches, self.stream.batch_ms
