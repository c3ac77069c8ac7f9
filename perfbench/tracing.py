"""Layer spans and Spark-side counters, taken from outside the engine.

``Tracer.patched()`` swaps each traced public function of the engine modules
for a wrapper that opens a span (name, start, end, parent, run id) with its
own Spark job group, materialises the function's output inside the span so
the work is charged to it, and closes the span.  Nothing in the engine is
edited: engine code that calls a traced function through its module global
(``conflate.conflate`` → ``candidate_pairs``) picks the wrapper up too.

Spans stay in memory; ``layer_metrics`` reads the task and stage metrics of
each span's job group from Spark's status store when the run ends.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from osm_merge_spark.operators import buildings, conflate, poi, spans, tiling
from osm_merge_spark.plans import lineage
from osm_merge_spark.sources import converters, doctable

# layer name → (module, function).  ``conflate.attach`` wraps the whole
# ``conflate.conflate`` call: its self time is what is left once the
# candidate/score/best-match children are taken out, i.e. the tag and
# version attach plus the anti-join.
LAYERS = {
    "conflate.with_cells": (conflate, "with_cells"),
    "conflate.candidate_pairs": (conflate, "candidate_pairs"),
    "conflate.score_pairs": (conflate, "score_pairs"),
    "conflate.best_matches": (conflate, "best_matches"),
    "conflate.attach": (conflate, "conflate"),
    "converters.local_roads_convert": (converters, "local_roads_convert"),
    "doctable.read_documents": (doctable, "read_documents"),
    "spans.spans_to_features": (spans, "spans_to_features"),
    "spans.features_to_spans": (spans, "features_to_spans"),
    "lineage.run_bucketed": (lineage, "run_bucketed"),
    "lineage.completed_buckets": (lineage, "completed_buckets"),
    "poi.knn_join": (poi, "knn_join"),
    "buildings.overlap_join": (buildings, "overlap_join"),
    "buildings.new_buildings": (buildings, "new_buildings"),
    "tiling.assign_points_to_tiles": (tiling, "assign_points_to_tiles"),
    "tiling.assign_lines_to_tiles": (tiling, "assign_lines_to_tiles"),
}
# layers whose input row count is read too (for per-input ratios)
COUNT_INPUT = {"conflate.with_cells", "tiling.assign_lines_to_tiles"}
# layers that also report CPU time and spill
CPU_LAYERS = {name for name in LAYERS if name.split(".")[0] in ("conflate", "poi", "buildings", "tiling")}
BASE_FIELDS = ("self_s", "rows_out", "jobs", "shuffle_write_mb", "task_skew")
LAYER_FIELDS = {
    name: BASE_FIELDS + (("task_cpu_s", "spill_mb") if name in CPU_LAYERS else ()) for name in LAYERS
}
# the join inside a layer whose output rows are the layer's attempts,
# found in the executed plan by its join key
JOIN_KEY = {
    "conflate.candidate_pairs": "cell",
    "poi.knn_join": "cell",
    "buildings.overlap_join": "bx",
}


def wait_for_listener(spark: SparkSession) -> None:
    """The status store is fed asynchronously; drain the listener bus first."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_stats(spark: SparkSession, group: str, skew: bool = False) -> dict:
    """Jobs, stage totals and (optionally) the task skew of the heaviest
    stage, for the Spark jobs run under one job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs, stages = 0, set()
    for jid in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    out = {"jobs": jobs, "shuffle_write_mb": 0.0, "task_cpu_s": 0.0, "spill_mb": 0.0, "task_skew": 1.0}
    heaviest, heaviest_run = None, -1
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage the store never saw (skipped)
            continue
        if sd.numCompleteTasks() == 0:
            continue
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        out["task_cpu_s"] += sd.executorCpuTime() / 1e9
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
        if sd.executorRunTime() > heaviest_run:
            heaviest, heaviest_run = sd, sd.executorRunTime()
    if skew and heaviest is not None and heaviest.numCompleteTasks() > 1:
        tasks = store.taskList(heaviest.stageId(), heaviest.attemptId(), 100_000)
        durs = [tasks.apply(i).duration() for i in range(tasks.size())]
        durs = [d.get() for d in durs if d.isDefined()]
        med = statistics.median(durs) if durs else 0
        out["task_skew"] = max(durs) / med if med > 0 else 1.0
    return out


def join_output_rows(df: DataFrame, key: str) -> int:
    """numOutputRows of the joins keyed on ``key`` in the executed plan of a
    materialised (cached) frame, descending through AQE and the cache."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
            continue
        if name.startswith("InMemoryTableScan"):
            todo.append(node.relation().cachedPlan())
            continue
        if "QueryStage" in name or name.startswith("ReusedExchange"):
            todo.append(node.plan() if "QueryStage" in name else node.child())
            continue
        if "Join" in name and f"[{key}#" in node.simpleString(400):
            total += int(node.metrics().apply("numOutputRows").value())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return total


class Tracer:
    """In-memory spans for one run, one Spark job group per span."""

    def __init__(self, spark: SparkSession, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next,
            "run": self.run_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}.{self._next}",
        }
        self._next += 1
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def _wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            if name in COUNT_INPUT:
                rows_in = args[0].count()
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                rec["rows_out"], out = _materialise(out)
                if name in JOIN_KEY:
                    rec["join_rows"] = join_output_rows(out, JOIN_KEY[name])
            if name in COUNT_INPUT:
                rec["rows_in"] = rows_in
            return out

        return traced

    @contextlib.contextmanager
    def patched(self):
        """Install the layer wrappers for the duration of the block."""
        saved = {name: getattr(mod, fn) for name, (mod, fn) in LAYERS.items()}
        for name, (mod, fn) in LAYERS.items():
            setattr(mod, fn, self._wrap(name, saved[name]))
        try:
            yield
        finally:
            for name, (mod, fn) in LAYERS.items():
                setattr(mod, fn, saved[name])


def _materialise(out):
    """Run a layer's lazy output now, inside its span: (rows, output)."""
    if isinstance(out, DataFrame):
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        return out.count(), out
    if isinstance(out, tuple):
        done = [_materialise(o) for o in out]
        return sum(n for n, _ in done), tuple(o for _, o in done)
    if isinstance(out, dict):  # run_bucketed's summary
        return out.get("output_rows", 0), out
    return len(out), out  # completed_buckets' set


FIELDS = ("self_s", "rows_out", "rows_in", "join_rows", "jobs", "jobs_incl", "shuffle_write_mb",
          "task_cpu_s", "spill_mb", "task_skew")


def layer_metrics(spark: SparkSession, ops: list[list[dict]]) -> dict:
    """Per-layer metrics, each the median over traced ops of the op's total;
    ``ops`` holds the spans of each traced op."""
    wait_for_listener(spark)
    per_op = [_op_totals(spark, op_spans) for op_spans in ops] or [{}]
    return {
        name: {k: statistics.median(op.get(name, {}).get(k, 0) for op in per_op) for k in FIELDS}
        for name in LAYERS
    }


def _op_totals(spark: SparkSession, op_spans: list[dict]) -> dict:
    by_id = {s["id"]: s for s in op_spans}
    child_time: dict = {}
    for s in op_spans:
        s["jobs"] = 0
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    acc: dict = {}
    for s in op_spans:
        if s["name"] not in LAYERS:
            continue
        st = group_stats(spark, s["group"], skew=True)
        s["jobs"] = st["jobs"]
        a = acc.setdefault(s["name"], dict.fromkeys(FIELDS, 0))
        a["self_s"] += s["end"] - s["start"] - child_time.get(s["id"], 0.0)
        for k in ("rows_out", "rows_in", "join_rows"):
            a[k] += s.get(k, 0)
        for k in ("jobs", "shuffle_write_mb", "task_cpu_s", "spill_mb"):
            a[k] += st[k]
        a["task_skew"] = max(a["task_skew"], st["task_skew"])
    for s in op_spans:  # jobs started inside a span or in any span under it
        p = s["id"]
        while p is not None:
            anc = by_id[p]
            if anc["name"] in acc:
                acc[anc["name"]]["jobs_incl"] += s["jobs"]
            p = anc["parent"]
    return acc


class RssSampler:
    """Peak resident memory of the driver JVM plus every process under it
    (the PySpark daemon and its Python workers), sampled from /proc."""

    def __init__(self, jvm_pid: int, period_s: float = 0.2):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def tree(self) -> list[int]:
        children: dict = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.jvm_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def _rss(self) -> int:
        """The JVM plus its PySpark daemon and workers.  Other descendants
        are skipped: a child the JVM is spawning (a helper for a shell
        command) shares the JVM's address space until it execs, and would
        count the whole JVM a second time."""
        total = 0
        for pid in self.tree():
            try:
                if pid != self.jvm_pid:
                    with open(f"/proc/{pid}/cmdline") as f:
                        if "pyspark.daemon" not in f.read():
                            continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._rss())
            self._stop.wait(self.period_s)


UNITS = {
    "self_s": "s", "task_cpu_s": "s", "rows_out": "count", "jobs": "count", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "task_skew": "ratio",
}


def unit_of(metric: str) -> str:
    last = metric.rsplit(".", 1)[-1]
    if last in UNITS:
        return UNITS[last]
    if last.endswith("_per_s"):
        return "1/s"
    if last.endswith("_s"):
        return "s"
    if last in ("buckets_recomputed", "hot_cells_over_threshold"):
        return "count"
    return "ratio"
