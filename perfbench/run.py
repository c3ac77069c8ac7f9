#!/usr/bin/env python3
"""Per-change benchmark of the conflation engine.

    python3 perfbench/run.py --workload conflate-roads --seed 0 --seconds 8 --trace 0

Starts one ``local[<cores>]`` Spark session, generates the workload's inputs
from ``--seed``, warms up with one untimed operation, then runs the workload's
operation back to back (one closed-loop client) for ``--seconds``, checking
every operation's outputs.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_OPS = 1
# An operation is mostly Spark's own planning and scheduling code, which the
# JIT compiles over several operations: with the default thresholds the
# third and fourth operations of a run still ran 15-25% faster than the
# first.  Lower thresholds move that compilation into set-up.
JIT_OPTS = (
    "-XX:Tier3InvocationThreshold=50 -XX:Tier3MinInvocationThreshold=20 -XX:Tier3CompileThreshold=500 "
    "-XX:Tier3BackEdgeThreshold=6000 -XX:Tier4InvocationThreshold=1000 -XX:Tier4MinInvocationThreshold=100 "
    "-XX:Tier4CompileThreshold=2000 -XX:Tier4BackEdgeThreshold=10000"
)
MAX_WALL_S = 150  # stop issuing operations past this, whatever --seconds says


def start_session(work: str):
    from pyspark.sql import SparkSession

    from osm_merge_spark.session import build_session

    cores = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem = f"{max(1, min(8, int(phys_gb // 4)))}g"
    tmp = f"{work}/tmp"
    (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        # the whole heap is committed and touched up front, so peak RSS
        # does not depend on when G1 happens to grow it and the figure
        # moves with native and Python-worker memory
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -Xms{mem} -XX:+AlwaysPreTouch {JIT_OPTS}")
        .getOrCreate()
    )
    # the engine's standard configuration on top (AQE, skew join, Arrow,
    # shuffle width from the core count)
    return build_session(app_name="perfbench", driver_memory=mem)


def stop_session(spark, pids: list[int]) -> None:
    """Stop Spark, end the JVM, and wait until it and its workers are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def run(spark, args, work: str) -> tuple[dict, list[int]]:
    """Set up, run the operations, and return the result line and the pids
    of the JVM's process tree."""
    import tracing as tr
    from workloads import WORKLOADS

    sc = spark.sparkContext
    wl = WORKLOADS[args.workload](spark, work, args.seed)
    tracer = tr.Tracer(spark, f"run{args.seed}")
    with tr.RssSampler(sc._gateway.proc.pid) as rss:
        failed_setup = wl.setup()  # a pinned-input mismatch: reported, measuring goes on
        for f in failed_setup:
            print(f"perfbench: {f}", file=sys.stderr)
        setup_s = time.perf_counter() - T_START
        ops: list[dict] = []
        t0 = time.perf_counter()
        # a traced run needs one untraced and one traced operation at least
        min_ops = 2 if args.trace else MIN_OPS
        while len(ops) < min_ops or (
            time.perf_counter() - t0 < args.seconds and time.perf_counter() - T_START < MAX_WALL_S
        ):
            traced = bool(args.trace) and len(ops) % 2 == 1
            group = f"op{len(ops)}"
            n_spans = len(tracer.spans)
            try:
                if traced:
                    with tracer.patched(), tracer.span("op"):
                        r = wl.op()
                else:
                    sc.setJobGroup(group, args.workload)
                    r = wl.op()
                sc.setLocalProperty("spark.jobGroup.id", None)
                r["failed"] = wl.check(r)
            except Exception as e:  # an operation that raises counts as failed
                traceback.print_exc()
                r = {"failed": [repr(e)]}
            sc.setLocalProperty("spark.jobGroup.id", None)
            r.update(traced=traced, group=group, spans=tracer.spans[n_spans:])
            print(f"perfbench: op {len(ops)} {'traced ' if traced else ''}{r.get('wall', 0):.2f}s", file=sys.stderr)
            for f in r["failed"]:
                print(f"perfbench: op {len(ops)}: {f}", file=sys.stderr)
            ops.append(r)
        tr.wait_for_listener(spark)
        pids = rss.tree()
    n_failed = sum(1 for r in ops if r["failed"])
    good = [r for r in ops if not r["failed"] and not r["traced"]]
    if args.trace:
        metrics = layer_report(spark, wl, ops, good)
    else:
        metrics = end_to_end(spark, setup_s, rss.peak_bytes, ops, good)
    return {
        "correct": n_failed == 0 and not failed_setup,
        "attempted": len(ops),
        "failed": n_failed,
        "metrics": metrics,
    }, pids


def _median(rows, key):
    vals = [r[key] for r in rows if key in r]
    return statistics.median(vals) if vals else 0.0


def _rate(rows, num, den):
    """Median of ``num / den`` over the operations that report ``num``."""
    return _median([{"v": r[num] / r[den]} for r in rows if num in r], "v")


def _ratio(a, b):
    return a / b if b else 0.0


def end_to_end(spark, setup_s, peak_bytes, ops, good) -> dict:
    import tracing as tr

    shuffle = [tr.group_stats(spark, r["group"])["shuffle_write_mb"] for r in good]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_s": {"value": _median(good, "wall"), "unit": "s"},
        "shuffle_mb": {"value": statistics.median(shuffle) if shuffle else 0.0, "unit": "MB"},
        "peak_rss_mb": {"value": peak_bytes / 1e6, "unit": "MB"},
        "ok_frac": {"value": 1.0 - sum(1 for r in ops if r["failed"]) / len(ops), "unit": "frac"},
    }


def layer_report(spark, wl, ops, good) -> dict:
    import tracing as tr

    traced = [r for r in ops if r["traced"] and not r["failed"]]
    lay = tr.layer_metrics(spark, [r["spans"] for r in traced])
    m = {f"{name}.{k}": v[k] for name, v in lay.items() for k in tr.LAYER_FIELDS[name]}
    cells, pairs = lay["conflate.with_cells"], lay["conflate.candidate_pairs"]
    knn, overlap = lay["poi.knn_join"], lay["buildings.overlap_join"]
    lines = lay["tiling.assign_lines_to_tiles"]
    m["conflate.with_cells.cells_per_feature"] = _ratio(cells["rows_out"], cells["rows_in"])
    m["conflate.candidate_pairs.pair_yield"] = _ratio(pairs["rows_out"], pairs["join_rows"])
    m["conflate.score_pairs.match_yield"] = _ratio(lay["conflate.score_pairs"]["rows_out"], pairs["rows_out"])
    m["poi.knn_join.candidate_yield"] = _ratio(knn["rows_out"], knn["join_rows"])
    m["buildings.overlap_join.pair_yield"] = _ratio(overlap["rows_out"], overlap["join_rows"])
    m["tiling.assign_lines_to_tiles.tiles_per_line"] = _ratio(lines["rows_out"], lines["rows_in"])
    m["lineage.run_bucketed.jobs_per_bucket"] = _ratio(
        lay["lineage.run_bucketed"]["jobs_incl"], _median(traced, "buckets_run")
    )
    m["lineage.run_bucketed.buckets_recomputed"] = _median(traced, "buckets_recomputed")
    m["corpus.hot_cells_over_threshold"] = wl.hot_cells()
    # the workload's own figures, from its untraced operations (0 where the
    # workload has no such operation)
    m["conflate_feats_per_s"] = _rate(good, "primaries", "wall")
    m["docs_run_s"] = _median([r for r in good if "resume_s" in r], "wall")
    m["docs_resume_s"] = _median(good, "resume_s")
    m["knn_probes_per_s"] = _rate(good, "probes", "knn_s")
    m["overlap_boxes_per_s"] = _rate(good, "boxes", "overlap_s")
    m["tile_rows_per_s"] = _rate(good, "tile_rows", "tiles_s")
    untraced = _median(good, "wall")
    m["trace.overhead_frac"] = _ratio(_median(traced, "wall"), untraced) - 1.0 if untraced else 0.0
    m["failed_frac"] = sum(1 for r in ops if r["failed"]) / len(ops)
    return {k: {"value": float(v), "unit": tr.unit_of(k)} for k, v in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["conflate-roads", "poi-tasking"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "osm_merge_spark")):
        print(f"perfbench: no osm_merge_spark package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    # Python workers inherit this environment: they must import the engine
    # from this checkout whatever the working directory is.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = f"{work}/tmp"
    # no JVM perf-data file under /tmp, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/tmp"
    sys.path[:0] = [ROOT, HERE]
    spark = start_session(work)
    print(f"perfbench: session up at {time.perf_counter() - T_START:.1f}s", file=sys.stderr)
    pids: list[int] = []
    try:
        result, pids = run(spark, args, work)
    finally:
        stop_session(spark, pids)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
