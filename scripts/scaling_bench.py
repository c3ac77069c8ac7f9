#!/usr/bin/env python
"""Multi-executor scaling evidence for the north rule (N→4N ≥ 0.8).

No real cluster exists in this sandbox, and one local JVM saturates this
box once task slots + Python workers exceed ~8 (see BENCH/BASELINE.md).
The honest proxy is a **multi-executor simulation**: K independent executor
*processes* — each its own JVM (local[2], the small-executor shape) — with
the work split by the engine's range ownership
(osm_merge_spark.plans.distribute): executor r conflates the primary ways
whose anchor longitude falls in its contiguous range against exactly the
secondary ways whose x-extent lies within the distance threshold of that
range's measured primary extent.  This is the explicit construction of what
Spark's range shuffle does on a real K-executor cluster; the (small)
cross-range secondary replication is the proxy's overhead, so measured
efficiency *understates* the cluster's.

Measurement protocol (this box drifts in minutes-long phases, up to 2× —
BENCH/BASELINE.md controls):
- isolated mode: each executor JVM runs ALONE, cluster wall = max executor;
- persistent executor daemons: every (fleet, rank) JVM is built + warmed
  ONCE and re-runs the measured job per sweep on request — the long-lived
  executor shape of a real cluster, and it removes ~30 s of unmeasured
  cold-start per task, so the wall budget buys 2-3× more sweeps (a drift
  storm is survived by catching a stable window, which is a numbers game);
- drift-interleaved sweeps: one sweep = two bookend samples of the N rank
  around the full 4N block (N wall = bookend mean — time-centered under a
  within-sweep drift ramp), repeated R times (R = SPARK_GRAFT_SCALE_REPEATS,
  default 3) so every task samples every machine phase — consecutive
  per-rank repeats would all land in one phase, and N vs 4N measured in
  disjoint stretches would corrupt the ratio itself;
- the recorded sweep is chosen by internal consistency (balanced 4N walls
  AND agreeing N bookends; among consistent sweeps, fastest total wall) —
  never by the efficiency number itself;
- balance gate: while no sweep balances within SPARK_GRAFT_SCALE_BALANCE
  (default 1.15), extra sweeps run to the full SPARK_GRAFT_SCALE_BUDGET_S
  wall budget (SPARK_GRAFT_SCALE_MAX_SWEEPS is a far-off backstop).

Usage:
  python scripts/scaling_bench.py                 # orchestrate N=1 vs 4N=4
  python scripts/scaling_bench.py --executor R K  # internal worker mode
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Absolute wall deadline for the WHOLE orchestrator process (prepare +
# prewarm + sweeps), set by _arm_wall_deadline() from SPARK_GRAFT_SCALE_WALL_S
# (bench.py sizes its subprocess timeout just above it).  Every blocking wait
# below clamps to it, so the refusal JSON always prints before the caller's
# kill — the r4 failure was exactly a task whose composed internal timeouts
# (run 1800 s + respawn wait_ready 900 s + retry 1800 s) exceeded the
# caller's window (ADVICE r4, medium).
_WALL_DEADLINE: float | None = None


def _wall_left(default: float = 1e9) -> float:
    return default if _WALL_DEADLINE is None else _WALL_DEADLINE - time.time()


def _clamp_wait(want: float, floor: float = 10.0) -> float:
    """Clamp a blocking-wait timeout to the remaining process wall (leaving
    30 s to print the refusal artifact).  Unarmed (standalone import / unit
    tests) the wait is returned untouched."""
    if _WALL_DEADLINE is None:
        return want
    return max(floor, min(want, _wall_left(want) - 30.0))
WORKDIR = os.environ.get("SPARK_GRAFT_WORKDIR", "/tmp/oms_bench")
# The scaling experiment uses its OWN corpus size (default 2× the headline
# bench corpus): per-rank fixed cost (~2.5 s driver/job overhead, measured
# via an empty-slice probe) doesn't shrink with slice size, so at small
# slices it dominates the 4N walls and the measurement reflects the
# sandbox's job overhead, not the engine's split.  100 TB — the regime the
# north rule is about — is the work-dominated end; a larger corpus moves
# the measurement toward it.  _REPLICAS feeds bench.REPLICAS (and the
# corpus TAG) via _apply_scale_env(), called from the entrypoints only —
# importing this module (e.g. from tests) must not mutate the process env.
_REPLICAS = os.environ.get(
    "SPARK_GRAFT_SCALE_REPLICAS",
    os.environ.get("SPARK_GRAFT_BENCH_REPLICAS", "8"),
)


def _apply_scale_env() -> None:
    """Propagate the scale-corpus replica count to bench.REPLICAS (and,
    via inherited env, to every executor daemon this process spawns)."""
    os.environ["SPARK_GRAFT_BENCH_REPLICAS"] = _REPLICAS


TAG = f"{os.path.basename(SF_DIR)}_r{_REPLICAS}_p{os.environ.get('SPARK_GRAFT_BENCH_NPTS', '5')}"
EXT_T = f"{WORKDIR}/ext_strips_v3_{TAG}"
OSM_T = f"{WORKDIR}/osm_strips_v3_{TAG}"
BOUNDS = f"{WORKDIR}/bounds_v4_{TAG}.json"
SALT_HOT = int(os.environ.get("SPARK_GRAFT_SALT_HOT", "2000"))


def prepare() -> None:
    """One-time: corpus + extent columns + range boundaries + per-rank
    primary extents for both fleet sizes.  The strip tables are written
    range-partitioned + sorted on the ownership key so each rank's range
    predicate prunes parquet row groups at scan time (min/max stats) —
    the on-disk layout a real deployment would use for strip ownership."""
    import bench
    from osm_merge_spark.plans import distribute as DST

    spark = bench.build_spark(16)
    ext_path, osm_path = bench.prepare_corpus(spark, SF_DIR)
    if not os.path.exists(EXT_T + "/_SUCCESS"):
        DST.with_tile_columns(spark.read.parquet(ext_path)).repartitionByRange(
            16, "anchor_x"
        ).sortWithinPartitions("anchor_x").write.mode("overwrite").parquet(EXT_T)
    if not os.path.exists(OSM_T + "/_SUCCESS"):
        DST.with_tile_columns(spark.read.parquet(osm_path)).repartitionByRange(
            16, "min_x"
        ).sortWithinPartitions("min_x").write.mode("overwrite").parquet(OSM_T)
    ext = spark.read.parquet(EXT_T)
    n = int(os.environ.get("SPARK_GRAFT_SCALE_N", "1"))
    # contiguous per-fleet quantile ranges (scattered interleaving measured
    # worse: border replication grows with slice count)
    spec = {}
    for k in (n, 4 * n):
        bounds = DST.range_boundaries(ext, k)
        extents = DST.primary_extents(ext, bounds)
        spec[str(k)] = {"bounds": bounds, "extents": extents}
    # Global hot-cell decision, computed ONCE here — a real cluster job has
    # one driver that runs the salt frequency pre-pass once for the whole
    # corpus; charging two extra Spark jobs to EVERY rank of the simulated
    # fleet was pure per-executor overhead the deployment wouldn't pay.
    # Per-rank cell counts are ≤ the global counts, so "no cell globally
    # hot" ⇒ "no cell hot in any slice" — the skip is lossless.
    from osm_merge_spark import grid
    from osm_merge_spark.operators import conflate as C
    from osm_merge_spark.plans import skew

    s_cells = C.with_cells(
        spark.read.parquet(OSM_T).select("way_id", "geom"), "geom", grid.DEFAULT_ZOOM, pad_m=0.0
    )
    hot = skew.hot_factor(s_cells, ["cell"], SALT_HOT, cap=16) is not None
    spec["salt_hot_threshold"] = SALT_HOT if hot else None
    with open(BOUNDS, "w") as f:
        json.dump(spec, f)
    spark.stop()


def _exec_session(k: int):
    """Executor-JVM session: the local[2] small-executor shape with an
    IDENTICAL heap for the N and 4N roles (both are local[2]; unequal heaps
    would bias the ratio via GC pressure) and periodic context cleaning so
    a long-lived daemon doesn't accumulate shuffle state across runs.

    Shuffle partitions are the rank's SHARE of the global job's:
    ``spark.sql.shuffle.partitions`` is a per-JOB setting on a real
    cluster — the same 16-partition shuffle is pulled by 1 executor at N
    and spread 4-per-executor at 4N, with identical per-task sizes either
    way.  A rank-local job that kept all 16 partitions on a quarter slice
    would run 4× the tasks at ¼ the size and pay 4× the per-task
    Python-worker/Arrow overhead — a simulation artifact, not a property
    of the engine's split (measured: ~6 s of the 4N ranks' ~42 s walls at
    303 k rows/rank, the gap between 0.78 and the engine's split)."""
    from pyspark.sql import SparkSession

    global_p = int(os.environ.get("SPARK_GRAFT_SCALE_GLOBAL_PARTITIONS", "16"))
    mem = os.environ.get("SPARK_GRAFT_EXEC_MEM", "24g")
    s = (
        SparkSession.builder.master("local[2]")
        .appName(f"oms-scale-exec-{k}")
        .config("spark.sql.shuffle.partitions", str(max(2, global_p // max(k, 1))))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", mem)
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def _run_task(spark, rank: int, k: int) -> dict:
    """One measured conflation over this rank's slice (fresh lineage each
    call; the post-run clearCache drops the pipeline's persisted best-match
    table OUTSIDE the timed window)."""
    from osm_merge_spark.operators import conflate as C
    from osm_merge_spark.plans import distribute as DST

    full = json.load(open(BOUNDS))
    spec = full[str(k)]
    salt = full.get("salt_hot_threshold", SALT_HOT)
    drop = ["anchor_x", "anchor_y", "min_x", "max_x"]
    ext = spark.read.parquet(EXT_T)
    osm = spark.read.parquet(OSM_T)
    my_ext = DST.primary_slice(ext, spec["bounds"], rank).drop(*drop)
    my_osm = DST.secondary_slice_exact(osm, spec["extents"][rank]).drop(*drop)
    t0 = time.time()
    conflated, new = C.conflate(my_ext, my_osm, salt_hot_threshold=salt)
    n = conflated.count() + new.count()
    secs = time.time() - t0
    spark.catalog.clearCache()
    return {"rank": rank, "k": k, "rows": n, "secs": round(secs, 2)}


def executor(rank: int, k: int) -> None:
    """Single-shot worker (used by the concurrent control mode)."""
    import bench

    spark = _exec_session(k)
    bench.warmup(spark)
    print(json.dumps(_run_task(spark, rank, k)))
    spark.stop()


def executor_daemon(rank: int, k: int) -> None:
    """Persistent worker: build + warm the JVM ONCE, then run the measured
    job on each ``RUN`` line from stdin (one JSON result line per run).

    This models a real cluster's long-lived executors (JIT-warm JVM, warm
    Python workers) and — the practical point — removes ~30 s of unmeasured
    cold-start per task per sweep, so the drift-interleaved protocol fits
    2-3× more sweeps into the same wall budget and has that much more
    chance of catching a machine-stable window."""
    import bench

    spark = _exec_session(k)
    bench.warmup(spark)
    print(json.dumps({"ready": True, "rank": rank, "k": k, "pid": os.getpid()}), flush=True)
    for line in sys.stdin:
        if line.strip() != "RUN":
            break
        out = _run_task(spark, rank, k)
        # post-run hygiene, OUTSIDE any measured window: a JVM full GC makes
        # the ContextCleaner drop the run's shuffle files from /dev/shm
        # promptly (tmpfs is shared RAM — leftover shuffle state from rank
        # A's run would tax rank B's measured window)
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        print(json.dumps(out), flush=True)
    spark.stop()


def _spawn(rank: int, k: int):
    return subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--executor", str(rank), str(k)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )


class _Daemon:
    """Orchestrator-side handle for one executor_daemon process."""

    def __init__(self, rank: int, k: int):
        self.rank, self.k = rank, k
        self.p = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--daemon", str(rank), str(k)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, bufsize=1,
        )
        # raw receive buffer for _read_json (stdout is read via os.read on
        # the fd, never through the buffered text wrapper)
        self._rxbuf = b""

    def _read_json(self, timeout: float) -> dict:
        """Read the daemon's next JSON line within ``timeout``.

        Reads the raw fd with os.read under a deadline (select() on the fd
        combined with a *buffered* readline() is wrong: a second line
        already sitting in the buffer is invisible to select(), turning a
        present message into a spurious timeout + daemon respawn)."""
        import select

        fd = self.p.stdout.fileno()
        t_end = time.time() + timeout
        buf = self._rxbuf
        while True:
            while b"\n" in buf:
                raw, buf = buf.split(b"\n", 1)
                self._rxbuf = buf
                line = raw.decode("utf-8", "replace").strip()
                if line.startswith("{"):
                    return json.loads(line)
            r, _, _ = select.select([fd], [], [], max(0.1, t_end - time.time()))
            if not r:
                if time.time() >= t_end:
                    raise TimeoutError(
                        f"executor daemon k={self.k} rank={self.rank} timed out"
                    )
                continue
            chunk = os.read(fd, 65536)
            if not chunk:
                raise RuntimeError(f"executor daemon k={self.k} rank={self.rank} exited")
            buf += chunk

    def wait_ready(self, timeout: float = 900) -> None:
        msg = self._read_json(_clamp_wait(timeout))
        if not msg.get("ready"):
            raise RuntimeError(f"unexpected daemon handshake: {msg}")

    def run(self, timeout: float = 1800) -> dict:
        self.p.stdin.write("RUN\n")
        self.p.stdin.flush()
        return self._read_json(_clamp_wait(timeout))

    def stop(self) -> None:
        try:
            self.p.stdin.write("EXIT\n")
            self.p.stdin.flush()
            self.p.stdin.close()
            self.p.wait(timeout=60)
        except Exception:
            self.p.kill()


_POOL: dict[tuple[int, int], _Daemon] = {}


def _pool_daemon(rank: int, k: int) -> _Daemon:
    key = (k, rank)
    d = _POOL.get(key)
    if d is None or d.p.poll() is not None:
        d = _Daemon(rank, k)
        d.wait_ready()
        _POOL[key] = d
    return d


def _pool_prewarm(n: int) -> None:
    """Spawn + warm every daemon concurrently (startup is unmeasured and
    outside the sweep budget; contention here doesn't touch any timing)."""
    fresh = []
    for k, r in [(n, rr) for rr in range(n)] + [(4 * n, rr) for rr in range(4 * n)]:
        if (k, r) not in _POOL or _POOL[(k, r)].p.poll() is not None:
            d = _Daemon(r, k)
            _POOL[(k, r)] = d
            fresh.append(d)
    for d in fresh:
        d.wait_ready()


def _pool_stop() -> None:
    for d in _POOL.values():
        d.stop()
    _POOL.clear()


def _run_once(rank: int, k: int) -> dict:
    """One isolated measured run of (k, rank) via its persistent daemon;
    a crashed daemon (e.g. OOM-killed) is respawned once."""
    try:
        return _pool_daemon(rank, k).run()
    except (RuntimeError, TimeoutError, BrokenPipeError, OSError, ValueError):
        # ValueError covers json.JSONDecodeError: one garbled daemon stdout
        # line gets the same single-respawn path as a crash, not a sweep abort
        d = _POOL.pop((k, rank), None)
        if d is not None:
            try:
                d.p.kill()
            except Exception:
                pass
        if _wall_left() < 180:
            # a respawn costs warmup + a full re-run; with the wall nearly
            # spent, fail the sweep now so the refusal JSON still prints
            raise TimeoutError(
                f"wall budget exhausted before respawning k={k} rank={rank}"
            )
        return _pool_daemon(rank, k).run()


def run_fleet(k: int) -> dict:
    """Concurrent fleet: all K executor processes at once.  On this sandbox
    the shared memory bus caps aggregate throughput (~2 concurrent Spark
    processes already halve each other — see BENCH/BASELINE.md control), so
    this mode UNDER-measures the engine."""
    procs = [_spawn(r, k) for r in range(k)]
    results = []
    for p in procs:
        out, _ = p.communicate(timeout=1800)
        line = [l for l in out.splitlines() if l.startswith("{")][-1]
        results.append(json.loads(line))
    rows = sum(r["rows"] for r in results)
    wall = max(r["secs"] for r in results)
    return {"executors": k, "mode": "concurrent", "rows": rows, "wall_secs": wall,
            "rate": round(rows / wall, 1), "per_executor_secs": [r["secs"] for r in results]}


def _pack(k: int, res: list[dict]) -> dict:
    rows = sum(x["rows"] for x in res)
    wall = max(x["secs"] for x in res)
    return {"executors": k, "mode": "isolated", "rows": rows, "wall_secs": wall,
            "rate": round(rows / wall, 1), "per_executor_secs": [x["secs"] for x in res]}


def _n_secs(sweep: dict, n: int, r: int) -> float:
    """Per-N-rank wall: MIN of the sweep's two bookend samples.

    A warm daemon re-running an identical job has a one-sided noise profile
    — the clean wall is a floor; scheduler jitter, GC pauses, and co-tenant
    phases only ADD time — so the min of two samples is the estimator of
    the dedicated-hardware wall (the quantity a real cluster node delivers).
    Same rule as the 4N ranks (:func:`_k4_secs`) so the N→4N ratio is not
    biased either way.  timeit's repeat()-then-min is the same argument."""
    return min(sweep[(n, r, 0)]["secs"], sweep[(n, r, 1)]["secs"])


def _k4_secs(sweep: dict, k4: int, r: int) -> float:
    """Per-4N-rank wall: MIN of the rank's two in-sweep samples (the 4N
    block runs twice, time-separated, between the N bookends — a noise
    blip during one pass doesn't corrupt the rank's wall)."""
    return min(sweep[(k4, r, 0)]["secs"], sweep[(k4, r, 1)]["secs"])


def _sweep_balance(sweep: dict, k4: int) -> float:
    """Internal-consistency score: worst of (a) the spread of the per-rank
    MIN walls across the 4N fleet and (b) each N rank's bookend-pair
    disagreement.  (b) catches the failure mode where the machine phase
    flips between the N samples and the 4N block — the 4N walls can balance
    perfectly while the N estimate is garbage (observed: a recorded eff of
    1.089, superlinear, from exactly that).  (a) on mins measures the
    engine's genuine work imbalance: single-sample scheduler noise (r5
    measured ±15-30% on ~30 s jobs with the slow rank MOVING between runs,
    while the candidate-pair estimate per rank balances within 1.07) is
    absorbed by the per-rank min instead of failing the gate."""
    n = sweep["__n"]
    secs4 = [_k4_secs(sweep, 4 * n, r) for r in range(k4)]
    bal = max(secs4) / max(min(secs4), 1e-9)
    for r in range(n):
        a, b = sweep[(n, r, 0)]["secs"], sweep[(n, r, 1)]["secs"]
        bal = max(bal, max(a, b) / max(min(a, b), 1e-9))
    return bal


def run_scaling_interleaved(n: int) -> tuple[dict, dict]:
    """Sequential-isolated simulation, drift-interleaved: each executor runs
    ALONE on the box (modeling a real cluster where every node owns its
    memory bus; cluster wall = max executor — range ownership means no
    cross-executor shuffle).

    This box drifts in phases from minutes to HOURS (up to 2×), so the N
    fleet and the 4N fleet measured in disjoint stretches sample different
    machine states, which corrupts the N→4N ratio itself.  Two defenses:

    - one *sweep* runs the N rank and every 4N rank back-to-back, so a
      sweep is a complete N-vs-4N experiment under near-identical machine
      conditions — a uniformly slow phase multiplies both rates and cancels
      out of the ratio;
    - each sweep is judged as a unit, and the RECORDED sweep is chosen by
      *internal consistency* (most-balanced 4N walls; tie → lowest total
      wall), never by the efficiency number itself — selection on balance
      filters within-sweep drift without cherry-picking the metric.
      (A per-task best-of across sweeps is tempting but mixes windows: in
      one real storm the N best came from a faster stretch than one 4N
      rank ever saw, recording 0.578 for an engine split that measures
      ~0.8 inside any single consistent window.)

    While the best sweep's 4N walls stay unbalanced (max/min >
    SPARK_GRAFT_SCALE_BALANCE) extra sweeps run, up to
    SPARK_GRAFT_SCALE_MAX_SWEEPS; SPARK_GRAFT_SCALE_BUDGET_S bounds the
    total wall (a storm must not push the protocol past the caller's
    subprocess timeout — past the budget the completed sweeps stand)."""
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "3"))
    # the sweep loop is wall-budget-bounded; the sweep cap is a backstop far
    # above what the budget admits (r2 capped at R+3 and left ~1/3 of the
    # budget unused while no balanced sweep had appeared — the gate needs
    # every sweep the budget can buy)
    max_sweeps = int(os.environ.get("SPARK_GRAFT_SCALE_MAX_SWEEPS", "24"))
    balance = float(os.environ.get("SPARK_GRAFT_SCALE_BALANCE", "1.15"))
    budget_s = float(os.environ.get("SPARK_GRAFT_SCALE_BUDGET_S", "3600"))
    t_start = time.time()
    k4 = 4 * n
    # each sweep BOOKENDS a TWICE-run 4N block with two samples of every N
    # rank.  Every task's wall is the min of its two samples (_n_secs /
    # _k4_secs: warm-daemon noise is one-sided, so min estimates the
    # dedicated-hardware wall — applied identically to both fleet sizes so
    # the ratio is unbiased); the N pair's disagreement still feeds the
    # balance gate — a single N sample, wherever placed, can silently
    # sample a different machine phase than the 4N ranks and corrupt the
    # ratio in either direction.  The 4N block repeats as a block (not
    # per-rank back-to-back) so each rank's two samples are time-separated
    # and a minutes-long noise phase can't cover both.
    tasks = (
        [(n, r, 0) for r in range(n)]
        + [(k4, r, 0) for r in range(k4)]
        + [(k4, r, 1) for r in range(k4)]
        + [(n, r, 1) for r in range(n)]
    )
    sweeps: list[dict] = []
    storm_abort = False
    for sweep in range(max_sweeps):
        cur: dict = {"__n": n}
        aborted = False
        for k, r, i in tasks:
            try:
                cur[(k, r, i)] = _run_once(r, k)
            except Exception:
                # a task failed even after its one daemon respawn (storm
                # walls past the task timeout, OOM-kill loop, ...) — the
                # sweep is unrecoverable; completed sweeps stand, zero
                # completed sweeps becomes the storm-abort refusal.  An
                # unhandled raise here cost rehearsal 2 its replicas-8
                # artifact (the orchestrator died with no JSON).
                aborted = True
                break
            elapsed = time.time() - t_start
            # budget enforcement INSIDE the sweep, tiered by how much
            # evidence already exists — in a storm (task walls many × the
            # clean-window values) a sweep can dwarf the whole budget, and
            # r4's first two-corpus run learned the hard way that letting
            # sweeps 0-1 run unconditionally can blow past the caller's
            # subprocess timeout and lose the ENTIRE artifact.  A partial
            # sweep is discarded; completed sweeps stand (refusal
            # semantics cover the under-measured cases).
            if (
                (len(sweeps) >= 1 and elapsed > budget_s)
                or elapsed > 1.5 * budget_s
                or _wall_left() < 120
            ):
                aborted = True
                break
        if aborted:
            storm_abort = not sweeps
            break
        sweeps.append(cur)
        if len(sweeps) >= repeats and min(_sweep_balance(s, k4) for s in sweeps) <= balance:
            break
        if len(sweeps) >= 2 and time.time() - t_start > budget_s:
            break
    if storm_abort:
        # not even ONE complete sweep inside 1.5× the budget: emit an
        # explicit storm verdict instead of dying on the caller's timeout
        return None, None, {
            "storm_abort": True,
            "balance_gate": balance,
            "balance_gate_met": False,
            "sweeps_run": 0,
        }
    def total(s):
        return sum(run["secs"] for key, run in s.items() if key != "__n")

    balanced = [s for s in sweeps if _sweep_balance(s, k4) <= balance]
    if balanced:
        # among internally-consistent sweeps, the fastest-overall one is the
        # closest to dedicated-hardware conditions for every task
        chosen = min(balanced, key=total)
    else:
        chosen = min(sweeps, key=lambda s: (_sweep_balance(s, k4), total(s)))
    gate = {
        "balance_4n": round(_sweep_balance(chosen, k4), 3),
        "balance_gate": balance,
        "balance_gate_met": bool(balanced),
        "sweeps_run": len(sweeps),
        "n_bookend_secs": [
            [chosen[(n, r, 0)]["secs"], chosen[(n, r, 1)]["secs"]] for r in range(n)
        ],
        # both raw samples per 4N rank, for audit (the claimed wall is
        # the per-rank min — see _k4_secs)
        "per_exec_4n_samples": [
            [chosen[(k4, r, 0)]["secs"], chosen[(k4, r, 1)]["secs"]]
            for r in range(k4)
        ],
    }
    n_res = [
        {**chosen[(n, r, 0)], "secs": round(_n_secs(chosen, n, r), 2)} for r in range(n)
    ]
    k4_res = [
        {**chosen[(k4, r, 0)], "secs": round(_k4_secs(chosen, k4, r), 2)}
        for r in range(k4)
    ]
    return (_pack(n, n_res), _pack(k4, k4_res), gate)


def claim(a: dict, b: dict, gate: dict, mode: str, n: int) -> dict:
    """The recorded N→4N claim.  A sweep whose walls disagree internally
    (drift storm) is not a measurement of the engine's split — when no sweep
    passed the consistency gate, REFUSE to claim an efficiency: the raw
    walls stay recorded for diagnosis, ``scaling_efficiency`` reads null,
    and the unclaimed number moves to ``scaling_efficiency_rejected``."""
    eff = round((b["rate"] / a["rate"]) / 4, 3)
    out = {
        "n_executors": n, "mode": mode,
        "rate_n": a["rate"], "wall_n": a["wall_secs"], "per_exec_n": a["per_executor_secs"],
        "rate_4n": b["rate"], "wall_4n": b["wall_secs"], "per_exec_4n": b["per_executor_secs"],
        "rows_n": a["rows"], "rows_4n": b["rows"],
        "scaling_efficiency": eff,
    }
    if mode == "isolated" and not gate.get("balance_gate_met", True):
        out["scaling_efficiency"] = None
        out["scaling_efficiency_rejected"] = eff
        out["scaling_rejection"] = (
            "no sweep within the wall budget passed the internal-consistency "
            "gate (balanced 4N walls + agreeing N bookends); the efficiency "
            "of the most-consistent sweep is recorded under "
            "scaling_efficiency_rejected, not claimed"
        )
    return out


def _reclaimed_budget(env_budget: float) -> float:
    """Sweep budget actually available once prepare()+prewarm have run.

    The caller sizes ``SPARK_GRAFT_SCALE_BUDGET_S`` assuming a worst-case
    prepare allowance; with a warm corpus cache the real remaining wall is
    hundreds of seconds larger — enough for an extra sweep, which is the
    difference between a gate-met claim and a refusal when machine phases
    outlast a single sweep.  Reclaim it: budget = (wall left − 60 s print
    slack) / 1.3 (headroom for the in-sweep break's one-task overrun),
    never BELOW the caller's env value (the promise stands) and never
    applied when no wall deadline is armed (standalone/unit-test use keeps
    the env budget verbatim; the absolute wall clamp remains the hard
    guard either way)."""
    left = _wall_left()
    if left >= 1e8:  # unarmed
        return env_budget
    return max(env_budget, max(240.0, (left - 60.0) / 1.3))


def _arm_wall_deadline() -> None:
    global _WALL_DEADLINE
    wall = os.environ.get("SPARK_GRAFT_SCALE_WALL_S")
    if wall is None:
        # standalone invocation: derive from the sweep budget the same way
        # bench.py does (1.5× sweep budget + prepare/prewarm allowance)
        wall = 1.5 * float(os.environ.get("SPARK_GRAFT_SCALE_BUDGET_S", "3600")) + 900
    _WALL_DEADLINE = time.time() + float(wall)


def _refusal(n: int, mode: str, gate: dict, why: str) -> dict:
    return {
        "n_executors": n, "mode": mode,
        "scaling_efficiency": None,
        "scaling_rejection": why,
        **gate,
        "protocol": "multi-executor simulation (aborted before any complete sweep)",
    }


def main() -> None:
    _apply_scale_env()
    if len(sys.argv) >= 4 and sys.argv[1] == "--executor":
        executor(int(sys.argv[2]), int(sys.argv[3]))
        return
    if len(sys.argv) >= 4 and sys.argv[1] == "--daemon":
        executor_daemon(int(sys.argv[2]), int(sys.argv[3]))
        return
    _arm_wall_deadline()
    n = int(os.environ.get("SPARK_GRAFT_SCALE_N", "1"))
    mode = os.environ.get("SPARK_GRAFT_SCALE_MODE", "isolated")

    def _on_sigterm(signum, frame):  # caller is killing us: refuse, visibly
        print(json.dumps(_refusal(
            n, mode,
            {"storm_abort": True, "sweeps_run": 0, "balance_gate_met": False},
            "SIGTERM before any complete sweep could be recorded",
        )), flush=True)
        os._exit(143)

    signal.signal(signal.SIGTERM, _on_sigterm)
    gate = {}
    if mode == "isolated":
        try:
            # prepare() is INSIDE the always-an-artifact envelope (r5): a
            # corpus-build failure or wall exhaustion during prepare used to
            # kill the process with no JSON at all
            prepare()
            if _wall_left() < 180:
                raise TimeoutError("wall budget exhausted during prepare()")
            _pool_prewarm(n)
            # re-size the sweep budget from the wall actually left now that
            # prepare/prewarm have run (see _reclaimed_budget)
            os.environ["SPARK_GRAFT_SCALE_BUDGET_S"] = str(int(_reclaimed_budget(
                float(os.environ.get("SPARK_GRAFT_SCALE_BUDGET_S", "3600"))
            )))
            a, b, gate = run_scaling_interleaved(n)
        except Exception as e:
            # last-resort refusal: the caller must ALWAYS get an artifact
            a = b = None
            gate = {"storm_abort": True, "sweeps_run": 0,
                    "balance_gate_met": False, "orchestrator_error": str(e)[:200]}
        finally:
            _pool_stop()
    else:
        prepare()
        a, b = run_fleet(n), run_fleet(4 * n)
    if a is None:  # storm abort: no complete sweep — refusal artifact
        print(json.dumps({
            "n_executors": n, "mode": mode,
            "scaling_efficiency": None,
            "scaling_rejection": (
                "storm abort: not one complete sweep finished inside 1.5× "
                "the wall budget — task walls were many × their clean-window "
                "values; no efficiency is claimable from this window"
            ),
            **gate,
            "protocol": "multi-executor simulation (storm-aborted before any complete sweep)",
        }))
        return
    print(json.dumps({
        **claim(a, b, gate, mode, n),
        **gate,
        "protocol": f"multi-executor simulation ({mode}): K independent local[2] JVMs "
                    "(persistent warm daemons, serially scheduled — cluster-like long-lived "
                    "executors, no per-sweep cold-start); longitude-range ownership with exact "
                    "threshold-padded secondary slices (plans.distribute); drift-interleaved "
                    "sweeps (N bookends around a twice-run 4N block; every task's wall = min "
                    "of its two in-sweep samples — one-sided-noise floor estimator, applied "
                    "identically to N and 4N), recorded sweep chosen by internal consistency "
                    "(balanced per-rank-min 4N walls AND agreeing N bookends, fastest total), "
                    "balance-gated sweeps to the full wall budget",
    }))


if __name__ == "__main__":
    main()
