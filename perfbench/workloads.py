"""The workloads: seeded set-up, one timed operation, output checks.

Each operation is one closed-loop client job: the driver issues it, waits for
its outputs to be written under ``out/``, checks them outside the timed
region, and only then issues the next one.  Engine functions are always
called through their module (``C.conflate``, not a bare import), so the
tracer's wrappers see every call.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import corpus
from osm_merge_spark.operators import buildings as B
from osm_merge_spark.operators import conflate as C
from osm_merge_spark.operators import poi as P
from osm_merge_spark.operators import spans as SP
from osm_merge_spark.operators import tiling as TL
from osm_merge_spark.plans import lineage as L
from osm_merge_spark.sources import converters as CV
from osm_merge_spark.sources import doctable as DT

# Sizes, fixed here so every seed does the same amount of work.  The 8% hot
# share was first measured on a 150k-way corpus with a salt threshold of
# 2000, where the densest cells held 2.0-2.8k ways; the threshold scales with
# the corpus so the densest cells sit just above it here too.
ROADS_N, ROADS_HOT = 10_000, 0.08
ROADS_SALT = 2000 * ROADS_N // 150_000
BUCKETS, FAIL_AFTER = 2, 1
POI_POINTS, POI_BOXES = 300_000, 100_000
TILE_M = 10_000.0
SAMPLE_MOD = 1009  # ids ≡ 0 mod this are checked against a NumPy brute force

# Pinned (rows, checksum) of every materialised table for DEFAULT_SEED.
PINNED = {
    "conflate-roads": {"docs": [10000, 10761350637145], "county_roads": [10164, 10996804810484]},
    "poi-tasking": {
        "probes": [300000, 322134568523659],
        "targets": [329762, 353995545763761],
        "boxes_a": [100000, 107568814145980],
        "boxes_b": [79871, 85720999356919],
        "osm_ways": [10000, 10793239093801],
    },
}


def _sum_hash(*cols):
    return F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 31)))


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class InjectedFailure(RuntimeError):
    """Raised by the conflate-roads job to interrupt a bucketed run."""


class Workload:
    name = ""
    tables: list[str] = []

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.data = f"{work}/data"
        self.out = f"{work}/out"

    def clear_out(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def setup(self) -> list[str]:
        """Generate and materialise the inputs, check them, prepare what
        every op is checked against, warm up.  Returns the failed checks."""
        failed = []
        t = time.perf_counter()
        self.generate()
        _log(f"{self.name}: inputs in {time.perf_counter() - t:.1f}s")
        if self.seed == corpus.DEFAULT_SEED:
            fp = corpus.fingerprint(self.spark, self.data, self.tables)
            _log(f"{self.name}: fingerprint {fp}")
            if fp != PINNED[self.name]:
                failed.append(f"{self.name}: inputs {fp} != pinned {PINNED[self.name]}")
        t = time.perf_counter()
        failed += self.prepare()
        _log(f"{self.name}: prepared in {time.perf_counter() - t:.1f}s")
        # One untimed operation, checked like any other.  An operation is
        # mostly Spark's own planning and scheduling code, which runs faster
        # for several operations as the JVM compiles it: the first full-size
        # operation of a run varied between runs about twice as much as the
        # next, even after a reference or slice run.
        t = time.perf_counter()
        failed += [f"warm-up operation: {f}" for f in self.check(self.op())]
        _log(f"{self.name}: warmed up in {time.perf_counter() - t:.1f}s")
        return failed

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> list[str]:
        """What every op is checked against.  Returns the failed checks."""
        raise NotImplementedError

    def hot_cells(self) -> int:
        """Input descriptor: road cells over the salt threshold."""
        raise NotImplementedError

    def op(self) -> dict:
        """One timed operation: returns at least ``wall`` (s)."""
        raise NotImplementedError

    def check(self, result: dict) -> list[str]:
        """Check the outputs of ``op``, add the output counts the per-layer
        report needs to ``result``, and return the failed checks."""
        raise NotImplementedError


class ConflateRoads(Workload):
    """The flagship lifecycle as one resumable run: decode the span-document
    table, convert the county-roads inventory, conflate with the salt path
    active, re-encode the conflated documents as spans and write them, in
    two checkpointed buckets with a failure injected after the first."""

    name = "conflate-roads"
    tables = ["docs", "county_roads"]

    def generate(self):
        corpus.write_docs(self.spark, self.data, self.seed, ROADS_N, ROADS_HOT)

    def _inputs(self):
        docs = DT.read_documents(self.spark, f"{self.data}/docs")
        county = corpus.read(self.spark, self.data, "county_roads")
        feats = SP.spans_to_features(docs)
        secondary = feats.select(
            F.regexp_replace("doc_id", "doc-", "").cast("bigint").alias("way_id"),
            "geom", "tags", F.lit(1).alias("version"), "doc_id", "spans",
        )
        primary = CV.local_roads_convert(county, keep_cols=["ext_id", "geom"])
        # decoded and converted once per operation, as a pipeline running
        # several buckets (and a resume) over the same inputs would
        return primary.persist(), secondary.persist()

    @staticmethod
    def _conflate(primary, secondary):
        """(conflated documents re-encoded as spans, conflated, new)."""
        conflated, new = C.conflate(primary, secondary, salt_hot_threshold=ROADS_SALT)
        out = conflated.join(secondary.select("way_id", "doc_id", "spans"), "way_id")
        return SP.features_to_spans(out, extra_tag_cols=["hits", "dist"]), conflated, new

    def _job(self, secondary, fail_at=None):
        calls = [0]

        def job(part):
            calls[0] += 1
            if calls[0] == fail_at:
                raise InjectedFailure(f"injected failure at bucket call {fail_at}")
            return self._conflate(part, secondary)[0]

        return job

    def _signature(self, df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            _sum_hash("doc_id", SP.span_signature("spans")).alias("h"),
        ).first()

    def hot_cells(self) -> int:
        return corpus.hot_cells_over_threshold(self.spark, self.data, "docs", ROADS_SALT)

    def prepare(self):
        """The uninterrupted reference every operation must reproduce: one
        conflation over all primaries, whose conflated + new outputs must
        partition the primaries."""
        primary, secondary = self._inputs()
        self.clear_out()
        docs, conflated, new = self._conflate(primary, secondary)
        docs.write.parquet(f"{self.out}/reference")
        ids = lambda df: df.agg(F.count(F.lit(1)).alias("n"), _sum_hash("ext_id").alias("h")).first()  # noqa: E731
        p, c, n = ids(primary), ids(conflated), ids(new)
        self.n_primary = p["n"]
        self.reference = tuple(self._signature(self.spark.read.parquet(f"{self.out}/reference")))
        self.spark.catalog.clearCache()
        failed = []
        if c["n"] + n["n"] != p["n"] or (c["h"] or 0) + (n["h"] or 0) != p["h"]:
            failed.append(f"conflated {c['n']} + new {n['n']} do not partition the {p['n']} primaries")
        return failed

    def op(self):
        self.clear_out()
        out = f"{self.out}/run"
        t0 = time.perf_counter()
        primary, secondary = self._inputs()
        try:
            L.run_bucketed(
                self.spark, primary, self._job(secondary, FAIL_AFTER + 1), out,
                run_id="docs", n_buckets=BUCKETS,
            )
            first = None
        except InjectedFailure:
            first = "interrupted"
        t1 = time.perf_counter()
        res = L.run_bucketed(
            self.spark, primary, self._job(secondary), out, run_id="docs", n_buckets=BUCKETS
        )
        t2 = time.perf_counter()
        self.spark.catalog.clearCache()
        return {"wall": t2 - t0, "resume_s": t2 - t1, "first": first, "resume": res}

    def check(self, result):
        failed = []
        res = result["resume"]
        result["buckets_recomputed"] = len(res["completed"])
        result["buckets_run"] = FAIL_AFTER + len(res["completed"])
        if result["first"] != "interrupted":
            failed.append("the injected failure did not interrupt the first pass")
        if res["skipped"] != list(range(FAIL_AFTER)):
            failed.append(f"resume skipped {res['skipped']}, not the completed buckets")
        if res["completed"] != list(range(FAIL_AFTER, BUCKETS)):
            failed.append(f"resume recomputed {res['completed']}")
        # the signature and the prefix check in one pass over the output
        docs = DT.read_documents(self.spark, f"{self.data}/docs").select(
            "doc_id", SP.span_signature("spans").alias("sig_in")
        )
        row = (
            self.spark.read.parquet(f"{self.out}/run")
            .select("doc_id", SP.span_signature("spans").alias("sig_out"))
            .join(docs, "doc_id", "left")
            .agg(
                F.count(F.lit(1)).alias("n"),
                _sum_hash("doc_id", "sig_out").alias("h"),
                F.count(F.when(F.col("sig_in").isNull() | ~F.col("sig_out").startswith(F.col("sig_in")), 1)).alias("bad"),
            )
            .first()
        )
        result["primaries"] = self.n_primary  # each is conflated or new
        if (row["n"], row["h"]) != self.reference:
            failed.append(f"resumed output {(row['n'], row['h'])} != uninterrupted run {self.reference}")
        if row["bad"]:
            failed.append(f"{row['bad']} output rows lost their original span-sequence prefix")
        return failed


class PoiTasking(Workload):
    """Point kNN, footprint overlap + new buildings, point and line tiling."""

    name = "poi-tasking"
    tables = ["probes", "targets", "boxes_a", "boxes_b", "osm_ways"]

    def generate(self):
        self.pts = corpus.Points(self.seed, POI_POINTS, POI_BOXES)
        self.pts.write(self.data)
        corpus.write_osm_ways(self.spark, self.data, self.seed, ROADS_N, ROADS_HOT)

    def hot_cells(self) -> int:
        return corpus.hot_cells_over_threshold(self.spark, self.data, "osm_ways", ROADS_SALT)

    def prepare(self):
        self.expect = self._brute_force()
        lines = corpus.read(self.spark, self.data, "osm_ways")
        self.sample_lines = {
            r["way_id"]: r["geom"]
            for r in lines.filter(F.pmod("way_id", F.lit(SAMPLE_MOD // 10)) == 0).collect()
        }
        return []

    def _brute_force(self) -> dict:
        """Expected outputs for the sampled ids, by NumPy over all inputs."""
        pt = self.pts
        tol = 7.0
        order = np.argsort(pt.t_lat)
        t_lat, t_lon, t_id = pt.t_lat[order], pt.t_lon[order], pt.osm_id[order]
        knn = {}
        for i in np.nonzero(pt.poi_id % SAMPLE_MOD == 0)[0]:
            lo, hi = np.searchsorted(t_lat, [pt.p_lat[i] - 1e-4, pt.p_lat[i] + 1e-4])
            d = _haversine(pt.p_lon[i], pt.p_lat[i], t_lon[lo:hi], t_lat[lo:hi])
            ok = d <= tol
            if ok.any():
                cand = sorted(zip(d[ok], t_id[lo:hi][ok]))
                knn[int(pt.poi_id[i])] = int(cand[0][1])
        order = np.argsort(pt.b[:, 0])
        b, b_id = pt.b[order], pt.osm_bld_id[order]
        max_w = float((pt.b[:, 2] - pt.b[:, 0]).max())
        overlaps, no_overlap = set(), set()
        for i in np.nonzero(pt.bld_id % SAMPLE_MOD == 0)[0]:
            a = pt.a[i]
            lo, hi = np.searchsorted(b[:, 0], [a[0] - max_w, a[2]])
            c = b[lo:hi]
            w = np.maximum(np.minimum(a[2], c[:, 2]) - np.maximum(a[0], c[:, 0]), 0.0)
            h = np.maximum(np.minimum(a[3], c[:, 3]) - np.maximum(a[1], c[:, 1]), 0.0)
            hit = (w > 0) & (h > 0)
            overlaps.update((int(pt.bld_id[i]), int(j)) for j in b_id[lo:hi][hit])
            if not hit.any():
                no_overlap.add(int(pt.bld_id[i]))
        lon0, lat0, lon1, lat1 = corpus.AOI
        dlon, dlat, _nx, ny = TL.grid_params(lon0, lat0, lon1, lat1, TILE_M)
        sel = pt.poi_id % SAMPLE_MOD == 0
        tx = np.floor((pt.p_lon[sel] - lon0) / dlon).astype(np.int64)
        ty = np.floor((pt.p_lat[sel] - lat0) / dlat).astype(np.int64)
        tiles = {int(i): f"Task_{x * ny + y}" for i, x, y in zip(pt.poi_id[sel], tx, ty)}
        return {"knn": knn, "overlaps": overlaps, "no_overlap": no_overlap, "tiles": tiles,
                "grid": (lon0, lat0, dlon, dlat, ny)}

    def op(self):
        rd = lambda name: corpus.read(self.spark, self.data, name)  # noqa: E731
        probes, targets, a, b, lines = rd("probes"), rd("targets"), rd("boxes_a"), rd("boxes_b"), rd("osm_ways")
        self.clear_out()
        t0 = time.perf_counter()
        P.knn_join(probes, targets, tolerance_m=7.0, k=1).write.parquet(f"{self.out}/knn")
        t1 = time.perf_counter()
        B.overlap_join(a, b).write.parquet(f"{self.out}/overlaps")
        overlaps = self.spark.read.parquet(f"{self.out}/overlaps")
        B.new_buildings(a, overlaps).write.parquet(f"{self.out}/new_buildings")
        t2 = time.perf_counter()
        TL.assign_points_to_tiles(probes, *corpus.AOI, tile_m=TILE_M).write.parquet(f"{self.out}/point_tiles")
        TL.assign_lines_to_tiles(lines, *corpus.AOI, tile_m=TILE_M).write.parquet(f"{self.out}/line_tiles")
        t3 = time.perf_counter()
        self.spark.catalog.clearCache()
        return {"wall": t3 - t0, "knn_s": t1 - t0, "overlap_s": t2 - t1, "tiles_s": t3 - t2}

    def check(self, result):
        rd = lambda name: self.spark.read.parquet(f"{self.out}/{name}")  # noqa: E731
        sampled = lambda c: F.pmod(F.col(c), F.lit(SAMPLE_MOD)) == 0  # noqa: E731
        exp = self.expect
        failed = []
        knn = rd("knn")
        got = {r["poi_id"]: r["osm_id"] for r in knn.filter(sampled("poi_id")).collect()}
        if got != exp["knn"]:
            diff = set(got.items()) ^ set(exp["knn"].items())
            failed.append(f"kNN differs from brute force on {len(diff)} sampled probes")
        ov = rd("overlaps")
        got = {(r["bld_id"], r["osm_bld_id"]) for r in ov.filter(sampled("bld_id")).collect()}
        if got != exp["overlaps"]:
            failed.append(f"overlap pairs differ from brute force on {len(got ^ exp['overlaps'])} sampled pairs")
        new = rd("new_buildings")
        got = {r["bld_id"] for r in new.filter(sampled("bld_id")).collect()}
        if got != exp["no_overlap"]:
            failed.append("new buildings differ from brute force on the sample")
        n_new = new.count()
        n_hit = ov.select("bld_id").distinct().count()
        if n_new + n_hit != POI_BOXES:
            failed.append(f"new {n_new} + overlapped {n_hit} != boxes {POI_BOXES}")
        pts = rd("point_tiles")
        n_pts = pts.count()
        got = {r["poi_id"]: r["tile_id"] for r in pts.filter(sampled("poi_id")).collect()}
        if n_pts != POI_POINTS or got != exp["tiles"]:
            failed.append("point tiles differ from brute force")
        lines = rd("line_tiles")
        n_lines = lines.count()
        got: dict = {}
        for r in lines.filter(F.col("way_id").isin(list(self.sample_lines))).select("way_id", "tile_id").collect():
            got.setdefault(r["way_id"], set()).add(r["tile_id"])
        lon0, lat0, dlon, dlat, ny = exp["grid"]
        for wid, geom in self.sample_lines.items():
            xy = np.asarray(geom).reshape(-1, 2)
            tx = np.floor((xy[:, 0] - lon0) / dlon).astype(np.int64)
            ty = np.floor((xy[:, 1] - lat0) / dlat).astype(np.int64)
            inside = (xy[:, 0] >= lon0) & (xy[:, 1] >= lat0) & (xy[:, 0] < corpus.AOI[2]) & (xy[:, 1] < corpus.AOI[3])
            need = {f"Task_{x * ny + y}" for x, y in zip(tx[inside], ty[inside])}
            if not need <= got.get(wid, set()):
                failed.append(f"line {wid} misses the tiles of its own vertices")
                break
        result["probes"] = POI_POINTS
        result["boxes"] = POI_BOXES + len(self.pts.b)
        result["tile_rows"] = n_pts + n_lines
        return failed


def _haversine(lon1, lat1, lon2, lat2):
    """The engine's haversine (``poi.haversine_col``) in NumPy."""
    rlon1, rlat1, rlon2, rlat2 = (np.radians(v) for v in (lon1, lat1, lon2, lat2))
    a = np.sin((rlat2 - rlat1) / 2) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin((rlon2 - rlon1) / 2) ** 2
    return 2 * 6_371_008.8 * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


WORKLOADS = {w.name: w for w in (ConflateRoads, PoiTasking)}
