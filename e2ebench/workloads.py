"""The benchmark's workloads: inputs from the seed, one timed operation, its
reference checks, and the same operation cut at layer boundaries for the
traced run.

Sizes were chosen so a run, set-up included, fits the benchmark's time
budget on a 4-core machine; README.md gives the reasons for each workload.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tile_gen_spark.functions import kernels as K
from tile_gen_spark.operators import mvt
from tile_gen_spark.operators.checkpoint import run_tile_job
from tile_gen_spark.operators.extract import (extract_and_parse,
                                              latest_per_url, validity_filter)
from tile_gen_spark.operators.spatial_join import (pip_join,
                                                   points_with_bucket,
                                                   zones_covering_quadkeys)
from tile_gen_spark.operators.tiles import (build_tile_features,
                                            clip_points_flat,
                                            clip_shapes_flat)
from tile_gen_spark.plans import sqlgen as S
from tile_gen_spark.sources.synth import gen_pages, gen_zones

import eventlog

#: (name, unit, better) of every per-layer metric, in report order
PER_LAYER = [
    ("extract.s", "s", "lower"),
    ("extract.rows_out", "count", "higher"),
    ("extract.python_s", "s", "lower"),
    ("tiles.clip.s", "s", "lower"),
    ("tiles.clip.rows_out", "count", "higher"),
    ("tiles.clip.python_s", "s", "lower"),
    ("tiles.agg.s", "s", "lower"),
    ("tiles.agg.shuffle_mb", "MB", "lower"),
    ("tiles.agg.spill_mb", "MB", "lower"),
    ("spatial_join.covering.s", "s", "lower"),
    ("spatial_join.covering_rows", "count", "lower"),
    ("spatial_join.probe.s", "s", "lower"),
    ("spatial_join.candidates", "count", "lower"),
    ("spatial_join.refine.s", "s", "lower"),
    ("spatial_join.edge_evals", "count", "lower"),
    ("spatial_join.pairs_per_candidate", "ratio", "higher"),
    ("mvt.encode.s", "s", "lower"),
    ("mvt.bytes_per_tile", "bytes", "lower"),
    ("checkpoint.sink_s", "s", "lower"),
    ("checkpoint.resume_s", "s", "lower"),
    ("checkpoint.out_bytes", "bytes", "lower"),
    ("checkpoint.manifest_rows", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.python_start_s", "s", "lower"),
    ("spark.core_util", "ratio", "higher"),
    ("spark.task_skew", "ratio", "lower"),
    ("trace.overhead_s", "s", "lower"),
]

MB = 1e6


@dataclass
class Output:
    rows: int                # output rows: tiles, or PIP pairs
    key: tuple               # must equal the verification pass's key
    path: Path | None = None  # files the operation wrote, if any
    report: tuple = ()       # what the operation returned, checked later


def digest(cols: str) -> F.Column:
    """Order-independent digest: sum of 32-bit row hashes (cannot overflow
    a bigint below 2^31 rows)."""
    return F.expr(f"sum(xxhash64({cols}) & 4294967295)")


def write_checked(df: DataFrame, path: Path, rows: int) -> None:
    """Write ``df`` as parquet to a temporary name, check its row count, then
    rename it into place, so a crashed write never leaves a usable input."""
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(str(tmp))
    got = df.sparkSession.read.parquet(str(tmp)).count()
    if got != rows:
        raise RuntimeError(f"{path.name}: wrote {got} rows, expected {rows}")
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


class Tracer:
    """Spans of one traced operation: wall time per span name, counts from
    ``Observation``s, and the job description ``<span>#<op>`` by which the
    event log is folded."""

    def __init__(self, spark: SparkSession, op_index: int):
        self.spark, self.op = spark, op_index
        self.walls: dict[str, float] = {}
        self.counts: dict[str, float] = {}

    def key(self, span: str) -> str:
        return f"{span}#{self.op}"

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobDescription(self.key(name))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = (self.walls.get(name, 0.0)
                                + time.perf_counter() - t0)
            sc.setJobDescription(None)

    def noop(self, name: str, df: DataFrame, **aggs: F.Column) -> None:
        """Run ``df`` into the no-op sink under span ``name``, observing
        ``aggs`` in the same pass."""
        obs = Observation() if aggs else None
        if obs is not None:
            df = df.observe(obs, *[c.alias(k) for k, c in aggs.items()])
        with self.span(name):
            df.write.format("noop").mode("overwrite").save()
        if obs is not None:
            for k, v in obs.get.items():
                self.counts[k] = self.counts.get(k, 0) + (v or 0)


def _count() -> F.Column:
    return F.count(F.lit(1))


class Workload:
    name = ""
    #: spans that together make one whole operation in a traced run
    full_spans: tuple[str, ...] = ()
    #: untimed operations after the verification pass and after a traced
    #: run's session restart, for a join the JIT is still speeding up
    WARM_OPS = 0

    def __init__(self, work: Path, seed: int, scale: float, cpus: int):
        self.work, self.seed, self.scale, self.cpus = work, seed, scale, cpus
        self.inputs = work / "inputs"
        self.inputs.mkdir(parents=True, exist_ok=True)
        self.spark: SparkSession | None = None
        self.ref: Output | None = None
        self.notes: dict = {}   # facts from set-up for the detail line

    def size(self, n: int, floor: int) -> int:
        return max(floor, int(n * self.scale))

    def generate(self, spark: SparkSession) -> dict:
        raise NotImplementedError

    def prepare(self, spark: SparkSession) -> None:
        self.spark = spark

    def op(self) -> Output:
        raise NotImplementedError

    def verify(self) -> Output:
        """First, untimed operation: warms the JIT and the Python workers,
        runs the independent reference checks, and becomes the reference
        every later operation must match."""
        out = self.op()
        if out.rows <= 0:
            raise RuntimeError(f"{self.name}: verification pass produced no rows")
        self.ref = out
        self.cleanup(out)
        return out

    def warm(self) -> None:
        for _ in range(self.WARM_OPS):
            if not self.check(self.op()):
                raise RuntimeError(f"{self.name}: a warm-up operation's "
                                   "output differs")

    def check(self, out: Output) -> bool:
        ok = out.key == self.ref.key
        self.cleanup(out)
        return ok

    def cleanup(self, out: Output) -> None:
        if out.path is not None:
            shutil.rmtree(out.path, ignore_errors=True)

    def traced_op(self, t: Tracer) -> Output:
        raise NotImplementedError

    def layer_metrics(self, t: Tracer, ev: dict[str, eventlog.Span]) -> dict:
        raise NotImplementedError


# --- pip --------------------------------------------------------------------

class Pip(Workload):
    name = "pip"
    full_spans = ("operators.spatial_join",)
    POINTS, ZONES, RES = 20_000_000, 2000, 10
    #: every SAMPLE-th point is also joined by brute force
    SAMPLE = 200
    WARM_OPS = 1

    def __init__(self, *a):
        super().__init__(*a)
        self.n_points = self.size(self.POINTS, 10_000)
        self.n_zones = self.size(self.ZONES, 20)
        self._edge_evals = None

    def generate(self, spark):
        self.zones_path = self.inputs / "zones"
        write_checked(gen_zones(spark, self.n_zones, seed=self.seed,
                                radius_scale=0.1, nv_extra=40),
                      self.zones_path, self.n_zones)
        return {"points": self.n_points, "zones": self.n_zones}

    def prepare(self, spark):
        super().prepare(spark)
        # zones are input data: materialized before anything is timed
        self.zones = spark.read.parquet(str(self.zones_path)).cache()
        self.zones.count()
        # points are generated relationally, id range chosen by the seed;
        # ids stay below 2^31, where sqlgen's hash cannot overflow a bigint
        slots = 2 ** 31 // self.n_points - 1
        lo = (self.seed % slots) * self.n_points
        self.points = spark.range(lo, lo + self.n_points).select(
            F.col("id").alias("point_id"),
            F.expr(S.pt_lon("id")).alias("lon"),
            F.expr(S.pt_lat("id")).alias("lat"))

    def op(self) -> Output:
        row = (pip_join(self.points, self.zones, res=self.RES)
               .agg(_count(), digest("point_id, zone_id")).first())
        return Output(rows=int(row[0]), key=tuple(row))

    def verify(self) -> Output:
        out = super().verify()
        sample = self.points.filter(F.col("point_id") % self.SAMPLE == 0)
        got = {(r.point_id, r.zone_id) for r in
               pip_join(sample, self.zones, res=self.RES)
               .select("point_id", "zone_id").collect()}
        want = brute_force_pairs(sample.toPandas(),
                                 self.zones.select("zone_id", "ring").collect())
        if got != want:
            raise RuntimeError(
                f"pip: sampled pairs differ from the brute-force join: "
                f"{len(got - want)} extra, {len(want - got)} missing")
        self.notes["sample_pairs"] = len(want)
        return out

    def candidates(self) -> DataFrame:
        """The probe as pip_join runs it on its broadcast path: bucket
        equi-join plus the zone-bbox filter; the rows the refine receives."""
        pts = points_with_bucket(self.points.select("point_id", "lon", "lat"),
                                 self.RES)
        zqk = zones_covering_quadkeys(self.zones, self.RES)
        inside = ((F.col("lon") >= F.col("bminx"))
                  & (F.col("lon") <= F.col("bmaxx"))
                  & (F.col("lat") >= F.col("bminy"))
                  & (F.col("lat") <= F.col("bmaxy")))
        return (pts.join(F.broadcast(zqk), "qb").filter(inside)
                .select("point_id", "zone_id", "lon", "lat"))

    def traced_op(self, t):
        t.noop("operators.spatial_join.covering",
               zones_covering_quadkeys(self.zones, self.RES),
               covering_rows=_count())
        t.noop("operators.spatial_join.probe", self.candidates(),
               candidates=_count())
        with t.span("operators.spatial_join"):
            out = self.op()
        t.counts["pairs"] = out.rows
        if self._edge_evals is None:  # a count, the same for every operation
            nv = self.zones.select("zone_id",
                                   (F.size("ring") / 2).cast("long").alias("nv"))
            self._edge_evals = int(self.candidates().join(nv, "zone_id")
                                   .agg(F.sum("nv")).first()[0] or 0)
        return out

    def layer_metrics(self, t, ev):
        w, c = t.walls, t.counts
        cov, probe, join = (w[s] for s in (
            "operators.spatial_join.covering", "operators.spatial_join.probe",
            "operators.spatial_join"))
        return {
            "spatial_join.covering.s": cov,
            "spatial_join.covering_rows": c["covering_rows"],
            "spatial_join.probe.s": probe - cov,
            "spatial_join.candidates": c["candidates"],
            "spatial_join.refine.s": join - probe,
            "spatial_join.edge_evals": self._edge_evals,
            "spatial_join.pairs_per_candidate":
                c["pairs"] / c["candidates"] if c["candidates"] else 0.0,
        }


def brute_force_pairs(points, zones) -> set[tuple[int, int]]:
    """Reference PIP join: every sampled point against every zone ring with
    the scalar kernel, behind an exact bbox test."""
    px = points["lon"].to_numpy()
    py = points["lat"].to_numpy()
    ids = points["point_id"].to_numpy()
    pairs = set()
    for z in zones:
        ring = np.asarray(z.ring, dtype=np.float64)
        xs, ys = ring[0::2], ring[1::2]
        m = ((px >= xs.min()) & (px <= xs.max())
             & (py >= ys.min()) & (py <= ys.max()))
        if not m.any():
            continue
        hit = K.points_in_ring(px[m], py[m], ring)
        pairs.update((int(p), int(z.zone_id)) for p in ids[m][hit])
    return pairs


# --- tile_job ---------------------------------------------------------------

def seeded_pages(spark: SparkSession, n: int, seed: int, parts: int,
                 parallelism: int) -> DataFrame:
    """``n`` synthetic pages as the union of ``parts`` corpora, each from its
    own synth seed derived from ``seed``. One corpus puts 70% of its
    geometry around 40 cities the seed places, so its z12 tile count swings
    by 5-8% from seed to seed; eight corpora (320 cities) of 250 pages
    swing by about 3% at z10. The part number is appended to each url, so
    pages of different parts never meet in latest_per_url."""
    out = None
    for j in range(parts):
        part = (gen_pages(spark, n // parts, seed=seed * parts + j,
                          parallelism=max(1, parallelism // parts))
                .withColumn("url", F.concat("url", F.lit(f"#{j}"))))
        out = part if out is None else out.unionByName(part)
    return out


def clip_rows(feats: DataFrame, zooms: list[int]) -> DataFrame:
    """The clip layer alone: what build_tile_features feeds its aggregation."""
    pts = clip_points_flat(feats.filter(F.col("kind") == "point"), zooms)
    shp = clip_shapes_flat(feats.filter(F.col("kind") != "point"), zooms)
    return pts.unionByName(shp)


class TileJob(Workload):
    name = "tile_job"
    full_spans = ("operators.extract", "operators.checkpoint",
                  "operators.checkpoint.resume")
    PAGES, PARTS = 2000, 8
    ZOOMS = [10]

    def __init__(self, *a):
        super().__init__(*a)
        self.n_pages = self.size(self.PAGES // self.PARTS, 10) * self.PARTS
        self._ops = 0

    def generate(self, spark):
        self.pages_path = self.inputs / "pages"
        write_checked(seeded_pages(spark, self.n_pages, self.seed, self.PARTS,
                                   2 * self.cpus),
                      self.pages_path, self.n_pages)
        return {"pages": self.n_pages}

    def features(self) -> DataFrame:
        pages = self.spark.read.parquet(str(self.pages_path))
        return validity_filter(extract_and_parse(latest_per_url(pages)))

    def _job_dir(self) -> Path:
        self._ops += 1
        d = self.work / "jobs" / f"op{self._ops}"
        shutil.rmtree(d, ignore_errors=True)
        return d

    def _run(self, feats: DataFrame, d: Path) -> dict:
        return run_tile_job(self.spark, feats, str(d / "out"),
                            str(d / "manifest"), self.ZOOMS, mvt=True)

    def _output(self, d: Path, first: dict, again: dict) -> Output:
        """Key: the job's own report, the resume call's report, and per zoom
        the count and digest of the tiles as written."""
        zooms = []
        for z in self.ZOOMS:
            written = self.spark.read.parquet(str(d / "out" / f"z={z}"))
            zooms.append(tuple(written.agg(_count(),
                                           digest("z, x, y, mvt")).first()))
        key = (first["zooms_run"], first["tiles"], again["zooms_run"],
               again["zooms_skipped"], tuple(zooms))
        return Output(rows=int(first["tiles"]), key=key, path=d)

    def op(self) -> Output:
        d = self._job_dir()
        feats = self.features()
        try:
            first = self._run(feats, d)
            again = self._run(feats, d)
        finally:
            feats.unpersist(blocking=True)   # run_tile_job caches its input
        return Output(rows=int(first["tiles"]), key=(), path=d,
                      report=(first, again))

    def check(self, out: Output) -> bool:
        try:
            full = self._output(out.path, *out.report)
            return full.key == self.ref.key
        finally:
            self.cleanup(out)

    def verify(self) -> Output:
        """The reference tile counts come first: they also warm the JIT and
        the Python workers. The job then runs on the same cached
        features."""
        d = self._job_dir()
        t0 = time.perf_counter()
        feats = self.features().persist()
        try:
            want = [build_tile_features(feats, [z]).count() for z in self.ZOOMS]
            t1 = time.perf_counter()
            first = self._run(feats, d)
            again = self._run(feats, d)
        finally:
            feats.unpersist()
        t2 = time.perf_counter()
        out = self._output(d, first, again)
        if again["zooms_run"] != 0:
            raise RuntimeError(f"tile_job: resume re-ran {again['zooms_run']} zooms")
        for z, w, (n, _) in zip(self.ZOOMS, want, out.key[-1]):
            if n != w:
                raise RuntimeError(f"tile_job: z{z} sink holds {n} tiles, "
                                   f"build_tile_features gives {w}")
            for r in (self.spark.read.parquet(str(d / "out" / f"z={z}"))
                      .select("n_features", "mvt").toLocalIterator()):
                tile = mvt.decode_tile(bytes(r.mvt))
                got = sum(len(layer["features"]) for layer in tile["layers"])
                if got != r.n_features:
                    raise RuntimeError(f"tile_job: a z{z} tile decodes to {got} "
                                       f"features, expected {r.n_features}")
        if out.rows <= 0:
            raise RuntimeError("tile_job: verification pass wrote no tiles")
        self.notes.update(ref_s=t1 - t0, job_s=t2 - t1,
                          check_s=time.perf_counter() - t2)
        self.ref = out
        self.cleanup(out)
        return out

    def traced_op(self, t):
        d = self._job_dir()
        feats = self.features().persist()
        try:
            t.noop("operators.extract", feats, extract_rows=_count())
            for z in self.ZOOMS:
                t.noop("operators.tiles.clip", clip_rows(feats, [z]),
                       clip_rows=_count())
            for z in self.ZOOMS:
                t.noop("operators.tiles", build_tile_features(feats, [z]))
            for z in self.ZOOMS:
                t.noop("operators.mvt",
                       mvt.encode_tiles(build_tile_features(feats, [z])),
                       mvt_tiles=_count(),
                       mvt_bytes=F.sum(F.length("mvt")))
            with t.span("operators.checkpoint"):
                first = self._run(feats, d)
            with t.span("operators.checkpoint.resume"):
                again = self._run(feats, d)
        finally:
            feats.unpersist()
        t.counts["out_bytes"] = sum(p.stat().st_size for p in
                                    (d / "out").rglob("*.parquet"))
        t.counts["manifest_rows"] = self.spark.read.parquet(
            str(d / "manifest")).count()
        return Output(rows=int(first["tiles"]), key=(), path=d,
                      report=(first, again))

    def layer_metrics(self, t, ev):
        w, c = t.walls, t.counts
        ex, cl, ti = (ev[t.key(s)] for s in (
            "operators.extract", "operators.tiles.clip", "operators.tiles"))
        return {
            "extract.s": w["operators.extract"],
            "extract.rows_out": c["extract_rows"],
            "extract.python_s": ex.python_s,
            "tiles.clip.s": w["operators.tiles.clip"],
            "tiles.clip.rows_out": c["clip_rows"],
            "tiles.clip.python_s": cl.python_s,
            "tiles.agg.s": w["operators.tiles"] - w["operators.tiles.clip"],
            "tiles.agg.shuffle_mb": (ti.shuffle_write_bytes
                                     - cl.shuffle_write_bytes) / MB,
            "tiles.agg.spill_mb": (ti.spill_bytes - cl.spill_bytes) / MB,
            "mvt.encode.s": w["operators.mvt"] - w["operators.tiles"],
            "mvt.bytes_per_tile": (c["mvt_bytes"] / c["mvt_tiles"]
                                   if c["mvt_tiles"] else 0.0),
            "checkpoint.sink_s": w["operators.checkpoint"] - w["operators.mvt"],
            "checkpoint.resume_s": w["operators.checkpoint.resume"],
            "checkpoint.out_bytes": c["out_bytes"],
            "checkpoint.manifest_rows": c["manifest_rows"],
        }


WORKLOADS = {w.name: w for w in (Pip, TileJob)}


def spark_metrics(t: Tracer, ev: dict[str, eventlog.Span], spans,
                  cpus: int) -> tuple[dict, float]:
    """Engine metrics of one whole traced operation, and its wall time."""
    sp = eventlog.merge([ev.get(t.key(s), eventlog.Span()) for s in spans])
    wall = sum(t.walls[s] for s in spans)
    return {
        "spark.jobs": sp.jobs,
        "spark.stages": sp.stages,
        "spark.tasks": sp.tasks,
        "spark.task_s": sp.task_s,
        "spark.gc_s": sp.gc_s,
        "spark.python_start_s": sp.python_start_s,
        "spark.core_util": sp.task_s / (wall * cpus) if wall > 0 else 0.0,
        "spark.task_skew": sp.task_skew,
    }, wall


def median_metrics(per_op: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in per_op) for k in per_op[0]}
