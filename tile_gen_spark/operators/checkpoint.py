"""S5 + J6 (SURVEY.md §2.1, §2.3): checkpoint-resume with per-partition
lineage + row-count metrics.

``BASELINE.json:6,14``: "every partition emits lineage + row-count metrics to
enable checkpoint-resume mid-zoom-level". Design:

 - work unit = one zoom level (one Spark job per zoom → natural resume grain);
 - the tile sink writes ``out/z=K`` atomically (overwrite per zoom directory);
 - AFTER a zoom's sink commits, a manifest row batch is appended recording
   run_id, stage, zoom, per-partition input/output row counts, timestamps and
   a lineage string (the logical steps that produced the partition);
 - resume = left-anti join of requested zooms against committed manifest
   zooms (J6) — crash between sink and manifest ⇒ the zoom reruns and
   overwrites, so the pipeline is idempotent (manifest written last).

Per-partition metrics use ``spark_partition_id()`` + groupBy — observable,
deterministic, and cheap (the rows are already materialized by the sink).
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = ("run_id string, stage string, z int, partition_id int, "
                   "input_rows bigint, output_rows bigint, started_ts double, "
                   "finished_ts double, lineage string")


def partition_metrics(df: DataFrame, z: int, stage: str, run_id: str,
                      started: float, lineage: str) -> DataFrame:
    """Per-partition OUTPUT row counts of df as manifest rows (lineage +
    metrics). input_rows is null at partition grain (the pre-sink input isn't
    attributable to sink partitions post-shuffle); the zoom-level input lives
    on the partition_id = -1 summary row (see zoom_summary_row)."""
    now = time.time()
    return (df.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid").count()
            .select(F.lit(run_id).alias("run_id"),
                    F.lit(stage).alias("stage"),
                    F.lit(z).cast("int").alias("z"),
                    F.col("_pid").cast("int").alias("partition_id"),
                    F.lit(None).cast("bigint").alias("input_rows"),
                    F.col("count").cast("bigint").alias("output_rows"),
                    F.lit(started).alias("started_ts"),
                    F.lit(now).alias("finished_ts"),
                    F.lit(lineage).alias("lineage")))


def zoom_summary_row(spark: SparkSession, z: int, stage: str, run_id: str,
                     started: float, lineage: str, input_rows: int,
                     output_rows: int) -> DataFrame:
    """Zoom-level sentinel manifest row (partition_id = -1): carries the
    observed pre-sink input count and total output. Committed for EVERY zoom
    — including ones that legitimately produce zero tiles, which would
    otherwise never enter completed_zooms and re-run on every resume."""
    return spark.createDataFrame(
        [(run_id, stage, int(z), -1, int(input_rows), int(output_rows),
          float(started), float(time.time()), lineage)],
        MANIFEST_SCHEMA)


class TileCheckpoint:
    """Manifest-backed resume for the per-zoom tile job."""

    def __init__(self, spark: SparkSession, manifest_path: str):
        self.spark = spark
        self.path = manifest_path

    def completed_zooms(self, stage: str = "tiles") -> set[int]:
        if not os.path.exists(self.path):
            return set()
        try:
            df = self.spark.read.parquet(self.path)
        except Exception:
            return set()
        rows = (df.filter(F.col("stage") == stage)
                .select("z").distinct().collect())
        return {r["z"] for r in rows}

    def pending(self, zooms: list[int], stage: str = "tiles") -> list[int]:
        """J6 resume diff (driver-side for the tiny zoom list; the same
        anti-join runs distributed for per-tile grain, see pending_tiles)."""
        done = self.completed_zooms(stage)
        return [z for z in zooms if z not in done]

    def pending_tiles(self, work: DataFrame, done_tiles: DataFrame) -> DataFrame:
        """Distributed J6: tiles not yet committed (left-anti on z,x,y)."""
        return work.join(done_tiles, ["z", "x", "y"], "left_anti")

    def commit(self, metrics: DataFrame) -> None:
        metrics.write.mode("append").parquet(self.path)


def run_tile_job(spark: SparkSession, features: DataFrame, out_dir: str,
                 manifest_path: str, zooms: list[int], salt: int = 0,
                 run_id: str | None = None, mvt: bool = False,
                 split_layers: bool = False) -> dict[str, int]:
    """EP1 driver loop: per-zoom tile build with checkpoint-resume.

    ``mvt=True`` additionally encodes each tile's feature list to MVT 2.1
    wire bytes (S7) in the same pass — the sink rows carry an ``mvt`` binary
    column IN PLACE of ``features``; ``split_layers`` emits one MVT layer per geometry kind.
    Returns {"zooms_run": n, "zooms_skipped": m, "tiles": total}.
    """
    from .tiles import build_tile_features
    from .mvt import encode_tiles

    from pyspark import StorageLevel
    from pyspark.sql import Observation

    from ..sources.catalog import cluster_tiles

    run_id = run_id or uuid.uuid4().hex[:12]
    # The sink schema differs by mode (mvt=True REPLACES the features column
    # with wire bytes; split_layers changes the bytes) — so the manifest
    # stage name encodes the mode. Resuming the same out_dir with a
    # different flag finds no completed zooms under the new stage, re-runs
    # every zoom, and the per-zoom overwrite leaves the directory tree in
    # the single new schema — no mixed z= directories for a reader to choke
    # on (a whole-root scan after a flag flip previously failed schema merge).
    stage = "tiles" if not mvt else ("tiles_mvt_split" if split_layers else "tiles_mvt")
    ckpt = TileCheckpoint(spark, manifest_path)
    todo = ckpt.pending(zooms, stage=stage)
    skipped = len(zooms) - len(todo)
    total_tiles = 0
    # a cache this call makes for the zoom loop is dropped on return; a
    # caller's own persist (same plan already cached) is left alone
    owns_cache = features.storageLevel == StorageLevel.NONE
    if owns_cache:
        features = features.cache()
    try:
        for z in todo:
            started = time.time()
            obs = Observation(f"tiles-z{z}-{run_id}")
            tiles = build_tile_features(features, [z], salt=salt)
            if mvt:
                tiles = encode_tiles(tiles, split_layers=split_layers)
            tiles = tiles.observe(
                obs, F.count(F.lit(1)).alias("tiles"), F.sum("n_features").alias("feature_rows"))
            out_path = os.path.join(out_dir, f"z={z}")
            # O2 sink clustering: few files per zoom, rows sorted (z,x,y) inside
            cluster_tiles(tiles).write.mode("overwrite").parquet(out_path)  # idempotent per zoom
            got = obs.get  # free — piggybacks on the sink action (S5/A3 metrics)
            n_tiles = int(got["tiles"])
            feature_rows = int(got["feature_rows"] or 0)
            total_tiles += n_tiles
            lineage = (f"pages>latest_per_url>extract>parse_geo>validity>"
                       f"assign(z={z})>clip>quantize>collect_list"
                       f"|observed_feature_rows={feature_rows}")
            summary = zoom_summary_row(spark, z, stage, run_id, started, lineage,
                                       input_rows=feature_rows, output_rows=n_tiles)
            if n_tiles > 0:
                written = spark.read.parquet(out_path)
                ckpt.commit(summary.unionByName(
                    partition_metrics(written, z, stage, run_id, started, lineage)))
            else:
                # zero-tile zooms still commit: completed_zooms must record them
                # or every resume re-runs the empty zoom forever
                ckpt.commit(summary)
    finally:
        if owns_cache:
            features.unpersist()
    return {"zooms_run": len(todo), "zooms_skipped": skipped, "tiles": total_tiles}
