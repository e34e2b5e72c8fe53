"""SparkSession factory with scale-oriented defaults (SURVEY.md §4).

Settings chosen for the 100 TB design point, applied identically in the
local[32] sandbox: AQE on (skew-join splitting + partition coalescing,
``BASELINE.json:6,14``), Arrow enabled for every Python crossing
(``BASELINE.json:15``), shuffle partitions sized to the parallelism.

``SPARK_GRAFT_CPUS`` sets the ``local[N]`` width; it defaults to the CPUs
this process may run on. For ``local`` masters the Python workers are forked
from ``tile_gen_spark.plans.pydaemon`` instead of ``pyspark.daemon``, and the
package root is put on their ``PYTHONPATH`` so that the daemon imports. The
daemon drops ``pyspark.zip``, the py4j zip and the spark-core jar from the
workers' ``sys.path`` when a directory install of the same pyspark is there,
which takes a per-task ``importlib.invalidate_caches()`` from ~0.27 s to
microseconds on CPython 3.11/3.12 (``BENCH/BASELINE.md``). Other masters get
the stock daemon: under ``--py-files`` the package reaches executors only
per task, too late to be a daemon. ``SPARK_GRAFT_EXTRA_CONF=
"spark.python.daemon.module=pyspark.daemon"`` restores it locally too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _usable_cpus() -> int:
    """CPUs this process may run on (its affinity mask where the OS has one)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(app: str = "tile-gen-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _usable_cpus())
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or max(cpus * 2, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE advisory left at the 64 MB default deliberately: 16 MB was
        # measured SLOWER at local[32] (58.5 s vs 47.2 s pipeline) — the
        # Arrow extract wants few large batches (pandas .str vectorization
        # amortizes per-task fixed cost), and the stages that must scale
        # (clip, salted agg) already pin explicit AQE-exempt partition counts.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ~10k rows per Arrow batch: wide geometry rows (SURVEY.md §4.2)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # shuffle/broadcast block codec (SPARK_GRAFT_IO_CODEC): on this
        # box shuffle files live on tmpfs, so shuffle bytes ARE memory
        # traffic — the measured 32-core constraint. A/B'd lz4 (Spark
        # default) vs zstd on the tile section; see BENCH/BASELINE.md.
        .config("spark.io.compression.codec",
                os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"))
        .config("spark.sql.session.timeZone", "UTC")
        # single-JVM local mode puts ALL executor threads in the driver heap;
        # 16g measured flat-stable across reps — 8g went GC-bound on heavy
        # 32-thread stages, 48g spiked on heap expansion (4s → 50s outliers)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # UI off for bench hygiene; SPARK_GRAFT_UI=1 turns it on so
        # tools/profile_phases.py can read per-stage GC/shuffle metrics
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false")
    )
    # Local-mode shuffle files on tmpfs when available: all N threads share
    # ONE disk in local mode, which serializes shuffle-heavy stages — an
    # artifact a real cluster (per-node SSDs scaling with node count) does
    # not have. Honored first: SPARK_LOCAL_DIRS, an explicit spark.local.dir
    # (via SPARK_GRAFT_LOCAL_DIR or spark-defaults), or the opt-out
    # SPARK_GRAFT_NO_SHM=1. tmpfs competes with the JVM heap for RAM, so the
    # override is also skipped when /dev/shm has < 8 GiB free (large spills
    # that would fit on disk must not fail on a full tmpfs).
    explicit = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if explicit:
        b = b.config("spark.local.dir", explicit)
    elif ("SPARK_LOCAL_DIRS" not in os.environ
          and os.environ.get("SPARK_GRAFT_NO_SHM") != "1"
          and os.path.isdir("/dev/shm")):
        try:
            st = os.statvfs("/dev/shm")
            shm_free = st.f_bavail * st.f_frsize
        except OSError:
            shm_free = 0
        if shm_free >= 8 << 30:
            shm = os.path.join("/dev/shm", "spark-local")
            os.makedirs(shm, exist_ok=True)
            b = b.config("spark.local.dir", shm)
    if master == "local" or master.startswith("local["):
        b = (b.config("spark.python.daemon.module", "tile_gen_spark.plans.pydaemon")
             .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT))
    # experiment passthrough: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" — lets bench
    # A/Bs (codec, compress on/off, …) run without code edits; applied LAST
    # so an experiment can override any default above.
    for kv in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONF",
                                          "").split(";")):
        k, _, v = kv.partition("=")
        b = b.config(k.strip(), v.strip())
    return b.getOrCreate()
