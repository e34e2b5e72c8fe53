"""Per-task Python worker overhead: this package's daemon vs pyspark.daemon.

    python tools/worker_overhead.py [--tasks 64] [--reps 3]

Runs a ``--tasks``-task ``mapInArrow`` whose function does nothing, once per
variant, each in a fresh process at ``local[SPARK_GRAFT_CPUS]``:

  pydaemon        the session as ``get_spark`` builds it (workers forked
                  from ``tile_gen_spark.plans.pydaemon``);
  pyspark.daemon  the same with ``SPARK_GRAFT_EXTRA_CONF=
                  spark.python.daemon.module=pyspark.daemon``.

After one untimed warm-up job, it times ``--reps`` jobs and reads Spark's
event log for the per-task "time to initialize Python workers". It prints
one JSON line per variant: job walls, the median and mean per-task init
time, and where the workers imported pyspark from.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
VARIANTS = (("pydaemon", ""),
            ("pyspark.daemon", "spark.python.daemon.module=pyspark.daemon"))
INIT = "time to initialize Python workers"


def _noop(batches):
    for b in batches:
        yield b.slice(0, 0)


def _where(batches):
    import pyarrow as pa
    import pyspark
    for _ in batches:
        yield pa.RecordBatch.from_pydict({"f": [pyspark.__file__]})


def init_ms(log_dir: Path, description: str) -> list[float]:
    """Per-task init times (ms) of the jobs run under ``description``."""
    stages: set[int] = set()
    out: list[float] = []
    for p in sorted(log_dir.glob("eventlog_v2_*/events_*"),
                    key=lambda p: int(p.name.split("_")[1])):
        for line in p.read_text().splitlines():
            e = json.loads(line) if line.strip() else {}
            if (e.get("Event") == "SparkListenerJobStart"
                    and (e.get("Properties") or {}).get(
                        "spark.job.description") == description):
                stages.update(e.get("Stage IDs", []))
            elif (e.get("Event") == "SparkListenerTaskEnd"
                  and e["Stage ID"] in stages):
                out += [float(a.get("Update") or 0)
                        for a in e["Task Info"].get("Accumulables", [])
                        if a.get("Name") == INIT]
    return out


def child(tasks: int, reps: int, log_dir: Path) -> dict:
    sys.path.insert(0, str(ROOT))
    from tile_gen_spark.plans.session import get_spark
    spark = get_spark("worker-overhead")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(tasks, numPartitions=tasks)
    sc = spark.sparkContext
    sc.setJobDescription("warm")
    where = sorted({r.f for r in df.mapInArrow(_where, "f string").collect()})
    walls = []
    sc.setJobDescription("timed")
    for _ in range(reps):
        t0 = time.perf_counter()
        df.mapInArrow(_noop, df.schema).count()
        walls.append(round(time.perf_counter() - t0, 3))
    daemon = spark.conf.get("spark.python.daemon.module", "pyspark.daemon")
    master = sc.master
    spark.stop()
    init = init_ms(log_dir, "timed")
    return {"daemon": daemon, "master": master, "tasks": tasks,
            "job_s": walls, "init_ms_median": round(statistics.median(init), 1),
            "init_ms_mean": round(statistics.mean(init), 1),
            "init_samples": len(init), "pyspark_from": where}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--tasks", type=int, default=64)
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--child", default=None, help=argparse.SUPPRESS)
    a = p.parse_args(argv)
    if a.child:
        print(json.dumps(child(a.tasks, a.reps, Path(a.child))), flush=True)
        return 0
    for name, extra in VARIANTS:
        with tempfile.TemporaryDirectory() as logs:
            conf = [os.environ.get("SPARK_GRAFT_EXTRA_CONF", ""), extra,
                    "spark.ui.showConsoleProgress=false",
                    "spark.eventLog.enabled=true",
                    f"spark.eventLog.dir={Path(logs).as_uri()}",
                    "spark.eventLog.rolling.enabled=true",
                    "spark.eventLog.compress=false"]
            env = dict(os.environ,
                       SPARK_GRAFT_EXTRA_CONF=";".join(filter(None, conf)))
            out = subprocess.run(
                [sys.executable, __file__, "--tasks", str(a.tasks),
                 "--reps", str(a.reps), "--child", logs],
                env=env, check=True, capture_output=True, text=True).stdout
            print(json.dumps({"variant": name,
                              **json.loads(out.strip().splitlines()[-1])}),
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
