"""One benchmark run, in the process run.py starts for it.

Set-up (session start, input generation, one verification pass and the
workload's warm-up operations) is timed as ``setup_s``; then a closed loop
runs one operation at a time for ``--seconds`` and checks each output
against the verification pass. With ``--trace 1`` the run then restarts the
Spark session with the event log on and re-runs the operation cut at layer
boundaries (see workloads.Tracer).
The result is written as JSON to ``--result``; run.py prints it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import procs  # noqa: E402

END_TO_END = [("rows_per_s", "1/s"), ("setup_s", "s"), ("peak_rss_mb", "MB"),
              ("ok_share", "share")]


@dataclass
class Loop:
    walls: list[float] = field(default_factory=list)  # successful ops only
    attempted: int = 0
    failed: int = 0
    outputs: list = field(default_factory=list)        # (op index, output)


def closed_loop(op, check, seconds: float, clock=time.perf_counter) -> Loop:
    """Run ``op`` one call at a time until ``seconds`` have passed (at least
    once). An operation that raises, or whose output ``check`` rejects,
    counts as failed."""
    loop = Loop()
    start = clock()
    while loop.attempted == 0 or clock() - start < seconds:
        i = loop.attempted
        loop.attempted += 1
        t0 = clock()
        try:
            out = op(i)
            wall = clock() - t0
            ok = check(out)
        except Exception:
            traceback.print_exc()
            ok = False
        if ok:
            loop.walls.append(wall)
            loop.outputs.append((i, out))
        else:
            loop.failed += 1
    return loop


def e2e_metrics(rows: int, loop: Loop, setup_s: float,
                peak_rss_mb: float) -> dict:
    med = statistics.median(loop.walls) if loop.walls else 0.0
    values = {
        "rows_per_s": rows / med if med > 0 else 0.0,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "ok_share": (loop.attempted - loop.failed) / loop.attempted,
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END}


class RssSampler:
    """Peak summed RSS of the run's processes (this interpreter, the JVM
    and the Python workers), sampled every ``period`` seconds."""

    def __init__(self, token: str, period: float = 0.25):
        self.token, self.period = token, period
        self.peak = self.jvm_at_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            pids = procs.run_pids(self.token)
            total = procs.rss_bytes(pids)
            if total > self.peak:
                self.peak = total
                self.jvm_at_peak = procs.rss_bytes(
                    [p for p in pids if procs.comm(p) == "java"])
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def start_session(app: str, event_dir: Path | None = None):
    """get_spark, sized by the environment run.py set, plus a check that the
    Python workers import the library of this checkout."""
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        os.environ["SPARK_GRAFT_EXTRA_CONF"] += (
            f";spark.eventLog.enabled=true;spark.eventLog.dir={event_dir.as_uri()}"
            ";spark.eventLog.rolling.enabled=true;spark.eventLog.compress=false")
    from tile_gen_spark.plans.session import get_spark
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, worker_library(spark)


def worker_library(spark) -> str:
    """Where a Python worker imports tile_gen_spark from; raises unless it
    is this checkout. Also starts the Python workers."""
    def where(batches):
        import pandas as pd
        import tile_gen_spark
        for _ in batches:
            yield pd.DataFrame({"f": [tile_gen_spark.__file__]})

    n = spark.sparkContext.defaultParallelism
    files = {r.f for r in spark.range(n, numPartitions=n)
             .mapInPandas(where, "f string").collect()}
    bad = [f for f in files if not Path(f).resolve().is_relative_to(ROOT)]
    if bad:
        raise RuntimeError(f"Python workers import tile_gen_spark from {bad}, "
                           f"not from {ROOT}")
    return sorted(files)[0]


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    for a in ("--workload", "--work", "--result"):
        p.add_argument(a, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--scale", type=float, default=1.0)
    args = p.parse_args(argv)

    import tile_gen_spark
    if not Path(tile_gen_spark.__file__).resolve().is_relative_to(ROOT):
        raise RuntimeError(f"driver imports {tile_gen_spark.__file__}")
    import eventlog
    import workloads as W

    token = os.environ[procs.MARK]
    work = Path(args.work)
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    detail = {"workload": args.workload, "seed": args.seed,
              "master": f"local[{cpus}]",
              "driver_mem": os.environ["SPARK_DRIVER_MEM"],
              "local_dirs": os.environ["SPARK_LOCAL_DIRS"]}
    wl = W.WORKLOADS[args.workload](work, args.seed, args.scale, cpus)

    t0 = time.perf_counter()
    spark, detail["worker_library"] = start_session(f"e2ebench-{wl.name}")
    try:
        detail["session_s"] = time.perf_counter() - t0
        detail["shuffle_partitions"] = int(
            spark.conf.get("spark.sql.shuffle.partitions"))
        t = time.perf_counter()
        detail["inputs"] = wl.generate(spark)
        wl.prepare(spark)
        detail["generate_s"] = time.perf_counter() - t
        t = time.perf_counter()
        ref = wl.verify()
        wl.warm()
        detail["verify_s"] = time.perf_counter() - t
        detail.update(wl.notes)
        setup_s = time.perf_counter() - t0
        detail["rows"] = ref.rows

        ticks = procs.cpu_ticks()
        with RssSampler(token) as rss:
            loop = closed_loop(lambda i: wl.op(), wl.check, args.seconds)
        detail["steal_share"] = procs.steal_share(ticks, procs.cpu_ticks())
        detail["jvm_rss_at_peak_mb"] = rss.jvm_at_peak / 2 ** 20
        detail["op_walls"] = loop.walls
        detail["samples"] = len(loop.walls)
    finally:
        spark.stop()
    result = {"correct": loop.failed == 0, "attempted": loop.attempted,
              "failed": loop.failed}

    if not args.trace:
        result["metrics"] = e2e_metrics(ref.rows, loop, setup_s,
                                        rss.peak / 2 ** 20)
    else:
        event_dir = work / "eventlog"
        spark, _ = start_session(f"e2ebench-{wl.name}-traced", event_dir)
        try:
            wl.prepare(spark)
            wl.warm()
            tracers = {}

            def traced(i):
                tracers[i] = W.Tracer(spark, i)
                return wl.traced_op(tracers[i])

            tloop = closed_loop(traced, wl.check, args.seconds)
        finally:
            spark.stop()
        ev = eventlog.fold(event_dir)
        per_op, walls = [], []
        for i, _ in tloop.outputs:
            t = tracers[i]
            m = wl.layer_metrics(t, ev)
            sm, wall = W.spark_metrics(t, ev, wl.full_spans, cpus)
            m.update(sm)
            walls.append(wall)
            per_op.append(m)
        if not per_op:
            raise RuntimeError("no traced operation succeeded")
        layer = {name: 0.0 for name, _, _ in W.PER_LAYER}
        layer.update(W.median_metrics(per_op))
        untraced = statistics.median(loop.walls) if loop.walls else 0.0
        layer["trace.overhead_s"] = statistics.median(walls) - untraced
        detail.update(traced_walls=walls, untraced_op_s=untraced,
                      traced_spans=[tracers[i].walls for i, _ in tloop.outputs])
        units = {name: unit for name, unit, _ in W.PER_LAYER}
        result["metrics"] = {k: {"value": float(layer[k]), "unit": units[k]}
                             for k, _, _ in W.PER_LAYER}
        result["attempted"] += tloop.attempted
        result["failed"] += tloop.failed
        result["correct"] = result["failed"] == 0

    Path(args.result).write_text(json.dumps({"detail": detail,
                                             "result": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
