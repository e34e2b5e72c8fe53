"""Benchmark entry point: one workload, one fresh Spark process per run.

    python3 e2ebench/run.py --workload tiles --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. This supervisor starts ``worker.py`` in a
child process with the session sized to the machine, waits for it under a
deadline, and on every exit path -- result, exception, signal, deadline --
stops every process the run started and waits until each has ended. The last
line of standard output is the run's result object; a run that fails prints
none and exits non-zero. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid
from pathlib import Path

import procs

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("pip", "tile_job")
#: whole-run wall limit: a run must end within 180 s, cleanup included
DEADLINE_S = 165.0
#: driver heap: a share of physical memory, capped, since the inputs are
#: small and the machine may be shared. Fixed (-Xms = -Xmx), so that heap
#: growth decisions do not add run-to-run noise to peak_rss_mb.
HEAP_SHARE, HEAP_CAP_MB = 0.25, 2048


class Interrupted(Exception):
    pass


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (tests use tiny sizes)")
    p.add_argument("--deadline", type=float, default=DEADLINE_S,
                   help="seconds after which the run is killed")
    a = p.parse_args(argv)
    if not 0 <= a.seed < 2 ** 31:
        p.error("--seed must be in [0, 2^31)")
    if a.seconds <= 0 or a.scale <= 0:
        p.error("--seconds and --scale must be positive")
    return a


def checkout_problem(root: Path) -> str | None:
    """Why ``root`` cannot be benchmarked, or None."""
    if not (root / "tile_gen_spark" / "operators" / "tiles.py").is_file():
        return f"no tile_gen_spark package under {root}: run from a full checkout"
    return None


def child_env(work: Path, token: str) -> dict[str, str]:
    """Session sizing through the library's own environment knobs."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(HEAP_CAP_MB, int(procs.mem_total_mb() * HEAP_SHARE))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    env = dict(os.environ)
    env.update({
        procs.MARK: token,
        # workers import the library of THIS checkout, never another one
        "PYTHONPATH": str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # every JVM of the run, the spark-submit launcher included, keeps
        # its temporary files inside the work directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_EXTRA_CONF": ";".join([
            "spark.ui.showConsoleProgress=false",
            f"spark.driver.extraJavaOptions=-Xms{heap_mb}m",
        ]),
    })
    return env


def main(argv=None) -> int:
    args = parse_args(argv)
    problem = checkout_problem(ROOT)
    if problem:
        print(f"e2ebench: {problem}", file=sys.stderr)
        return 2
    token = os.environ.get(procs.MARK) or uuid.uuid4().hex
    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-{token[:12]}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result_path = work / "result.json"

    def on_signal(signum, _frame):
        raise Interrupted(signal.Signals(signum).name)

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, on_signal)

    cmd = [sys.executable, str(Path(__file__).with_name("worker.py")),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scale", str(args.scale), "--work", str(work),
           "--result", str(result_path)]
    rc, why = None, ""
    proc = None
    try:
        proc = subprocess.Popen(cmd, env=child_env(work, token), cwd=work,
                                stdin=subprocess.DEVNULL, stdout=sys.stderr)
        rc = proc.wait(timeout=args.deadline)
        why = f"worker exited with {rc}"
    except subprocess.TimeoutExpired:
        why = f"deadline of {args.deadline:.0f} s passed"
    except Interrupted as e:
        why = f"interrupted by {e}"
    finally:
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, signal.SIG_IGN)  # let the cleanup finish
        leftovers = procs.stop_run(token, exclude={os.getpid()})
        if proc is not None:
            proc.wait()
        result = (json.loads(result_path.read_text())
                  if rc == 0 and result_path.is_file() else None)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    if leftovers:
        print(f"e2ebench: processes {leftovers} survived the run",
              file=sys.stderr)
        return 1
    if result is None:
        print(f"e2ebench: no result ({why})", file=sys.stderr)
        return 1
    print(json.dumps({"detail": result["detail"]}, sort_keys=True))
    print(json.dumps(result["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
