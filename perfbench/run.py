"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload stream_redis --seed 1 --seconds 16 --trace 0

Run from the root of a checkout that holds the ``bootic_stats_aggregates_spark``
package. Workloads: ``stream_redis``, ``batch_queries``
(see ``perfbench/NOTES.md``). Every input is generated from ``--seed`` under
``.perfbench_work/`` in the checkout and removed at exit; ``--trace 1``
also writes the run's spans to ``.perfbench_out/``.

Exit codes: 0 result printed and correct; 1 result printed, correctness gate
failed; 2 bad arguments or no package to measure; 3 run void (the engine
did not commit its warm-up batch or the measured files in time, reason on
stderr); 4 run timed out or crashed. A run that fails a validity check of
the host (CPU steal, generator lateness, backlog) still exits 0: the reason
is on stderr and under ``spoiled`` in the settings line.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import traceback

from harness import Void

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_redis", "batch_queries")
RUN_LIMIT_S = 150  # leaves time to stop the engine within 180 s
HEAP = "1g"  # JVM heap, fixed size


def _engine_env(work: str, cpus: int) -> None:
    """Fixed engine settings; all set before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "ckpt"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_CKPT_DIR": os.path.join(work, "ckpt"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_SHUFFLE": str(cpus),
            "SPARK_GRAFT_AQE": "false",
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "PYSPARK_PYTHON": sys.executable,
            # Python workers import the package themselves: give them the
            # path, not only this process's sys.path
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
            # a fixed-size heap (-Xms = -Xmx) keeps the JVM's resident size
            # from depending on when the collector chose to grow the heap;
            # no perf-data file, which the JVM would write to the system temp dir
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false "
            "--driver-java-options "
            + shlex.quote(f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
            + " pyspark-shell",
            # the same for the short JVM that spark-submit launches first
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bootic_stats_aggregates_spark")):
        print("no bootic_stats_aggregates_spark package next to perfbench/", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    os.makedirs(work)

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S}s")

    signal.signal(signal.SIGALRM, on_alarm)
    # a terminated run still stops the engine and removes its work dir
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(RUN_LIMIT_S)
    bench = None
    try:
        _engine_env(work, cpus)
        import workloads

        bench = workloads.Bench(a.workload, a.seed, a.seconds, bool(a.trace), work, cpus)
        result = bench.run()
    except Void as exc:
        print(f"run void: {exc}", file=sys.stderr)
        return 3
    except Exception:
        traceback.print_exc()
        return 4
    finally:
        signal.alarm(0)
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
