"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Prints a detail JSON line (host facts,
per-operation timings, the workload's own figures, failures), then as the
last line ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. Everything a run writes (inputs, warehouses,
checkpoints, Spark scratch, the event log) stays under a fresh directory
in ``.perfbench_work/`` of the checkout and is removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "music_streaming_services_etl_pipeline_with_airflow_spark"
WORKLOADS = ("daily_etl", "curation")


def _isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and the package at
    ``work``, and put the checkout on the Python workers' path. Must run
    before Spark or the package is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_GRAFT_WORK_ROOT": work,
            "SPARK_GRAFT_CPUS": "4",
            "SPARK_DRIVER_MEMORY": "2g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            # C1-only JIT: a run of about a minute otherwise ends while C2 is
            # still recompiling Spark, and when it finishes varies by ±15%
            "PYSPARK_SUBMIT_ARGS": shlex.join(
                [
                    "--driver-java-options",
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
                    " -XX:-UsePerfData -XX:TieredStopAtLevel=1",
                    "--conf",
                    f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
                    "pyspark-shell",
                ]
            ),
        }
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        _isolate(work)
        import workloads

        detail, line = workloads.run(
            ROOT, args.workload, args.seed, args.seconds, bool(args.trace), work, T0
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    print(json.dumps(detail))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
