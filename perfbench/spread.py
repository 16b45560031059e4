"""Run-to-run spread of the benchmark's figures.

    python3 perfbench/spread.py --workload NAME --seeds 1 2 3 4 5 [--out runs.jsonl]

Runs ``perfbench/run.py --trace 0`` once per seed, one after another, and
prints for each end-to-end metric, and for the raw ``wall_s`` and
``calib_s`` of the detail line beside it, the median over the runs and
the spread: the distance between the first and third quartiles
(``statistics.quantiles(values, n=4)``) over the median. ``wall_rel`` is
``wall_s`` over ``calib_s``; a spread of ``wall_rel`` far below those of
both its parts means the calibration cancels host drift, and a change
that moved both parts together would show in ``wall_s`` and ``calib_s``
here while ``wall_rel`` stayed put. With ``--out``, each run's seed,
elapsed seconds, detail and result line are appended as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--out")
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    rows = []
    for seed in args.seeds:
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
        ).stdout.strip().splitlines()
        row = {"seed": seed, "elapsed_s": time.monotonic() - t0,
               "detail": json.loads(out[-2]), "line": json.loads(out[-1])}
        rows.append(row)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps(row) + "\n")
        print(f"seed {seed}: {row['elapsed_s']:.0f} s, correct {row['line']['correct']}", flush=True)
    figures = {m["name"]: [r["line"]["metrics"][m["name"]]["value"] for r in rows]
               for m in spec["end_to_end"]}
    figures["wall_s"] = [r["detail"]["wall_s"] for r in rows]
    figures["calib_s"] = [statistics.median(r["detail"]["calib_s"]) for r in rows]
    print(f"{args.workload}: {len(rows)} runs, all correct: {all(r['line']['correct'] for r in rows)}")
    for name, values in figures.items():
        s = f"{spread(values):.3f}" if len(values) > 1 else "-"
        print(f"  {name:10s} median {statistics.median(values):9.4f}  spread {s}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
