"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload NAME --seeds 1-10 [--trace 0|1]
        [--out FILE]

Run it from the repository root. For every run it records the wall
time, the result line and the run's record (stamps, per-pass times,
load before and after); at the end
it prints, per metric, the median and the interquartile range as a share
of the median (``statistics.quantiles(values, n=4)``), which is how the
benchmark's bounds are checked. ``--out`` saves the runs as JSON.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", args.trace]
        t = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True)
        wall = time.perf_counter() - t
        last = (proc.stdout.strip().splitlines() or [""])[-1]
        result = json.loads(last) if proc.returncode == 0 else None
        records = glob.glob(os.path.join(
            ".perfbench", "results",
            f"{args.workload}-{seed}-t{args.trace}-*.json"))
        record = None
        if result and records:
            with open(max(records, key=os.path.getmtime)) as f:
                record = json.load(f)
        runs.append({"seed": seed, "wall_s": wall, "exit": proc.returncode,
                     "result": result, "record": record})
        print(f"seed {seed}: exit {proc.returncode}, {wall:.1f} s, "
              f"{last[:200]}", flush=True)
        if proc.returncode:
            print(proc.stderr[-2000:], file=sys.stderr)
    ok = [r["result"] for r in runs if r["result"]]
    print(f"{args.workload}: {len(ok)}/{len(runs)} runs ok, mean wall "
          f"{statistics.mean(r['wall_s'] for r in runs):.1f} s, "
          f"failed ops {sum(r['failed'] for r in ok)}")
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary = {}
    for name in (ok[0]["metrics"] if ok else {}):
        values = [r["metrics"][name]["value"] for r in ok]
        if len(values) < 2 or any(v is None for v in values):
            continue
        med = statistics.median(values)
        s = spread(values) if med else float("nan")
        summary[name] = {"median": med, "spread": s}
        bound = bounds.get(name)
        flag = ""
        if bound is not None:
            flag = "  ok" if s < bound / 3 else \
                f"  WIDE (bound/3 = {bound / 3:.3f})"
        print(f"  {name:45s} median {med:12.4f}  spread {s:.4f}{flag}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "summary": summary,
                       "runs": runs}, f, indent=1)
    return 0 if len(ok) == len(runs) else 1


if __name__ == "__main__":
    raise SystemExit(main())
