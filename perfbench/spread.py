"""Run-to-run spread of the end-to-end metrics, as the acceptance rule reads it.

    python3 perfbench/spread.py --workload headline --seeds 1-10 [--out runs.jsonl]

Runs the benchmark once per seed, one run at a time, and prints for each
end-to-end metric its median and the distance between the first and
third quartile of the runs (``statistics.quantiles(values, n=4)``) as a
share of the median, next to the metric's bound.  Every run is kept and
reported; none is dropped.
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
ROOT = os.path.dirname(HERE)


def seed_list(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out", help="append each run's result line to this JSONL file")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    runs = []
    for seed in seed_list(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        values = {k: v["value"] for k, v in result["metrics"].items()} if result else {}
        host = [line.split()[1:3] for line in lines if line.strip().startswith("host_ref_s:")]
        print(f"seed {seed}: exit {proc.returncode} wall {wall:.1f} s "
              + " ".join(f"{k}={v:.4f}" for k, v in values.items())
              + (f" host_ref_s={'/'.join(host[0])}" if host else ""), flush=True)
        if result is None:
            print(proc.stdout[-2000:], proc.stderr[-2000:], sep="\n", file=sys.stderr)
            continue
        runs.append(values)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, **values,
                                    "host_ref_s": [float(h) for h in host[0]] if host else None})
                        + "\n")

    for m in spec["end_to_end"]:
        vals = [r[m["name"]] for r in runs if m["name"] in r]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        print(f"{m['name']:<16} median {med:10.4f} {m['unit']:<4} spread {spread:7.2%}  "
              f"bound {m['bound']:.0%}  "
              f"{'within' if spread <= m['bound'] / 3 else 'over'} a third of the bound")
    return 0


if __name__ == "__main__":
    sys.exit(main())
