"""Run one workload under several seeds and report each end-to-end metric's
median and quartile spread (IQR / median) against its bound in
``BENCHMARK.json``.

    python3 perfbench/spread.py --workload job_fresh --seeds 1-10

Run from the repository root. Each run's JSON line is appended to
``.perfbench_work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    a, b = spec.split("-")
    return list(range(int(a), int(b) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="an inclusive range, e.g. 1-10")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    out = os.path.join(".perfbench_work", f"spread-{args.workload}.jsonl")
    os.makedirs(".perfbench_work", exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t = time.perf_counter()
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.perf_counter() - t
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}, no result", file=sys.stderr)
            continue
        res = json.loads(last)
        with open(out, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, **res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(
            f"seed {seed}: {wall:.0f} s wall, failed {res['failed']}/{res['attempted']}, "
            + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True,
        )
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        print(f"{k:<12} median {med:.4g}  spread {spread:.3f}  bound {bounds.get(k)}  n {len(vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
