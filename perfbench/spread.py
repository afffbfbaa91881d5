"""Run one workload over several seeds and report each metric's
median and quartile spread (Q3 - Q1) / median, the steadiness figure
BENCHMARK.json's bounds are checked against. Each run's stderr is
kept as perfbench/.work/spread-<workload>-<seed>.log.

    python3 perfbench/spread.py --workload dashboard_rw --seeds 1-10 [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        with open(os.path.join(HERE, ".work", f"spread-{args.workload}-{seed}.log"), "w") as err:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                 text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=300)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGTERM)  # the run and its JVM
            out, _ = p.communicate()
        wall = time.perf_counter() - t0
        line = out.strip().splitlines()[-1] if out.strip() else "{}"
        res = json.loads(line)
        print(f"seed {seed}: exit {p.returncode} correct {res.get('correct')} "
              f"attempted {res.get('attempted')} failed {res.get('failed')} wall {wall:.1f}s", flush=True)
        for name, m in res.get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for name, v in values.items():
        med = statistics.median(v)
        if len(v) >= 2:
            q = statistics.quantiles(v, n=4)
            spread = (q[2] - q[0]) / med if med else 0.0
        else:
            spread = 0.0
        b = bounds.get(name)
        flag = "" if b is None else (" OK" if spread < b / 3 else (" within" if spread <= b else " OVER"))
        print(f"{name:32s} median {med:12.4f} spread {spread:.3f} bound {b}{flag}  "
              f"{[round(x, 3) for x in v]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
