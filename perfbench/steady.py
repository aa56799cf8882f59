"""Steadiness check: run every workload with several seeds and report,
per end-to-end metric, the median and the quartile spread
(Q3 - Q1) / median next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --seeds 10
    python3 perfbench/steady.py --seeds 5 --workloads image_dedup --first-seed 100

Runs are sequential (never time two Spark jobs at once). Raw results go
to ``perfbench/out/steady-<first seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = p.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results: dict[str, list[dict]] = {}
    ok = True
    for w in args.workloads.split(","):
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            cmd = bench["command"] + [
                "--workload", w, "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            t = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            res = json.loads(last) if last.startswith("{") else {}
            res["wall_s"] = wall
            res["log"] = [ln for ln in proc.stdout.splitlines() if ln.startswith("#")]
            res["returncode"] = proc.returncode
            results.setdefault(w, []).append(res)
            print(f"{w} seed={seed} rc={proc.returncode} wall={wall:.1f}s", flush=True)
            ok &= proc.returncode == 0 and res.get("correct") is True

    print(f"\n{'workload':<14} {'metric':<12} {'median':>12} {'spread':>8} {'bound':>6}  within bound/3")
    for w, runs in results.items():
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs if name in r.get("metrics", {})]
            if len(vals) < 2:
                continue
            spread = stats.quartile_spread(vals)
            steady = spread < bound / 3
            print(f"{w:<14} {name:<12} {stats.median(vals):>12.4f} {spread:>8.3f} {bound:>6}  {steady}")
        walls = [r["wall_s"] for r in runs]
        print(f"{w:<14} {'run wall':<12} {stats.median(walls):>12.1f} max {max(walls):.1f}s")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"steady-{args.first_seed}.json"), "w") as f:
        json.dump(results, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
