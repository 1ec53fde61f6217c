"""Steadiness check: run the benchmark on several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) as a
share of the median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload osm_mapper --seeds 1-10 \
        --out perfbench/results/steady_osm_mapper.json

Run from the repository root.  Each run is a separate process, as the
benchmark harness runs it; runs are sequential.
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


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in args.seeds:
        t = time.perf_counter()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        run = {"seed": seed, "exit": proc.returncode,
               "wall_s": time.perf_counter() - t}
        if len(lines) >= 2:
            run["result"] = json.loads(lines[-1])
            run["record"] = json.loads(lines[-2])["record"]
        runs.append(run)
        print(json.dumps({k: run.get(k) for k in ("seed", "exit", "wall_s")}
                         | {"metrics": {k: v["value"] for k, v in
                                        run.get("result", {}).get("metrics", {}).items()
                                        if k in bounds}}), flush=True)

    ok = [r for r in runs if r["exit"] == 0 and r["result"]["correct"]]
    summary = {}
    if len(ok) >= 2 and not args.trace:
        for name in bounds:
            vals = [r["result"]["metrics"][name]["value"] for r in ok]
            summary[name] = {"median": statistics.median(vals),
                             "spread": spread(vals), "bound": bounds[name]}
    # host-noise evidence: the cpu probes and the stolen vCPU time
    passes = [p for r in ok for p in r["record"]["passes"]]
    if passes:
        summary["probe_s_median"] = statistics.median(p["probe_s"] for p in passes)
        summary["steal_s_total"] = sum(
            r["record"]["setup_steal_s"] + sum(p["steal_s"] for p in r["record"]["passes"])
            for r in ok)
    summary["runs_ok"] = len(ok)
    summary["runs"] = len(runs)
    summary["wall_s_total"] = sum(r["wall_s"] for r in runs)
    print(json.dumps(summary, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "trace": args.trace,
                       "summary": summary, "runs": runs}, f, indent=1)
    return 0 if len(ok) == len(runs) else 1


if __name__ == "__main__":
    sys.exit(main())
