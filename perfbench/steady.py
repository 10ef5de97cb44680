"""Repeat the benchmark over seeds and summarise how steady it is.

    python3 perfbench/steady.py --workload serve --workload curate \\
        --seeds 1-10 --out perfbench/results/set1.json

Runs ``perfbench/run.py`` once per (workload, seed) from the repository
root, in sequence, with the run length from BENCHMARK.json. Writes every
run's two output lines raw, and per workload and metric the median, the
quartiles and the spread — (Q3 − Q1) / median, with quartiles from
``statistics.quantiles(values, n=4)`` — beside the host probe's figures.
With ``--trace 1`` it also reports the tracing overhead per workload: the
traced op median minus the untraced one taken from ``--untraced``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", action="append", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--untraced", help="a summary from an untraced set, for the overhead")
    p.add_argument("--out", required=True)
    args = p.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    runs = []
    for wl in args.workload:
        for seed in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.time()
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            run = {"workload": wl, "seed": seed, "exit": proc.returncode,
                   "wall_s": time.time() - t0, "started": t0}
            if proc.returncode == 0:
                run["report"] = json.loads(lines[-2])["report"]
                run["result"] = json.loads(lines[-1])
            else:
                run["stderr_tail"] = proc.stderr[-4000:]
            runs.append(run)
            print(json.dumps({k: run.get(k) for k in ("workload", "seed", "exit", "wall_s")}
                             | {"metrics": {m: v["value"] for m, v in
                                            run.get("result", {}).get("metrics", {}).items()
                                            if not args.trace}}),
                  file=sys.stderr, flush=True)
    summaries = {}
    for wl in args.workload:
        ok = [r for r in runs if r["workload"] == wl and r["exit"] == 0]
        if len(ok) < 2:
            continue
        s = {name: summary([r["result"]["metrics"][name]["value"] for r in ok])
             for name in ok[0]["result"]["metrics"]}
        s["host.probe_py_s"] = summary(
            [statistics.mean(p["py_s"] for p in r["report"]["host_probe"]) for r in ok])
        s["host.probe_spark_s"] = summary(
            [statistics.mean(p["spark_s"] for p in r["report"]["host_probe"]) for r in ok])
        s["run_wall_s"] = summary([r["wall_s"] for r in ok])
        s["correct_runs"] = sum(r["result"]["correct"] for r in ok)
        if args.untraced:
            with open(args.untraced) as fh:
                base = json.load(fh)["summaries"][wl]["op_p50_s"]["median"]
            s["tracing_overhead_op_p50_s"] = s["trace.op_p50_s"]["median"] - base
        summaries[wl] = s
    with open(args.out, "w") as fh:
        json.dump({"runs": runs, "summaries": summaries}, fh, indent=1)
    for wl, s in summaries.items():
        for name, v in s.items():
            if isinstance(v, dict):
                print(f"{wl:8s} {name:34s} median={v['median']:.4g} "
                      f"q1={v['q1']:.4g} q3={v['q3']:.4g} spread={v['spread']:.3f}")
            else:
                print(f"{wl:8s} {name:34s} {v}")
    return 0 if all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
