#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics. From the repository root:

    python3 perfbench/spread.py --workload kg_small --seeds 1-10 [--out set1.json]
    python3 perfbench/spread.py --workload kg_small --seeds 11-20 --compare set1.json --out set2.json

Runs the benchmark once per seed and prints, per metric, the median, the
quartiles (statistics.quantiles(values, n=4)) and the interquartile distance
as a share of the median, next to the metric's bound from BENCHMARK.json.
With --compare it also prints how far each median moved from that earlier
set, as a share of the earlier median, in the metric's worse direction.
--out keeps every run's result and details line (host, loadavg before and
after, CPU steal share, build stamp).
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out")
    p.add_argument("--compare", help="an earlier --out file of the same workload")
    args = p.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    runs = []
    for s in seeds(args.seeds):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload, "--seed", str(s),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout.splitlines()
        runs.append({"seed": s, "detail": json.loads(out[-2]), "result": json.loads(out[-1])})
        r = runs[-1]["result"]
        steal = runs[-1]["detail"]["host"]["cpu_steal_share"]
        print(f"seed {s}: correct={r['correct']} failed={r['failed']}/{r['attempted']} "
              f"steal={steal:.3f} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    summary = {}
    for m in bench["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                              "iqr_share": (q3 - q1) / med, "bound": m["bound"], "values": vals}
        print(f"{m['name']}: median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
              f"iqr/median={(q3 - q1) / med:.3f} bound={m['bound']}")
    comparison = {}
    if args.compare:
        first = json.loads(Path(args.compare).read_text())["summary"]
        for m in bench["end_to_end"]:
            a, b = first[m["name"]]["median"], summary[m["name"]]["median"]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            comparison[m["name"]] = {"first_median": a, "second_median": b,
                                     "worse_share": worse, "bound": m["bound"]}
            print(f"{m['name']}: median {a:.4g} -> {b:.4g}, worse by {worse:.3f} "
                  f"(bound {m['bound']})")
    if args.out:
        Path(args.out).write_text(json.dumps({
            "workload": args.workload, "seeds": seeds(args.seeds),
            "builds": sorted({r["detail"]["build"] for r in runs}), "summary": summary,
            "compared_with": args.compare and Path(args.compare).name,
            "comparison": comparison, "runs": runs}, indent=1))


if __name__ == "__main__":
    main()
