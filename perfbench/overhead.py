#!/usr/bin/env python3
"""Tracing overhead of the kg_small pipeline run. From the repository root:

    python3 perfbench/overhead.py [--seed 0] [--pairs 2] [--out perfbench/results]

Alternates untraced and traced kg_small runs of one seed, --pairs of each,
one process per run. Compares the untraced pipeline_s (details line) with
the traced pipeline.traced_s, writes overhead.json to --out, and copies the
last traced run's artifact there as trace_kg_small_seed<n>.json.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402


def run(seed, trace, seconds):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", "kg_small", "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout.splitlines()
    detail, result = json.loads(out[-2]), json.loads(out[-1])
    if not result["correct"]:
        raise SystemExit(f"overhead: run {cmd} failed its checks")
    if trace:
        return result["metrics"]["pipeline.traced_s"]["value"], detail
    return detail["detail"]["pipeline_s"], detail


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--pairs", type=int, default=2)
    p.add_argument("--out", default=str(HERE / "results"))
    args = p.parse_args()
    seconds = json.loads(Path("BENCHMARK.json").read_text())["run_seconds"]
    runs = {0: [], 1: []}
    for _ in range(args.pairs):
        for trace in (0, 1):
            s, detail = run(args.seed, trace, seconds)
            runs[trace].append({"pipeline_s": s, "host": detail["host"], "build": detail["build"]})
            print(f"trace={trace} pipeline_s={s:.3f}", flush=True)
    untraced = statistics.median(r["pipeline_s"] for r in runs[0])
    traced = statistics.median(r["pipeline_s"] for r in runs[1])
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    (out / "overhead.json").write_text(json.dumps({
        "workload": "kg_small", "seed": args.seed,
        "order": "untraced, traced, alternated; one process each",
        "untraced": runs[0], "traced": runs[1], "median_untraced_s": untraced,
        "median_traced_s": traced, "overhead_s": traced - untraced,
        "overhead_share": (traced - untraced) / untraced}, indent=1) + "\n")
    shutil.copy(build.build_root() / "traces" / f"kg_small-seed{args.seed}.json",
                out / f"trace_kg_small_seed{args.seed}.json")
    print(f"overhead: untraced {untraced:.3f} s, traced {traced:.3f} s, "
          f"share {(traced - untraced) / untraced:+.3f}")


if __name__ == "__main__":
    main()
