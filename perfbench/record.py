#!/usr/bin/env python3
"""Records the output digests the benchmark checks against into
perfbench/data/expected.json. Run from the repository root:

    python3 perfbench/record.py [kg_small] [extract_scale] [ops] [tiny]

with no argument it records all four parts. The inputs are a pure function of
the seed variant, so the digests are fixed for a given engine. Re-record only
after an intended change of the engine's output, never to make a failing
check pass; the build stamp of the recording engine is kept in the file.
"""
import argparse
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

EXPECTED = HERE / "data" / "expected.json"
SEED_VARIANTS = 32
PARTS = ("kg_small", "extract_scale", "ops", "tiny")


def digests(runner, what, extra):
    out, _, _ = runner.launch("record", runner.host["nproc"], ["--what", what, *extra])
    pre = "PERFBENCH_DIGEST "
    return dict(ln[len(pre):].split(" ", 1) for ln in out.splitlines() if ln.startswith(pre))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("parts", nargs="*", choices=PARTS)
    parts = p.parse_args().parts or PARTS

    exp = json.loads(EXPECTED.read_text()) if EXPECTED.is_file() else {}
    exp["seed_variants"] = SEED_VARIANTS
    EXPECTED.write_text(json.dumps(exp, indent=1, sort_keys=True) + "\n")
    classes = build.build()
    h = run.host()
    n4 = run.levels(h["nproc"])[1]
    seeds = ["--seeds", f"0-{SEED_VARIANTS - 1}"]
    run_dir = build.build_root() / f"record-{os.getpid()}"
    run_dir.mkdir(parents=True)
    try:
        for part in parts:
            tiny = part == "tiny"
            args = argparse.Namespace(seed=0, seconds=0, tiny=tiny, inject_failure=0)
            r = run.Runner(args, h, run_dir, classes, budget_s=3 * 3600)
            if part == "kg_small":
                exp[part] = digests(r, "kg", seeds)
            elif part == "extract_scale":
                exp[part] = digests(r, "extract", seeds + ["--k", run.EXTRACT_REPLICAS,
                                                           "--splits", 4 * n4])
            elif part == "ops":
                exp[part] = digests(r, "ops", ["--tables", HERE / "data"])
            else:  # the self-test's inputs: --tiny at seed 1
                one = ["--seeds", "1-1"]
                exp[part] = {"kg_small": digests(r, "kg", one),
                             "extract_scale": digests(r, "extract", one + [
                                 "--k", run.TINY["replicas"], "--splits", 4 * n4])}
            exp.setdefault("recorded_with", {})[part] = build.stamp()
            EXPECTED.write_text(json.dumps(exp, indent=1, sort_keys=True) + "\n")
            print(f"record: {part} done", flush=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
