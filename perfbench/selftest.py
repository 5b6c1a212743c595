#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs. Run from the repository root:

    python3 perfbench/selftest.py

It runs every workload's untimed and traced code path with --tiny and
checks that:
  - the last stdout line has exactly the keys correct/attempted/failed/metrics,
    and names every metric of BENCHMARK.json with its unit;
  - the traced run reconciles pipeline.stage_write_s + pipeline.unattributed_s
    to pipeline.traced_s, finds a write for each of the 13 stages, and runs
    the operator suite with exactly one failed query (kg_golden_fixture,
    whose fixture lies outside the repository);
  - a seed whose output digest is not recorded fails its output check;
  - an injected failing operation is counted (failed > 0, correct false) and
    does not lower any timing: docs_per_s, whose window holds the failing
    operation, does not rise (setup_s and peak_rss_mb do not contain it);
  - in a directory holding only BENCHMARK.json and perfbench/, the benchmark
    exits non-zero without printing a result.
Takes several minutes: each tiny pipeline run still pays the JVM and Spark
fixed costs.
"""
import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
RUN = [sys.executable, str(HERE / "run.py")]
# seconds the injected failing operation spends; the kg workload's single
# cold pipeline sample is noisy, so its injection has to stand out of that noise
INJECT_S = {"kg_small": 15, "extract_scale": 1}
FAMILIES = ("relational", "text", "similarity", "dedup", "streaming", "kg")


def run(workload, trace, *extra, seed=1, cwd="."):
    cmd = RUN + ["--workload", workload, "--seed", str(seed), "--seconds", "2",
                 "--trace", str(trace), "--tiny", *map(str, extra)]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_shape(res, spec):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, res
    assert isinstance(res["failed"], int), res
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"metrics/units differ:\n got {got}\nwant {want}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (k, v)


def main():
    bench = json.loads(Path("BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    for w in names:
        res = run(w, 0)
        check_shape(res, bench["end_to_end"])
        assert res["correct"] and res["failed"] == 0, res
        assert all(v["value"] > 0 for v in res["metrics"].values()), res

        bad = run(w, 0, "--inject-failure", INJECT_S[w])
        check_shape(bad, bench["end_to_end"])
        assert bad["failed"] > 0 and not bad["correct"], bad
        assert bad["metrics"]["docs_per_s"]["value"] <= res["metrics"]["docs_per_s"]["value"], \
            (w, bad["metrics"], res["metrics"])

        tr = run(w, 1)
        check_shape(tr, bench["per_layer"])
        assert tr["correct"], tr
        m = {k: v["value"] for k, v in tr["metrics"].items()}
        assert abs(m["pipeline.stage_write_s"] + m["pipeline.unattributed_s"]
                   - m["pipeline.traced_s"]) < 1e-6, m
        assert m["pipeline.stages_committed"] == 13 and m["pipeline.jobs"] > 0, m
        assert m["ops.queries_failed"] == 1, m
        assert all(m[f"ops.{f}.s"] > 0 and m[f"ops.{f}.jobs"] > 0 for f in FAMILIES), m
        print(f"selftest: {w} ok", flush=True)

    # the tiny inputs have a recorded digest at seed 1 only
    unrecorded = run(names[-1], 0, seed=2)
    assert unrecorded["failed"] > 0 and not unrecorded["correct"], unrecorded
    print("selftest: unrecorded seed fails its check ok", flush=True)

    strip = Path(".bench_build/selftest-strip").resolve()
    shutil.rmtree(strip, ignore_errors=True)
    strip.mkdir(parents=True)
    shutil.copy("BENCHMARK.json", strip)
    shutil.copytree(HERE, strip / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(RUN[:1] + ["perfbench/run.py", "--workload", names[0], "--seed", "0",
                                  "--seconds", "1", "--trace", "0"],
                       cwd=strip, capture_output=True, text=True, timeout=180,
                       env={**os.environ, "CARGO_TARGET_DIR": str(strip / ".bench_build")})
    shutil.rmtree(strip, ignore_errors=True)
    assert p.returncode != 0 and '"metrics"' not in p.stdout, (p.returncode, p.stdout)
    print("selftest: stripped checkout refused ok")
    print("selftest: all ok")


if __name__ == "__main__":
    main()
