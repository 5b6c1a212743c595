#!/usr/bin/env python3
"""Benchmark of the KG-construction engine. Run from the repository root:

    python3 perfbench/run.py --workload kg_small --seed 0 --seconds 10 --trace 0

Builds the engine and the harness from source (perfbench/build.py), generates
the seeded input, drives the engine through its public entry points in one
or more JVMs (one client, closed loop, one job at a time into local[nproc]),
checks the outputs and prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones of the traced run.
The line before it records the host (nproc, MemTotal, loadavg before and
after) and per-run details. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402


def units(kind):
    """Metric name -> unit, from the benchmark definition at the checkout root."""
    with open("BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# Replicas of the 500-document base corpus per workload, and for tiny inputs.
EXTRACT_REPLICAS = 40
LADDER_K = 20
# discarded extraction passes before timing, in seconds, at 4N and at N
WARMUP_S = {"4n": 4, "n": 2}
TINY = {"limit": 50, "replicas": 2, "ladder": 2}
# wall-time budget of one run's JVMs, after the build
RUN_BUDGET_S = 170
MIN_FREE_DISK_GB = 3.0

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def host():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) CPU ticks of the machine since boot. Steal is time a
    virtual CPU was ready but the hypervisor ran something else: co-tenant
    load that loadavg, which counts this benchmark's own threads, hides."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7] if len(t) > 7 else 0, sum(t)


def steal_share(before):
    steal, total = cpu_ticks()
    return (steal - before[0]) / max(1, total - before[1])


def heap_mb(mem_total_mb):
    """A quarter of the machine's memory, between 2 and 6 GB."""
    return max(2048, min(6144, mem_total_mb // 4))


class Runner:
    def __init__(self, args, h, run_dir: Path, classes: Path, budget_s=RUN_BUDGET_S):
        self.args, self.host, self.run_dir, self.classes = args, h, run_dir, classes
        self.jvms = []
        self.budget_s = budget_s
        self.deadline = time.monotonic() + budget_s

    def launch(self, mode, cores, extra):
        """Runs one perfbench.Main JVM; returns its stdout, and the loadavg and
        CPU ticks before it."""
        cp = [str(self.classes), str(Path("src/main/resources").resolve()),
              str(build.spark_jars() / "*")]
        heap = heap_mb(self.host["mem_total_mb"])
        tmp = self.run_dir / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            # a fixed heap: no G1 heap resizing while passes are being timed
            f"-Xms{heap}m", f"-Xmx{heap}m", f"-XX:ActiveProcessorCount={cores}",
            f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join(cp), "perfbench.Main", mode,
            "--cores", str(cores), "--run-dir", str(self.run_dir),
            "--base", str(HERE / "data" / "documents.parquet"),
            "--seed", str(variant(self.args.seed)), "--seconds", str(self.args.seconds)]
        if self.args.tiny:
            cmd += ["--limit", str(TINY["limit"])]
        if self.args.inject_failure > 0 and mode != "trace":
            cmd += ["--inject-failure", str(self.args.inject_failure)]
        cmd += [str(x) for x in extra]
        before, ticks = loadavg(), cpu_ticks()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: run exceeded its {self.budget_s} s budget in {mode}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:
            raise SystemExit(f"perfbench: {mode} JVM exited with {proc.returncode}")
        return out, before, ticks

    def jvm(self, mode, cores, extra):
        out, before, ticks = self.launch(mode, cores, extra)
        lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
        if not lines:
            raise SystemExit(f"perfbench: {mode} JVM printed no result")
        res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        self.jvms.append({"mode": mode, "cores": cores, "loadavg_before": before,
                          "loadavg_after": loadavg(), "cpu_steal_share": steal_share(ticks),
                          "info": res["info"],
                          "failed_checks": [c for c in res["checks"] if not c["ok"]]})
        return res


def expected():
    """The output digests recorded from the engine (perfbench/record.py)."""
    with open(HERE / "data" / "expected.json") as f:
        return json.load(f)


def variant(seed):
    """The input variant a seed selects: inputs and their recorded digests
    exist for seed_variants variants, and seed s selects s mod that."""
    return seed % expected()["seed_variants"]


def expected_digest(workload, args):
    """The recorded digest of this workload's output at this seed, or
    "missing", which fails the output check."""
    table = expected()["tiny"] if args.tiny else expected()
    return table[workload].get(str(variant(args.seed)), "missing")


def run_kg(r: Runner):
    res = r.jvm("kg", r.host["nproc"], ["--expect", expected_digest("kg_small", r.args)])
    m = res["metrics"]
    metrics = {"setup_s": m["setup_s"], "docs_per_s": m["docs"] / m["pipeline_s"]}
    detail = {k: m[k] for k in ("pipeline_s", "store_bytes", "docs", "peak_rss_mb")}
    return metrics, res["attempted"], res["failed"], detail


def levels(nproc):
    n = max(1, nproc // 4)
    return n, 4 * n


def run_extract(r: Runner):
    n, n4 = levels(r.host["nproc"])
    k = TINY["replicas"] if r.args.tiny else EXTRACT_REPLICAS
    warm = {lvl: 0 if r.args.tiny else w for lvl, w in WARMUP_S.items()}
    expect = expected_digest("extract_scale", r.args)
    hi = r.jvm("extract", n4, ["--k", k, "--splits", 4 * n4, "--warmup-s", warm["4n"],
                               "--expect", expect])
    lo = r.jvm("extract", n, ["--input", r.run_dir / "input2" / "docs", "--warmup-s", warm["n"],
                              "--expect", expect, "--seconds", 0])
    docs = hi["metrics"]["docs"]
    t4, t1 = hi["metrics"]["extract_s"], lo["metrics"]["extract_s"]
    metrics = {"setup_s": hi["metrics"]["setup_s"] + lo["metrics"]["setup_s"],
               "docs_per_s": docs / t4}
    detail = {"docs": docs, "cores_n": n, "cores_4n": n4, "extract_s_n": t1, "extract_s_4n": t4,
              "docs_per_s_n": docs / t1, "scaling_efficiency": t1 / (4 * t4),
              "peak_rss_mb": max(hi["metrics"]["peak_rss_mb"], lo["metrics"]["peak_rss_mb"])}
    return metrics, hi["attempted"] + lo["attempted"], hi["failed"] + lo["failed"], detail


def run_trace(r: Runner):
    workload = r.args.workload
    k = 1 if workload == "kg_small" else (TINY["replicas"] if r.args.tiny else EXTRACT_REPLICAS)
    spans_file = r.run_dir / "spans.json"
    ops_expect = r.run_dir / "ops_expected.txt"
    ops_expect.write_text("".join(f"{n} {d}\n" for n, d in expected()["ops"].items()))
    extra = ["--workload", workload, "--k", k, "--splits", 4 * r.host["nproc"],
             "--ladder", TINY["ladder"] if r.args.tiny else LADDER_K, "--trace-out", spans_file,
             "--expect", expected_digest("kg_small", r.args), "--tables", HERE / "data",
             "--ops-expect", ops_expect]
    res = r.jvm("trace", r.host["nproc"], extra)
    m = res["metrics"]
    metrics = {k: m[k] for k in units("per_layer")}
    out_dir = build.build_root() / "traces"
    out_dir.mkdir(parents=True, exist_ok=True)
    artifact = out_dir / f"{workload}-seed{r.args.seed}.json"
    artifact.write_text(json.dumps({
        "workload": workload, "seed": r.args.seed, "host": r.host, "jvms": r.jvms,
        "setup_s": m["setup_s"], "peak_rss_mb": m["peak_rss_mb"],
        "reconciliation": {
            "pipeline.traced_s": m["pipeline.traced_s"],
            "stage_write_s_plus_unattributed_s":
                m["pipeline.stage_write_s"] + m["pipeline.unattributed_s"]},
        "metrics": metrics, "spans": json.loads(spans_file.read_text())}, indent=1))
    return metrics, res["attempted"], res["failed"], {"trace_artifact": os.path.relpath(artifact)}


WORKLOADS = {"kg_small": run_kg, "extract_scale": run_extract}


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs, for the self-test")
    p.add_argument("--inject-failure", type=float, default=0, metavar="SECONDS",
                   help="make every timed operation fail after spending SECONDS (self-test)")
    args = p.parse_args(argv)

    h = host()
    free_gb = shutil.disk_usage(".").free / 2**30
    if free_gb < MIN_FREE_DISK_GB:
        raise SystemExit(f"perfbench: only {free_gb:.1f} GB free disk, need {MIN_FREE_DISK_GB}")
    classes = build.build()
    run_dir = build.build_root() / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    before, ticks = loadavg(), cpu_ticks()
    r = Runner(args, h, run_dir, classes)
    try:
        metrics, attempted, failed, detail = (
            run_trace(r) if args.trace else WORKLOADS[args.workload](r))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    unit = units("per_layer" if args.trace else "end_to_end")
    print(json.dumps({"host": {**h, "loadavg_before": before, "loadavg_after": loadavg(),
                               "cpu_steal_share": steal_share(ticks)},
                      "build": build.stamp(), "workload": args.workload, "seed": args.seed,
                      "variant": variant(args.seed), "trace": args.trace,
                      "error_rate": failed / max(1, attempted), "detail": detail,
                      "jvms": r.jvms}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": u} for k, u in unit.items()}}))


if __name__ == "__main__":
    main()
