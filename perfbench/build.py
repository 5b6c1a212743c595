#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the benchmark harness (perfbench/src) into one class directory with the
Scala compiler that ships in Spark's jar directory ($SPARK_HOME/jars).
No sbt and no network.

    python3 perfbench/build.py      # from the repository root

The classes land in $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench).
A stamp of the source hashes makes an unchanged tree skip the compile.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SCALA_VERSION = "2.13.17"


def spark_jars() -> Path:
    """The jars of $SPARK_HOME, else of the first spark-submit on PATH that
    ships this Scala version."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if submit.is_file():
            homes.append(submit.resolve().parent.parent)
    for home in homes:
        if (home / "jars" / f"scala-library-{SCALA_VERSION}.jar").is_file():
            return home / "jars"
    raise SystemExit(f"perfbench build: no Spark with Scala {SCALA_VERSION} jars; set SPARK_HOME")


def build_root() -> Path:
    return Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve() / "perfbench"


def sources(root: Path):
    dirs = [root / "src" / "main" / "scala", root / "perfbench" / "src"]
    missing = [str(d) for d in dirs if not d.is_dir()]
    if missing:
        raise SystemExit(f"perfbench build: source directories missing: {missing}")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def stamp() -> str:
    """The source stamp of the last build: a hash of every compiled source."""
    f = build_root() / "classes.stamp"
    return f.read_text() if f.is_file() else ""


def build(root: Path = Path(".")) -> Path:
    """Compiles if the sources changed; returns the class directory."""
    root = root.resolve()
    srcs = sources(root)
    jars = spark_jars()
    scala = [jars / f"scala-{n}-{SCALA_VERSION}.jar" for n in ("compiler", "library", "reflect")]
    if not all(j.is_file() for j in scala):
        raise SystemExit(f"perfbench build: Scala {SCALA_VERSION} jars not found under {jars}")
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    stamp_value = h.hexdigest()
    out = build_root()
    classes, stamp = out / "classes", out / "classes.stamp"
    if stamp.is_file() and stamp.read_text() == stamp_value:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(map(str, scala)), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", str(jars / "*"), "-d", str(classes), f"@{argfile}"]
    print(f"perfbench build: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench build: scalac failed with code {r.returncode}")
    stamp.write_text(stamp_value)
    return classes


if __name__ == "__main__":
    print(build())
