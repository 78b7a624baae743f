#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships in
the Spark distribution's jars (the jars the program's build.sbt compiles
against), into .bench_build/classes/<source-hash>/.

    python3 perfbench/build.py        # prints the class directories

A build whose sources are unchanged is reused. Exits non-zero when the
program's sources or the Spark jars are missing."""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
APP_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"


def spark_jars() -> Path:
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    spark-submit on PATH that sits in a full distribution."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).resolve().parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").exists()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    sys.exit("build: no Spark distribution with a Scala compiler; set SPARK_HOME")


def sources(d: Path) -> list:
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def scalac(jars: Path, classpath: str, out: Path, files: list) -> None:
    out.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(out)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build: scalac failed for {out}")


def build() -> list:
    app, bench = sources(APP_SRC), sources(BENCH_SRC)
    if not app or not bench:
        sys.exit(f"build: no Scala sources under {APP_SRC} or {BENCH_SRC}")
    jars = spark_jars()
    h = hashlib.sha256()
    for f in app + bench:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    base = ROOT / ".bench_build" / "classes" / h.hexdigest()[:16]
    app_out, bench_out = base / "app", base / "bench"
    if not (base / "done").exists():
        scalac(jars, f"{jars}/*", app_out, app)
        scalac(jars, f"{jars}/*:{app_out}", bench_out, bench)
        (base / "done").write_text("ok\n")
    return [str(bench_out), str(app_out), f"{jars}/*"]


if __name__ == "__main__":
    print("\n".join(build()))
