#!/usr/bin/env python3
"""Run one workload of the kg-gen benchmark from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: build and serve (see perfbench/DESIGN.md). The first run
compiles the program (src/main/scala) and the benchmark (perfbench/src) with
the Scala compiler shipped in the Spark distribution, into .bench_build/
under the checkout; later runs reuse the classes while the sources are
unchanged. The benchmark then runs in one JVM at local[4]. Its last stdout
line is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 1 the metrics are the per-layer figures, and the full trace
(spans and figures) is written to .bench_build/traces/.
"""

import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

WORKLOADS = ("build", "serve")
RUN_TIMEOUT_S = 170
HEAP = "2g"

ROOT = pathlib.Path.cwd()
BENCH_DIR = pathlib.Path(__file__).resolve().parent
BUILD_DIR = ROOT / ".bench_build"

# Spark on JDK 17 outside spark-submit needs these (the list spark-submit adds).
ADD_OPENS = [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", f"{pkg}=ALL-UNNAMED")
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home, "bin", "java") if home else shutil.which("java")
    if not exe:
        fail("no java on PATH")
    return str(exe)


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside the first spark-submit on PATH
    that has them."""
    homes = [pathlib.Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = pathlib.Path(d or ".", "spark-submit")
        if submit.is_file():
            homes.append(submit.resolve().parent.parent)
    for home in homes:
        if (home / "jars").is_dir():
            return home / "jars"
    fail("no Spark distribution: set SPARK_HOME or put its bin/ on PATH")


def scala_jar(prefix):
    found = sorted(spark_jars().glob(f"{prefix}-2.13*.jar"))
    if not found:
        fail(f"no {prefix} jar under {spark_jars()}")
    return str(found[-1])


def compile_scala(sources, classpath, out):
    out.mkdir(parents=True)
    compiler_cp = os.pathsep.join(scala_jar(p) for p in ("scala-library", "scala-compiler", "scala-reflect"))
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main", "-nowarn",
           "-cp", classpath, "-d", str(out)] + [str(s) for s in sources]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail(f"compilation into {out} failed")


def build():
    """Compile program and benchmark once per source state; returns the classpath."""
    lib = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((BENCH_DIR / "src").rglob("*.scala"))
    if not lib:
        fail(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    if not bench:
        fail(f"no benchmark sources under {BENCH_DIR / 'src'}")
    digest = hashlib.sha256()
    for f in lib + bench:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = BUILD_DIR / f"classes-{digest.hexdigest()[:16]}"
    if not (out / "DONE").exists():
        tmp = BUILD_DIR / f"tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        started = time.time()
        spark_cp = str(spark_jars() / "*")
        compile_scala(lib, spark_cp, tmp / "lib")
        compile_scala(bench, os.pathsep.join([spark_cp, str(tmp / "lib")]), tmp / "bench")
        (tmp / "DONE").write_text(f"{time.time() - started:.1f}\n")
        for old in BUILD_DIR.glob("classes-*"):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
        try:
            tmp.rename(out)
        except OSError:  # a concurrent run finished the same build first
            shutil.rmtree(tmp, ignore_errors=True)
        print(f"perfbench: built {out.name} in {time.time() - started:.1f} s", file=sys.stderr)
    return os.pathsep.join([str(spark_jars() / "*"), str(out / "lib"), str(out / "bench")])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    classpath = build()
    work = BUILD_DIR / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_out = BUILD_DIR / "traces" / f"{a.workload}-seed{a.seed}.json"
    cmd = [java(), "-XX:-UsePerfData", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-cp", classpath, "kgbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work), "--trace-out", str(trace_out)]
    # the program would read derived tables from this root on every path,
    # the derive-path reference of the query check included
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DERIVED_ROOT"}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = [(m["name"], m["unit"]) for m in spec["per_layer" if a.trace else "end_to_end"]]
    reported = [(k, v["unit"]) for k, v in result["metrics"].items()]
    if reported != declared:
        fail(f"metrics {reported} differ from BENCHMARK.json {declared}")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
