#!/usr/bin/env python3
"""Pipeline benchmark: build the program from source, run one workload,
print one JSON line of metrics as the last line of stdout.

    python3 perfbench/run.py --workload grid_tiles --seed 1 --seconds 10 --trace 0

The program (../src/main/scala) and the benchmark (src/main/scala here) are
compiled together with the Scala compiler that ships in Spark's jars
directory ($SPARK_HOME/jars) into .build/ under this directory, and rebuilt
only when a source changes. Everything the run writes stays under this
directory. See README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
PROGRAM_SRC = REPO / "src" / "main" / "scala"
BENCH_SRC = HERE / "src" / "main" / "scala"
BUILD = HERE / ".build"
WORK = HERE / ".work"
SPARK_HOME = os.environ.get("SPARK_HOME")
SPARK_JARS = Path(SPARK_HOME) / "jars" if SPARK_HOME else None
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the program's build.sbt carries the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    return sorted(p for root in (PROGRAM_SRC, BENCH_SRC) for p in root.rglob("*.scala"))


def build():
    """Compiles into .build/classes unless the sources are unchanged."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(REPO)).encode())
        digest.update(p.read_bytes())
    stamp = BUILD / "stamp"
    classes = BUILD / "classes"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    (BUILD / "tmp").mkdir(parents=True)
    tmp_classes = BUILD / "classes.tmp"
    tmp_classes.mkdir()
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = str(SPARK_JARS / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD / 'tmp'}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp_classes),
           "-classpath", cp, f"@{argfile}"]
    t0 = time.time()
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        fail(f"build failed (exit {proc.returncode})")
    tmp_classes.rename(classes)
    stamp.write_text(digest.hexdigest())
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.0f} s", file=sys.stderr)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, help="grid_tiles or regional_fanout")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (PROGRAM_SRC / "graft" / "pipeline" / "Pipeline.scala").is_file():
        fail(f"program sources not found under {PROGRAM_SRC}")
    if SPARK_JARS is None or not any(SPARK_JARS.glob("spark-core_*.jar")):
        fail(f"no Spark jars under $SPARK_HOME/jars ({SPARK_JARS})")
    classes = build()

    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{SPARK_JARS / '*'}", "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, cwd=work)
    signal.signal(signal.SIGTERM, lambda *_: (proc.kill(), proc.wait(), sys.exit(143)))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    for line in lines[:-1]:
        print(line)
    result = json.loads(lines[-1]) if lines else {}
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("benchmark JVM printed no result line")
    print(json.dumps(result, separators=(",", ":")))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
