#!/usr/bin/env python3
"""Run one workload of the RAG benchmark and print its result line.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 20 --trace 0

Compiles the engine sources of this checkout plus perfbench/src with the
Scala compiler that ships in Spark's jars, when a source changed, then runs
the harness on the JVM. The build and the run read nothing outside the
checkout but the Java and Spark installs, and write only under
perfbench/.work. The last line of stdout is the JSON result; everything
else goes to stderr. Exits non-zero, without a result line, when the engine
sources are missing, the build fails or the run crashes, and with code 1
after the result line when a correctness check failed. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE = ROOT / "src" / "main" / "scala"
WORK = BENCH / ".work"
CLASSES = WORK / "classes"
STAMP = WORK / "classes.stamp"
WORKLOADS = ("serve_read", "batch_index_qa")
# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
BUILD_LIMIT_S = 840
RUN_LIMIT_S = 175


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources():
    return [p for d in (ENGINE, BENCH / "src") for p in sorted(d.rglob("*.scala"))]


def sources_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("perfbench: no Spark install found (set SPARK_HOME)")
    return Path(home) / "jars"


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").is_file():
        return str(Path(home) / "bin" / "java")
    if shutil.which("java"):
        return "java"
    sys.exit("perfbench: no java found (set JAVA_HOME)")


def build(java, jars):
    """Compiles into WORK/classes with scala.tools.nsc.Main from Spark's own
    scala-compiler jar, which matches the scala-library Spark runs on."""
    digest = sources_hash()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"perfbench: no scala-compiler jar among the Spark jars in {jars}")
    log("compiling the engine and the harness")
    out = WORK / "classes.new"
    tmp = WORK / "build-tmp"
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("".join(f'"{p}"\n' for p in sources()))
    cmd = [java, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{jars}{os.sep}*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(out), f"@{argfile}"]
    try:
        r = subprocess.run(cmd, cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: build exceeded {BUILD_LIMIT_S} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0:
        sys.exit("perfbench: build failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    out.rename(CLASSES)
    STAMP.write_text(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--docs", type=int, default=4000, help="corpus size (self-test only)")
    a = ap.parse_args()

    if not (ENGINE / "graft").is_dir():
        sys.exit(f"perfbench: engine sources not found under {ENGINE.relative_to(ROOT)}")
    java = java_bin()
    jars = spark_jars()
    build(java, jars)

    work = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work), "--docs", str(a.docs)]
    # Spark binds to loopback only, whatever the host name resolves to
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_LIMIT_S} s; killed")
        sys.exit(3)
    finally:
        spans = sorted(work.glob("spans-*.jsonl"))
        if spans:
            traces = WORK / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            for f in spans:
                shutil.move(str(f), traces / f.name)
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if not isinstance(result, dict) or "metrics" not in result:
        log(f"no result line (exit code {proc.returncode})")
        sys.exit(proc.returncode or 1)
    print(json.dumps(result), flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
