#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Compiles the engine (src/main/scala) and the benchmark harness
(perfbench/src) with the Scala compiler that ships in Spark's jar
directory ($SPARK_HOME/jars, else build.sbt's unmanagedBase) into
.bench_build/, then runs the harness in one JVM with
Spark as local[<cores>]. Everything the run writes stays under
.bench_build/; the run's work directory is removed when it ends. The last
line of standard output is the JSON result. --out FILE also appends the
result, tagged with workload, seed and trace mode, to FILE (the input of
perfbench/diff.py).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("build", "analyze", "curate", "refresh", "scc")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.exists() else "")
        if not m:
            die("no SPARK_HOME and no unmanagedBase in build.sbt")
        jars = Path(m.group(1))
    if not any(jars.glob("spark-core_*.jar")) or not any(jars.glob("scala-compiler-*.jar")):
        die(f"no Spark jars with a Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        die(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    return engine + sorted((HERE / "src").rglob("*.scala"))


def build(jars):
    """Compile once per source state; returns the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    tmp = BUILD / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    t = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die(f"compilation failed (exit {r.returncode})")
    argfile.unlink()
    (tmp / ".complete").write_text(f"{time.time() - t:.1f}s\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def cores():
    try:
        return max(1, len(os.sched_getaffinity(0)))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append the tagged result line to this file")
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    t0_ms = int(time.time() * 1000)  # setup_s counts from here, not the build
    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xmn256m", "-Xss8m",
              f"-Djava.io.tmpdir={work}",
              f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{classes}:{jars}/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--root", str(work / "root"), "--cores", str(cores()),
              "--t0", str(t0_ms), "--trace-dir", str(BUILD / "traces")])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if not lines[-1].startswith("{"):
                print(lines[-1], flush=True)
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    result = next((l for l in reversed(lines) if l.startswith("{")), None)
    if proc.returncode != 0 or result is None:
        die(f"workload {a.workload} did not finish (exit {proc.returncode})")
    rec = json.loads(result)
    if a.out:
        with open(a.out, "a") as f:
            f.write(json.dumps(dict(rec, workload=a.workload, seed=a.seed,
                                    trace=a.trace)) + "\n")
    print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
