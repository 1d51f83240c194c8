"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload {ingest,lifecycle,corpus} \
        --seed N --seconds S --trace {0,1}

Builds the program and the benchmark from source (see build.py), starts
one JVM holding the Spark driver in local mode (local[min(4, nproc)]),
and relays its result: the last line of standard output is one JSON
object with `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones, and the spans and per-op-type breakdown are written to
`.bench_out/trace_<workload>_s<seed>_<epoch-ms>.json`.

Every file the run creates lives under `.bench_tmp/` at the repository
root and is deleted when the run ends.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("ingest", "lifecycle", "corpus")
# The JVM must finish well inside the 180 s a run may take.
JVM_TIMEOUT_S = 170

# Spark logs errors only, to stderr.
LOG4J = """rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be >= 1")
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        sys.stderr.write(f"perfbench: build failed: {e}\n")
        return 2
    started = time.time()
    root = os.path.join(build.REPO, ".bench_tmp",
                        f"{a.workload}-{os.getpid()}-{int(started * 1000)}")
    out_dir = os.path.join(build.REPO, ".bench_out")
    os.makedirs(os.path.join(root, "jvm"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    cores = max(1, min(4, os.cpu_count() or 1))
    log_conf = os.path.join(root, "log4j2.properties")
    with open(log_conf, "w") as f:
        f.write(LOG4J)
    cmd = ["java", "-Xmx3g", "-Xss8m",
           "-Dlog4j2.configurationFile=" + log_conf,
           "-Djava.io.tmpdir=" + os.path.join(root, "jvm"),
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--root", root, "--out", out_dir]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=root)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.stderr.write("perfbench: the benchmark JVM timed out\n")
        return 3
    finally:
        shutil.rmtree(root, ignore_errors=True)
    lines = out.decode(errors="replace").strip().splitlines()
    for line in lines[:-1]:
        sys.stderr.write(line + "\n")
    if proc.returncode != 0 or not lines:
        sys.stderr.write(f"perfbench: JVM exited with {proc.returncode}\n")
        return proc.returncode or 4
    result = json.loads(lines[-1])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
