#!/usr/bin/env python3
"""The repo's benchmark: runs one seeded workload through the program's
public entry points and prints one JSON result as its last line.

    python3 perfbench/run.py --workload cron_reference --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload nightly --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --workload nightly --seed 1 --generate-only

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer
metrics of a traced run; --generate-only prints the generated input
files with their sizes and digests and exits. See perfbench/README.md.

The first run in a checkout compiles the program (build.py). Each run
works in its own scratch root under .bench_build/, deleted when the run
ends, whether it succeeded or not.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import uuid

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# cron_universe is not in BENCHMARK.json: a run takes about 100 s, more
# than the registered runs' time budget allows (see README.md)
WORKLOADS = ("cron_reference", "nightly", "cron_universe")
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate-only", action="store_true")
    args = ap.parse_args()

    out = build.build()
    root = os.path.join(build.REPO, ".bench_build", "runs", uuid.uuid4().hex[:12])
    os.makedirs(root)
    jvm = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] + [
        "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
        "-Djava.io.tmpdir=" + root,
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
        "-cp", os.path.join(out, "classes") + os.pathsep + os.path.join(build.spark_jars(), "*"),
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--root", root,
        "--modules", os.path.join(out, "modules.tsv")]
    if args.generate_only:
        jvm.append("--generate-only")

    proc = subprocess.Popen(jvm, stdout=subprocess.PIPE, text=True)
    signal.signal(signal.SIGTERM, lambda *_: proc.kill())
    try:
        out_text, _ = proc.communicate(timeout=RUN_LIMIT_S)
        rc = proc.returncode
    except subprocess.TimeoutExpired:
        proc.kill()
        out_text, _ = proc.communicate()
        rc = 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
    lines = out_text.splitlines()
    result = [ln for ln in lines if ln.startswith('{"correct"')]
    if rc != 0 or not (result or args.generate_only):
        sys.stderr.write("\n".join(lines) + f"\nperfbench: run failed (exit {rc})\n")
        sys.exit(rc or 1)
    for ln in lines:
        print(ln)


if __name__ == "__main__":
    main()
