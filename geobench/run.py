"""Seeded benchmark of the spatial-join + tiling pipeline.

    python3 geobench/run.py --workload geo_query --seed 1 --seconds 15 --trace 0
    python3 geobench/run.py --selftest

Builds the engine and the benchmark from source when they changed (see
build.py), runs one JVM at local[<cpus>] and relays its output. The last
line of stdout is the result object {"correct", "attempted", "failed",
"metrics"}; the line before it reports every end-to-end metric of the
workload by name and unit. A run that cannot build, fails, or prints no
valid result exits non-zero without printing a result. See README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["geo_query", "tile_build", "stream_ingest"]
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    classes = build.build()
    bench_build = os.path.join(build.ROOT, ".bench_build")
    work = os.path.join(bench_build, "work-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jvm = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]
    jvm += [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    jvm += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "geobench.Main",
            "--work", work]
    if a.selftest:
        jvm += ["--selftest", "1"]
    else:
        trace_file = os.path.join(bench_build, "traces", "%s-seed%d.json" % (a.workload, a.seed))
        jvm += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--trace-file", trace_file]
    try:
        r = subprocess.run(jvm, stdout=subprocess.PIPE, text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("geobench: run exceeded %d s" % JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stdout.write(r.stdout)
        sys.exit("geobench: run failed (exit %d)" % r.returncode)
    if a.selftest:
        print(r.stdout, end="")
        return
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        sys.exit("geobench: malformed result line")
    print(r.stdout, end="")


if __name__ == "__main__":
    main()
