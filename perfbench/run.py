"""graft benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. Builds graft and the harness
(perfbench/build.py), starts ONE JVM running Spark at local[<cpus>], and relays its
result. Human-readable lines (metrics with units, each correctness check)
come first; the last stdout line is the JSON result
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
A run record (host probes, checks, pass samples, spans) is written to
.bench_out/. Exits non-zero, printing no result, if anything fails.
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
import build  # noqa: E402

WORKLOADS = ("tile_join", "raster_tiles")
# Spark 4 on JDK 17 outside spark-submit needs these (Spark's
# JavaModuleOptions.defaultModuleOptions()).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the self-test only")
    args = ap.parse_args()
    if not 0 <= args.seed < 2**31:
        # tile_join numbers its pages from seed * 2**32 in a Long; a negative
        # page number gives a negative site, which WebTable.geocode puts in
        # the hot cell
        ap.error("--seed must be in [0, 2**31)")
    t0 = time.monotonic()
    root = os.getcwd()

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    out_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        classes, built = build.build(root, out_dir)
    except FileNotFoundError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    except subprocess.CalledProcessError as e:
        print(f"build failed: scalac exited with {e.returncode}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_work",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    record_dir = os.path.join(root, ".bench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(record_dir, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    jars = os.path.join(os.path.dirname(build.spark_jars()[0]), "*")
    # A fixed heap: a growing one speeds passes up through the run.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           *[a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")],
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
           "-Dspark.ui.enabled=false",
           "-cp", os.pathsep.join([classes, jars]), "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scale", args.scale, "--cpus", str(cpus),
           "--work", work, "--record", record_dir]
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
    # SPARK_LOCAL_DIRS overrides spark.local.dir; keep scratch in the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=limit, env=env)
    except subprocess.TimeoutExpired:
        print(f"benchmark JVM exceeded {limit:.0f} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(proc.stdout)
        print(f"benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return 4
    result = json.loads(lines[-1])
    missing = [m["name"] for m in wanted
               if result["metrics"].get(m["name"], {}).get("unit") != m["unit"]]
    if missing or set(result["metrics"]) != {m["name"] for m in wanted}:
        print(f"metric set does not match BENCHMARK.json: missing/wrong unit {missing}",
              file=sys.stderr)
        return 5
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
