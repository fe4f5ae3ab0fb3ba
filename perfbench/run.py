#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload stac_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles (see build.py). The
last line of stdout is the result object; the line before it holds the
run's context (sample counts, p90 where the run supports it, host
contention). See perfbench/README.md."""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the checkout stays as the build left it
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("stac_ingest", "cogify_rasters", "publish_stream", "clean_corpus")
JVM_TIMEOUT_S = 170

# what Spark 4 needs when a SparkSession is created outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions), as in build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=float, default=None,
                    help="publish_stream drop rate per second (default: the documented rate)")
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classes = build.build(root)
    target = build.target_dir(root)
    # no "_" or "-" before digits: listed paths feed the filename date cascade
    work = os.path.join(target, "work", "%s.seed%d.pid%d" % (args.workload, args.seed, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)

    cp = os.pathsep.join([classes, os.path.join(root, "src", "main", "resources"),
                          os.path.join(build.SPARK_JARS, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    t0_ms = int(time.time() * 1000)
    # a fixed heap and young generation under the parallel collector keep
    # the resident set (peak_rss_mb) from following G1's adaptive sizing
    cmd = (["java", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m",
            "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp] + opens +
           ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--t0-ms", str(t0_ms)] +
           (["--rate", str(args.rate)] if args.rate is not None else []))
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("GRAFTBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        raise SystemExit("benchmark process failed (exit %d)" % proc.returncode)
    res = json.loads(lines[-1][len("GRAFTBENCH "):])

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in measured and not args.trace]
    if missing:
        raise SystemExit("end-to-end metrics not measured: %s" % missing)
    # a traced run reports 0 for a layer its workload does not reach
    metrics = {m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    extra = {k: v for k, v in measured.items() if k not in metrics}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "context": res["context"], "unlisted_metrics": extra}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
