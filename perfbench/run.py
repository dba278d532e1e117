#!/usr/bin/env python3
"""The repo benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 6 --trace 0

Run from the repository root. It builds the program and the harness from
source (perfbench/build.py), derives the workload's inputs from the seed,
runs set-up, one cold pass and timed warm passes in one JVM (Spark
local[nproc], one closed-loop client), checks every job's output, prints
every metric with its unit and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(from a run that alternates traced and untraced passes). The full record of
each run, spans included for traced runs, lands in
`.bench_build/perfbench/{results,traces}/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import checker  # noqa: E402
import metrics  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
SEED_CORPUS = os.path.join(BENCH_DIR, "data", "sf0.01")
JVM_TIMEOUT_S = 160

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

WORKLOADS = ("etl_refresh", "curation_index_graph", "graph_iterate", "curation_batch",
             "index_maintain")


def jvm_command(classes, run_dir, args):
    main_out, bench_out, jars = classes
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return (["java", "-Xmx3g", "-XX:+UseG1GC", "-Xss4m",
             f"-Djava.io.tmpdir={run_dir}/tmp",
             f"-Dderby.stream.error.file={run_dir}/derby.log",
             "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
            + opts
            + ["-cp", os.pathsep.join([bench_out, main_out, os.path.join(jars, "*")]),
               "perfbench.Main"] + args)


def run_jvm(cmd, run_dir):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "wb") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, errors="replace") as fh:
            lines = [line for line in fh.read().splitlines() if line.strip()]
        raise RuntimeError(f"benchmark JVM failed ({rc}):\n" + "\n".join(lines[-40:]))


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    build_dir = os.path.abspath(build.BUILD_DIR)
    try:
        classes = build.build(build_dir)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    if not os.path.isdir(SEED_CORPUS):
        print(f"perfbench: seed corpus missing at {SEED_CORPUS}", file=sys.stderr)
        return 2

    run_dir = os.path.join(build_dir, "runs",
                           f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        t0 = time.time()
        run_jvm(jvm_command(classes, run_dir, [
            "--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", os.path.join(run_dir, "work"), "--base", SEED_CORPUS]), run_dir)
        with open(os.path.join(run_dir, "work", "raw.json")) as fh:
            raw = json.load(fh)
        t_jvm = time.time() - t0
        wrong = checker.run_checks(raw["checks"], os.path.join(run_dir, "tmp"))
        wrong.update({c["job"]: c["error"] for c in raw["jvm_checks"] if c["error"]})
        errors = [(p["index"], j["name"], j["error"])
                  for p in raw["passes"] for j in p["jobs"] if j["error"]]
        attempted = sum(len(p["jobs"]) for p in raw["passes"])
        failed = len(errors) + len(wrong)
        bad = set(wrong) | {e[1] for e in errors}
        e2e, notes = metrics.end_to_end(raw, bad)
        extra, extra_notes = metrics.workload_only(raw, bad, attempted, failed)
        notes.update(extra_notes)
        layer = metrics.per_layer(raw) if args.trace else {}

        env = raw["env"]
        print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
              f"measured={raw['measured_s']:.1f}s jvm={t_jvm:.1f}s wall={time.time() - t0:.1f}s")
        print("env: " + " ".join(f"{k}={fmt(v)}" for k, v in env.items()))
        print(f"scale: relational x{raw['scale']['relational']} "
              f"text x{raw['scale']['text']} (seed corpus sf0.01)")
        for t in raw["inputs"]:
            print(f"input {t['table']}: rows={t['rows']} bytes={t['bytes']}")
        for job, reason in sorted(wrong.items()):
            print(f"CHECK FAILED {job}: {reason}")
        for idx, job, err in errors:
            print(f"JOB FAILED pass {idx} {job}: {err}")
        print(f"checks: {len(raw['checks']) + len(raw['jvm_checks'])} run, "
              f"{len(wrong)} failed")
        for name, v in list(e2e.items()) + list(extra.items()):
            unit = metrics.END_TO_END.get(name) or metrics.WORKLOAD_ONLY.get(name, "")
            note = f"  ({notes[name]})" if name in notes else ""
            print(f"{name} = {fmt(v)} {unit}{note}")
        for name, v in layer.items():
            print(f"{name} = {fmt(v)} {metrics.PER_LAYER[name]}")

        record = dict(raw, metrics=e2e, workload_metrics=extra, per_layer=layer,
                      wrong=wrong, seed=args.seed, trace=args.trace)
        out_dir = os.path.join(build_dir, "results")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as fh:
            json.dump(record, fh, indent=1)
        if args.trace:
            trace_dir = os.path.join(build_dir, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "work", "spans.jsonl"),
                        os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))

        chosen = layer if args.trace else e2e
        units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
        result = {
            "correct": not wrong and not errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
        }
        print(json.dumps(result))
        return 0
    except Exception as e:  # noqa: BLE001 - report and fail the run
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
