#!/usr/bin/env python3
"""Train/serve benchmark of the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
      --trace <0|1> [--size full|tiny]

Builds the library and the harness from source (perfbench/build.py), then
runs one workload in a fresh JVM on a local[min(nproc - 1, 4)] session.
Set-up is JVM start, then a session with the seeded inputs written to
parquet and read back (done three times, each on a fresh session; the median
counts), then one untimed warm-up pass. Timed passes follow until --seconds have
passed (at least one), each library call issued after the previous one
returns. Outputs are checked outside the timed region. With --trace 1 every
other pass runs under a SparkListener and a QueryExecutionListener that
attribute jobs, tasks, shuffle, spill and GC to each call; the span tree
(pass → call → job) is written to .bench_build/perfbench/spans-*.json.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end_to_end metrics of BENCHMARK.json with --trace 0, the
per_layer ones with --trace 1). The lines before it print each metric with
its unit and the pinned run configuration.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ["fe_train_serve", "web_curation"]
CHILD_TIMEOUT_S = 165
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these opens (the list of
# org.apache.spark.launcher.JavaModuleOptions).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def cores():
    """Spark's task threads: one core fewer than the box has, at most 4.

    The spare core runs the driver thread, which plans and issues every job,
    and the JIT compiler threads; with a task thread on every core they would
    queue behind the tasks and the run would time the scheduler."""
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    return max(1, min(n - 1, 4))


def run_child(cmd, env, log):
    """Runs the JVM in its own process group; kills the group on timeout."""
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            return proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return "timeout"
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    args = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp = build.ensure()

    runs = os.path.join(build.OUT, "runs")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(build.OUT, f"last-{args.workload}.log")
    n = cores()
    # every SPARK_GRAFT_* knob unset: the library runs on its defaults
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    # no hsperfdata file: the run writes nothing outside the checkout
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size, "--cores", str(n), "--work", work,
            "--out", out]
    try:
        rc = run_child(cmd, env, log)
        if rc != 0:
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            sys.exit(f"perfbench: {args.workload} failed ({rc}); log {log}")
        res = json.load(open(out))
        failures = [(f["call"], f["why"]) for f in res["failures"]]
        failed = res["failed"]
        if os.path.exists(os.path.join(work, "twins", "twins.json")):
            import twins
            bad = twins.check(work)
            failures += bad
            failed += len({c for c, _ in bad})
        if args.trace:
            with open(os.path.join(
                    build.OUT, f"spans-{args.workload}-{args.seed}.json"),
                    "w") as fh:
                json.dump(res["spans"], fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer" if args.trace else "end_to_end"]
    raw = res["metrics"]
    metrics = {}
    for m in declared:
        name = m["name"]
        if name in raw:
            value = raw[name]
        elif args.trace:
            value = 0  # a call this workload does not make
        else:
            sys.exit(f"perfbench: metric {name} not measured")
        metrics[name] = {"value": value, "unit": m["unit"]}

    cfg = res["config"]
    print(f"# config cores={cfg['cores']} heap_max_mb={cfg['heap_max_mb']} "
          f"gc=[{cfg['gc']}] jvm=[{cfg['jvm']}] spark={cfg['spark']} "
          f"spark_graft_env=unset")
    print("# spark_conf " + json.dumps(cfg["spark_conf"], sort_keys=True))
    print(f"# workload {args.workload} seed {args.seed}: "
          f"{len(res['pass_s'])} timed passes "
          f"{[round(s, 3) for s in res['pass_s']]} s, set-up {res['setup_s']}, "
          f"{res['online_samples']} online samples")
    for name, m in metrics.items():
        if not args.trace or name in raw:
            print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"op_fail_ratio = {failed / res['attempted']:.6g}")
    for call, why in failures[:20]:
        print(f"# FAILED {call}: {why}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
