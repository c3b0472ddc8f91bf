#!/usr/bin/env python3
"""The repo's benchmark: one workload, one seed, one run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload W [--seed N] [--seconds S] [--trace 0|1]

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), then starts one JVM
that sets up a Spark session (local[nproc], shuffle partitions = nproc,
UTC, UI off) and runs a cold pass, unmeasured warm-up passes, and at
least three measured warm passes, for S seconds. Then, untimed, each
checked output is compared with its DuckDB oracle (`SparkEntry.oracleSql`,
compared by the rules of tools/oracle_check.py).

With --trace 0 the last line's metrics are the end-to-end metrics; with
--trace 1 the listeners are attached on every other measured pass and the
metrics are the per-layer ones, including the tracing overhead. All
metrics, the environment stamp and (traced) the span tree land in
.bench_build/results/. Exits 1 when a step throws or an output differs
from its oracle.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

SPEC = json.load(open(os.path.join(HERE, "spec.json")))
# a fixed heap, so every run of every checkout has the same one
HEAP = "2g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def oracle_compare(input_dir, check_dir):
    """{check name: True if it matches its oracle}, by tools/oracle_check.py."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(input_dir, check_dir)
    verdicts = {}
    for line in buf.getvalue().splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            verdicts[rest.split(":")[0].split(" ")[0]] = word == "PASS"
            if word == "FAIL":
                print(f"oracle: {line}")
    return verdicts


def git_head():
    # a checkout that is not a repository must not report an enclosing one
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True, env=env,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def cpu_times():
    """The machine's cumulative CPU times; field 8 is time stolen by the
    hypervisor for other guests."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def jvm(classes_cp, work, args, log):
    """Run the benchmark JVM, with every file it writes under `work`."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               SPARK_DRIVER_MEM=HEAP)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", "-Xss8m", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes_cp, "perfbench.PerfBench"] + args
    spawn = time.time_ns()
    with open(log, "a") as f:
        proc = subprocess.Popen(cmd + ["--spawn-ns", str(spawn)], cwd=ROOT, env=env,
                                stdout=f, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=160)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = -9
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"benchmark JVM exited with {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, default=SPEC["default_seed"])
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    clock = [("start", time.monotonic())]
    build_dir = os.path.join(ROOT, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    build.build(build_dir)
    cp = build.classpath(build_dir)
    clock.append(("build", time.monotonic()))
    input_dir = gen.inputs(a.workload, a.seed, os.path.join(build_dir, "inputs"))
    clock.append(("generate", time.monotonic()))
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(work, "jvm.log")
    out = os.path.join(work, "result.json")
    cpu0 = cpu_times()
    try:
        jvm(cp, work, ["--workload", a.workload, "--input", input_dir, "--work", work,
                       "--out", out, "--cores", str(cores), "--seconds", str(a.seconds),
                       "--trace", str(a.trace)], log)
        clock.append(("jvm", time.monotonic()))
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        result = json.load(open(out))
        verdicts = oracle_compare(input_dir, os.path.join(work, "check"))
        clock.append(("oracle", time.monotonic()))
    finally:
        results = os.path.join(build_dir, "results")
        os.makedirs(results, exist_ok=True)
        if os.path.exists(log):
            shutil.copy(log, os.path.join(
                results, f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)

    runs = result["runs"]
    failed = [r for r in runs if not r["ok"]]
    checked = result["checks"]
    wrong = [k for k, ok in verdicts.items() if not ok] + \
        ["(missing)"] * max(0, checked - len(verdicts))
    fail_ratio = len(failed) / len(runs)
    wrong_ratio = len(wrong) / checked if checked else 0.0
    e2e, n_steps = metrics.end_to_end(result, gen.rows_read(a.workload, input_dir))
    e2e["fail_ratio"] = fail_ratio
    e2e["wrong_ratio"] = wrong_ratio
    warm = metrics.warm_passes(result, False)
    stamp = {
        "workload": a.workload, "seed": a.seed, "nproc": cores,
        "master": result["master"], "shuffle_partitions": result["shuffle_partitions"],
        "SPARK_DRIVER_MEM": HEAP, "spark": result["spark_version"],
        "jdk": result["java_version"], "git_head": git_head(),
        "warm_passes": len(warm),
        "step_samples": n_steps, "checks": checked,
        # a share well above 0 means other guests slowed this run
        "cpu_steal_share": round(cpu[7] / max(1, sum(cpu)), 4),
        "pass_walls_s": [round(p["wall_s"], 4) for p in result["passes"]],
        "pass_jit_s": [round(p["jit_s"], 3) for p in result["passes"]],
        "phase_s": {k: round(t - clock[i][1], 3) for i, (k, t) in enumerate(clock[1:])},
        "step_median_s": metrics.step_medians(result, warm),
    }
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    print("env: " + json.dumps(stamp, sort_keys=True))
    for k, v in e2e.items():
        if v is None:
            print(f"{k:>24} {'not reported':>14} ({n_steps} step samples, "
                  f"fewer than {metrics.P90_MIN_SAMPLES})")
        else:
            print(f"{k:>24} {v:14.6f} {units[k]}")
    for r in failed:
        print(f"failed: {r['step']} in pass {r['pass']}: {r['error']}")
    if wrong:
        print("wrong outputs: " + ", ".join(wrong))

    report = {"stamp": stamp, "end_to_end": e2e, "runs": runs}
    if a.trace:
        layer = metrics.per_layer(result, cores)
        for k in sorted(layer):
            print(f"{k:>32} {layer[k]:18.6f} {units[k]}")
        print(f"tracing overhead: {layer['trace.overhead_s']:+.4f} s per pass "
              f"(traced {layer['trace.pass_s']:.4f} s vs untraced "
              f"{layer['trace.untraced_pass_s']:.4f} s)")
        report["per_layer"] = layer
        report["spans"] = result["spans"]
        shown = layer
    else:
        shown = {k: v for k, v in e2e.items() if k not in SPEC["printed_only"]}
    with open(os.path.join(build_dir, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(report, f)
    ok = not failed and not wrong
    print(json.dumps({
        "correct": not wrong, "attempted": len(runs), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
