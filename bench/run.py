#!/usr/bin/env python3
"""Benchmark of the graft engine: three workloads driven from outside the
program through its public functions (see README.md in this directory).

    python3 bench/run.py --workload block_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program from source on
first use, generates the workload's inputs from the seed, runs one JVM
(one client thread, closed loop), checks every output, and prints one
JSON object as the last line of standard output. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Exit code 0 when
every operation and check passed, 1 when one failed, 2 on a usage or
build error.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("block_etl", "analyst_mix", "stream_ingest")
# Length of one timed round on 4 cores: a `block_etl` round hands over its
# 3 batches, an `analyst_mix` round is one pass of the 14 queries, a
# `stream_ingest` round drains the 12 hourly files. A run makes
# round(--seconds / this) rounds, at least one, so that it does the same
# work on a fast and on a slow machine (a time limit would give a slow
# machine fewer, colder rounds).
ROUND_S = {"block_etl": 5.0, "analyst_mix": 12.0, "stream_ingest": 8.0}
RUN_LIMIT_S = 170  # the whole run, build excluded, stays under this

# End-to-end metrics and their units. Every workload reports each of them;
# what an operation and an item are differs (see README.md).
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "op_typical_s": "s"}
# Printed in the summary only: the 90th percentile rests on 9 and 14
# samples in block_etl and analyst_mix, and the round length restates
# throughput at a fixed input size.
REPORTED = {"op_p90_s": "s", "round_s": "s"}
# All of them under the workload-specific names of the design.
ALIASES = {
    "block_etl": {"throughput_per_s": ("etl_tx_per_s", "tx/s"),
                  "op_typical_s": ("etl_freshness_p50_s", "s"),
                  "op_p90_s": ("etl_freshness_p90_s", "s"),
                  "round_s": ("etl_round_s", "s")},
    "analyst_mix": {"throughput_per_s": ("queries_per_s", "1/s"),
                    "op_typical_s": ("query_mean_s", "s"),
                    "op_p90_s": ("query_p90_s", "s"),
                    "round_s": ("mix_s", "s")},
    "stream_ingest": {"throughput_per_s": ("stream_rows_per_s", "rows/s"),
                      "op_typical_s": ("stream_batch_p50_s", "s"),
                      "op_p90_s": ("stream_batch_p90_s", "s"),
                      "round_s": ("stream_drain_s", "s")}}


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_options(work):
    """The forked-run JVM options of the repository's build.sbt, with its
    default heap rule."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    opts = [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-XX:MaxRAMPercentage=25.0", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={work}/tmp"]
    return opts


def generate(workload, seed, work):
    """Write the inputs once (`test_gen.py` checks that a seed always gives
    the same bytes); returns (their dir, seconds)."""
    d = os.path.join(work, "input")
    t0 = time.perf_counter()
    gen.write_workload(workload, seed, d)
    return d, time.perf_counter() - t0


def cpu_times():
    """(steal, total) jiffies of all CPUs so far, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return None


def rounds(workload, seconds):
    return max(1, round(seconds / ROUND_S[workload]))


def run_jvm(args, classpath, data, work, deadline):
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + jvm_options(work) + ["-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--rounds", str(rounds(args.workload, args.seconds)), "--trace", str(args.trace),
           "--data", data, "--work", os.path.join(work, "jvm"), "--out", out,
           "--cpus", str(cpus())])
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(logf) as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise RuntimeError(f"benchmark JVM exited with {rc}")
    with open(logf) as lf:
        sys.stderr.writelines(line for line in lf if line.startswith("[bench]"))
    with open(out) as f:
        return json.load(f)


def oracle_check(root, data, res):
    """Every analyst query against its DuckDB oracle, with the
    repository's own checker."""
    names = [c for c in sorted(os.listdir(res["oracle_dir"]))
             if os.path.isdir(os.path.join(res["oracle_dir"], c))]
    p = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                        data, res["oracle_dir"]] + names,
                       capture_output=True, text=True)
    passed = sum(line.startswith("PASS ") for line in p.stdout.splitlines())
    ok = p.returncode == 0 and passed == len(names) == 14
    if not ok:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
    return {"name": f"analyst_mix oracle match ({passed}/{len(names)} PASS)",
            "ok": ok, "detail": "" if ok else "tools/check.py reported failures"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    args = ap.parse_args()

    root = os.getcwd()
    try:
        classpath = build.ensure(root)
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    start = time.monotonic()
    work = os.path.join(build.target_dir(root), f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data, gen_s = generate(args.workload, args.seed, work)
        t_jvm = time.monotonic()
        cpu0 = cpu_times()
        res = run_jvm(args, classpath, data, work, start + RUN_LIMIT_S)
        cpu1 = cpu_times()
        t_check = time.monotonic()
        if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
            # time the machine's other guests took from this one's CPUs
            log(f"steal: {100 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]):.1f}% "
                f"of CPU time while the JVM ran")
        checks = res["checks"]
        if args.workload == "analyst_mix":
            checks.append(oracle_check(root, data, res))
        log(f"wall: generate {t_jvm - start:.1f} s, jvm {t_check - t_jvm:.1f} s "
            f"(spark.stop {res['stop_s']:.1f} s), "
            f"oracle check {time.monotonic() - t_check:.1f} s")
        if args.keep:
            log(f"work directory kept: {work}")
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)

    m = res["metrics"]
    m["setup_s"] = gen_s + m["session_s"] + m.get("prepare_s", 0.0) + m["warmup_s"]
    log(f"set-up: generate {gen_s:.2f} s, session {m['session_s']:.2f} s, "
        f"prepare {m.get('prepare_s', 0.0):.2f} s, warm-up {m['warmup_s']:.2f} s")
    # checks added here count like the JVM's own
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = res["attempted_ops"] + len(checks)
    failed = res["failed_ops"] + len(failed_checks)
    for c in failed_checks:
        log(f"CHECK FAILED: {c['name']} {c['detail']}")
    for e in res["errors"]:
        log(f"FAILED: {e}")
    correct = failed == 0
    missing = [k for k in list(END_TO_END) + list(REPORTED) + ["ops"] if k not in m]
    if missing:
        log(f"run produced no {', '.join(missing)}")
        return 1

    log(f"{args.workload} seed={args.seed}: {int(m['rounds'])} timed rounds, "
        f"{len(checks)} checks, {attempted} attempted, {failed} failed, "
        f"failed_frac={failed / attempted:.4f} ratio")
    alias = ALIASES[args.workload]
    for k, unit in list(END_TO_END.items()) + list(REPORTED.items()):
        name, u = alias[k] if k in alias else (k, unit)
        log(f"  {k:<18} {m[k]:.6g} {unit:<4} = {name} {u}")
    log(f"  samples: {int(m['ops'])} operations in {int(m['rounds'])} rounds")
    if args.workload == "block_etl":
        log(f"  etl_bytes_per_tx   {m['etl_bytes_per_tx']:.6g} B/tx")
    if args.trace:
        metrics = res["layer"]
        for layer, s in sorted(res.get("layer_self_s", {}).items()):
            log(f"  self time {layer:<10} {s:.4f} s/round")
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
