#!/usr/bin/env python3
"""graft benchmark: one closed-loop client against local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The script builds graft and the harness
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs the JVM harness (perfbench/src), checks the outputs
(perfbench/checks.py) and prints, as its last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
The line before it lists every end-to-end number, including the ones that
can be 0 (fail_ratio, out_bytes_per_in_byte) and the tail's percentile and
sample count.

One operation of report_lineitem is one Report pass; one operation of
registry_mix is one query, and a pass is one run through all of the mix's
queries. op_p50_s is the median over passes of the mean operation time in
a pass, so it does not depend on which query of the mix sits at the
median; op_tail_s is taken over single operations.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 165
JVM_OPTS = [
    "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def tail_stat(xs):
    """The highest percentile with at least ten samples beyond it. With
    fewer than 40 samples it is the upper quartile instead, interpolated
    between samples, so a run's tail does not jump when one more operation
    fits in it. Returns (value, percentile, samples)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 2:
        return s[0], 100.0, n
    if n < 40:
        return statistics.quantiles(s, n=4)[2], 75.0, n
    k = n - 11
    return s[k], 100.0 * (k + 1) / n, n


def pass_means(ops, cycle, failed):
    """Mean operation time of each whole pass of `cycle` operations in
    which no operation failed."""
    out = []
    for start in range(0, len(ops) - cycle + 1, cycle):
        chunk = ops[start:start + cycle]
        if not any(o["i"] in failed for o in chunk):
            out.append(sum(o["s"] for o in chunk) / cycle)
    return out


def summarize(res, failures, fail_all=None):
    """End-to-end numbers from the harness's operation records. `failures`
    maps operation index -> reason; failed operations never contribute a
    latency."""
    ops = res["ops"]
    fail_all = fail_all or res.get("fail_all")
    failed = set(failures)
    for o in ops:
        if not o["ok"] or fail_all:
            failed.add(o["i"])
    good = [o["s"] for o in ops if o["i"] not in failed]
    attempted = len(ops)
    passes = pass_means(ops, res["cycle"], failed)
    tail, pct, n = tail_stat(good)
    e2e = {
        "setup_s": res["setup_s"],
        "op_p50_s": statistics.median(passes) if passes else 0.0,
        "op_tail_s": tail,
        "rows_per_s": res["rows_per_op"] * len(good) / sum(good) if good else 0.0,
        "fail_ratio": len(failed) / attempted if attempted else 1.0,
        "peak_rss_mb": res["peak_rss_mb"],
        # both workloads write to the noop sink
        "out_bytes_per_in_byte": 0.0,
    }
    info = {"tail_percentile": pct, "samples": n, "passes": len(passes),
            "attempted": attempted, "failed": len(failed)}
    return e2e, info, failed


def layer_metrics(res, names):
    """Per-layer metrics: medians over the traced operations, with run-level
    numbers (counts of the whole run) taking precedence. A `<layer>.query_s`
    metric is the median over the registry queries of that layer only."""
    traced = res["layer"]
    out = {}
    for k in names:
        vals = [m[k] for m in traced if k in m] if k.endswith(".query_s") else \
            [m.get(k, 0.0) for m in traced]
        out[k] = statistics.median(vals) if vals else 0.0
    out.update({k: v for k, v in res["run_metrics"].items() if k in names})
    if "trace.overhead_ratio" in names:
        out["trace.overhead_ratio"] = overhead(res["ops"], res["cycle"])
    return out


def overhead(ops, cycle):
    """Traced over untraced operation time: per position in the cycle (the
    query of a mix) the median traced and the median untraced time, summed
    over the positions that have both."""
    t, u = 0.0, 0.0
    for pos in range(cycle):
        mine = [o for o in ops if o["ok"] and o["i"] % cycle == pos]
        traced = [o["s"] for o in mine if o["traced"]]
        untraced = [o["s"] for o in mine if not o["traced"]]
        if traced and untraced:
            t += statistics.median(traced)
            u += statistics.median(untraced)
    return t / u if u else 0.0


def jvm_command(classes, a, input_dir, work, result, nproc):
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", f"{classes}:{jars}",
                                 "perfbench.Harness",
                                 "--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                                 "--input", input_dir, "--work", work, "--result", result,
                                 "--nproc", str(nproc)]
    if a.inject_fail:
        cmd += ["--inject-fail", a.inject_fail]
    return cmd


def run(a):
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    build_dir = os.path.abspath(build_dir)
    classes = build.build(root, build_dir)
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    manifest = gen.generate(a.workload, a.seed, input_dir)
    nproc = len(os.sched_getaffinity(0))
    result = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(jvm_command(classes, a, input_dir, work, result, nproc),
                                    stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"harness timed out after {JVM_TIMEOUT_S} s")
        if proc.returncode != 0 or not os.path.exists(result):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"harness exited with code {proc.returncode}")
        with open(result) as f:
            res = json.load(f)
        failures, fail_all = checks.check(a.workload, res, manifest, input_dir)
        e2e, info, failed = summarize(res, failures, fail_all)
        if a.trace:
            shutil.copy(result + ".spans.jsonl",
                        os.path.join(build_dir, f"spans-{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    names = [m["name"] for m in spec["end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update({"fail_ratio": "ratio", "out_bytes_per_in_byte": "ratio"})
    for i in sorted(failed):
        reason = failures.get(i) or fail_all or next(
            (o["error"] for o in res["ops"] if o["i"] == i), None)
        print(f"failed operation {i}: {reason}", file=sys.stderr)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "nproc": nproc,
                      "input_rows": manifest["rows"], "input_bytes": manifest["input_bytes"],
                      "end_to_end": {k: {"value": v, "unit": units[k]} for k, v in e2e.items()},
                      **info}))
    if a.trace:
        metrics = layer_metrics(res, [m["name"] for m in spec["per_layer"]])
        measured = sorted({k for m in res["layer"] for k in m} | set(res["run_metrics"]))
        print(json.dumps({"workload": a.workload, "layer": layer_metrics(res, measured)}))
    else:
        metrics = {k: e2e[k] for k in names}
    print(json.dumps({
        "correct": not failed,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def main():
    ap = argparse.ArgumentParser(description="graft closed-loop benchmark")
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fail", default="", help=argparse.SUPPRESS)
    a = ap.parse_args()
    t0 = time.time()
    run(a)
    print(f"run took {time.time() - t0:.1f} s", file=sys.stderr)


if __name__ == "__main__":
    main()
