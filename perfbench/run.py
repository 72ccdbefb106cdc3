#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 6 --trace 0

Builds the engine with the benchmark driver (once per source tree),
generates the seeded input (once per seed), runs the benchmark JVM, checks
every op's output against its DuckDB oracle, and prints one JSON line
last: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. The full record, spans included, goes to `.bench_out/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import report  # noqa: E402

# seconds a run may take: a run that builds the engine first gets the
# longer allowance; the margin covers the output check after the JVM
DEADLINE_S, BUILD_DEADLINE_S, CHECK_MARGIN_S = 175, 880, 25
HEAP = "3g"
KEEP_SEEDS = 4
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "jvm", "src")]
    files = [os.path.join(HERE, "jvm", "build.sbt"), os.path.join(HERE, "jvm", "project", "build.properties")]
    for r in roots:
        files += sorted(glob.glob(os.path.join(r, "**", "*.scala"), recursive=True))
    return files


def tree_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Compiles engine + driver with sbt unless this source tree already
    was; returns (runtime classpath, whether it compiled)."""
    out = os.path.join(ROOT, ".bench_build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    digest = tree_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read(), False
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=os.path.join(HERE, "jvm"), env=env, stdout=f, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if "scala-2.13" in ln and ln.count(":") > 2]
    if rc != 0 or not cp:
        die(f"build failed (see {log})")
    open(cp_file, "w").write(cp[-1].strip())
    open(stamp, "w").write(digest)
    return cp[-1].strip(), True


def prune(cache):
    """Keeps the KEEP_SEEDS most recently used inputs."""
    dirs = sorted(glob.glob(os.path.join(cache, "*-seed*")), key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS:]:
        shutil.rmtree(d, ignore_errors=True)


def cpu_times():
    """(steal, total) jiffies over all CPUs, or None off Linux."""
    try:
        fields = [int(x) for x in open("/proc/stat").readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return fields[7], sum(fields)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "tree-" + tree_hash()[:16]


def run_jvm(classpath, a, data, work, cores, budget):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ([java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dio.netty.tryReflectionSetAccessible=true"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Driver", "--workload", a.workload, "--data", data,
              "--out", work, "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
              "--cores", str(cores)])
    log = os.path.join(work, "driver.log")
    with open(log, "w") as f:
        launch_ms = int(time.time() * 1000)
        proc = subprocess.Popen(cmd + ["--launch-ms", str(launch_ms)], stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM or an interrupt: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        tail = open(log).read()[-3000:]
        print(tail, file=sys.stderr)
        die(f"driver exited with {rc}")
    return json.load(open(os.path.join(work, "raw.json")))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=list(report.WORKLOAD_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"engine sources not found under {ROOT}/src/main/scala")
    if not os.path.exists(os.path.join(ROOT, "tools", "check.py")):
        die(f"output comparison rules not found at {ROOT}/tools/check.py")
    import oracle  # reads the rules from tools/check.py

    classpath, built = build()
    cache = os.path.join(ROOT, ".bench_data")
    data, sizes = inputs.generate(ROOT, cache, "load" if a.workload == "etl_load" else "drop", a.seed)
    os.utime(data)
    prune(cache)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        deadline = BUILD_DEADLINE_S if built else DEADLINE_S
        cpu0 = cpu_times()
        raw = run_jvm(classpath, a, data, work, cores, deadline - CHECK_MARGIN_S - (time.time() - t_start))
        cpu1 = cpu_times()
        load = a.workload == "etl_load"
        outputs = {op: (os.path.join(work, "load" if load else "check", op), load)
                   for op in report.WORKLOAD_OPS[a.workload]}
        verdicts = oracle.check_outputs(data, raw["oracle_sql"], outputs)
        files_written = sum(len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
                            for d, written in outputs.values() if written)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    windows = [raw["warmup"], raw["untraced"]["samples"]] + ([raw["traced"]["samples"]] if raw["traced"] else [])
    invocations = [s for w in windows for s in w]
    failed = [s for s in invocations if not s["ok"]]
    wrong = {op: v for op, (v, _) in verdicts.items() if v != "OK"}
    events = sizes["events"]["rows"]
    for s in invocations:
        observed = s.get("observed", {}).get("n_rows")
        if observed is not None and observed != events:
            wrong[s["op"]] = f"observed n_rows={observed}, input has {events}"
    n_failed = len(failed) + len(wrong)
    attempted = len(invocations) + len(verdicts)

    e2e = report.end_to_end(raw, events)
    layer = None
    if a.trace:
        layer = report.per_layer(raw, {op: n for op, (_, n) in verdicts.items()}, files_written, cores)
    specs = report.PER_LAYER if a.trace else report.END_TO_END
    values = layer if a.trace else e2e
    result = {"correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
              "metrics": {name: {"value": values[name], "unit": unit} for name, unit in specs}}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "commit": commit(), "cores": cores, "settings": raw["settings"], "jvm": raw["jvm"],
        "load_avg_1m": raw["load_avg_1m"],
        # CPU time the hypervisor gave other guests while the JVM ran: the
        # main cause of run-to-run spread on a shared VM
        "steal_share": (cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1) if cpu0 and cpu1 else None,
        "input": {"dir": os.path.relpath(data, ROOT), "tables": sizes},
        "timeline_ms": raw["timeline_ms"], "verdicts": {op: v for op, (v, _) in verdicts.items()},
        "wrong": wrong, "errors": [s.get("error") for s in failed],
        "ops_failed_share": n_failed / attempted,
        "end_to_end": e2e, "latency": report.latency_summary(raw),
        "op_median_s": report.op_medians(raw["untraced"]["samples"]),
        "passes_s": raw["untraced"]["passes_s"],
        "traced_passes_s": raw["traced"]["passes_s"] if raw["traced"] else None,
        "warmup_s": {op: [s["wall_s"] for s in raw["warmup"] if s["op"] == op] for op in report.WORKLOAD_OPS[a.workload]},
        "result": result,
    }
    if a.trace:
        tr = raw["traced"]
        record["trace"] = {
            "self_time_ms": report.self_times(tr["spans"]),
            "per_layer": {name: {"value": layer[name], "unit": unit, "passes": len(tr["passes_s"])}
                          for name, unit in report.PER_LAYER},
            "overhead": {"share": layer["trace.overhead_share"],
                         "untraced_op_median_s": report.op_medians(raw["untraced"]["samples"]),
                         "traced_op_median_s": report.op_medians(tr["samples"])},
            "spans": tr["spans"]}
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    out_file = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    json.dump(record, open(out_file, "w"), indent=1, default=str)

    for op, v in sorted(wrong.items()):
        print(f"WRONG {op}: {v}")
    for s in failed:
        print(f"FAILED {s['op']}: {s.get('error')}")
    lat = record["latency"]
    steal = "n/a" if record["steal_share"] is None else f"{record['steal_share']:.1%}"
    print(f"{a.workload} seed={a.seed} correct={result['correct']} "
          f"ops_failed_share={record['ops_failed_share']:.4f} ({n_failed}/{attempted}) host_steal={steal} "
          f"latency samples={lat['samples']} " + " ".join(f"{k}={v:.1f}" for k, v in lat.items() if k != "samples"))
    for name, unit in report.END_TO_END:
        print(f"  {name} = {e2e[name]:.6g} {unit}")
    if a.trace:
        print(f"  tracing overhead = {layer['trace.overhead_share']:+.1%} of op wall (span file: "
              f"{os.path.relpath(out_file, ROOT)})")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
