#!/usr/bin/env python3
"""Benchmark of the incremental replay ETL and the catalog session.

Usage (from the checkout root):
  python3 sessionbench/run.py --workload etl_incremental|catalog_session \
      --seed N --seconds S --trace 0|1

Builds the library from source if needed, then launches a fresh JVM per run
straight on the compiled classes. The JVM sets up a session, runs one cold
pass, then warm passes (at least one) while the warm phase is shorter than S
seconds. Output checks (cross-pass equality, one-shot state, DuckDB twins)
run outside the timed region; each failure is a failed operation. The last
stdout line is the result JSON; the line before it holds diagnostics.
See sessionbench/README.md for the metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import twins  # noqa: E402

WORKLOADS = ("etl_incremental", "catalog_session")
END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "cold_cpu_s": "s", "warm_cpu_s": "s"}
HEAP = "3g"             # -Xms = -Xmx: a fixed heap, no resizing during a run
JVM_TIMEOUT_S = 160     # the whole run must end within 180 s
DATA_DIR = os.environ.get("SESSIONBENCH_DATA", "/root/testdata/sf0.01")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def per_layer_names():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fs_type(path):
    """Filesystem type of the mount holding `path` (longest mount prefix)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            mnt, typ = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def host_sample():
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()[1:]
    # user nice system idle iowait irq softirq steal
    return {"load1": os.getloadavg()[0], "iowait": int(cpu[4]), "steal": int(cpu[7]),
            "t": time.time()}


def jvm(classes, run_dir, args, log):
    os.makedirs(run_dir, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH, "log4j2.properties"),
              f"-Dgraft.scratch.dir={run_dir}/scratch", f"-Djava.io.tmpdir={run_dir}/tmp",
              "-cp", build.classpath(classes), "graftbench.Main",
              "--run-dir", run_dir, "--cores", str(cores()), "--data-dir", DATA_DIR]
           + args + ["--launch-ns", str(time.time_ns())])
    os.makedirs(f"{run_dir}/scratch", exist_ok=True)
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(log, "ab") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=fh, cwd=run_dir)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"the JVM exceeded {JVM_TIMEOUT_S} s")
    out = os.path.join(run_dir, "out.json")
    if proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"the JVM exited with {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(os.path.dirname(classes), "runs")
    os.makedirs(work, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-s{a.seed}-", dir=work)
    log = os.path.join(os.path.dirname(classes), "last_run.log")
    open(log, "w").close()
    try:
        h0, cpu0 = host_sample(), os.times()
        res = jvm(classes, run_dir,
                  ["--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace)], log)
        cpu1, h1 = os.times(), host_sample()
        wall = h1["t"] - h0["t"]
        cpu = cpu1.children_user + cpu1.children_system - cpu0.children_user - cpu0.children_system
        t_twin = time.time()
        checks = twins.check(os.path.join(run_dir, "twin"), a.workload)
        t_twin = time.time() - t_twin
        failures = res["failures"] + [
            {"workload": a.workload, "pass": -1, "step": c["step"],
             "exception": "AssertionError", "message": c["message"]} for c in checks if not c["ok"]]
        attempted = res["attempted"] + len(checks)
        failed = res["failed"] + sum(not c["ok"] for c in checks)
        diag = {
            "workload": a.workload, "seed": a.seed, "cores": cores(), "heap": HEAP,
            "run_dir_fs": fs_type(run_dir), "data_dir": DATA_DIR if a.workload == "catalog_session" else None,
            "flush": "no fsync; OS page-cache writeback",
            "pass_wall_s": res["pass_wall_s"],
            "pass_cpu_s": res["pass_cpu_s"], "pass_traced": res["pass_traced"],
            "host": {"load1_start": h0["load1"], "load1_end": h1["load1"],
                     "steal_jiffies": h1["steal"] - h0["steal"],
                     "iowait_jiffies": h1["iowait"] - h0["iowait"],
                     "steal_share": (h1["steal"] - h0["steal"])
                                    / (wall * cores() * os.sysconf("SC_CLK_TCK")),
                     "cpu_per_wall": cpu / wall if wall > 0 else None,
                     "wall_s": wall},
            "twin_check_s": t_twin,
            "checks": checks,
            "failures": failures,
        }
        print("diagnostics " + json.dumps(diag))
        if a.trace:
            layers = res.get("layers", {})
            names = per_layer_names()
            metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in names.items()}
            trace_dir = os.path.join(os.path.dirname(classes), "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_file = os.path.join(trace_dir, f"{a.workload}-s{a.seed}.json")
            with open(trace_file, "w") as fh:
                json.dump(res.get("spans", []), fh)
            print(f"spans written to {os.path.relpath(trace_file, build.ROOT)}; "
                  f"tracing overhead {layers.get('trace.overhead_s', 0.0):+.3f} s per warm pass")
        else:
            metrics = {n: {"value": float(res[n]), "unit": u} for n, u in END_TO_END.items()}
        print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
