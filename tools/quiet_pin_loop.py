#!/usr/bin/env python3
"""Poll-until-quiet re-pin harness.

The build host has multi-minute windows where everything runs 20-85%
slower; two rounds of re-pin attempts died to windows degrading mid-run.
This loop automates the wait: it polls the JVM calib probe
(graft.CalibProbe — the same blended ALU+scan job graft.Bench brackets
its timed passes with) until the host shows a genuinely quiet window
(two consecutive probe minima <= QUIET_BAR, spaced >= GAP_SEC), then in
that window re-pins the DuckDB comparator over the FULL oracle suite
(tools/pin_baseline.py, median of 5 process runs with early abort),
brackets the pin with a closing probe, and on acceptance copies
baseline_per_query.json into the repo and runs one full graft.Bench
against the freshly measured bar in the same window.

Acceptance (BASELINE.md round-4 bracketing protocol):
  - opening and closing probe min <= WARM_BAR
  - pin run range tight: max/min <= RANGE_BAR across the process runs
A failed attempt logs REJECTED with the reason and keeps polling (up to
MAX_ATTEMPTS pin attempts or DEADLINE_H hours).

Respects a builder-busy flag: while BUSY_FLAG exists the loop sleeps
without probing — a probe taken under an sbt test run measures the
builder's own load, not the host window. Compile before starting
(`sbt -batch compile`); probes and Bench run on the compiled classes
via tools/run_main.sh (no sbt startup). Dev tool only — not part of
the library.

Usage: python3 tools/quiet_pin_loop.py <sfDir> <oracleSqlJson> [outDir]
Log:    <outDir>/quiet_pin.log   Status: <outDir>/quiet_pin_status.json
"""
import sys, os, json, time, shutil, statistics, subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUIET_BAR = float(os.environ.get("QUIET_BAR", "0.82"))
WARM_BAR = float(os.environ.get("WARM_BAR", "0.85"))
RANGE_BAR = float(os.environ.get("RANGE_BAR", "1.12"))
GAP_SEC = int(os.environ.get("GAP_SEC", "150"))
POLL_SEC = int(os.environ.get("POLL_SEC", "240"))
MAX_ATTEMPTS = int(os.environ.get("MAX_ATTEMPTS", "4"))
DEADLINE_H = float(os.environ.get("DEADLINE_H", "5"))
BUSY_FLAG = os.environ.get("BUSY_FLAG", "/tmp/graft_busy")
PIN_RUNS = int(os.environ.get("PIN_RUNS", "5"))

sf_dir = sys.argv[1]
oracle_json = sys.argv[2]
out_dir = sys.argv[3] if len(sys.argv) > 3 else "/tmp/quiet_pin"
os.makedirs(out_dir, exist_ok=True)
LOG = open(os.path.join(out_dir, "quiet_pin.log"), "a")

def log(msg):
    line = f"{time.strftime('%H:%M:%S')} {msg}"
    print(line, flush=True)
    LOG.write(line + "\n"); LOG.flush()

def status(**kw):
    with open(os.path.join(out_dir, "quiet_pin_status.json"), "w") as f:
        json.dump({"ts": time.strftime("%H:%M:%S"), **kw}, f, indent=1)

def probe():
    """One CalibProbe run; returns (min_calib, all_calibs) or None on error."""
    out = os.path.join(out_dir, "calib_probe.json")
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CALIB_OUT=out)
    try:
        r = subprocess.run([os.path.join(REPO, "tools/run_main.sh"),
                            "graft.CalibProbe"], env=env,
                           stdout=subprocess.DEVNULL,
                           stderr=subprocess.DEVNULL, timeout=600)
    except subprocess.TimeoutExpired:
        return None
    if r.returncode != 0 or not os.path.exists(out):
        return None
    d = json.load(open(out))
    return d["min"], d["calib_secs"]

def attempt_pin():
    """Run the bracketed pin; returns (accepted, info dict)."""
    work = os.path.join(out_dir, "pinwork")
    os.makedirs(work, exist_ok=True)
    env = dict(os.environ, PIN_ABORT_FACTOR="1.15")
    t0 = time.time()
    try:
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools/pin_baseline.py"),
             sf_dir, oracle_json, str(PIN_RUNS)],
            cwd=work, env=env, capture_output=True, text=True, timeout=3600)
    except subprocess.TimeoutExpired:
        return False, {"reason": "pin timed out"}
    log(f"pin stdout tail: {r.stdout.strip().splitlines()[-3:]}")
    if r.returncode != 0:
        return False, {"reason": "pin aborted (window degraded mid-run)",
                       "stdout": r.stdout[-2000:]}
    totals = [float(l.split(":")[1].strip().split()[0])
              for l in r.stdout.splitlines() if l.startswith("run ")]
    close = probe()
    if close is None:
        return False, {"reason": "closing probe failed"}
    info = {"totals": totals, "pin_wall_sec": round(time.time() - t0, 1),
            "close_min": close[0], "close_calibs": close[1]}
    if close[0] > WARM_BAR:
        info["reason"] = f"closing bracket {close[0]} > {WARM_BAR}"
        return False, info
    if max(totals) / min(totals) > RANGE_BAR:
        info["reason"] = (f"run range {min(totals):.1f}-{max(totals):.1f} "
                          f"wider than {RANGE_BAR}x")
        return False, info
    pin_file = os.path.join(work, "baseline_per_query.json")
    info["median_total_sec"] = json.load(open(pin_file))["median_total_sec"]
    return True, info

def run_bench(baseline_sec):
    # calib_quiet stays the historical Bench-scale 0.80 default: the
    # CalibProbe main reads ~0.05-0.07 HIGHER than Bench's in-run calib in
    # the same window (less JIT warm-up), so a probe-derived pin would
    # understate host_factor and flatter later ratios. The bench judges its
    # own window by its own calibs.
    out = os.path.join(out_dir, "bench_quiet.json")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="32",
               SPARK_GRAFT_BASELINE_SEC=str(baseline_sec),
               SPARK_GRAFT_BENCH_OUT=out)
    try:
        r = subprocess.run([os.path.join(REPO, "tools/run_main.sh"),
                            "graft.Bench"],
                           env=env, stdout=subprocess.DEVNULL,
                           stderr=subprocess.DEVNULL, timeout=3600)
    except subprocess.TimeoutExpired:
        return None
    return json.load(open(out)) if r.returncode == 0 and os.path.exists(out) \
        else None

def main():
    deadline = time.time() + DEADLINE_H * 3600
    last_quiet = None   # (ts, min)
    attempts = 0
    log(f"watching for quiet window: bar={QUIET_BAR}, poll={POLL_SEC}s, "
        f"deadline={DEADLINE_H}h, suite={oracle_json}")
    while time.time() < deadline and attempts < MAX_ATTEMPTS:
        if os.path.exists(BUSY_FLAG):
            # builder-busy gaps are unobserved time: a quiet reading from
            # before the gap must not pair with the first post-gap probe
            # (the 2-probe confirmation would straddle hours of unknown)
            last_quiet = None
            status(state="waiting_busy")
            time.sleep(60)
            continue
        p = probe()
        if p is None:
            log("probe failed; retrying")
            time.sleep(POLL_SEC)
            continue
        mn, calibs = p
        log(f"probe min={mn} calibs={calibs}")
        now = time.time()
        if mn <= QUIET_BAR:
            if last_quiet and now - last_quiet[0] >= GAP_SEC:
                attempts += 1
                open_mins = [last_quiet[1], mn]
                # Bench-only mode (BENCH_ONLY_BASELINE=<bar>): the pin is
                # already installed; just land one full Bench in a quiet
                # window, judged by ITS OWN calibs (Bench scale, quiet 0.80)
                bench_bar = os.environ.get("BENCH_ONLY_BASELINE")
                if bench_bar:
                    log(f"QUIET window (opens {open_mins}) — bench attempt "
                        f"{attempts}/{MAX_ATTEMPTS}")
                    status(state="benching", attempt=attempts, opens=open_mins)
                    bench = run_bench(float(bench_bar))
                    calibs = (bench or {}).get("calib_secs") or [9.9]
                    if bench and min(calibs) <= 0.85:
                        status(state="DONE", bench_calibs=calibs,
                               vs_baseline=bench.get("vs_baseline"),
                               vs_baseline_quiet=bench.get("vs_baseline_quiet"))
                        log(f"DONE: quiet bench calibs={calibs} "
                            f"vs_baseline={bench.get('vs_baseline')}")
                        return
                    log(f"bench window not quiet (calibs {calibs}); retrying")
                    status(state="bench_rejected", calibs=calibs)
                    last_quiet = None
                    continue
                log(f"QUIET window confirmed (opens {open_mins}) — "
                    f"pin attempt {attempts}/{MAX_ATTEMPTS}")
                status(state="pinning", attempt=attempts, opens=open_mins)
                ok, info = attempt_pin()
                if ok:
                    # recorded for the audit trail only (see run_bench note)
                    calib_quiet = round(statistics.median(
                        open_mins + [info["close_min"]]), 3)
                    shutil.copy(
                        os.path.join(out_dir, "pinwork",
                                     "baseline_per_query.json"),
                        os.path.join(REPO, "baseline_per_query.json"))
                    log(f"ACCEPTED pin {info['median_total_sec']} s "
                        f"(runs {info['totals']}, close {info['close_min']}); "
                        f"calib_quiet={calib_quiet}; running Bench")
                    status(state="accepted_benching", pin=info,
                           probe_calib_quiet=calib_quiet)
                    bench = run_bench(info["median_total_sec"])
                    status(state="DONE", pin=info, calib_quiet=calib_quiet,
                           bench_ok=bench is not None,
                           bench_calibs=(bench or {}).get("calib_secs"),
                           vs_baseline=(bench or {}).get("vs_baseline"))
                    log(f"DONE: bench={'ok' if bench else 'FAILED'} "
                        f"{json.dumps((bench or {}).get('calib_secs'))}")
                    return
                log(f"REJECTED: {info.get('reason')}")
                status(state="rejected", attempt=attempts, info=info)
                last_quiet = None
            else:
                last_quiet = (now, mn)
                # confirmation probe after the gap, not a full poll later
                time.sleep(GAP_SEC)
                continue
        else:
            last_quiet = None
        status(state="polling", last_min=mn)
        time.sleep(POLL_SEC)
    log(f"gave up: attempts={attempts}, deadline reached="
        f"{time.time() >= deadline}")
    status(state="gave_up", attempts=attempts)

if __name__ == "__main__":
    main()
