#!/usr/bin/env python3
"""Benchmark entry point: builds the connector with the harness once per
checkout, runs one workload in a fresh JVM, checks its outputs and prints
one JSON result as the last line of standard output.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: snapshot_kafka, live_tail, lanes_driver (see
perfbench/README.md). With --trace 0 the result carries the end-to-end
metrics of BENCHMARK.json, with --trace 1 its per-layer metrics.

Every run also records host-stall evidence: a fixed-work CPU calibration
spin and the /proc/stat steal and iowait shares around the workload. A run
whose calibration is more than 1.5x the median of the runs recorded in
this checkout is flagged on the console; it is never dropped.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("snapshot_kafka", "live_tail", "lanes_driver")
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 600.0
STALL_RATIO = 1.5
CALIBRATION_LOOPS = 1_500_000
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src" / "main", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            st = p.stat()
            h.update(f"{p.relative_to(ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles the repository's main sources with the harness (sbt, offline)
    unless this checkout already holds a build of the same sources. Returns
    the runtime classpath and the sources' fingerprint."""
    cp_file = BUILD / "classpath.txt"
    stamp = BUILD / "build.stamp"
    fp = source_fingerprint()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip(), fp
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # keep the build's scratch files inside the checkout; the variable
    # also reaches the JVMs the sbt script starts to probe the java version
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    env["TMPDIR"] = str(BUILD / "tmp")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.boot.lock=false",
            f"-Djava.io.tmpdir={BUILD / 'tmp'}", f"-Djna.tmpdir={BUILD / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dperfbench.cp={cp_file}", "compile", "writeClasspath"]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(3, f"build timed out; see {log}")
    if rc != 0 or not cp_file.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(3, f"build failed (exit {rc}); see {log}")
    stamp.write_text(fp)
    return cp_file.read_text().strip(), fp


def stop(proc):
    """Kills the process group of `proc` and waits for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def calibration_s():
    """One fixed-work CPU spin: a host that runs it slowly was stalled or
    contended while it ran."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CALIBRATION_LOOPS):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def cpu_times():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return {"total": sum(fields[:8]), "iowait": fields[4], "steal": fields[7]}


def history(entry=None):
    """This checkout's run log (calibrations and untraced walls)."""
    path = BUILD / "history.jsonl"
    rows = []
    if path.exists():
        rows = [json.loads(line) for line in path.read_text().splitlines() if line.strip()]
    if entry is not None:
        with open(path, "a") as f:
            f.write(json.dumps(entry) + "\n")
    return rows


def run_workload(args, classpath, deadline):
    run_dir = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
              f"-Djava.io.tmpdir={run_dir / 'tmp'}",
              f"-Dperfbench.pins={HERE / 'lanes_pins.json'}",
              f"-Dperfbench.data={HERE / 'data' / 'sf0.1'}",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--run-dir", str(run_dir), "--launch-ms", str(int(time.time() * 1000))])
    err_log = BUILD / f"run-{os.getpid()}.stderr"
    try:
        with open(err_log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                stop(proc)
                fail(4, f"workload {args.workload} exceeded its time limit; see {err_log}")
        lines = out.decode("utf-8", "replace").strip().splitlines()
        result = None
        if proc.returncode == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if result is None:
            sys.stderr.write("\n".join(lines[-20:]) + "\n")
            sys.stderr.write(err_log.read_text(errors="replace")[-4000:])
            fail(5, f"workload {args.workload} failed (exit {proc.returncode})")
        err_log.unlink()
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(2, f"no connector sources under {ROOT / 'src' / 'main' / 'scala'}")
    if not spec_file.exists():
        fail(2, f"no {spec_file}")
    spec = json.loads(spec_file.read_text())

    classpath, fingerprint = build()
    deadline = time.monotonic() + RUN_LIMIT_S

    calib_before = calibration_s()
    cpu0 = cpu_times()
    result = run_workload(args, classpath, deadline)
    cpu1 = cpu_times()
    calib = max(calib_before, calibration_s())

    past = history()
    calibrations = [h["calib_s"] for h in past] + [calib]
    calib_ratio = calib / statistics.median(calibrations)
    total = max(1, cpu1["total"] - cpu0["total"])
    steal_pct = 100.0 * (cpu1["steal"] - cpu0["steal"]) / total
    iowait_pct = 100.0 * (cpu1["iowait"] - cpu0["iowait"]) / total
    stalled = calib_ratio > STALL_RATIO

    metrics = result["metrics"]
    wall = metrics.get("wall_s", {}).get("value")
    # the baseline is untraced runs of the same build: older builds would
    # charge their own speed difference to tracing
    untraced = [h["wall_s"] for h in past
                if h["workload"] == args.workload and h["trace"] == 0 and not h["stalled"]
                and h.get("build") == fingerprint]
    overhead = 0.0
    if args.trace and untraced and wall:
        overhead = 100.0 * (wall / statistics.median(untraced) - 1.0)
    history({"workload": args.workload, "trace": args.trace, "seed": args.seed,
             "build": fingerprint, "calib_s": calib, "stalled": stalled, "wall_s": wall})
    host = {"host.calib_ratio": (calib_ratio, "ratio"), "host.steal_pct": (steal_pct, "%"),
            "host.iowait_pct": (iowait_pct, "%"), "host.stalled": (float(stalled), "flag"),
            "trace.overhead_pct": (overhead, "%")}
    for k, (v, u) in host.items():
        metrics[k] = {"value": v, "unit": u}
    if wall is not None:
        metrics["trace.wall_s"] = {"value": wall, "unit": "s"}

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        if m["name"] in metrics:
            out[m["name"]] = {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
        elif args.trace:
            out[m["name"]] = {"value": 0, "unit": m["unit"]}  # not a layer of this workload
        else:
            fail(6, f"workload {args.workload} did not report {m['name']}")

    for line in result.get("lines", []):
        print(line)
    print(f"{args.workload} host: calibration {calib:.4f} s = {calib_ratio:.2f}x the median of "
          f"{len(calibrations)} runs, steal {steal_pct:.2f}%, iowait {iowait_pct:.2f}%"
          + ("  ** HOST STALL: calibration above 1.5x median **" if stalled else ""))
    if args.trace:
        print(f"{args.workload} tracing overhead: {overhead:+.1f}% wall against the median of "
              f"{len(untraced)} untraced runs of this build in this checkout")
    verdict = "PASS" if result["correct"] else "FAIL"
    print(f"{args.workload} correctness: {verdict} ({result['attempted']} checked, "
          f"{result['failed']} failed)")
    for f in result.get("failures", []):
        print(f"  failure: {f}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": out}))


if __name__ == "__main__":
    main()
