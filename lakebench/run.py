#!/usr/bin/env python3
"""Lake benchmark: drives the engine through its public API in one JVM.

    python3 lakebench/run.py --workload cdc_upsert --seed 1 --seconds 16 --trace 0

Builds the engine and the harness from source when needed (build.py),
runs the workload's fixed op sequence with one closed-loop client, checks
every result, and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (lakebench/layers.json).
Each run also leaves a report (host, set-up steps, per-class latencies,
every metric) and, when traced, its spans, under .bench_build/lakebench/reports/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the benchmark directory free of caches
import build  # noqa: E402

WORKLOADS = ("lambda_replay", "cdc_upsert")
RUN_LIMIT_S = 170  # one run, counted from the end of any build
HEAP = "2g"


def fail(msg, code=2):
    print(f"[lakebench] {msg}", file=sys.stderr)
    sys.exit(code)


jvm = None  # the harness JVM while it runs


def stop(*_):
    """Stop the compiler or the JVM (its whole process group), wait for
    it, then exit. (os.waitpid: the interrupted Popen call may hold the
    Popen's own wait lock.)"""
    procs = [(p.pid, p.kill) for p in build.running]
    if jvm is not None and jvm.returncode is None:
        procs.append((jvm.pid, lambda: os.killpg(jvm.pid, signal.SIGKILL)))
    for pid, kill in procs:
        try:
            kill()
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass
    fail("interrupted", 3)


def run_jvm(cmd, run_dir, log_path):
    """Run the harness JVM in its own process group; return its stdout."""
    global jvm
    # Spark would put its scratch space in these instead of the checkout
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    with open(log_path, "w") as log:
        jvm = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                               stderr=log, text=True, env=env,
                               start_new_session=True)
        try:
            out, _ = jvm.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(jvm.pid, signal.SIGKILL)
            jvm.wait()
            fail(f"the fixed sequence did not finish in {RUN_LIMIT_S} s; "
                 f"log: {log_path}", 3)
    if jvm.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed (exit {jvm.returncode}); log: {log_path}", 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    try:
        classes = build.build()
        jars = build.spark_jars()
        java = build.java()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    # no pid in the path: the warehouse stores absolute paths, and their
    # length must not vary from run to run
    run_dir = os.path.join(build.BUILD, "runs", name)
    reports = os.path.join(build.BUILD, "reports")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(reports, exist_ok=True)
    cmd = [java] + [x for p in build.ADD_OPENS
                    for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # no hsperfdata file in the system temp dir: write only in the checkout
        f"-Xmx{HEAP}", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-cp", os.pathsep.join([classes, os.path.join(
            os.path.dirname(jars[0]), "*")]),
        "lakebench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--out", run_dir]
    try:
        out = run_jvm(cmd, run_dir, os.path.join(reports, name + ".log"))
        with open(os.path.join(run_dir, "report.json")) as fh:
            report = json.load(fh)
        if a.trace:
            # the traced run's end-to-end metrics minus those of the
            # untraced run of the same workload and seed, when there is one
            base = os.path.join(reports, f"{a.workload}-s{a.seed}-t0.json")
            if os.path.exists(base):
                with open(base) as fh:
                    untraced = json.load(fh)
                report["traced_minus_untraced"] = {
                    k: v["value"] - untraced["end_to_end"][k]["value"]
                    for k, v in report["end_to_end"].items()}
            shutil.copyfile(os.path.join(run_dir, "spans.jsonl"),
                            os.path.join(reports, name + ".spans.jsonl"))
        with open(os.path.join(reports, name + ".json"), "w") as fh:
            json.dump(report, fh, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # the result is the JVM's last stdout line, passed on as ours
    result = (out.strip().splitlines() or [""])[-1]
    try:
        json.loads(result)["metrics"]
    except (ValueError, KeyError, TypeError):
        fail("the harness printed no result line", 1)
    print(f"[lakebench] host {json.dumps(report['host'])}", file=sys.stderr)
    print(f"[lakebench] classes {json.dumps(report['classes'])}",
          file=sys.stderr)
    print(result)


if __name__ == "__main__":
    main()
