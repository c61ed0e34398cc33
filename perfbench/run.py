"""Runs one benchmark workload and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source on first use (see build.py), then runs the
workload in a fresh JVM with its own temporary directory, which is deleted
afterwards. The last line of standard output is the result object:
`correct`, `attempted`, `failed` and the metrics (end-to-end with
`--trace 0`, per-layer with `--trace 1`). The line before it, prefixed
`perfbench-report`, records the host and the per-leg figures. The exit
code is non-zero when the build fails or an output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("stdin-burst", "stdin-paced", "board")
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not 1 <= a.seconds <= 60:
        ap.error("--seconds must be within 1..60")

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1

    # one results directory per build, so a traced run compares only with
    # untraced runs of the same code
    out = os.path.join(build.build_dir(), "results", os.path.basename(classes))
    logs = os.path.join(build.build_dir(), "logs")
    tmp = os.path.join(build.build_dir(), "tmp", f"run-{os.getpid()}")
    for d in (out, logs, tmp):
        os.makedirs(d, exist_ok=True)
    log = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    cmd = build.jvm(classes, "perfbench.BenchMain", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", build.DATA, "--pins", os.path.join(build.HERE, "pins"),
        "--out", out], tmp)
    proc = None

    def stop(*_):
        if proc and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(1)

    signal.signal(signal.SIGTERM, stop)
    started = time.time()
    try:
        with open(log, "wb") as err:
            # set-up is timed from here: JVM start is part of it
            launched = ["--launched-ns", str(time.time_ns())]
            proc = subprocess.Popen(cmd + launched, stdout=subprocess.PIPE,
                                    stderr=err, cwd=build.ROOT,
                                    env=build.jvm_env(), start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s; log: {log}",
                      file=sys.stderr)
                return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    lines = stdout.decode("utf-8", "replace").splitlines()
    result = _result(lines[-1]) if lines else None
    if result is None:
        with open(log, "rb") as f:
            tail = f.read()[-3000:].decode("utf-8", "replace")
        print(f"perfbench: no result (exit {proc.returncode}, "
              f"{time.time() - started:.0f} s); log tail:\n{tail}",
              file=sys.stderr)
        return proc.returncode or 1
    for line in lines:
        print(line)
    if not result["correct"]:
        print("perfbench: output check failed; see the report line",
              file=sys.stderr)
        return 1
    return proc.returncode


def _result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return None
    ok = isinstance(r, dict) and set(r) == {"correct", "attempted", "failed",
                                            "metrics"}
    return r if ok else None


if __name__ == "__main__":
    sys.exit(main())
