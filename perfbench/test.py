"""Runs the benchmark's own tests (perfbench.SelfTest): corpus
determinism, paced-stream timing, percentiles and ack ratio, and the
output checks.

    python3 perfbench/test.py
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def main():
    try:
        classes = build.compile_classes()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1
    tmp = os.path.join(build.build_dir(), "tmp", f"test-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        return subprocess.run(build.jvm(classes, "perfbench.SelfTest", [], tmp,
                                        heap="1g"),
                              env=build.jvm_env()).returncode
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    os.makedirs(build.build_dir(), exist_ok=True)
    sys.exit(main())
