"""Build step of the benchmark.

Compiles the repository's main sources (src/main/scala) together with the
benchmark's own (perfbench/src) into one class directory with the Scala
compiler that ships among the Spark jars. The classes are cached under the
build directory ($CARGO_TARGET_DIR, default `.bench_build` at the
repository root), keyed by a hash of their sources, so only the first run
in a checkout pays for them.

    python3 perfbench/build.py        # build, print the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
# the repository's sf0.1 test corpus (TESTDATA.md), copied here so a run
# reads nothing outside its checkout
DATA = os.path.join(HERE, "data", "sf0.1")
SCALA = "2.13.17"

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """$SPARK_HOME/jars, else the directory build.sbt takes its jars from."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
        raise BuildError(f"no Spark jars with scala-compiler-{SCALA} in {jars}")
    return jars


def _files(top, suffix):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def jvm(classes, main, args, tmpdir, heap="4g"):
    """The java command running `main` on the built classes."""
    cp = classes + os.pathsep + os.path.join(spark_jars(), "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java", f"-Xmx{heap}", "-Xss8m", *opens,
            f"-Djava.io.tmpdir={tmpdir}", f"-Dspark.local.dir={tmpdir}",
            # HostId probes cloud metadata endpoints over HTTP; a closed
            # loopback proxy makes each probe fail at once, so a run stays
            # on this machine and resolves the interface address instead
            "-Dhttp.proxyHost=127.0.0.1", "-Dhttp.proxyPort=9",
            "-cp", cp, main, *args]


def jvm_env():
    """Environment for the JVM: no ECS metadata URIs to probe."""
    return {k: v for k, v in os.environ.items()
            if not k.startswith("ECS_CONTAINER_METADATA_URI")}


def _atomic(final, make):
    """Create directory `final` by filling a temporary one with `make`."""
    if os.path.isfile(os.path.join(final, ".done")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        make(tmp)
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _run(cmd, log):
    with open(log, "ab") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                            cwd=ROOT).returncode
    if rc != 0:
        with open(log, "rb") as f:
            tail = f.read()[-4000:].decode("utf-8", "replace")
        raise BuildError(f"{cmd[0]} ... {cmd[-1]} failed ({rc}):\n{tail}")


def compile_classes():
    if not os.path.isdir(MAIN_SRC):
        raise BuildError(f"the repository's sources are missing: {MAIN_SRC}")
    srcs = _files(MAIN_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    res = _files(MAIN_RES, "") if os.path.isdir(MAIN_RES) else []
    out = os.path.join(build_dir(), "classes-" + _digest(srcs + res))
    jars = spark_jars()

    def make(tmp):
        args = os.path.join(tmp, "sources.txt")
        with open(args, "w") as f:
            f.write("\n".join(srcs))
        compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                                   for m in ("compiler", "library", "reflect"))
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        _run(["java", "-Xmx2g", "-Xss8m", "-cp", compiler,
              "scala.tools.nsc.Main", "-nowarn",
              "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + args],
             os.path.join(build_dir(), "build.log"))
        os.remove(args)
        for r in res:
            dst = os.path.join(tmp, os.path.relpath(r, MAIN_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy(r, dst)

    _prune("classes-", keep=out)
    return _atomic(out, make)


def _prune(prefix, keep):
    """Drop builds of other source versions, so a checkout holds one."""
    d = build_dir()
    if not os.path.isdir(d):
        return
    for n in os.listdir(d):
        p = os.path.join(d, n)
        if n.startswith(prefix) and p != keep and not n.startswith(
                os.path.basename(keep) + ".tmp"):
            shutil.rmtree(p, ignore_errors=True)


def build():
    os.makedirs(build_dir(), exist_ok=True)
    return compile_classes()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(1)
