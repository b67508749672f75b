"""Build file of the app-flow benchmark.

Compiles the engine (``src/main/scala``) together with the benchmark's own
sources (``perfbench/src``) into ``.bench_build/classes`` with the Scala
compiler that ships in Spark's jar directory, so no build tool and no
dependency download is needed. ``perfbench/test`` compiles into
``.bench_build/test-classes``. A content hash of every input skips the
compile when nothing changed.

    python3 perfbench/build.py          # build (no-op when up to date)
    python3 perfbench/build.py --test   # build, then run the unit tests

Run from the repository root.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")
BENCH_TEST = os.path.join("perfbench", "test")

# The module options Spark needs on JDK 17 outside spark-submit; the same
# set the engine's own build passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH and JAVA_HOME unset")
    return found


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in candidates:
        if os.path.isdir(c) and any(
                n.startswith("scala-compiler") for n in os.listdir(c)):
            return c
    raise BuildError("Spark jars not found (set SPARK_HOME)")


def jvm_options():
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir, so a
    # run writes only inside the checkout
    return ["-XX:-UsePerfData"] + [
        a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


def _sources(root, ext=".scala"):
    out = []
    for d, _, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files if f.endswith(ext))
    return sorted(out)


def _stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _compile(srcs, out_dir, classpath, log_path):
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = tmp + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs))
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp",
           os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", classpath, "@" + args_file]
    with open(log_path, "w") as log:
        rc = subprocess.call(cmd, stdout=log, stderr=subprocess.STDOUT)
    os.remove(args_file)
    if rc != 0:
        raise BuildError("scalac failed (%d), see %s" % (rc, log_path))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def build(with_tests=False):
    """Compile what changed; return the runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError("engine sources missing: run from the repository "
                         "root (no %s here)" % ENGINE_SRC)
    os.makedirs(BUILD_DIR, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    classes = os.path.join(BUILD_DIR, "classes")
    main_srcs = _sources(ENGINE_SRC) + _sources(BENCH_SRC)
    resources = _sources(ENGINE_RES, ext="") if os.path.isdir(ENGINE_RES) else []
    stamp = _stamp(main_srcs + resources)
    stamp_file = classes + ".stamp"
    if not (os.path.isdir(classes) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        _compile(main_srcs, classes, jars,
                 os.path.join(BUILD_DIR, "compile.log"))
        for r in resources:
            dst = os.path.join(classes, os.path.relpath(r, ENGINE_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    cp = [classes, jars]
    if with_tests:
        tests = os.path.join(BUILD_DIR, "test-classes")
        test_srcs = _sources(BENCH_TEST)
        tstamp = stamp + _stamp(test_srcs)
        tstamp_file = tests + ".stamp"
        if not (os.path.isdir(tests) and os.path.exists(tstamp_file)
                and open(tstamp_file).read() == tstamp):
            _compile(test_srcs, tests, os.pathsep.join(cp),
                     os.path.join(BUILD_DIR, "compile-test.log"))
            with open(tstamp_file, "w") as f:
                f.write(tstamp)
        cp.insert(0, tests)
    return os.pathsep.join(cp)


def main():
    with_tests = "--test" in sys.argv[1:]
    try:
        cp = build(with_tests)
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2
    if with_tests:
        return subprocess.call([java_bin()] + jvm_options() + [
            "-cp", cp, "graft.perfbench.JobLedgerTest"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
