"""Builds the benchmark: compiles the engine's sources together with the
benchmark's own Scala sources, and generates the fixture.

Both outputs are content-addressed under the build directory, so a
checkout builds once and later runs reuse the result.  The Scala
compiler and the Spark jars come from the Spark distribution: the
directory `SPARK_JARS` names, else the `unmanagedBase` of the
repository's `build.sbt` — the jars the engine's own build compiles
against.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE_SOURCES = os.path.join("src", "main", "scala")
SCALA_VERSION = "2.13.17"


def spark_jars():
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase; set SPARK_JARS")
    return m.group(1)


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _sources(root):
    engine = sorted(glob.glob(os.path.join(root, ENGINE_SOURCES, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine, bench


def _prune(out):
    """Removes older builds of the same kind as `out`."""
    kind = os.path.basename(out).split("-")[0]
    for old in glob.glob(os.path.join(os.path.dirname(out), kind + "-*")):
        if old != out and not old.endswith(".tmp"):
            shutil.rmtree(old, ignore_errors=True)


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, HERE).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


class _Lock:
    def __init__(self, path):
        self.f = open(path, "w")

    def __enter__(self):
        fcntl.flock(self.f, fcntl.LOCK_EX)

    def __exit__(self, *exc):
        fcntl.flock(self.f, fcntl.LOCK_UN)
        self.f.close()


def compile_classes(root, log=sys.stderr):
    """Returns the directory of compiled classes, compiling if needed."""
    engine, bench = _sources(root)
    if not engine:
        raise SystemExit(f"no engine sources under {os.path.join(root, ENGINE_SOURCES)}")
    jars = spark_jars()
    out = os.path.join(build_dir(root), "classes-" + _digest(engine + bench, jars))
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    os.makedirs(build_dir(root), exist_ok=True)
    with _Lock(os.path.join(build_dir(root), "build.lock")):
        if os.path.exists(os.path.join(out, ".ok")):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                                   for m in ("compiler", "library", "reflect"))
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler,
               "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
               "-d", tmp] + engine + bench
        print(f"[build] compiling {len(engine)} engine + {len(bench)} benchmark sources",
              file=log, flush=True)
        r = subprocess.run(cmd, stdout=log, stderr=log)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit(f"compile failed with exit code {r.returncode}")
        open(os.path.join(tmp, ".ok"), "w").close()
        os.rename(tmp, out)
        _prune(out)
    return out


def fixture(root, log=sys.stderr):
    """Returns the generated fixture directory, generating it if needed."""
    sys.path.insert(0, HERE)
    import gen_data
    srcs = [os.path.join(HERE, "gen_data.py")] + sorted(glob.glob(os.path.join(HERE, "configs", "*")))
    out = os.path.join(build_dir(root), "data-" + _digest(srcs, str(gen_data.DEFAULT_SCALE)))
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    os.makedirs(build_dir(root), exist_ok=True)
    with _Lock(os.path.join(build_dir(root), "data.lock")):
        if os.path.exists(os.path.join(out, ".ok")):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        print("[build] generating fixture", file=log, flush=True)
        gen_data.generate(tmp)
        open(os.path.join(tmp, ".ok"), "w").close()
        os.rename(tmp, out)
        _prune(out)
    return out


if __name__ == "__main__":
    root = os.getcwd()
    print(compile_classes(root))
    print(fixture(root))
