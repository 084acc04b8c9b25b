"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --seed-check --workload W

Run from the root of a checkout.  The first call builds (see build.py);
each run then launches one JVM with one local SparkSession, runs the
workload as a closed loop and prints every metric by name with its
unit.  The last line of stdout is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`.  All writes stay under the build directory; each run's
scratch directory is removed when it ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

TIMEOUT_S = 170
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def java(root, classes, scratch, args, log_path, timeout=TIMEOUT_S):
    """Runs perfbench.Main in its own process group; returns (rc, stdout)."""
    cmd = (["java"] + JVM_OPENS +
           ["-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={scratch}/tmp", f"-Dderby.system.home={scratch}",
            "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main", "--src", root] + args)
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    # Spark prefers these over spark.local.dir; unset, its shuffle and
    # block files stay in the scratch root.
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, stderr=log, env=env,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return -1, ""
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode, out


def prepare(root):
    if not os.path.isdir(os.path.join(root, build.ENGINE_SOURCES, "graft")):
        fail(f"no engine sources under {os.path.join(root, build.ENGINE_SOURCES)}: "
             "run from the root of a checkout")
    return build.compile_classes(root), build.fixture(root)


def run_once(root, bench, workload, seed, seconds, trace, quiet=False):
    """One measured run; returns the parsed result line and the fingerprint."""
    classes, data = prepare(root)
    t0_ms = int(time.time() * 1000)  # set-up is timed from here: JVM launch
    bdir = build.build_dir(root)
    scratch = os.path.join(bdir, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(bdir, "logs"), exist_ok=True)
    log_path = os.path.join(bdir, "logs", f"{workload}-seed{seed}-trace{trace}.log")
    try:
        rc, out = java(root, classes, scratch, [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data, "--scratch", scratch,
            "--pins", os.path.join(HERE, "pins.json"),
            "--traces", os.path.join(bdir, "traces"), "--t0-ms", str(t0_ms)], log_path)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if rc != 0 or not lines:
        tail = open(log_path).read().splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"{workload} run ended with code {rc} (log: {log_path})", 3)
    result = json.loads(lines[-1])
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result line does not match BENCHMARK.json: {sorted(set(got) ^ set(want))}", 3)
    if not quiet:
        for ln in lines[:-1]:
            print(ln)
    fingerprint = next((ln.split("=", 1)[1] for ln in lines if ln.startswith("result_fingerprint=")), "")
    return result, fingerprint


def main():
    # On SIGTERM unwind normally, so the JVM's process group is killed and
    # the scratch root removed by the `finally` blocks.
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--seed-check", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    bench_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    with open(bench_path) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]

    if a.selftest:
        import pin
        classes, _ = prepare(root)
        scratch = os.path.join(build.build_dir(root), "runs", f"selftest-{os.getpid()}")
        try:
            rc, out = java(root, classes, scratch, ["--selftest", "--benchmark", bench_path],
                           os.path.join(build.build_dir(root), "selftest.log"))
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        print(out, end="")
        py_ok = pin.selftest()
        sys.exit(0 if rc == 0 and py_ok else 1)

    if a.workload not in names:
        fail(f"--workload must be one of {names}")
    if a.seed_check:
        fps = [run_once(root, bench, a.workload, s, 1, 0, quiet=True)[1] for s in (1, 2)]
        same = fps[0] == fps[1] and fps[0] != ""
        print(f"seed-check {a.workload}: seed 1 -> {fps[0]}, seed 2 -> {fps[1]}: "
              f"{'identical' if same else 'DIFFERENT'}")
        sys.exit(0 if same else 1)

    result, _ = run_once(root, bench, a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
