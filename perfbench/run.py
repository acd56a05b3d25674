#!/usr/bin/env python3
"""Run one workload of the graft node benchmark and print its result.

    python3 perfbench/run.py --workload task_fanout --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --record OUT_DIR

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
engine is built from this checkout's sources first (see build.py). Each
run works in its own directory under .bench_run/, removed at the end; a
run that does not finish in time is killed and reported as failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".bench_run")
JVM_TIMEOUT_S = 165

# Spark 4 on JDK 17 needs these when the session starts outside spark-submit
ADD_OPENS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print("perfbench: %s" % msg, file=sys.stderr)
    sys.exit(code)


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the root of the checkout")
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(main, args, work):
    """Run one JVM main in `work`, killing its whole process group if it
    overruns or if this script is stopped. Returns (code, stdout)."""
    classes = build.build()
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java()] + ADD_OPENS + [
        "-Xmx4g", "-Xss16m", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, main] + args
    # the node serves plain, open HTTP on 127.0.0.1 and keeps every Spark
    # scratch file in the run directory, whatever the caller's environment says
    env = {k: v for k, v in os.environ.items()
           if k not in ("GRAFT_API_TOKEN", "GRAFT_TLS_KEYSTORE", "GRAFT_TLS_KEYSTORE_PASS",
                         "GRAFT_STREAM_CKPT")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        kill(proc)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        kill(proc)
        return None, ""
    return proc.returncode, out


def remove_stale_runs():
    """Delete the directories of earlier runs whose process is gone (a run
    killed before its own clean-up)."""
    for d in os.listdir(RUN_DIR):
        try:
            os.kill(int(d.split("-", 1)[1]), 0)
        except (ValueError, IndexError, ProcessLookupError):
            shutil.rmtree(os.path.join(RUN_DIR, d), ignore_errors=True)
        except PermissionError:
            pass


def kill(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record", metavar="OUT_DIR")
    a = ap.parse_args()

    os.makedirs(RUN_DIR, exist_ok=True)
    remove_stale_runs()
    work = os.path.join(RUN_DIR, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.self_test:
            code, out = run_jvm("perfbench.SelfTest", [], work)
            sys.stdout.write(out)
            sys.exit(1 if code != 0 else 0)
        if a.record:
            code, out = run_jvm("perfbench.Record",
                                [os.path.join(HERE, "data"), os.path.abspath(a.record), work], work)
            sys.stdout.write(out)
            sys.exit(1 if code != 0 else 0)
        if a.workload is None or a.seed is None or a.seconds is None:
            fail("--workload, --seed and --seconds are required")
        names = expected_metrics(a.trace)
        code, out = run_jvm("perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.join(HERE, "data"), "--work", work], work)
        if code is None:
            fail("workload %s did not finish within %d s and was killed"
                 % (a.workload, JVM_TIMEOUT_S), 3)
        lines = out.strip().splitlines()
        if code != 0 or not lines:
            fail("workload %s failed (exit %s)" % (a.workload, code), 1)
        for line in lines[:-1]:
            print(line, file=sys.stderr)
        result = json.loads(lines[-1])
        if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
            fail("malformed result: %s" % lines[-1], 1)
        if sorted(result["metrics"]) != sorted(names):
            fail("result metrics differ from BENCHMARK.json: %s"
                 % sorted(set(result["metrics"]) ^ set(names)), 1)
        print(json.dumps(result))
    except build.BuildError as e:
        fail("build: %s" % e)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(RUN_DIR)
        except OSError:
            pass


if __name__ == "__main__":
    main()
