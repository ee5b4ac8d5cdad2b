#!/usr/bin/env python3
"""Run one benchmark measurement and print its result.

  python3 perfbench/run.py --workload kg_batch|kg_converge|curate_docs \
      --seed N --seconds S --trace 0|1 [--detail FILE]

Run from the repository root. The first run builds the program and the
benchmark (see build.py). `--trace 0` prints the end-to-end metrics of the
named workload; `--trace 1` prints the per-layer metrics of all three
workloads. Every metric is printed as `name value unit`, then one JSON object
as the last line. `--detail FILE` also saves every sample of the run.
All temporary files live under perfbench/.runs/ and are removed at exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("kg_batch", "kg_converge", "curate_docs")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def parse():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--detail")
    return p.parse_args()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cmd, log_path):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"benchmark process exceeded {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode, out


def main():
    a = parse()
    # a terminated run unwinds through run_jvm, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        classes, jars = build.build()
    except (build.BuildError, subprocess.SubprocessError, OSError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    detail = os.path.join(work, "detail.json")
    log_path = os.path.join(work, "jvm.log")
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", os.path.join(work, "data"), "--cores", str(cores()),
              "--detail", detail])
    try:
        t0 = time.time()
        code, out = run_jvm(cmd, log_path)
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines:
            raise RuntimeError(f"benchmark process exited with code {code}")
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            raise RuntimeError("malformed result")
        if a.detail:
            shutil.copyfile(detail, a.detail)
        for name, m in sorted(result["metrics"].items()):
            print(f"{name} {m['value']!r} {m['unit']}")
        print(f"failed_frac {result['failed'] / result['attempted']!r} ratio")
        print(f"[perfbench] {a.workload} seed {a.seed} trace {a.trace}: "
              f"{time.time() - t0:.1f} s", file=sys.stderr)
        print(json.dumps(result))
        return 0
    except (RuntimeError, ValueError, OSError) as e:
        print(f"[perfbench] run failed: {e}", file=sys.stderr)
        if os.path.exists(log_path):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
