#!/usr/bin/env python3
"""The repo benchmark, one command (run it from the repo root):

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 5 --trace 0

Builds the program and the benchmark from source (perfbench/build.py), runs
one workload in a fresh JVM at local[nproc] and prints, as the last stdout
line, {"correct", "attempted", "failed", "metrics"}; the line before it is
{"info": ...} with the host, the input and every sample. See
perfbench/README.md for the workloads and metrics.

    python3 perfbench/run.py --selftest             # checks of the benchmark
    python3 perfbench/run.py --record FILE          # record query digests
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

XMX = "4g"
CHILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def private_tmp(tmp):
    """Command prefix that gives the JVM a /tmp of its own, bound to `tmp`
    (the query indexes are written under /tmp), or [] where mount namespaces
    are not available."""
    prefix = ["unshare", "-m", "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"', tmp]
    try:
        ok = subprocess.run(prefix + ["true"], stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL, timeout=10).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        ok = False
    return prefix if ok else []


def metric_names(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", help="extract_fresh or queries_stream")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", metavar="FILE")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.record):
        ap.error("one of --workload, --selftest, --record is required")

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        print("perfbench: no program sources under src/main/scala/graft", file=sys.stderr)
        return 2
    try:
        classes = build.build(ROOT)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3

    run_dir = os.path.join(ROOT, ".bench_build", "perfbench", "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, work = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "work")
    os.makedirs(tmp)
    os.makedirs(work)
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", classes + os.pathsep + jars, "graft.perfbench.Main",
        "--work", work, "--data", os.path.join(HERE, "data", "sf0.1"),
        "--expected", os.path.join(HERE, "expected", "query_digests.tsv")]
    if a.selftest:
        cmd.append("--selftest")
    elif a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    cmd = private_tmp(tmp) + cmd

    log = os.path.join(ROOT, ".bench_build", "perfbench", "stderr.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                cwd=ROOT, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"perfbench: timed out after {CHILD_TIMEOUT_S}s; log in {log}", file=sys.stderr)
            return 4
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    if a.selftest or a.record:
        print("\n".join(lines))
        return proc.returncode
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if proc.returncode != 0 or not isinstance(result, dict) or "metrics" not in result:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: run failed (exit {proc.returncode}); log in {log}", file=sys.stderr)
        return proc.returncode or 5

    want = metric_names(a.trace == 1)
    missing = sorted(want - set(result["metrics"])) if want is not None else []
    extra = sorted(set(result["metrics"]) - want) if want is not None else []
    if missing or extra:
        print(f"perfbench: metrics differ from BENCHMARK.json: missing {missing}, extra {extra}",
              file=sys.stderr)
        result["correct"] = False
        result["failed"] += 1
        result["attempted"] += 1
        result["metrics"] = {k: v for k, v in result["metrics"].items() if k in want}
    for line in lines[:-1]:
        if line.startswith('{"info"'):
            info = json.loads(line)
            info["info"]["host"]["xmx"] = XMX
            info["info"]["host"]["private_tmp"] = bool(cmd[0] == "unshare")
            print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
