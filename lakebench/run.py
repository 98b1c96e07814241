"""Layered lakehouse benchmark: one command, three closed-loop workloads.

    python3 lakebench/run.py --workload medallion --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the engine and the benchmark from
source (lakebench/build.py), runs one workload in a fresh JVM with one
client thread against Spark local[nproc], checks the outputs, and prints
a report followed by one JSON line: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. See lakebench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("medallion", "star_formats", "query_suite")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, args, work, timeout):
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "lakebench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise RuntimeError(f"the benchmark JVM did not finish within {timeout} s")
    except BaseException:
        # interrupted or terminated: stop the JVM before leaving
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    if proc.returncode != 0:
        sys.stderr.write(out[-6000:])
        raise RuntimeError(f"the benchmark JVM exited with code {proc.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--raw", help="also copy the raw run record to this file")
    a = ap.parse_args()

    cp = build.build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", raw_path,
                "--queries", os.path.join(HERE, "queries.txt")]
        run_jvm(cp, args, work, JVM_TIMEOUT_S)
        with open(raw_path) as f:
            raw = json.load(f)
        if a.raw:
            shutil.copy(raw_path, a.raw)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    gated, report, attempted, failed = metrics.end_to_end(raw)
    host = metrics.host_metrics(raw)
    for c in raw["checks"]:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    for s in raw["spans"]:
        if s["parent"] < 0 and not s["attrs"].get("ok", True):
            print(f"failed op {s['name']} {s['attrs']}")
    for name, value, unit, n in report:
        print(f"{a.workload} {name} = {value:.6g} {unit} (n={n})")
    flag = " FLAGGED: high steal" if host["steal_frac"] > metrics.STEAL_FLAG else ""
    print(f"host steal_s={host['steal_s']:.3f} steal_frac={host['steal_frac']:.4f} "
          f"busy_frac={host['busy_frac']:.3f} load1={host['load1']:.2f}{flag}")
    values = gated
    if a.trace:
        layers = metrics.per_layer(raw)
        for k, v in layers.items():
            if metrics.layer_applies(k, a.workload):
                print(f"layer {k} = {v:.6g} {unit_of(k)}")
        values = {k: (layers[k], unit_of(k)) for k in metrics.COMMON_LAYER}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))


def unit_of(name):
    if name.endswith("_s") or "_s." in name:
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("ratio", "_frac", "_amp", "_growth", "fraction")):
        return "ratio"
    if name == "host.load1":
        return "load"
    return "count"


def terminate(signum, frame):
    raise SystemExit(f"lakebench: stopped by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, terminate)
    try:
        main()
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        sys.exit(f"lakebench: {e}")
