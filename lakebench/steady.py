"""Runs the benchmark over several seeds and summarises each metric as its
median and its spread (quartile distance over median, as
statistics.quantiles(values, n=4) gives the quartiles).

    python3 lakebench/steady.py --workload medallion --seeds 1-10 \
        --seconds 20 [--trace 1] [--out runs.jsonl]

Each run's report lines and final JSON line go to --out, one JSON object per
run. Runs are sequential: the benchmark must have the host to itself.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPORT = re.compile(r"^\S+ (\S+) = (\S+) (\S+) \(n=(\d+)\)$")


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b) + 1)) if b else [int(a)]
    return out


def spread(values):
    """Quartile distance over median; None when the median is 0."""
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    values = {}
    for sd in seeds(a.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(sd), "--seconds", a.seconds, "--trace", a.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.exit(f"seed {sd} failed:\n{r.stdout[-3000:]}")
        result = json.loads(lines[-1])
        report = {m.group(1): float(m.group(2)) for m in map(REPORT.match, lines[:-1]) if m}
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": sd, "trace": int(a.trace),
                                    "report": lines[:-1], "result": result}) + "\n")
        print(f"seed {sd}: correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.5g}" for k, v in result["metrics"].items()
                         if a.trace == "0"), flush=True)
        for k, v in report.items():
            values.setdefault(k, []).append(v)
    print(f"{'metric':24} {'median':>12} {'spread':>8}  (n={len(seeds(a.seeds))})")
    for k, vs in values.items():
        if len(vs) >= 2:
            sp = spread(vs)
            print(f"{k:24} {statistics.median(vs):12.5g} {'-' if sp is None else f'{sp:.3f}':>8}")


if __name__ == "__main__":
    main()
