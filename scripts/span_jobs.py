#!/usr/bin/env python3
"""Per-span job attribution of one `lakebench/run.py --raw <file>` record.

For every op (top-level span) and each of its child spans it prints the
wall time, the Spark jobs and Catalyst statements that started inside the
span, the union of those jobs' intervals, the driver gap (wall minus the
union) and the tail: the time from the last job's end to the span's end
(for a MERGE, the commit after its last job). A summary with the median
of each column per span name follows.

    python3 scripts/span_jobs.py raw.json [--name plans.merge] [--summary-only]

Times are milliseconds. A job or statement belongs to the innermost span
its start falls in, counted again in every enclosing span.
"""
import argparse
import json
import os
import statistics
import sys

# reuse the benchmark's own interval arithmetic without leaving bytecode in its tree
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "lakebench"))
from metrics import union_length  # noqa: E402


def span_row(span, jobs, stmts):
    t0, t1 = span["t0"], span["t1"]
    inside = [j for j in jobs if t0 <= j["t0"] < t1]
    iv = [(j["t0"], j.get("t1", j["t0"])) for j in inside]
    union = union_length(iv, t0, t1)
    last = max((b for _, b in iv), default=None)
    return {
        "wall": t1 - t0,
        "jobs": len(inside),
        "stmts": sum(1 for q in stmts if t0 <= q["t"] < t1),
        "union": union,
        "gap": (t1 - t0) - union,
        "tail": t1 - min(last, t1) if last is not None else t1 - t0,
    }


COLS = ("wall", "jobs", "stmts", "union", "gap", "tail")


def fmt(name, row):
    return f"{name:<40}" + "".join(
        f"{row[c]:>8d}" if c in ("jobs", "stmts") else f"{row[c]:>8.0f}" for c in COLS)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("raw", help="raw record written by lakebench/run.py --raw")
    ap.add_argument("--name", default="", help="only spans whose name starts with this")
    ap.add_argument("--summary-only", action="store_true", help="print only the per-name medians")
    args = ap.parse_args()
    with open(args.raw) as f:
        raw = json.load(f)
    spans = raw["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    by_name = {}
    header = f"{'span':<40}" + "".join(f"{c:>8}" for c in COLS)
    if not args.summary_only:
        print(header)
    for op in children.get(-1, []):
        for s, depth in [(op, 0)] + [(c, 1) for c in children.get(op["id"], [])]:
            if not s["name"].startswith(args.name):
                continue
            row = span_row(s, raw["jobs"], raw["queries"])
            by_name.setdefault(s["name"], []).append(row)
            if not args.summary_only:
                label = ("  " * depth) + s["name"] + (f" #{op['op']}" if depth == 0 else "")
                print(fmt(label, row))
    print(f"\nmedians per span name ({raw['workload']}, seed {raw['seed']})")
    print(f"{'span':<40}{'n':>4}" + "".join(f"{c:>8}" for c in COLS))
    for name, rows in by_name.items():
        med = {c: statistics.median(r[c] for r in rows) for c in COLS}
        print(f"{name:<40}{len(rows):>4}" + "".join(f"{med[c]:>8.1f}" for c in COLS))


if __name__ == "__main__":
    main()
