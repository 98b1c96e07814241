"""Arithmetic of the benchmark: percentiles with their sample counts, span
self time, the union of job intervals, and the reduction of one run's raw
record to its end-to-end and per-layer metrics."""
import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
FORMATS = ("parquet", "orc", "avro")
SUITE_MODULES = ("gold", "operators", "functions", "silver", "plans", "streaming",
                 "pipeline", "sources", "multimodal", "model")
# Steal above this share of all CPU time flags a run as noisy.
STEAL_FLAG = 0.05
# Per-layer metrics that both batch workloads measure: the last JSON line
# of a traced run carries these. The rest apply to one workload and are
# printed as report lines (LAYER_WORKLOADS).
COMMON_LAYER = tuple(
    [f"gold.refresh_s.{f}" for f in FORMATS] + ["gold.bytes_written"]
    + [f"sources.format.{f}.write_s" for f in FORMATS]
    + ["catalyst.statements", "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
       "exec.jobs", "exec.stages", "exec.tasks", "exec.job_s", "exec.driver_gap_s",
       "exec.task_cpu_s", "exec.task_run_s", "exec.ser_s", "exec.shuffle_bytes",
       "jvm.gc_s", "trace.unattributed_frac"])
# Metric-name prefixes that only some workloads exercise.
LAYER_WORKLOADS = {
    "bronze.": ("medallion",), "silver.": ("medallion",),
    "gold.": ("medallion", "star_formats"), "plans.": ("star_formats",),
    "sources.table.": ("star_formats",), "sources.v2.": ("star_formats",),
    "sources.scan.": ("star_formats",), "suite.": ("query_suite",),
}


def layer_applies(name, workload):
    """Whether the workload exercises the layer behind a per-layer metric."""
    if name.startswith("sources.format."):
        return workload == "star_formats" or name.endswith(".write_s") and workload == "medallion"
    for prefix, workloads in LAYER_WORKLOADS.items():
        if name.startswith(prefix):
            return workload in workloads
    return True


def percentile(values, p):
    """Linear-interpolated percentile (the 'exclusive' rule of
    statistics.quantiles is not defined for small samples)."""
    xs = sorted(values)
    if not xs:
        return None
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """Highest percentile with at least ten samples beyond it, or None."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of [a, b) intervals, clipped to [lo, hi)."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a >= end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """span id -> duration minus the part of it its children cover; children
    that overlap each other are counted once."""
    children = {}
    for s in spans:
        if s["parent"] >= 0:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - union_length(children.get(s["id"], []), s["t0"], s["t1"])
            for s in spans}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


class Attributor:
    """Maps a time to the innermost span open at that time."""

    def __init__(self, spans):
        self.spans = sorted(spans, key=lambda s: (s["t0"], -s["t1"]))
        self.by_id = {s["id"]: s for s in spans}

    def at(self, t):
        best = None
        for s in self.spans:
            if s["t0"] > t:
                break
            if s["t0"] <= t < s["t1"] and (best is None or s["t0"] >= best["t0"]):
                best = s
        return best

    def op_of(self, s):
        while s is not None and s["parent"] >= 0:
            s = self.by_id[s["parent"]]
        return s


def host_metrics(raw):
    """Steal seconds, busy share and median load over the timed phase."""
    samples = raw["host"]
    start = next((h for h in samples if h["at"] == "timed_start"), samples[0])
    end = next((h for h in samples if h["at"] == "timed_end"), samples[-1])
    a, b = start["cpu"], end["cpu"]
    if len(a) < 8 or len(b) < 8:
        return {"steal_s": 0.0, "busy_frac": 0.0, "load1": 0.0, "steal_frac": 0.0}
    d = [y - x for x, y in zip(a, b)]
    total = sum(d) or 1
    idle = d[3] + d[4]
    steal = d[7]
    loads = [h["load1"] for h in samples if start["t"] <= h["t"] <= end["t"]]
    return {"steal_s": steal / 100.0, "busy_frac": (total - idle) / total,
            "load1": median(loads), "steal_frac": steal / total}


def primary_ops(raw):
    return [s for s in raw["spans"] if s["parent"] < 0 and s["name"] in ("batch", "query")]


def end_to_end(raw):
    """The gated metrics of the workload, {name: (value, unit)}, and a report
    of every end-to-end metric that applies as (name, value, unit, samples).
    Returns (gated, report, attempted, failed)."""
    ops = primary_ops(raw)
    all_ops = [s for s in raw["spans"] if s["parent"] < 0]
    walls = [(s["t1"] - s["t0"]) / 1000.0 for s in ops]
    elapsed = (raw["timed"]["t1"] - raw["timed"]["t0"]) / 1000.0
    setup = raw["setup"]
    setup_s = setup["session_s"] + median(setup["prep_s"]) + setup["warmup_s"]
    heap = raw["jvm"]["heap_peak_mb"]
    failed = sum(1 for s in all_ops if not s["attrs"].get("ok", True))
    failed += sum(1 for c in raw["checks"] if not c["ok"])
    attempted = len(all_ops) + len(raw["checks"])
    live = raw["jvm"]["heap_live_mb"]
    report = [("setup_s", setup_s, "s", len(setup["prep_s"])),
              ("heap_peak_mb", heap, "MB", 1),
              ("heap_live_mb", live, "MB", 1),
              ("fail_ratio", failed / attempted if attempted else 0.0, "ratio", attempted)]
    wl = raw["workload"]
    facts = raw["facts"]
    if wl == "query_suite":
        p = tail_percentile(len(walls))
        per_query = {}
        for s in ops:
            per_query.setdefault(s["attrs"]["query"], []).append((s["t1"] - s["t0"]) / 1000.0)
        total = sum(median(v) for v in per_query.values())
        report += [("query_p50_s", median(walls), "s", len(walls)),
                   ("query_total_s", total, "s", len(per_query))]
        if p is not None:
            report += [(f"query_p{p:g}_s", percentile(walls, p), "s", len(walls))]
        gated = {"setup_s": (setup_s, "s"), "query_p50_s": (median(walls), "s"),
                 "query_total_s": (total, "s"), "heap_live_mb": (live, "MB")}
        return gated, report, attempted, failed
    rows = sum(s["attrs"].get("rows", 0) for s in ops)
    rows_per_s = rows / elapsed if elapsed > 0 else 0.0
    per_row = facts["stored_bytes"] / max(1, facts["live_rows"])
    report += [("cycle_p50_s", median(walls), "s", len(walls)),
               ("rows_per_s", rows_per_s, "1/s", len(walls)),
               ("stored_bytes_per_row", per_row, "B", 1)]
    if wl == "star_formats":
        merges = [(s["t1"] - s["t0"]) / 1000.0 for s in raw["spans"] if s["name"].startswith("plans.merge.")]
        scans = [(s["t1"] - s["t0"]) / 1000.0 for s in all_ops if s["name"] == "scan"]
        report += [("scan_p50_s", median(scans), "s", len(scans))]
        if merges:
            report += [("merge_p50_s", median(merges), "s", len(merges))]
    gated = {"setup_s": (setup_s, "s"), "cycle_p50_s": (median(walls), "s"),
             "rows_per_s": (rows_per_s, "1/s"), "stored_bytes_per_row": (per_row, "B"),
             "heap_live_mb": (live, "MB")}
    return gated, report, attempted, failed


def per_layer(raw):
    """Per-layer metrics of a traced run (see README.md for definitions)."""
    spans = raw["spans"]
    att = Attributor(spans)
    ops = primary_ops(raw)
    n_ops = max(1, len(ops))
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def durs(name):
        return [(s["t1"] - s["t0"]) / 1000.0 for s in by_name.get(name, [])]

    def span_of(t):
        return att.at(t)

    m = {}
    # bronze / silver / gold (medallion)
    batch_ops = [s for s in ops if s["name"] == "batch"]
    bronze_bytes = [s["attrs"].get("bronze_bytes", 0) for s in batch_ops]
    silver_bytes = [s["attrs"].get("silver_bytes", 0) for s in batch_ops]
    m["bronze.land_s"] = median(durs("bronze"))
    m["bronze.bytes_written"] = mean(bronze_bytes)
    up = durs("silver")
    m["silver.upsert_s"] = median(up)
    m["silver.bytes_written"] = mean(silver_bytes)
    m["silver.write_amp"] = sum(silver_bytes) / sum(bronze_bytes) if sum(bronze_bytes) else 0.0
    q = max(1, len(up) // 4)
    m["silver.upsert_growth"] = median(up[-q:]) / median(up[:q]) if len(up) >= 2 and median(up[:q]) else 0.0

    # Catalyst statements, with the file format a V1 write used
    stmts = []
    for e in raw["queries"]:
        s = span_of(e["t"])
        stmts.append((e, s))
    for fmt in FORMATS:
        # star_formats: one span per format; medallion: the format's write
        # statements inside the gold span
        per = durs(f"gold.{fmt}")
        if not per:
            per_span = {}
            for e, s in stmts:
                if s is not None and s["name"] == "gold" and e.get("format") == fmt:
                    per_span[s["id"]] = per_span.get(s["id"], 0.0) + e["dur_ms"] / 1000.0
            per = list(per_span.values())
        m[f"gold.refresh_s.{fmt}"] = median(per)
    m["gold.bytes_written"] = mean([s["attrs"].get("gold_bytes", 0) for s in batch_ops])

    # stages attributed through their job's start time
    stage_span = {}
    for j in raw["jobs"]:
        s = span_of(j["t0"])
        for sid in j["stages"]:
            stage_span[sid] = s
    stages = [(st, stage_span.get(st["id"])) for st in raw["stages"]]

    def stage_sum(key, pred):
        return sum(st.get(key, 0) for st, s in stages if s is not None and pred(s))

    # plans (MERGE INTO)
    for fmt in FORMATS:
        m[f"plans.merge_s.{fmt}"] = median(durs(f"plans.merge.{fmt}"))
    merged_rows = sum(s["attrs"].get("rows", 0) for s in batch_ops) * len(FORMATS)
    rewritten = stage_sum("out_rows", lambda s: s["name"].startswith("plans.merge."))
    m["plans.merge_useful_ratio"] = merged_rows / rewritten if rewritten and durs("plans.merge.parquet") else 0.0

    # sources.table (catalog commits and bytes, from the filesystem and .files)
    facts = raw["facts"]
    fmts = facts.get("formats", {})
    counters = raw["counters"]
    commits = sum(f["version"] - counters.get(f"version_start.{k}", f["version"]) for k, f in fmts.items())
    m["sources.table.commits"] = commits / n_ops if fmts else 0.0
    m["sources.table.manifest_bytes_written"] = mean([s["attrs"].get("meta_bytes", 0) for s in batch_ops])
    m["sources.table.live_files"] = sum(f["live_files"] for f in fmts.values())
    m["sources.table.data_bytes_written"] = mean([s["attrs"].get("data_bytes", 0) for s in batch_ops])

    # sources.v2 (maintenance procedures)
    maint = [s for s in spans if s["parent"] < 0 and s["name"] == "maintain"]
    nm = max(1, len(maint))
    m["sources.v2.maintain_s"] = mean([(s["t1"] - s["t0"]) / 1000.0 for s in maint])
    m["sources.v2.bytes_rewritten"] = counters.get("maintain.bytes_rewritten", 0.0) / nm
    m["sources.v2.files_before"] = counters.get("maintain.files_before", 0.0) / nm
    m["sources.v2.files_after"] = counters.get("maintain.files_after", 0.0) / nm

    # sources.scan and sources.format
    scan_ops = [s for s in spans if s["parent"] < 0 and s["name"] == "scan"]
    read = [stage_sum("in_bytes", lambda s, o=o: att.op_of(s) is o) for o in scan_ops]
    m["sources.scan.bytes_read"] = mean(read)
    live = [o["attrs"].get("live_bytes", 0) for o in scan_ops]
    m["sources.scan.read_fraction"] = sum(read) / sum(live) if sum(live) else 0.0
    for fmt in FORMATS:
        writes = [s for s in spans if s["name"] in (f"plans.merge.{fmt}", f"gold.{fmt}")]
        w = sum((s["t1"] - s["t0"]) / 1000.0 for s in writes) / n_ops if writes else \
            m[f"gold.refresh_s.{fmt}"]
        m[f"sources.format.{fmt}.write_s"] = w
        fo = [o for o in scan_ops if o["attrs"].get("format") == fmt]
        m[f"sources.format.{fmt}.scan_s"] = median([(o["t1"] - o["t0"]) / 1000.0 for o in fo])
        cpu = [stage_sum("cpu_ns", lambda s, o=o: att.op_of(s) is o) / 1e9 for o in fo]
        m[f"sources.format.{fmt}.scan_cpu_s"] = mean(cpu)
        f = fmts.get(fmt)
        m[f"sources.format.{fmt}.bytes_per_row"] = f["live_bytes"] / f["rows"] if f and f["rows"] else 0.0

    # catalyst and exec, per primary op
    op_ids = {o["id"] for o in ops}

    def in_primary(s):
        return s is not None and att.op_of(s)["id"] in op_ids

    in_ops = [(e, s) for e, s in stmts if in_primary(s)]
    m["catalyst.statements"] = len(in_ops) / n_ops
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = sum(e[f"{ph}_ms"] for e, _ in in_ops) / 1000.0 / n_ops
    jobs_in = [j for j in raw["jobs"] if in_primary(span_of(j["t0"]))]
    st_in = [st for st, s in stages if in_primary(s)]
    m["exec.jobs"] = len(jobs_in) / n_ops
    m["exec.stages"] = len(st_in) / n_ops
    m["exec.tasks"] = sum(st["tasks"] for st in st_in) / n_ops
    m["exec.job_s"] = sum(j.get("t1", j["t0"]) - j["t0"] for j in jobs_in) / 1000.0 / n_ops
    gaps = []
    for o in ops:
        iv = [(j["t0"], j.get("t1", j["t0"])) for j in raw["jobs"]]
        gaps.append(((o["t1"] - o["t0"]) - union_length(iv, o["t0"], o["t1"])) / 1000.0)
    m["exec.driver_gap_s"] = mean(gaps)
    m["exec.task_cpu_s"] = sum(st.get("cpu_ns", 0) for st in st_in) / 1e9 / n_ops
    m["exec.task_run_s"] = sum(st.get("run_ms", 0) for st in st_in) / 1000.0 / n_ops
    m["exec.ser_s"] = sum(st.get("ser_ms", 0) + st.get("deser_ms", 0) for st in st_in) / 1000.0 / n_ops
    m["exec.shuffle_bytes"] = sum(st.get("shuffle_write", 0) for st in st_in) / n_ops
    m["exec.spill_bytes"] = sum(st.get("spill", 0) for st in st_in) / n_ops

    # suite: wall per implementing module over one pass, each query at
    # its median
    if raw["workload"] == "query_suite":
        per_query = {}
        for o in ops:
            per_query.setdefault((o["attrs"]["module"], o["attrs"]["query"]), []).append(
                (o["t1"] - o["t0"]) / 1000.0)
        for mod in SUITE_MODULES:
            m[f"suite.{mod}_s"] = sum(median(v) for (md, _), v in per_query.items() if md == mod)

    m["jvm.gc_s"] = raw["jvm"]["gc_s"]
    h = host_metrics(raw)
    m["host.steal_s"] = h["steal_s"]
    m["host.load1"] = h["load1"]
    m["host.busy_frac"] = h["busy_frac"]

    # share of op wall outside every layer span (the op's own self time)
    st = self_times(spans)
    m["trace.unattributed_frac"] = mean([st[o["id"]] / (o["t1"] - o["t0"]) for o in ops if o["t1"] > o["t0"]])
    return m
