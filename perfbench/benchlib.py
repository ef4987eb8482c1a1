"""Pure helpers of the benchmark: statistics, span self time, metric names,
and the per-layer metrics and gap table computed from a traced record.

Nothing here runs a program or touches the file system, so all of it is
covered by test_benchlib.py.
"""
import re
import statistics

import numpy as np

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# Reports in the order graft.Pipeline.REPORTS lists them.
REPORTS = (
    "dead_stock_report", "inventory_summary", "daily_trends", "weekly_trends",
    "monthly_trends", "peak_day_of_week", "peak_month", "abc_analysis",
    "stock_value_report", "financial_summary", "transfer_patterns",
    "warehouse_io_summary")

CALL_NAMES = {"full": "Pipeline.run[full]",
              "incremental": "Pipeline.run[incremental]",
              "curation": "CurationPipeline.run"}

END_TO_END_UNITS = {
    "run_s": "s", "rows_per_s": "rows/s", "cpu_s": "s", "out_bytes": "bytes",
    "cache_peak_mib": "MiB", "setup_s": "s", "error_rate": "fraction"}


def per_layer_units():
    """Every per-layer metric name → unit, in report order."""
    units = {
        "pipeline.actions": "count", "pipeline.jobs": "count",
        "pipeline.stages": "count", "pipeline.tasks": "count",
        "pipeline.readback_s": "s", "pipeline.driver_only_s": "s",
        "pipeline.core_busy_frac": "fraction",
        "plan.analysis_s": "s", "plan.optimization_s": "s",
        "plan.planning_s": "s",
        "tables.scan_rows": "rows", "tables.scan_bytes": "bytes",
        "tables.scans": "count",
    }
    for r in REPORTS:
        units[f"report.{r}.write_s"] = "s"
        units[f"report.{r}.rows"] = "rows"
        units[f"report.{r}.compute_s"] = "s"
    units.update({
        "sinks.bytes_written": "bytes", "sinks.files_written": "count",
        "sinks.dq_fanout_s": "s", "sinks.overwrite_in_place_s": "s",
        "sinks.summary_append_s": "s", "sinks.shard_write_s": "s",
        "incremental.has_new_data_s": "s", "incremental.delta_reports": "count",
        "incremental.delta_scan_rows": "rows",
        "curation.verdict_s": "s", "curation.count_s": "s",
        "curation.verdict_rows": "rows",
        "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
        "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
        "exec.spill_bytes": "bytes",
        "host.steal_pct": "%", "host.calib_s": "s",
        "trace.overhead_s": "s",
    })
    return units


def keep_mask(keys, seed):
    """Which rows a seed keeps: the splitmix64 hash of (seed, key) lands
    outside one of 8 buckets, so about 7/8 of the keys stay."""
    with np.errstate(over="ignore"):
        z = np.asarray(keys, dtype=np.int64).astype(np.uint64) \
            * np.uint64(0x9E3779B97F4A7C15) + np.uint64(seed % 2**64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    return z % np.uint64(8) != 0


def checkpoint(ts, seed, new_share):
    """The incremental checkpoint: the midnight after which about
    `new_share` of the timestamps fall, moved back 0-2 days by the seed."""
    ns = np.asarray(ts, dtype="datetime64[ns]").astype(np.int64)
    q = np.quantile(ns, 1.0 - new_share, method="lower")
    day = np.datetime64(int(q), "ns").astype("datetime64[D]") \
        - np.timedelta64(seed % 3, "D")
    return f"{day} 00:00:00"


def valid_name(name):
    """A metric or workload name: starts with a letter or digit, at most 64
    letters, digits, `_`, `.` and `-`."""
    return isinstance(name, str) and NAME_RE.fullmatch(name) is not None


def summary(values):
    """Median, sample count, and the highest of p90/p99/p99.9 that has at
    least ten samples beyond it (None when the sample is too small)."""
    if not values:
        raise ValueError("no samples")
    n = len(values)
    out = {"median": statistics.median(values), "n": n, "pct": None,
           "pct_value": None}
    for p in (99.9, 99.0, 90.0):
        if n * (100.0 - p) / 100.0 >= 10:
            ordered = sorted(values)
            out["pct"] = p
            out["pct_value"] = ordered[min(n - 1, int(n * p / 100.0))]
            break
    return out


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
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
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id → self time: its duration minus the part of its interval
    that its child spans cover. Times are in the spans' own unit."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        kids.get(s["id"], []), s["start"], s["end"]) for s in spans}


def norm_path(p):
    """Spark's `file:` URIs and plain paths → plain path without a
    trailing slash."""
    p = re.sub(r"^file:(//)?", "", p)
    return p.rstrip("/")


def rel_under(path, base):
    """`path` relative to `base`, or None when it is not under it."""
    path, base = norm_path(path), norm_path(base)
    if path == base:
        return ""
    if path.startswith(base + "/"):
        return path[len(base) + 1:]
    return None


def _dur(e):
    return (e["end_ms"] - e["start_ms"]) / 1000.0


def top_execs(call):
    """The call's top-level SQL executions (nested ones run inside them)."""
    return [e for e in call.get("execs", []) if e["root"] == e["id"]]


def written(e, out):
    """Output name an execution wrote under `out`, or None."""
    qe = e.get("qe") or {}
    w = qe.get("write_path")
    return rel_under(w, out) if w else None


def reads_only_under(e, base):
    scans = (e.get("qe") or {}).get("scans") or []
    return bool(scans) and all(
        rel_under(p, base) is not None for s in scans for p in s["paths"])


def category(e, out):
    """Which gap-table line an execution belongs to."""
    name = written(e, out)
    func = (e.get("qe") or {}).get("func")
    if name in REPORTS:
        return "report_write"
    if name is not None and name.endswith(".staging"):
        return "overwrite_in_place"
    if name == "dq_events":
        return "dq_fanout"
    if name == "analytics_daily_summary":
        return "summary_append"
    if name == "shards":
        return "shard_write"
    if func == "count" and reads_only_under(e, out):
        return "readback"
    if func == "count":
        return "count"
    return "other"


def table_scans(call, inputs):
    """Scans of the program's input tables (not of its own outputs)."""
    return [s for e in call.get("execs", []) for s in
            ((e.get("qe") or {}).get("scans") or [])
            if any(rel_under(p, d) is not None for p in s["paths"]
                   for d in inputs)]


def gap_table(call):
    """Lines that account for one traced call's wall time: its SQL
    executions by kind, then the time outside any of them."""
    out, wall = call["out"], call["wall_s"]
    lines = {}
    for e in top_execs(call):
        k = category(e, out)
        lines[k] = lines.get(k, 0.0) + _dur(e)
    inside = union_length([(e["start_ms"], e["end_ms"])
                           for e in top_execs(call)],
                          call["start_ms"], call["end_ms"]) / 1000.0
    lines["outside_sql"] = max(0.0, wall - inside)
    return lines


def spans_of(rec):
    """All spans of a traced record — bench-side spans around calls into
    the program, and one child span per SQL execution — with self time."""
    spans = []
    for i, c in enumerate(rec["trace"]["calls"]):
        cid = f"call{i}"
        spans.append({"id": cid, "name": CALL_NAMES[c["kind"]], "parent": None,
                      "call": c["kind"], "start": c["start_ms"],
                      "end": c["end_ms"]})
        ids = {e["id"] for e in c["execs"]}
        for e in c["execs"]:
            qe = e.get("qe") or {}
            target = written(e, c["out"])
            label = f"{qe.get('func', '?')} -> {target}" if target \
                else f"{qe.get('func', '?')} ({e['description']})"
            parent = f"{cid}.x{e['root']}" if e["root"] != e["id"] and \
                e["root"] in ids else cid
            spans.append({"id": f"{cid}.x{e['id']}", "name": label,
                          "parent": parent, "call": c["kind"],
                          "start": e["start_ms"], "end": e["end_ms"]})
    for j, s in enumerate(rec["trace"]["spans"]):
        spans.append({"id": f"bench{j}", "name": s["name"], "parent": None,
                      "call": s["call"], "start": s["start_ms"],
                      "end": s["end_ms"]})
    selfs = self_times(spans)
    for s in spans:
        s["self_ms"] = selfs[s["id"]]
    return spans


def layer_metrics(rec, untraced_run_s, steal_pct):
    """Every per-layer metric of a traced record (0 where the workload
    does not reach the layer)."""
    m = {k: 0.0 for k in per_layer_units()}
    tr = rec["trace"]
    main = tr["calls"][0]
    out, wall = main["out"], main["wall_s"]
    inputs = [rec["input_dir"], rec["input_dir"] + "_prior"]
    execs = top_execs(main)
    gap = gap_table(main)

    m["pipeline.actions"] = len(execs)
    m["pipeline.jobs"] = main["jobs"]
    m["pipeline.stages"] = main["stages"]
    m["pipeline.tasks"] = main["tasks"]
    m["pipeline.readback_s"] = gap.get("readback", 0.0)
    busy = union_length([tuple(j) for j in main["job_intervals"]],
                        main["start_ms"], main["end_ms"]) / 1000.0
    m["pipeline.driver_only_s"] = max(0.0, wall - busy)
    m["pipeline.core_busy_frac"] = main["task_run_s"] / (wall * rec["cpus"])
    for e in main["execs"]:
        for ph, secs in ((e.get("qe") or {}).get("phases") or {}).items():
            if f"plan.{ph}_s" in m:
                m[f"plan.{ph}_s"] += secs
    scans = table_scans(main, inputs)
    m["tables.scans"] = len(scans)
    m["tables.scan_rows"] = sum(s["rows"] for s in scans)
    m["tables.scan_bytes"] = sum(s["bytes"] for s in scans)
    for e in execs:
        name, qe = written(e, out), e.get("qe") or {}
        if name in REPORTS:
            m[f"report.{name}.write_s"] += _dur(e)
            m[f"report.{name}.rows"] += qe.get("write_rows", 0)
        m["sinks.bytes_written"] += qe.get("write_bytes", 0)
        m["sinks.files_written"] += qe.get("write_files", 0)
    m["sinks.dq_fanout_s"] = gap.get("dq_fanout", 0.0)
    m["sinks.summary_append_s"] = gap.get("summary_append", 0.0)
    m["sinks.shard_write_s"] = gap.get("shard_write", 0.0)

    inc = next((c for c in tr["calls"] if c["kind"] == "incremental"), None)
    if inc is not None:
        staged = [e for e in top_execs(inc) if category(e, inc["out"])
                  == "overwrite_in_place"]
        m["sinks.overwrite_in_place_s"] = sum(_dur(e) for e in staged)
        m["incremental.delta_reports"] = len(staged)
        m["incremental.delta_scan_rows"] = sum(
            s["rows"] for s in table_scans({"execs": staged}, inputs))
        m["incremental.has_new_data_s"] = sum(
            _dur(e) for e in top_execs(inc)
            if (e.get("qe") or {}).get("func") == "isEmpty")

    for s in tr["spans"]:
        name = s["name"]
        if name.startswith("report.") and name.endswith(".compute"):
            m[name + "_s"] = s["seconds"]
        elif name == "curation.verdict":
            m["curation.verdict_s"] = s["seconds"]
    if main["kind"] == "curation":
        m["curation.count_s"] = gap.get("count", 0.0) + gap.get("readback", 0.0)
        m["curation.verdict_rows"] = (main.get("result") or {}).get(
            "n_curated", 0)

    m["exec.task_s"] = main["task_run_s"]
    m["exec.cpu_s"] = main["task_cpu_s"]
    m["exec.gc_s"] = main["gc_s"]
    m["exec.shuffle_read_bytes"] = main["shuffle_read_bytes"]
    m["exec.shuffle_write_bytes"] = main["shuffle_write_bytes"]
    m["exec.spill_bytes"] = main["spill_bytes"]
    m["host.steal_pct"] = steal_pct
    m["host.calib_s"] = rec["calib_s"]
    m["trace.overhead_s"] = wall - untraced_run_s
    return m


GAP_LINES = (
    ("report_write", "sum report.*.write_s"),
    ("readback", "pipeline.readback_s"),
    ("dq_fanout", "sinks.dq_fanout_s"),
    ("summary_append", "sinks.summary_append_s"),
    ("overwrite_in_place", "sinks.overwrite_in_place_s"),
    ("shard_write", "sinks.shard_write_s"),
    ("count", "other counts"),
    ("other", "other SQL executions"),
    ("outside_sql", "outside SQL executions"),
)


def format_gap(call, metrics):
    """The gap table of one traced call as text lines."""
    gap = gap_table(call)
    wall = call["wall_s"]
    rows = [f"gap table: {call['kind']} call, wall {wall:.3f} s"]
    total = 0.0
    for key, label in GAP_LINES:
        if key in gap:
            total += gap[key]
            rows.append(f"  {label:<34} {gap[key]:8.3f} s "
                        f"{100.0 * gap[key] / wall:6.1f} %")
    rows.append(f"  {'= lines above':<34} {total:8.3f} s "
                f"{100.0 * total / wall:6.1f} %")
    compute = sum(metrics.get(f"report.{r}.compute_s", 0.0) for r in REPORTS)
    if compute:
        rows.append(f"  {'sum report.*.compute_s (noop)':<34} {compute:8.3f} s"
                    "   (separate calls; inside the write lines)")
    rows.append(f"  {'pipeline.driver_only_s':<34} "
                f"{metrics['pipeline.driver_only_s']:8.3f} s"
                "   (no Spark job running; overlaps the lines above)")
    return rows
