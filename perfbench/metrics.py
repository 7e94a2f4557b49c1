"""Reduce one run's raw samples and spans (written by `perfbench.Main`)
to the metrics named in BENCHMARK.json."""
import math
import statistics

LAYERS = ["datagen", "extract", "load", "validate", "report", "queries", "stores"]
COUNTERS = ["wall_ms", "jobs", "tasks", "plan_ms", "gap_ms", "run_ms", "gc_ms",
            "in_mb", "out_mb", "shuffle_mb", "spill_mb"]
MB = 1024.0 * 1024.0


def tail_percentile(n):
    """Highest whole percentile p whose nearest-rank value has at least 10
    of the n samples beyond it, or None when n < 11."""
    for p in range(99, 0, -1):
        rank = -(-p * n // 100)  # ceil(p * n / 100)
        if n - rank >= 10:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile."""
    xs = sorted(values)
    rank = max(1, -(-p * len(xs) // 100))
    return xs[rank - 1]


def self_times(spans):
    """Span id -> duration minus the part of it its children cover (us)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length([(k["start_us"], k["end_us"]) for k in kids.get(s["id"], [])],
                               s["start_us"], s["end_us"])
        out[s["id"]] = (s["end_us"] - s["start_us"]) - covered
    return out


def union_length(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def gap_ms(span):
    """Time in the span during which no Spark job was running."""
    lo, hi = span["start_us"] / 1000.0, span["end_us"] / 1000.0
    busy = union_length([tuple(j) for j in span["counters"]["job_intervals"]], lo, hi)
    return (hi - lo) - busy


def layer_counters(spans, layer):
    """Summed counters of every span named `layer`."""
    tot = dict.fromkeys(COUNTERS, 0.0)
    for s in spans:
        if s["name"] != layer:
            continue
        c = s["counters"]
        tot["wall_ms"] += (s["end_us"] - s["start_us"]) / 1000.0
        tot["gap_ms"] += gap_ms(s)
        for k in ("jobs", "tasks", "plan_ms", "run_ms", "gc_ms"):
            tot[k] += c[k]
        tot["in_mb"] += c["scan_bytes"] / MB
        tot["out_mb"] += c["out_bytes"] / MB
        tot["shuffle_mb"] += c["shuffle_bytes"] / MB
        tot["spill_mb"] += c["spill_bytes"] / MB
    return tot


def call_sites(spans):
    """Layer -> source file named in each job's short call site -> jobs."""
    out = {}
    for s in spans:
        for site, n in s["counters"]["call_sites"].items():
            f = site.rsplit(" at ", 1)[-1].split(":")[0]
            d = out.setdefault(s["name"], {})
            d[f] = d.get(f, 0) + n
    return out


def geomean(values):
    """Geometric mean: every operation weighs the same, however long."""
    return math.exp(statistics.mean(math.log(v) for v in values)) if values else 0.0


def end_to_end(raw):
    """Untraced metrics: (metrics, attempted, failed)."""
    ops = raw["ops"]
    if raw["workload"] == "dw_daily":
        days = raw["days"]
        op_s = [d["cycle_s"] for d in days]
        pass_s = [d["cycle_s"] + d["report_s"] for d in days]
        extra_attempts = 1  # the final DW check
    else:
        op_s = [o["seconds"] for o in ops if o["ok"]]
        pass_s = [p["seconds"] for p in raw["passes"]]
        extra_attempts = raw["checked"]
    attempted = len(ops) + extra_attempts
    failed = sum(1 for o in ops if not o["ok"])
    failed += len(raw.get("check_failed", [])) + (1 if raw.get("dw_check_mismatches") else 0)
    m = {
        "setup_s": (raw["setup_s"], "s"),
        "op_gmean_s": (geomean(op_s), "s"),
        "pass_s": (statistics.median(pass_s) if pass_s else 0.0, "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    return m, attempted, failed


def per_layer(raw):
    """Traced metrics, per traced unit of work (a day or a pass)."""
    spans = raw["spans"]
    traced_units = sorted({s["op"] for s in spans if s["name"] in ("day", "pass")}) or [0]
    n = float(len(traced_units))
    m = {}
    for layer in LAYERS:
        tot = layer_counters(spans, layer)
        for k in COUNTERS:
            unit = "ms" if k.endswith("_ms") else "MB" if k.endswith("_mb") else "count"
            m[f"{layer}.{k}"] = (tot[k] / n, unit)
    load = layer_counters(spans, "load")
    days = [d for d in raw.get("days", []) if d["traced"]]
    csv = sum(d["delta_csv_bytes"] for d in days) / MB
    ratio = (lambda a, b: a / b if b else 0.0)
    m["load.in_per_delta"] = (ratio(load["in_mb"], csv), "ratio")
    m["load.shuffle_per_delta"] = (ratio(load["shuffle_mb"], csv), "ratio")
    m["load.out_per_delta"] = (ratio(load["out_mb"], csv), "ratio")
    incoming = sum(d["stats"].get("incoming", 0) for d in days)
    m["load.update_share"] = (ratio(sum(d["stats"].get("updates", 0) for d in days), incoming), "ratio")
    m["load.kept_share"] = (ratio(incoming, sum(d["delta_rows"] for d in days)), "ratio")
    reports = [s for s in spans if s["name"] == "report"]
    m["report.files_read"] = (ratio(sum(s["counters"]["files_read"] for s in reports), len(reports)), "count")
    last = raw.get("days", [])[-1:] or [{}]
    m["dw.files"] = (float(last[0].get("dw_files", 0)), "count")
    m["dw.bytes_per_row"] = (ratio(last[0].get("dw_bytes", 0), last[0].get("dw_rows", 0)), "B")
    for layer in ("queries", "stores"):
        tot = layer_counters(spans, layer)
        m[f"{layer}.plan_share"] = (ratio(tot["plan_ms"], tot["wall_ms"]), "ratio")
    selfs = self_times(spans)
    harness = sum(selfs[s["id"]] for s in spans if s["name"] in ("day", "pass")) / 1000.0
    m["harness.self_ms"] = (harness / n, "ms")
    m["trace.overhead_pct"] = (overhead_pct(raw), "%")
    return m


def overhead_pct(raw):
    """Traced against untraced time for the same work in one run."""
    if raw["workload"] == "dw_daily":
        t = [d["cycle_s"] for d in raw["days"] if d["traced"]]
        u = [d["cycle_s"] for d in raw["days"] if not d["traced"]]
    else:
        t = [p["seconds"] for p in raw["passes"] if p["traced"]]
        u = [p["seconds"] for p in raw["passes"] if not p["traced"]]
    if not t or not u:
        return 0.0
    return 100.0 * (sum(t) / len(t) / (sum(u) / len(u)) - 1.0)
