"""Turns one run's result file into the benchmark's metrics.

End-to-end metrics come from the untraced run; per-layer metrics from the
spans, Spark job counts, scan sizes and streaming progress of the traced run.
"""

import math
import statistics

# name -> unit; the order is the order BENCHMARK.json lists them in
END_TO_END = {
    "setup_s": "s",
    "epoch_p50_s": "s",
    "epoch_tail_s": "s",
    "rows_per_s": "1/s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "report_p50_s": "s",
    "report_tail_s": "s",
    "heap_live_mb": "MB",
    "ops_ok_frac": "ratio",
}

SPARK_COUNTS = ("exec_cpu_s", "gc_s", "input_bytes", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "output_bytes", "tasks")

# the layer spans; each reports its time, its driver time and every Spark
# count. None has child spans, so its self time is its time and is not listed
# again; the only span with children, the epoch, reports its self time as
# epoch.uncovered_frac.
LAYER_SPANS = ("KeyedTable.merge", "Aggregations.refresh", "BookingFlow.loadCustomerDim",
               "ChangeFeed.readNew", "ChangeFeed.commit", "BookingFlow.bookingTransform",
               "KeyedTable.current", "KeyedTable.currentForKeys", "KeyedTable.atVersion",
               "Aggregations.bookingAggregation")
SPAN_VALUES = ("s", "driver_s") + SPARK_COUNTS
# span name -> its span-level metrics
SPAN_METRICS = {name: SPAN_VALUES for name in LAYER_SPANS}
SPAN_METRICS["KeyedTable.merge"] += ("bytes_written", "files_written", "feed_scan_ratio")
SPAN_METRICS["BookingFlow.loadCustomerDim"] += ("files",)
for _read in ("KeyedTable.current", "KeyedTable.currentForKeys", "KeyedTable.atVersion"):
    SPAN_METRICS[_read] += ("files_scanned",)
SPAN_METRICS["report.country_scan"] = ("s",)
SPAN_METRICS["epoch"] = ("exec_cpu_s",)
STREAM_PHASES = ("triggerExecution", "addBatch", "latestOffset", "queryPlanning", "walCommit")
TABLES = ("fact", "dim", "agg")
TABLE_STATS = ("versions", "files_current", "bytes_current", "bytes_total")
# spans that only group other spans; they do not count as covering an epoch
WRAPPERS = {"epoch", "BookingFlow.loadBookingFactBatch"}


def per_layer_names():
    names = ["%s.%s" % (span, m) for span, ms in SPAN_METRICS.items() for m in ms]
    names += ["stream.%s.s" % p for p in STREAM_PHASES]
    names += ["KeyedTable.%s.%s" % (t, s) for t in TABLES for s in TABLE_STATS]
    names += ["epoch.uncovered_frac", "trace.overhead_s"]
    return names


PER_LAYER_UNITS = {"s": "s", "driver_s": "s", "exec_cpu_s": "s",
                   "gc_s": "s", "tasks": "count", "files": "count",
                   "files_written": "count", "files_scanned": "count",
                   "versions": "count", "files_current": "count",
                   "feed_scan_ratio": "ratio", "uncovered_frac": "ratio",
                   "overhead_s": "s"}


def per_layer_unit(name):
    return PER_LAYER_UNITS.get(name.rsplit(".", 1)[1], "bytes")


def tail(values):
    """The highest whole percentile with at least ten samples beyond it, by
    nearest rank. With fewer than twenty samples no percentile above the
    median qualifies, and the median is returned as p50.
    Returns (value, percentile, samples beyond it)."""
    s = sorted(values)
    n = len(s)
    for q in range(99, 50, -1):
        rank = math.ceil(q * n / 100)
        if n - rank >= 10:
            return s[rank - 1], q, n - rank
    return statistics.median(s), 50, n // 2


def end_to_end(r):
    epochs = [e for e in r["epochs"] if not e["traced"]]
    reads = [p for p in r["reads"] if not p["traced"] and p["ok"]]
    es = [e["s"] for e in epochs]
    rs = [p["s"] for p in reads]
    tables = r["tables"].values()
    attempted, failed = attempts(r)
    m = {
        "setup_s": r["setup"]["base_s"] + sum(r["setup"]["warmup_s"]),
        "epoch_p50_s": statistics.median(es),
        "epoch_tail_s": tail(es)[0],
        "rows_per_s": sum(e["accepted"] for e in epochs) / sum(es),
        "write_amp": r["written_bytes"] / sum(e["landed_bytes"] for e in r["epochs"]),
        "space_amp": sum(t["bytes_total"] for t in tables) / sum(t["bytes_current"] for t in tables),
        "report_p50_s": statistics.median(rs),
        "report_tail_s": tail(rs)[0],
        "heap_live_mb": r["heap_live_mb"],
        "ops_ok_frac": (attempted - failed) / attempted,
    }
    return m, {"epoch_tail_s": tail(es), "report_tail_s": tail(rs),
               "epochs": len(es), "report_passes": len(rs)}


def attempts(r):
    ops = r["epochs"] + r["reads"] + r["checks"]
    return len(ops), sum(1 for o in ops if not o["ok"])


def _union(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def per_layer(r):
    spans = {s["id"]: s for s in r["spans"]}
    children = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append(s["id"])

    def subtree(i):
        out = [i]
        for c in children.get(i, []):
            out += subtree(c)
        return out

    jobs_of = {}
    for j in r["spark"].get("jobs", []):
        jobs_of.setdefault(j["span"], []).append(j)

    def span_values(s):
        ids = subtree(s["id"])
        jobs = [j for i in ids for j in jobs_of.get(i, [])]
        dur = s["end"] - s["start"]
        v = {"s": dur / 1e3}
        for c in SPARK_COUNTS + ("feed_rows_scanned",):
            v[c] = sum(j.get(c, 0.0) for j in jobs)
        v["driver_s"] = (dur - _union([(j["start"], j["end"]) for j in jobs],
                                      s["start"], s["end"])) / 1e3
        v.update(s["attrs"])
        return v

    # per-epoch (or per-pass) sums of each span name, then the median
    groups = {}
    for s in spans.values():
        if s["name"] not in SPAN_METRICS:
            continue
        key = (s["name"], s["epoch"] if s["epoch"] >= 0 else s["id"])
        acc = groups.setdefault(key, {})
        for k, x in span_values(s).items():
            acc[k] = acc.get(k, 0.0) + x
    landed = {s["epoch"]: s["attrs"].get("landed_feed_rows", 0.0)
              for s in spans.values() if s["name"] == "epoch"}
    for (name, ep), acc in groups.items():
        if name == "KeyedTable.merge" and landed.get(ep):
            acc["feed_scan_ratio"] = acc["feed_rows_scanned"] / landed[ep]

    out = {}
    for name, ms in SPAN_METRICS.items():
        rows = [acc for (n, _), acc in groups.items() if n == name]
        for m in ms:
            out["%s.%s" % (name, m)] = statistics.median([a.get(m, 0.0) for a in rows]) if rows else 0.0

    progress = r["spark"].get("stream", [])
    for p in STREAM_PHASES:
        vals = [x.get(p, 0) / 1e3 for x in progress]
        out["stream.%s.s" % p] = statistics.median(vals) if vals else 0.0

    for t in TABLES:
        for st in TABLE_STATS:
            out["KeyedTable.%s.%s" % (t, st)] = float(r["tables"][t][st])

    uncovered = []
    for s in spans.values():
        if s["name"] != "epoch":
            continue
        covering = [spans[i] for i in subtree(s["id"]) if spans[i]["name"] not in WRAPPERS]
        dur = s["end"] - s["start"]
        uncovered.append((dur - _union([(c["start"], c["end"]) for c in covering],
                                       s["start"], s["end"])) / dur)
    out["epoch.uncovered_frac"] = statistics.median(uncovered) if uncovered else 0.0

    traced = [e["s"] for e in r["epochs"] if e["traced"]]
    plain = [e["s"] for e in r["epochs"] if not e["traced"]]
    out["trace.overhead_s"] = (statistics.median(traced) - statistics.median(plain)
                               if traced and plain else 0.0)
    return out
