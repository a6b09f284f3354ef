"""Metric math of the benchmark: medians, tail percentile, rates, span
self time, and the end-to-end and per-layer metrics derived from one run's
raw samples (the JSON the Scala harness writes)."""

import statistics

from gen import MIX_QUERIES

MB = 1e6

# name -> unit, in the order they are printed
END_TO_END = {
    "ingest_mbps": "MB/s",
    "traffic_pct": "%",
    "op_s_min": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "plan.s": "s", "plan.files": "count", "plan.chunks": "count",
    "plan.chunks_per_mb": "1/MB",
    "hash.s": "s", "hash.mb": "MB", "hash.mbps": "MB/s",
    "chunk.s": "s", "chunk.tasks": "count", "chunk.task_s": "s",
    "chunk.shuffle_mb": "MB", "chunk.spill_mb": "MB", "chunk.gc_s": "s",
    "dedup.s": "s", "dedup.jobs": "count", "dedup.stages": "count",
    "dedup.task_s": "s", "dedup.sched_wait_s": "s", "dedup.shuffle_mb": "MB",
    "dedup.spill_mb": "MB", "dedup.gc_s": "s", "dedup.probes": "count", "dedup.hits": "count",
    "dedup.hit_ratio": "ratio",
    "stats.s": "s", "stats.jobs": "count", "stats.stages": "count", "stats.rows": "count",
    "wave.jobs": "count", "wave.stages": "count", "wave.tasks": "count",
    "wave.task_s": "s", "wave.driver_s": "s", "wave.hit_ratio": "ratio",
    "store.files": "count", "store.rows": "count", "store.mb": "MB", "store.scan_s": "s",
    "restore.s": "s", "restore.mbps": "MB/s", "restore.shuffle_mb": "MB",
    "restore.spill_mb": "MB", "restore.write_mb": "MB", "restore.gc_s": "s",
    "op.self_s": "s",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "trace.overhead_pct": "%",
}
QUERY_LAYER = {"s": "s", "stages": "count", "tasks": "count", "shuffle_mb": "MB",
               "spill_mb": "MB", "gc_s": "s"}
PER_LAYER.update({f"query.{q}.{k}": u for q in MIX_QUERIES for k, u in QUERY_LAYER.items()})


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile that still has at least ten samples beyond it.

    With n samples that is the (n-10)-th smallest, at percentile
    100 * (n - 10) / n. Returns (value, percentile); None below 11 samples.
    """
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None
    return xs[n - 11], 100.0 * (n - 10) / n


def rate_mb(nbytes, seconds):
    """MB (10^6 bytes) per second; 0 for an empty interval."""
    return nbytes / MB / seconds if seconds > 0 else 0.0


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part of it covered by its child spans (ms)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        kids = [(max(a, s["start_ms"]), min(b, s["end_ms"]))
                for a, b in children.get(s["id"], [])]
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered([k for k in kids if k[1] > k[0]])
    return out


def timed_ops(raw, traced):
    return [o for o in raw["ops"] if o.get("ok") and o["traced"] == traced]


def unstolen(seconds, steal):
    """Wall seconds minus the share the hypervisor gave to other guests."""
    return seconds * (1.0 - steal)


def best_parts(ops):
    """Part name -> its best unstolen time over the operations."""
    best = {}
    for o in ops:
        for part, seconds in o["parts"].items():
            t = unstolen(seconds, o["steal"])
            best[part] = min(best.get(part, t), t)
    return best


def end_to_end(raw):
    """End-to-end metrics. An operation's time is the sum of the best time
    each of its parts took in the run (the part least disturbed by other
    guests; the parts are ingest and restore, or one query each), counting
    only the CPU share the machine kept (see `unstolen`), and so is the
    set-up time; memory and traffic are as measured. Every part but the
    restore is ingest."""
    ops = timed_ops(raw, traced=False)
    best = best_parts(ops)
    ingest_s = sum(s for part, s in best.items() if part != "restore_s")
    return {
        "ingest_mbps": rate_mb(median(o["bytes"] for o in ops), ingest_s),
        "traffic_pct": raw["traffic_pct"],
        "op_s_min": sum(best.values()),
        "setup_s": unstolen(raw["setup"]["seconds"], raw["setup"]["steal"]),
        "peak_rss_mb": raw["vmhwm_kb"] * 1024 / MB,
    }


def tracing_overhead_pct(raw):
    """Median over traced operations of its time against the mean of its
    untraced neighbours (operations alternate), in percent; pairing with the
    neighbours cancels the trend of operations getting faster in a run."""
    ok = {o["id"]: o for o in raw["ops"] if o.get("ok")}
    ratios = []
    for o in ok.values():
        if o["traced"]:
            nb = [ok[i]["seconds"] for i in (o["id"] - 1, o["id"] + 1)
                  if i in ok and not ok[i]["traced"]]
            if nb:
                ratios.append(o["seconds"] * len(nb) / sum(nb))
    return 100.0 * (median(ratios) - 1.0) if ratios else 0.0


def per_layer(raw):
    """Per-layer metrics: for each layer, the median over traced operations
    of that operation's total for the layer's spans."""
    spans = raw["spans"]
    selfs = self_times(spans)
    ops = [o["id"] for o in timed_ops(raw, traced=True)]

    def per_op(name, value):
        vals = []
        for op in ops:
            ss = [s for s in spans if s["op"] == op and s["name"] == name]
            if ss:
                vals.append(sum(value(s) for s in ss))
        return vals

    def med(name, value):
        return median(per_op(name, value))

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def ctr(key, scale=1.0):
        return lambda s: s["counters"][key] * scale

    def attr(key, scale=1.0):
        return lambda s: s["attrs"].get(key, 0.0) * scale

    def ratio(name, num, den):
        n, d = sum(per_op(name, attr(num))), sum(per_op(name, attr(den)))
        return n / d if d else 0.0

    def driver_s(s):
        busy = covered([(max(a, s["start_ms"]), min(b, s["end_ms"]))
                        for a, b in s["counters"]["task_intervals_ms"]])
        return (dur(s) * 1e3 - busy) / 1e3

    m = {}
    m["plan.s"] = med("plan", dur)
    m["plan.files"] = med("plan", attr("files"))
    m["plan.chunks"] = med("plan", attr("chunks"))
    plan_mb = med("plan", attr("bytes", 1 / MB))
    m["plan.chunks_per_mb"] = m["plan.chunks"] / plan_mb if plan_mb else 0.0
    m["hash.s"] = med("hash", dur)
    m["hash.mb"] = med("hash", attr("bytes", 1 / MB))
    m["hash.mbps"] = median(rate_mb(s["attrs"]["bytes"], dur(s))
                            for s in spans if s["name"] == "hash")
    for layer in ("chunk", "dedup", "stats", "restore"):
        m[f"{layer}.s"] = med(layer, dur)
    for layer in ("chunk", "dedup", "restore"):
        m[f"{layer}.gc_s"] = med(layer, ctr("gc_ms", 1e-3))
        m[f"{layer}.shuffle_mb"] = med(layer, ctr("shuffle_write_bytes", 1 / MB))
        m[f"{layer}.spill_mb"] = med(layer, ctr("spill_disk_bytes", 1 / MB))
    for layer in ("chunk", "wave"):
        m[f"{layer}.tasks"] = med(layer, ctr("tasks"))
    for layer in ("chunk", "dedup", "wave"):
        m[f"{layer}.task_s"] = med(layer, ctr("task_run_ms", 1e-3))
    for layer in ("dedup", "stats", "wave"):
        m[f"{layer}.jobs"] = med(layer, ctr("jobs"))
        m[f"{layer}.stages"] = med(layer, ctr("stages"))
    m["dedup.sched_wait_s"] = med("dedup", ctr("sched_delay_ms", 1e-3))
    m["dedup.probes"] = med("dedup", attr("probes"))
    m["dedup.hits"] = med("dedup", attr("hits"))
    m["dedup.hit_ratio"] = ratio("dedup", "hits", "probes")
    m["stats.rows"] = med("stats", attr("rows"))
    m["wave.driver_s"] = med("wave", driver_s)
    m["wave.hit_ratio"] = ratio("wave", "hits", "probes")
    scans = [s for s in spans if s["name"] == "store_scan"]
    last = scans[-1]["attrs"] if scans else {}
    m["store.files"] = last.get("files", 0.0)
    m["store.rows"] = last.get("rows", 0.0)
    m["store.mb"] = last.get("bytes", 0.0) / MB
    m["store.scan_s"] = med("store_scan", dur)
    m["restore.mbps"] = median(rate_mb(s["attrs"]["bytes"], dur(s))
                               for s in spans if s["name"] == "restore")
    m["restore.write_mb"] = med("restore", attr("bytes", 1 / MB))
    for q in MIX_QUERIES:
        name = f"query.{q}"
        m[f"{name}.s"] = med(name, dur)
        m[f"{name}.stages"] = med(name, ctr("stages"))
        m[f"{name}.tasks"] = med(name, ctr("tasks"))
        m[f"{name}.shuffle_mb"] = med(name, ctr("shuffle_write_bytes", 1 / MB))
        m[f"{name}.spill_mb"] = med(name, ctr("spill_disk_bytes", 1 / MB))
        m[f"{name}.gc_s"] = med(name, ctr("gc_ms", 1e-3))
    m["op.self_s"] = med("op", lambda s: selfs[s["id"]] / 1e3)
    m["jvm.gc_s"] = raw["jvm_gc_s"]
    m["jvm.heap_peak_mb"] = raw["jvm_heap_peak_mb"]
    m["trace.overhead_pct"] = tracing_overhead_pct(raw)
    assert set(m) == set(PER_LAYER), set(m) ^ set(PER_LAYER)
    return m
