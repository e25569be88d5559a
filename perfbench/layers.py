"""Per-layer metrics and the layer table of a traced run.

A traced run executes every operation twice, traced and untraced, in
alternating order. Only traced copies carry spans and Spark counters;
the per-layer metrics are means over the traced copies, except where
noted. Spans of one operation: its layers (construct/execute for a
query; ingest, integrate, transform, load, load_csv, cleanup for a
pipeline run) and the Spark jobs the operation ran (job group = op).
A layer's self time is its span minus the part its jobs cover.
"""
import statistics

MODULES = ("enrich", "clean", "integrate", "transform", "llmdata", "ingest", "load")


def tail(values, beyond=10):
    """(value, percentile, rank) of the highest percentile with at
    least `beyond` samples above it, or None when that percentile would
    not lie above the median."""
    n = len(values)
    k = n - beyond                     # samples at or below the percentile
    if k < (n + 1) // 2 + 1:
        return None
    return sorted(values)[k - 1], 100.0 * k / n, k


def _covered(start, end, intervals):
    """Milliseconds of [start, end] covered by the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _jobs(op):
    return [(s, e) for _, s, e in op["counters"]["job_spans"]]


def _span_stats(op):
    """layer -> (seconds, self seconds, jobs started inside)."""
    jobs = _jobs(op)
    out = {}
    for sp in op["spans"]:
        s, e = sp["start_ms"], sp["end_ms"]
        cov = _covered(s, e, jobs)
        n = sum(1 for js, _ in jobs if s <= js < e)
        out[sp["layer"]] = ((e - s) / 1e3, (e - s - cov) / 1e3, n)
    return out


def _uncovered_s(op):
    return max(0.0, op["latency_s"] - sum(sp["end_ms"] - sp["start_ms"]
                                          for sp in op["spans"]) / 1e3)


def _overhead(ops):
    """Median over op pairs of traced minus untraced seconds, and the
    untraced median it is relative to."""
    pairs = {}
    for o in ops:
        pairs.setdefault(o["index"], {})[o["traced"]] = o["latency_s"]
    diffs = [p[True] - p[False] for p in pairs.values() if len(p) == 2]
    base = [p[False] for p in pairs.values() if False in p]
    return (statistics.median(diffs) if diffs else 0.0,
            statistics.median(base) if base else 0.0)


def per_layer(res, nproc):
    ops = res["ops"]
    traced = [o for o in ops if o["traced"] and o["ok"] and o["counters"]]
    n = max(1, len(traced))

    def mean(f):
        return sum(f(o) for o in traced) / n

    def ctr(k):
        return mean(lambda o: o["counters"][k])

    def ext(k):
        return mean(lambda o: o["extra"].get(k, 0.0))

    stats = [_span_stats(o) for o in traced]

    def layer(name, i):
        return sum(s.get(name, (0.0, 0.0, 0))[i] for s in stats) / n

    pipeline = res["workload"] == "pipeline_service"
    busy_s = sum(o["counters"]["task_busy_ms"] for o in traced) / 1e3
    wall_s = sum(o["latency_s"] for o in traced)
    accepted = sum(o["extra"].get("joins_accepted", 0.0) for o in traced)
    attempted = sum(o["extra"].get("joins_attempted", 0.0) for o in traced)
    overhead, base = _overhead(ops)
    if pipeline:
        retained = res["retained_at_end"]
    else:
        retained = sum(o["extra"].get("retained_blocks", 0.0) for o in traced)
    m = {
        "ingest.s": (layer("ingest", 0), "s"),
        "ingest.jobs": (layer("ingest", 2), "count"),
        "ingest.rows": (ext("ingest_rows"), "count"),
        "integrate.s": (layer("integrate", 0), "s"),
        "integrate.jobs": (layer("integrate", 2), "count"),
        "integrate.pairs_scored": (ext("pairs_scored"), "count"),
        "integrate.join_accept_ratio": (accepted / attempted if attempted else 0.0, "ratio"),
        "transform.s": (layer("transform", 0), "s"),
        "transform.jobs": (layer("transform", 2), "count"),
        "load.s": (layer("load", 0), "s"),
        "load.csv_s": (layer("load_csv", 0), "s"),
        "load.rows": (ext("load_rows"), "count"),
        "query.construct_s": (layer("construct", 0), "s"),
        "query.eager_jobs": (layer("construct", 2), "count"),
        "query.analysis_s": (ctr("analysis_ms") / 1e3, "s"),
        "query.optimization_s": (ctr("optimization_ms") / 1e3, "s"),
        "query.planning_s": (ctr("planning_ms") / 1e3, "s"),
        "query.codegen_compiles": (ext("codegen_compiles"), "count"),
        "query.stages": (ctr("stages"), "count"),
        "query.execute_s": (mean(lambda o: o["latency_s"]) if pipeline
                            else layer("execute", 0), "s"),
        "query.jobs": (ctr("jobs"), "count"),
        "query.tasks": (ctr("tasks"), "count"),
        "query.task_busy_s": (ctr("task_busy_ms") / 1e3, "s"),
        "query.core_util": (busy_s / (wall_s * nproc) if wall_s else 0.0, "ratio"),
        "query.shuffle_read_bytes": (ctr("shuffle_read"), "bytes"),
        "query.shuffle_write_bytes": (ctr("shuffle_write"), "bytes"),
        "query.spill_bytes": (ctr("spill"), "bytes"),
        "query.gc_s": (ctr("gc_ms") / 1e3, "s"),
        "query.peak_exec_mem_bytes": (ctr("peak_exec_mem"), "bytes"),
        "query.persisted_rdds": (ext("persisted_rdds"), "count"),
    }
    for mod in MODULES:
        m[f"{mod}.query_s"] = (sum(o["latency_s"] for o in traced if o["module"] == mod) / n, "s")
    m.update({
        "reset.s": (ext("reset_s"), "s"),
        "reset.rdd_blocks": (ext("reset_rdd_blocks"), "count"),
        "reset.broadcast_blocks": (ext("reset_broadcast_blocks"), "count"),
        "retained_blocks": (retained, "count"),
        "failed_frac": (sum(1 for o in ops if not o["ok"]) / max(1, len(ops)), "ratio"),
        "trace.uncovered_s": (mean(_uncovered_s), "s"),
        "trace.overhead_s": (overhead, "s"),
        "trace.overhead_frac": (overhead / base if base else 0.0, "ratio"),
    })
    return m


def table(res):
    """Human-readable per-layer table of the traced copies."""
    traced = [o for o in res["ops"] if o["traced"] and o["ok"] and o["counters"]]
    n = max(1, len(traced))
    agg = {}
    for o in traced:
        for name, (s, self_s, jobs) in _span_stats(o).items():
            a = agg.setdefault(name, [0.0, 0.0, 0])
            a[0] += s
            a[1] += self_s
            a[2] += jobs
    job_s = sum(_covered(-1e18, 1e18, _jobs(o)) for o in traced) / 1e3
    wall = sum(o["latency_s"] for o in traced)
    lines = [f"[layers] {len(traced)} traced ops, mean wall {wall / n:.4f} s/op",
             f"[layers] {'layer':<12}{'s/op':>10}{'self s/op':>11}{'jobs/op':>9}"]
    for name, (s, self_s, jobs) in agg.items():
        lines.append(f"[layers] {name:<12}{s / n:>10.4f}{self_s / n:>11.4f}{jobs / n:>9.2f}")
    lines.append(f"[layers] {'spark jobs':<12}{job_s / n:>10.4f}{job_s / n:>11.4f}")
    lines.append(f"[layers] {'uncovered':<12}{sum(_uncovered_s(o) for o in traced) / n:>10.4f}")
    return lines
