"""Turns one run's raw record (written by perfbench.Main) into named metrics.

End-to-end metrics come from the untraced passes; per-layer metrics from the
traced run's spans, Spark job/task events, streaming progress and the kernel
profile. A layer that the workload does not call reports 0.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")

# Percentiles tried for a "tail", highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def rank(n, p):
    """Nearest-rank position (1-based) of percentile p among n samples."""
    return min(n, max(1, math.ceil(p / 100.0 * n)))


def tail(samples):
    """(percentile, value, samples beyond it) for the highest percentile of
    TAIL_LADDER that has at least TAIL_MIN_BEYOND samples beyond it. With
    too few samples for any of them, p50 is reported and the returned count
    shows how many samples lie beyond it.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return (50.0, 0.0, 0)
    for p in TAIL_LADDER:
        r = rank(n, p)
        if n - r >= TAIL_MIN_BEYOND:
            return (p, xs[r - 1], n - r)
    r = rank(n, 50.0)
    return (50.0, xs[r - 1], n - r)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def covered(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, spans):
    """Span duration minus the part of it its direct children cover (children
    may overlap each other, e.g. jobs from a pool)."""
    sid, start, end = span["id"], span["start"], span["end"]
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == sid]
    return (end - start) - covered(kids, start, end)


def spans_of(raw):
    return [dict(id=s[0], parent=s[1], trace=s[2], name=s[3], start=s[4], end=s[5])
            for s in raw.get("spans", [])]


def end_to_end(raw):
    """Metrics of the untraced passes, and labels that go beside them."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    secs = [p["secs"] for p in passes]
    turns = passes[0]["turns"] if passes else 0
    metrics = {
        "turns_per_s": (turns / median(secs) if secs and median(secs) > 0 else 0.0, "turns/s"),
        "setup_s": (raw["setup_s"], "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    return metrics, {"passes": len(passes), "pass_secs": secs}


def per_layer(raw, cpus):
    """Metrics of the traced run, by layer, and labels that go beside them."""
    spans = spans_of(raw)
    tasks = [dict(span=t[0], job=t[1], stage=t[2], launch=t[3], finish=t[4], run=t[5],
                  gc=t[6], shw=t[7], shr=t[8], spill=t[9])
             for t in raw.get("tasks", [])]
    jobs = [dict(id=j[0], span=j[1], start=j[2], end=j[3], stages=j[4])
            for j in raw.get("jobs", [])]
    named = lambda name: [s for s in spans if s["name"] == name]
    dur_s = lambda s: (s["end"] - s["start"]) / 1e9
    tasks_in = lambda s: [t for t in tasks if t["span"] == s["id"]]
    jobs_in = lambda s: [j for j in jobs if j["span"] == s["id"]]

    def per_span(name, f):
        return median([f(s) for s in named(name)])

    m, labels = {}, {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    def put_tail(name, samples, unit):
        pct, value, beyond = tail(samples)
        put(name, value, unit)
        labels[name] = {"percentile": pct, "samples": len(samples), "beyond": beyond}

    # ---- spark.ExtractTurn and the kernel layers (direct calls) ----------
    kernel = [k for k in raw.get("kernel", []) if not k["error"]]
    ms = lambda k, layer: k["ns"].get(layer, 0) / 1e6
    with_layer = lambda ks, layer: [ms(k, layer) for k in ks if layer in k["ns"]]
    extract_ms = with_layer(kernel, "extract")
    put("extract.ms_per_turn.p50", median(extract_ms), "ms")
    put_tail("extract.ms_per_turn.tail", extract_ms, "ms")
    put("sniff.ms_per_turn", mean(with_layer(kernel, "sniff")), "ms")
    put("extract.lines_per_turn", mean([k["lines"] for k in kernel]), "lines")
    outcomes = raw.get("outcomes", {})
    put("extract.outcome.ok", sum(outcomes.get(f, 0) for f in ("pdfxml", "pdf", "shakespeare")),
        "count")
    for o in ("unknown", "error", "oversized"):
        put("extract.outcome." + o, outcomes.get(o, 0), "count")
    put("emit.ms_per_turn", mean([ms(k, "expr") - ms(k, "extract") for k in kernel]), "ms")
    put("kernel.turns_profiled", len(kernel), "count")
    put("xmltok.ms_per_turn", mean(with_layer(kernel, "xmltok")), "ms")
    put("xmltok.calls", outcomes.get("pdfxml", 0), "count")
    put("pdflex.ms_per_turn", mean(with_layer(kernel, "pdflex")), "ms")
    put("pdflex.calls", outcomes.get("pdf", 0), "count")
    put("layout_classify.ms_per_turn", mean(with_layer(kernel, "layout_classify")), "ms")
    xml = [k for k in kernel if "xmltok" in k["ns"]]
    parse = sum(ms(k, "xmltok") + ms(k, "layout_classify") for k in xml)
    put("xmltok.share_of_parse", sum(ms(k, "xmltok") for k in xml) / parse if parse else 0.0,
        "frac")
    put("html.ms_per_turn", mean(with_layer(kernel, "html")), "ms")
    put("shakespeare.self_ms_per_turn",
        mean([ms(k, "shakespeare") - ms(k, "html") for k in kernel if "html" in k["ns"]]),
        "ms")

    # ---- spark.Pipeline ---------------------------------------------------
    v = "pipeline.verifyByHash"
    run_ms = per_span(v, lambda s: sum(t["run"] for t in tasks_in(s)))
    kernel_ms = mean(extract_ms) * raw.get("doc_turns", 0)
    put("kernel.share_of_task_time", kernel_ms / run_ms if run_ms else 0.0, "frac")
    mb = lambda key: lambda s: sum(t[key] for t in tasks_in(s)) / 1e6
    put("verify.wall_s", per_span(v, dur_s), "s")
    put("extract_only.wall_s", per_span("pipeline.extract_only", dur_s), "s")
    put("verify.executor_run_s", run_ms / 1e3, "s")
    vt = [(t["finish"] - t["launch"]) / 1e3 for s in named(v) for t in tasks_in(s)]
    put("verify.task_s.p50", median(vt), "s")
    put("verify.task_s.max", max(vt) if vt else 0.0, "s")
    put("verify.shuffle_write_mb", per_span(v, mb("shw")), "MB")
    put("verify.shuffle_read_mb", per_span(v, mb("shr")), "MB")
    put("verify.spill_mb", per_span(v, mb("spill")), "MB")
    put("verify.gc_s", per_span(v, lambda s: sum(t["gc"] for t in tasks_in(s)) / 1e3), "s")
    put("verify.stages", per_span(v, lambda s: sum(j["stages"] for j in jobs_in(s))), "count")
    put("report.wall_s", per_span("pipeline.report", dur_s), "s")
    put("report.shuffle_read_mb", per_span("pipeline.report", mb("shr")), "MB")

    # ---- spark.TranscriptTable -------------------------------------------
    x = "table.extractWithCheckpoints"
    put("table.write_s", per_span("table.write", dur_s), "s")
    put("table.files_written", raw.get("table_files_written", 0), "count")
    put("table.bytes_written", raw.get("table_bytes_written", 0), "bytes")
    put("table.extract_s", per_span(x, dur_s), "s")
    put("table.bucket_jobs", per_span(x, lambda s: len(jobs_in(s))), "count")
    bj = [(j["end"] - j["start"]) / 1e3 for s in named(x) for j in jobs_in(s)]
    put("table.bucket_job_s.p50", median(bj), "s")
    put_tail("table.bucket_job_s.tail", bj, "s")
    busy = sum(t["run"] for s in named(x) for t in tasks_in(s))
    wall = sum(dur_s(s) * 1e3 for s in named(x)) * cpus
    put("table.core_idle_frac", 1.0 - busy / wall if wall else 0.0, "frac")
    put("table.manifest_commits", raw.get("table_manifest_commits", 0), "count")
    put("table.read_manifest_ms", per_span("table.readManifest", dur_s) * 1e3, "ms")
    put("table.read_counters_ms", per_span("table.readCounters", dur_s) * 1e3, "ms")

    # ---- streaming.StreamingExtract (StreamingQueryProgress) --------------
    batches = [b for b in raw.get("stream", []) if b["rows"] > 0]
    d = lambda key: median([b["duration_ms"].get(key, 0) for b in batches])
    state = lambda f: [sum(f(o) for o in b["state"]) for b in batches]
    put("stream.batches", len(batches), "count")
    put("stream.batch_s.p50", median([b["batch_ms"] / 1e3 for b in batches]), "s")
    put_tail("stream.batch_s.tail", [b["batch_ms"] / 1e3 for b in batches], "s")
    put("stream.add_batch_ms.p50", d("addBatch"), "ms")
    put("stream.query_planning_ms.p50", d("queryPlanning"), "ms")
    put("stream.wal_commit_ms.p50", d("walCommit"), "ms")
    put("stream.commit_offsets_ms.p50", d("commitOffsets"), "ms")
    put("stream.state_commit_ms.p50", median(state(lambda o: o["commit_ms"])), "ms")
    put("stream.state_rows_total", max(state(lambda o: o["rows_total"]), default=0), "count")
    put("stream.state_memory_mb", max(state(lambda o: o["memory_bytes"]), default=0) / 1e6, "MB")
    put("stream.state_partitions", max(state(lambda o: o["partitions"]), default=0), "count")

    # ---- the trace itself -------------------------------------------------
    def tps(traced):
        ps = [p for p in raw["passes"] if p["traced"] == traced]
        s = median([p["secs"] for p in ps])
        return ps[0]["turns"] / s if ps and s else 0.0
    plain, traced = tps(False), tps(True)
    put("trace.overhead_frac", 1.0 - traced / plain if plain else 0.0, "frac")
    roots = named("pass")
    root_ns = sum(s["end"] - s["start"] for s in roots)
    put("trace.unattributed_frac",
        sum(self_time(s, spans) for s in roots) / root_ns if root_ns else 0.0, "frac")
    att, bad = operations(raw, traced=True)
    put("ops_failed_frac", bad / att if att else 0.0, "frac")
    return m, labels


def operations(raw, traced):
    """(attempted, failed) operations of the run. A warm-up pass that threw
    counts as one failed operation; a traced run adds its kernel samples and
    side runs.
    """
    attempted = sum(p["attempted"] for p in raw["passes"]) + raw.get("warm_failed", 0)
    failed = sum(p["failed"] for p in raw["passes"]) + raw.get("warm_failed", 0)
    if traced:
        attempted += len(raw.get("kernel", [])) + raw.get("side_attempted", 0)
        failed += raw.get("kernel_failed", 0) + raw.get("side_failed", 0)
    return attempted, failed


def result(raw, trace, cpus):
    """The run's result object: correct, attempted, failed, metrics."""
    attempted, failed = operations(raw, trace)
    metrics, _ = per_layer(raw, cpus) if trace else end_to_end(raw)
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
