"""Metrics from one run record written by the JVM side (``record.json``).

Pure functions: the percentile rule, span self time, and the
per-layer aggregation over traced units of work.
"""

import statistics

# Trace ids of the units of work (job iterations, micro-batch triggers);
# set-up traces are left out of the per-layer medians.
UNIT_TRACES = ("iter-", "trig-")


def tail(samples):
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``. Below 20 samples that percentile
    would fall under the median (or not exist), so the maximum is
    returned as percentile 100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def union_length(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
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


def self_times(spans):
    """Span id -> its duration minus the part its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_length(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def _by_trace(spans):
    out = {}
    for s in spans:
        out.setdefault(s["trace"], []).append(s)
    return out


def per_layer(rec, names):
    """Every per-layer metric in ``names`` from a traced run record.

    A metric whose layer the workload does not run reads 0.
    """
    td = rec["trace_data"]
    spans = td["spans"]
    counters = {int(k): v for k, v in td["counters"].items()}
    jobs = td["jobs"]
    selfs = self_times(spans)
    units = {t: ss for t, ss in _by_trace(spans).items() if t.startswith(UNIT_TRACES)}
    series = rec["series"]

    def ser(k, scale=1.0):
        return _median([x * scale for x in series.get(k, [])])

    def span_s(name):
        """Median over the units holding ``name`` of its summed self time."""
        per = [sum(selfs[s["id"]] for s in ss if s["name"] == name) / 1e3
               for ss in units.values() if any(s["name"] == name for s in ss)]
        return _median(per)

    def counter(name, field, scale=1.0):
        per = [sum(counters.get(s["id"], {}).get(field, 0) for s in ss if s["name"] == name) * scale
               for ss in units.values() if any(s["name"] == name for s in ss)]
        return _median(per)

    def unit_counter(field):
        return _median([sum(counters.get(s["id"], {}).get(field, 0) for s in ss)
                        for ss in units.values()])

    def idle():
        """Per unit: (root span time during which none of its jobs ran,
        root span time), in seconds."""
        span_ids = {}
        for t, ss in units.items():
            for s in ss:
                span_ids[s["id"]] = t
        by_unit = {}
        for j in jobs:
            t = span_ids.get(j["span"])
            if t is not None and j["end_ms"] >= 0:
                by_unit.setdefault(t, []).append((j["start_ms"], j["end_ms"]))
        out = []
        for t, ss in units.items():
            root = min(ss, key=lambda s: s["start_ms"])
            busy = union_length(by_unit.get(t, []), root["start_ms"], root["end_ms"])
            d = root["end_ms"] - root["start_ms"]
            out.append(((d - busy) / 1e3, d / 1e3))
        return out

    def task_skew():
        per = []
        for ss in units.values():
            ratios = []
            for s in ss:
                for durs in counters.get(s["id"], {}).get("stage_task_ms", []):
                    if len(durs) >= 2 and statistics.median(durs) > 0:
                        ratios.append(max(durs) / statistics.median(durs))
            if ratios:
                per.append(statistics.median(ratios))
        return _median(per)

    def step_coverage():
        """Share of a unit's time its step spans (for a trigger: the
        engine's own duration breakdown) account for."""
        if "trigger_coverage" in series:
            return ser("trigger_coverage")
        per = []
        for ss in units.values():
            root = min(ss, key=lambda s: s["start_ms"])
            d = root["end_ms"] - root["start_ms"]
            if d > 0:
                per.append(1.0 - selfs[root["id"]] / d)
        return _median(per)

    def csv_write_s():
        """The reference run's writing jobs (its only sink is the CSV)."""
        ref = {s["id"] for ss in units.values() for s in ss if s["name"] == "pipeline.reference_run"}
        per = {}
        for j in jobs:
            if j["span"] in ref and j.get("output_bytes", 0) > 0 and j["end_ms"] >= 0:
                per[j["span"]] = per.get(j["span"], 0.0) + (j["end_ms"] - j["start_ms"]) / 1e3
        return _median(list(per.values()))

    def ratio_of_sums(num, den):
        return num / den if den else 0.0

    lat = rec["latency_ms"]
    traced = rec["traced"]
    on = [x for x, t in zip(lat, traced) if t]
    off = [x for x, t in zip(lat, traced) if not t]
    wp_self = sum(selfs[s["id"]] for s in spans
                  if s["name"] == "functions.wordpiece" and s["trace"].startswith("iter-")) / 1e3

    m = {
        "io.read_annotations.s": span_s("io.read_annotations"),
        "io.read_annotations.tasks": counter("io.read_annotations", "tasks"),
        "io.read_npy.s": span_s("io.read_npy"),
        "io.read_npy.files": ser("npy_files"),
        "io.write_shards.s": span_s("io.write_shards"),
        "io.write_shards.mb": counter("io.write_shards", "output_bytes", 1e-6),
        "io.write_result_csv.s": csv_write_s(),
        "functions.wordpiece.s": span_s("functions.wordpiece"),
        "functions.wordpiece.tokens_per_s": ratio_of_sums(sum(series.get("wordpiece_tokens", [])), wp_self),
        "functions.budgeted_assemble.s": span_s("functions.budgeted_assemble"),
        "ops.category_attach.s": span_s("ops.category_attach"),
        "ops.frames.s": span_s("ops.frames"),
        "ops.split.s": span_s("ops.split"),
        "ops.split.shuffle_mb": counter("ops.split", "shuffle_write_bytes", 1e-6),
        "ops.eval.s": span_s("ops.eval"),
        "pipeline.reference_run.s": span_s("pipeline.reference_run"),
        "streaming.trigger.s": ser("trigger_ms", 1e-3),
        "streaming.add_batch.s": ser("add_batch_ms", 1e-3),
        "streaming.commit.s": ser("commit_ms", 1e-3),
        "streaming.planning.s": ser("planning_ms", 1e-3),
        "streaming.state_rows": ser("state_rows"),
        "streaming.state_mb": ser("state_bytes", 1e-6),
        "streaming.rows_per_trigger": ser("rows_per_trigger"),
        "streaming.backlog_files": max(series.get("backlog_files", [0.0])),
        "core.session_build.s": rec["setup"]["session_build_s"],
        "core.plan.s": _median([i for i, _ in idle()]),
        "core.plan_share": _median([i / d for i, d in idle() if d > 0]),
        "core.executor_cpu.s": unit_counter("executor_cpu_s"),
        "core.gc.s": unit_counter("gc_s"),
        "core.shuffle_fetch_wait.s": unit_counter("fetch_wait_s"),
        "core.task_skew": task_skew(),
        "bench.gen_late_s": max(series.get("gen_late_ms", [0.0])) / 1e3,
        "bench.trace_overhead": (statistics.median(on) / statistics.median(off)) if on and off else 0.0,
        "bench.step_coverage": step_coverage(),
    }
    missing = [n for n in names if n not in m]
    if missing:
        raise KeyError(f"per-layer metrics without a definition: {missing}")
    return {n: m[n] for n in names}


def end_to_end(rec):
    """The end-to-end metrics of an untraced run record, and the latency
    tail with its percentile and sample count for the result record.
    """
    lat = rec["latency_ms"]
    value, pct, n = tail(lat)
    setup = rec["setup"]
    return {
        "setup_s": setup["jvm_to_session_s"] + statistics.median(setup["reps_s"]) + setup["warmup_s"],
        "latency_p50_ms": statistics.median(lat),
        "peak_rss_mb": rec["peak_rss_mb"],
    }, {"tail_ms": value, "tail_percentile": pct, "samples": n}
