"""Turns a run's capture (written by the Scala harness) into the benchmark's
metrics: percentiles, span self times, the per-layer table and the result
line."""

import json
import statistics

MB = 1048576.0

# End-to-end metrics, reported by every untraced run.
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "items_per_s": "1/s",
    "cpu_s": "s",
}

# Per-layer metrics, reported by every traced run; a layer a workload does
# not run reports 0. Time metrics are self time per operation.
LAYER_SPANS = [
    "sources.scan", "sources.write",
    "detect.anomaly", "detect.threshold", "detect.apply",
    "track.morph", "track.label", "track.filter", "track.splitmerge", "track.stitch",
    "track.props",
    "append.extend", "append.save_state",
    "dedup.lsh", "dedup.cluster",
]
PER_LAYER = dict(
    [(f"{s}_s", "s") for s in LAYER_SPANS] + [
        ("sources.scan_tasks", "count"),
        ("detect.shuffle_mb", "MB"),
        ("track.jobs", "count"),
        ("append.jobs_per_day", "count"),
        ("append.retained_mb_per_day", "MB"),
        ("dedup.candidate_pairs", "count"),
        ("dedup.useful_ratio", "ratio"),
        ("dedup.max_task_ratio", "ratio"),
        ("spark.jobs", "count"),
        ("spark.tasks", "count"),
        ("spark.task_cpu_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.shuffle_write_mb", "MB"),
        ("spark.driver_s", "s"),
        ("retained_mb", "MB"),
        ("trace.overhead_s", "s"),
    ])


def median(values):
    return statistics.median(values) if values else 0.0


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values):
    """Interquartile range as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times_ns(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered([k for k in kids if k[1] > k[0]])
    return out


def _ok_passes(capture, kind):
    return [p for p in capture["passes"] if p["ok"] and p["kind"] == kind]


def end_to_end(capture):
    timed = _ok_passes(capture, "timed")
    ops = [o for p in timed for o in p["ops"]]
    walls = [o["wall_s"] for o in ops]
    items = capture["info"]["items_per_op"]
    return {
        "setup_s": capture["session_s"] + median(capture["setup_reps_s"]),
        "latency_p50_s": median(walls),
        "items_per_s": items * len(walls) / sum(walls) if walls else 0.0,
        "cpu_s": median([o["cpu_s"] for o in ops]),
    }


def _by_pass(capture):
    """Pass number -> (kind, spans of the pass, stages of the pass, jobs)."""
    spans = capture["spans"]
    span_run = {s["id"]: s["run"] for s in spans}
    kinds = {p["pass"]: p["kind"] for p in capture["passes"] if p["ok"]}
    out = {k: {"kind": v, "spans": [], "stages": [], "jobs": 0} for k, v in kinds.items()}
    for s in spans:
        if s["run"] in out:
            out[s["run"]]["spans"].append(s)
    counters = capture.get("counters") or {"stages": [], "jobs": []}
    for st in counters["stages"]:
        run = span_run.get(st["span"])
        if run in out:
            out[run]["stages"].append(st)
    for j in counters["jobs"]:
        run = span_run.get(j["span"])
        if run in out:
            out[run]["jobs"] += j["jobs"]
    return out


def _sum_stages(stages, field, span_ids=None):
    return sum(st[field] for st in stages if span_ids is None or st["span"] in span_ids)


def per_layer(capture):
    """Per-layer metrics of a traced run, and the rows of its layer table."""
    info = capture["info"]
    per_op = info.get("ops_per_pass", 1)
    cores = capture["host"]["nproc"]
    passes = _by_pass(capture)
    traced = [p for p in passes.values() if p["kind"] == "traced"]
    plain = [p for p in passes.values() if p["kind"] == "timed"]
    m = {name: 0.0 for name in PER_LAYER}

    def spans_named(p, prefix):
        return {s["id"] for s in p["spans"] if s["name"].startswith(prefix)}

    # spans come from traced passes and, for the batch tracker, from the
    # traced reference run; a layer's value is the median over the passes
    # that ran it, per operation (per reference run for the reference)
    spanned = [p for p in passes.values() if p["kind"] in ("traced", "reference") and p["spans"]]

    def per_pass(p):
        return 1 if p["kind"] == "reference" else per_op

    for layer in LAYER_SPANS:
        vals = []
        for p in spanned:
            self_ns = self_times_ns(p["spans"])
            ns = [self_ns[s["id"]] for s in p["spans"] if s["name"] == layer]
            if ns:
                vals.append(sum(ns) / per_pass(p))
        m[f"{layer}_s"] = median(vals) / 1e9

    def traced_median(f):
        return median([f(p) for p in traced])

    m["sources.scan_tasks"] = traced_median(
        lambda p: _sum_stages(p["stages"], "tasks", spans_named(p, "sources.scan")))
    m["detect.shuffle_mb"] = traced_median(
        lambda p: _sum_stages(p["stages"], "shuffle_write_b", spans_named(p, "detect."))) / MB
    counters = capture.get("counters") or {"jobs": []}
    jobs_by_span = {j["span"]: j["jobs"] for j in counters["jobs"]}
    m["track.jobs"] = median([sum(jobs_by_span.get(i, 0) for i in spans_named(p, "track."))
                              for p in spanned if spans_named(p, "track.")])
    if "history_days" in info:
        m["append.jobs_per_day"] = traced_median(
            lambda p: sum(jobs_by_span.get(i, 0) for i in spans_named(p, "append."))) / per_op
        m["append.retained_mb_per_day"] = median(
            [p["retained_growth_mb"] for p in capture["passes"]
             if p["ok"] and p["kind"] == "traced"]) / per_op
    if "candidate_pairs" in info:
        m["dedup.candidate_pairs"] = info["candidate_pairs"]
        m["dedup.useful_ratio"] = info["verified_pairs"] / max(1, info["candidate_pairs"])
        m["dedup.max_task_ratio"] = traced_median(lambda p: max_task_ratio(
            [st for st in p["stages"] if st["span"] in spans_named(p, "dedup.lsh")]))

    def plain_median(f):
        return median([f(p) for p in plain]) / per_op

    m["spark.jobs"] = plain_median(lambda p: p["jobs"])
    m["spark.tasks"] = plain_median(lambda p: _sum_stages(p["stages"], "tasks"))
    m["spark.task_cpu_s"] = plain_median(lambda p: _sum_stages(p["stages"], "cpu_ns") / 1e9)
    m["spark.gc_s"] = plain_median(lambda p: _sum_stages(p["stages"], "gc_ms") / 1e3)
    m["spark.shuffle_write_mb"] = plain_median(
        lambda p: _sum_stages(p["stages"], "shuffle_write_b") / MB)
    walls = {p["pass"]: sum(o["wall_s"] for o in p["ops"]) for p in capture["passes"] if p["ok"]}
    plain_runs = [p["spans"][0]["run"] for p in plain if p["spans"]]
    m["spark.driver_s"] = median(
        [walls[r] - _sum_stages(passes[r]["stages"], "run_ms") / 1e3 / cores
         for r in plain_runs]) / per_op
    m["retained_mb"] = median([p["retained_mb"] for p in capture["passes"]
                               if p["ok"] and "retained_mb" in p])
    traced_runs = [p["spans"][0]["run"] for p in traced if p["spans"]]
    m["trace.overhead_s"] = (median([walls[r] for r in traced_runs]) -
                             median([walls[r] for r in plain_runs])) / per_op
    return m, layer_rows(spanned, jobs_by_span, per_pass)


def max_task_ratio(stages):
    """Largest slowest-over-median task run time among stages of 2+ tasks."""
    ratios = [max(st["task_run_ms"]) / median(st["task_run_ms"]) for st in stages
              if len(st["task_run_ms"]) > 1 and median(st["task_run_ms"]) > 0]
    return max(ratios, default=0.0)


def layer_rows(spanned, jobs_by_span, per_pass):
    """One row per span name: median self and total seconds per operation,
    and the Spark work attributed to the span itself (not its children)."""
    rows = {}
    for p in spanned:
        n = per_pass(p)
        self_ns = self_times_ns(p["spans"])
        acc = {}
        for s in p["spans"]:
            r = acc.setdefault(s["name"], {"self": 0, "total": 0, "calls": 0, "jobs": 0,
                                           "tasks": 0, "cpu": 0, "shuffle": 0})
            r["self"] += self_ns[s["id"]]
            r["total"] += s["end_ns"] - s["start_ns"]
            r["calls"] += 1
            r["jobs"] += jobs_by_span.get(s["id"], 0)
            own = [st for st in p["stages"] if st["span"] == s["id"]]
            r["tasks"] += sum(st["tasks"] for st in own)
            r["cpu"] += sum(st["cpu_ns"] for st in own)
            r["shuffle"] += sum(st["shuffle_write_b"] for st in own)
        for name, r in acc.items():
            rows.setdefault(name, []).append(
                {k: v if k == "calls" else v / n for k, v in r.items()})
    table = []
    for name, rs in rows.items():
        table.append({
            "span": name,
            "calls": median([r["calls"] for r in rs]),
            "passes": len(rs),
            "self_s": median([r["self"] for r in rs]) / 1e9,
            "total_s": median([r["total"] for r in rs]) / 1e9,
            "jobs": median([r["jobs"] for r in rs]),
            "tasks": median([r["tasks"] for r in rs]),
            "task_cpu_s": median([r["cpu"] for r in rs]) / 1e9,
            "shuffle_mb": median([r["shuffle"] for r in rs]) / MB,
        })
    return sorted(table, key=lambda r: -r["total_s"])


def format_table(capture, metrics, rows):
    """The traced run's layer table as Markdown."""
    w = capture["workload"]
    lines = [f"### {w} (seed {capture['seed']}, {len(capture['passes'])} passes, "
             f"{capture['host']['nproc']} cores)", "",
             "| span | passes | calls | self s | total s | jobs | tasks | task CPU s | shuffle MB |",
             "|---|---|---|---|---|---|---|---|---|"]
    for r in rows:
        lines.append(f"| {r['span']} | {r['passes']} | {r['calls']:g} | {r['self_s']:.3f} | "
                     f"{r['total_s']:.3f} | "
                     f"{r['jobs']:g} | {r['tasks']:g} | {r['task_cpu_s']:.3f} | "
                     f"{r['shuffle_mb']:.2f} |")
    lines += ["", "Medians over the passes that ran each span, per operation (per run "
              "for the reference spans).",
              f"Tracing overhead (traced − untraced pass wall): {metrics['trace.overhead_s']:.3f} s."]
    info = capture["info"]
    ref = [s for s in capture["spans"] if s["name"] == "reference.traced"]
    if ref and info.get("merging_batch_s"):
        lines.append(f"Merging batch Track.track: {info['merging_batch_s']:.3f} s whole, "
                     f"{(ref[0]['end_ns'] - ref[0]['start_ns']) / 1e9:.3f} s as traced steps.")
    return "\n".join(lines) + "\n"


def result(capture):
    """The run's result object: correctness, counts and metrics."""
    passes = capture["passes"]
    attempted = sum(len(p["ops"]) if p["ok"] else 1 for p in passes)
    failed = sum(0 if p["ok"] else 1 for p in passes)
    if capture["trace"]:
        values, rows = per_layer(capture)
        units = PER_LAYER
    else:
        values, rows = end_to_end(capture), None
        units = END_TO_END
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, rows


def spread_report(lines):
    """Median and interquartile range over median of each metric across
    result lines (one run each), the steadiness a change is judged by."""
    runs = [json.loads(line)["metrics"] for line in lines if line.strip()]
    out = []
    for name in runs[0]:
        values = [r[name]["value"] for r in runs]
        out.append(f"{name:24s} n={len(values):2d} median={median(values):.6g} "
                   f"iqr/median={relative_spread(values):.3f}")
    return "\n".join(out)


def result_line(res):
    """Compact one-line JSON; json.dumps formats numbers independently of
    the locale."""
    return json.dumps(res, separators=(",", ":"), allow_nan=False)


if __name__ == "__main__":
    # python3 perfbench/stats.py < result-lines.txt
    import sys
    print(spread_report(sys.stdin.readlines()))
