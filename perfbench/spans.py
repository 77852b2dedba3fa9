"""Turn one traced iteration's raw spans and Spark jobs into per-layer
metrics: self time, driver time, and task metrics per span, plus the
rewrite span's job time split by call site."""

# per-span fields, in the order they are reported
FIELDS = ["wall_s", "driver_s", "jobs", "exec_run_s", "exec_cpu_s", "serde_s",
          "gc_s", "shuffle_mb", "spill_mb", "core_util"]
SPANS = ["sources.load", "model.nodes", "model.schema", "rewrite", "metrics.snapshot",
         "metrics.coverage", "metrics.ami", "metrics.completeness", "sinks.sql",
         "cypher.export", "sinks.jsonl"]
# rewrite-span job time by the source file of the action that ran the job
CALL_SITES = {
    "similarity.fit_s": lambda site: "TreeClusterer.scala" in site,
    "rewrite.op_trials_s": lambda site: site.startswith("reduce at Rewrite.scala"),
    "rewrite.checkpoint_s": lambda site: " Spark.scala:" in site,
}
MB = 1e6
# spans that run no Spark job by construction (`toNodesDF` is lazy;
# completeness reuses the contingency table AMI collected) print only these
DRIVER_ONLY = {"model.nodes": ["wall_s", "driver_s"],
               "metrics.completeness": ["wall_s", "driver_s", "jobs"]}
# the per-layer metrics a traced run prints; the trace artifact has every field
PER_LAYER = [f"{name}.{f}" for name in SPANS for f in DRIVER_ONLY.get(name, FIELDS)] + \
    list(CALL_SITES) + ["rewrite.epochs", "sinks.bytes_out_mb", "trace.overhead_s"]


def unit(metric):
    field = metric.rsplit(".", 1)[1]
    return {"jobs": "count", "epochs": "count", "core_util": "ratio"}.get(
        field, "MB" if field.endswith("_mb") else "s")


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans):
    """Each span's duration minus the part of it its children cover, in ms."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: s["end_ms"] - s["start_ms"] - covered(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def attribute(spans, jobs):
    """Map each job to the span that submitted it: the span named by its job
    group if the job started inside it, else the innermost span open when it
    started. Jobs outside every span (set-up) are dropped."""
    by_id = {f"{s['id']}:{s['name']}": s for s in spans}
    inside = lambda s, t: s["start_ms"] - 1 <= t <= s["end_ms"] + 1
    out = {s["id"]: [] for s in spans}
    for j in jobs:
        s = by_id.get(j["group"])
        if s is None or not inside(s, j["start_ms"]):
            open_spans = [s for s in spans if inside(s, j["start_ms"])]
            s = max(open_spans, key=lambda s: s["start_ms"], default=None)
        if s is not None:
            out[s["id"]].append(j)
    return out


def layer_metrics(report, cores):
    """Per-layer metrics of one traced iteration, keyed by metric name.
    Spans this workload does not run report 0."""
    spans, owned = report["spans"], attribute(report["spans"], report["jobs"])
    metrics = {f"{name}.{f}": 0.0 for name in SPANS for f in FIELDS}
    metrics.update({k: 0.0 for k in CALL_SITES})
    for s in spans:
        if s["name"] not in SPANS:
            continue
        jobs = owned[s["id"]]
        wall = (s["end_ms"] - s["start_ms"]) / 1e3
        run = sum(j["run_ms"] for j in jobs) / 1e3
        busy = covered([(j["start_ms"], j["end_ms"]) for j in jobs], s["start_ms"], s["end_ms"]) / 1e3
        values = {
            "wall_s": wall, "driver_s": wall - busy, "jobs": len(jobs), "exec_run_s": run,
            "exec_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
            "serde_s": sum(j["serde_ms"] for j in jobs) / 1e3,
            "gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
            "shuffle_mb": sum(j["shuffle_bytes"] for j in jobs) / MB,
            "spill_mb": sum(j["spill_bytes"] for j in jobs) / MB,
            "core_util": run / (wall * cores) if wall > 0 else 0.0,
        }
        for f, v in values.items():
            metrics[f"{s['name']}.{f}"] += v
        if s["name"] == "rewrite":
            for key, match in CALL_SITES.items():
                metrics[key] += sum(j["end_ms"] - j["start_ms"] for j in jobs if match(j["call_site"])) / 1e3
    metrics["rewrite.epochs"] = report.get("epochs") or 0
    return metrics
