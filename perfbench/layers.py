"""Per-layer metrics of a traced run, and the trace side file.

Layers are named by graft's modules: `plans` (analysis, optimizer and
physical planning, the four rewrite rules), `operators` (the five batch
operators), `sources` (the persisted index store). Every metric is reported
on every workload; a layer the workload does not exercise reads 0.
Per-call figures are medians over the measured calls of that operation;
plan figures are medians over measured rounds of the round's total.
"""
import json
import os
import statistics

OPS = ["spatial_join", "indexed_join", "distance_join", "knn_join", "dbscan"]
RULES = ["SpatialJoinRule", "RangeJoinRule", "AsOfJoinRule", "CellPruneRule"]
OP_METRICS = [("wall_s", "s"), ("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
              ("task_skew", "ratio"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
              ("gc_s", "s"), ("replication", "ratio"), ("output_rows", "count")]


def names():
    """(name, unit) of every per-layer metric, in report order."""
    out = [("plans.analysis_s", "s"), ("plans.optimizer_s", "s"), ("plans.physical_s", "s")]
    out += [(f"plans.rule.{r}_s", "s") for r in RULES]
    out += [("plans.rewrites", "count"), ("plans.roundrobin_exchanges", "count")]
    out += [(f"operators.{op}.{m}", u) for op in OPS for m, u in OP_METRICS]
    out += [("sources.build.wall_s", "s"), ("sources.build.bytes_written", "bytes"),
            ("sources.build.files_written", "count"), ("sources.build.tasks", "count"),
            ("sources.build.bytes_per_input_byte", "ratio"),
            ("sources.filter.jobs", "count"), ("sources.knn.jobs", "count"),
            ("sources.lookup.bytes_read", "bytes"), ("sources.lookup.files_read", "count"),
            ("sources.lookup.plan_s", "s")]
    return out


def _med(values):
    values = list(values)
    return statistics.median(values) if values else 0


def _plan_s(c):
    return c["analysis_s"] + c["optimizer_s"] + c["physical_s"]


def _covered(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def self_times(spans):
    """Self time per span name: duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["name"] == "spark_job":
            continue
        ch = [(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])]
        wall = s["end_ms"] - s["start_ms"]
        self_ms = wall - _covered(ch, s["start_ms"], s["end_ms"])
        out.setdefault(s["name"], []).append((wall / 1e3, self_ms / 1e3))
    return {n: {"calls": len(v), "wall_s": _med(w for w, _ in v), "self_s": _med(x for _, x in v)}
            for n, v in out.items()}


def per_layer(res, work):
    rounds = [r for r in res["rounds"] if not r["warmup"]]
    calls = [c for r in rounds for c in r["calls"] if c["ok"]]
    m = {}
    for key, name in [("analysis_s", "plans.analysis_s"), ("optimizer_s", "plans.optimizer_s"),
                      ("physical_s", "plans.physical_s"), ("rewrites", "plans.rewrites"),
                      ("roundrobin_exchanges", "plans.roundrobin_exchanges")]:
        m[name] = _med(sum(c[key] for c in r["calls"] if c["ok"]) for r in rounds)
    for rule in RULES:
        m[f"plans.rule.{rule}_s"] = _med(sum(c["rule_s"][rule] for c in r["calls"] if c["ok"])
                                         for r in rounds)
    for op in OPS:
        mine = [c for c in calls if c["kind"] == op]
        for metric, _ in OP_METRICS:
            if metric == "wall_s":
                vals = [c["s"] for c in mine]
            elif metric == "replication":
                vals = [c["generate_out"] / c["generate_in"] if c["generate_in"] else 0 for c in mine]
            else:
                vals = [c[metric] for c in mine]
            m[f"operators.{op}.{metric}"] = _med(vals)
    builds = [c for c in calls if c["kind"] == "build"]
    lookups = [c for c in calls if c["kind"] in ("filter", "knn")]
    m["sources.build.wall_s"] = _med(c["s"] for c in builds)
    m["sources.build.bytes_written"] = _med(c["store_bytes"] for c in builds)
    m["sources.build.files_written"] = _med(c["store_files"] for c in builds)
    m["sources.build.tasks"] = _med(c["tasks"] for c in builds)
    m["sources.build.bytes_per_input_byte"] = _med(c["store_bytes"] / c["input_bytes"] for c in builds)
    m["sources.filter.jobs"] = _med(c["jobs"] for c in calls if c["kind"] == "filter")
    m["sources.knn.jobs"] = _med(c["jobs"] for c in calls if c["kind"] == "knn")
    m["sources.lookup.bytes_read"] = _med(c["bytes_read"] for c in lookups)
    m["sources.lookup.files_read"] = _med(c["files_read"] for c in lookups)
    m["sources.lookup.plan_s"] = _med(_plan_s(c) for c in lookups)

    metrics = {n: (m[n], u) for n, u in names()}
    with open(os.path.join(work, "spans.json")) as fh:
        spans = json.load(fh)
    # keep the measured rounds' spans: rounds, their operations, their jobs
    keep = {f"round{r['round']}" for r in rounds}
    keep |= {s["id"] for s in spans if s["parent"] in keep}
    spans = [s for s in spans if s["id"] in keep or s["parent"] in keep]
    side = {
        "workload": res["workload"], "seed": res["seed"],
        "per_layer": {n: v for n, (v, _) in metrics.items()},
        "self_time": self_times(spans),
        "spans": spans,
    }
    return metrics, side
