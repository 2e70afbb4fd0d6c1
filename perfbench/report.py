"""Per-layer metrics of a traced run, and where they are written.

A layer is a ``pagerank_spark`` module, named by the first part of a span
name (``graph.build_graph`` belongs to ``operators.graph``). For every
layer the report gives its wall time (``.s``, top-level spans only), its
self time (``.self_s``: span time not covered by child spans) and the
Spark counters of the jobs its spans started.

``PER_LAYER`` is the set printed on the JSON line. It holds the metrics
that every workload measures, plus counts (which read 0 where a workload
bypasses the layer). Timings of a layer that some workload bypasses would
read exactly 0 there, so they are printed and saved with the trace but
kept off the JSON line.
"""

from __future__ import annotations

import json
import os
import statistics

from spans import event_log_counters

LAYERS = ["sources", "graph", "extract", "pagerank", "checkpoint",
          "components", "labelprop", "triangles"]
COUNTERS = ["jobs", "tasks", "failed_tasks", "shuffle_write_mb", "spill_mb", "gc_ms"]

PER_LAYER = [
    "session.start_s", "session.jvm_peak_rss_mb", "sources.scan_s", "sources.rows",
    "graph.build_graph_s", "graph.self_s", "graph.edges", "graph.vertices",
    "graph.hot_vertices", "graph.jobs", "graph.tasks", "graph.shuffle_write_mb",
    "extract.jobs",
    "pagerank.supersteps", "pagerank.jobs", "pagerank.tasks",
    "checkpoint.jobs", "checkpoint.mb_per_superstep", "checkpoint.resumed_supersteps",
    "components.rounds", "components.jobs", "labelprop.rounds", "labelprop.jobs",
    "triangles.count", "triangles.jobs",
    "spark.jobs", "spark.tasks", "spark.failed_tasks", "spark.shuffle_write_mb",
    "spark.spill_mb", "spark.gc_ms",
    "host.steal_pct", "trace.overhead_s", "error_rate",
]


def unit_of(key: str) -> str:
    last = key.rsplit(".", 1)[-1]
    if last in ("jobs", "tasks", "failed_tasks", "rounds", "supersteps", "resumed_supersteps",
                "count", "rows", "edges", "vertices", "hot_vertices"):
        return "count"
    if last.endswith("_mb") or last.startswith("mb_"):
        return "MB"
    if last.endswith("_pct"):
        return "%"
    if last == "error_rate":
        return "ratio"
    if last.endswith("_per_s"):
        return "1/s"
    if last.endswith("_ms") or "_ms_" in last:
        return "ms"
    return "s"


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(tracer, op, event_log: str) -> dict[str, float]:
    steps = [st for ck, sp in op.pagerank_calls for st in ck.supersteps(sp)]
    counters = event_log_counters(event_log)
    selfs = tracer.self_times()
    by_id = {s.id: s for s in tracer.spans}
    agg = {layer: dict.fromkeys(["s", "self_s"] + COUNTERS, 0.0) for layer in LAYERS}
    for s in tracer.spans:
        a = agg[s.name.split(".")[0]]
        parent = by_id.get(s.parent)
        if parent is None or parent.name.split(".")[0] != s.name.split(".")[0]:
            a["s"] += s.end - s.start
        a["self_s"] += selfs[s.id]
        for k, v in counters.get(f"{s.id}:{s.name}", {}).items():
            a[k] += v
    out = {f"{layer}.{k}": v for layer, a in agg.items() for k, v in a.items()}
    # jobs outside the traced spans (warm-up, untraced operations, checks)
    # are not the program's work under trace
    traced = [counters[g] for g in (f"{s.id}:{s.name}" for s in tracer.spans) if g in counters]
    for k in COUNTERS:
        out[f"spark.{k}"] = sum(c[k] for c in traced)
    for name in ("graph.build_graph", "graph.edges_from_pages"):
        out[name + "_s"] = sum(s.end - s.start for s in tracer.spans if s.name == name)
    out.update({"pagerank.supersteps": 0, "checkpoint.mb_per_superstep": 0.0,
                "checkpoint.resumed_supersteps": 0, "components.rounds": 0,
                "labelprop.rounds": 0, "triangles.count": 0})
    out.update(op.layer)
    if op.pagerank_calls:
        events = [e for ck, _ in op.pagerank_calls for e in ck.events]
        saves = [e for e in events if e[1] == "save" and e[0] > 0]
        out.update({
            "pagerank.superstep_ms_p50": _p50([ms for ms, _ in steps]),
            "pagerank.superstep_ms_max": max(ms for ms, _ in steps),
            "pagerank.gap_ms_p50": _p50([gap for _, gap in steps]),
            "checkpoint.save_ms_p50": _p50([(s.end - s.start) * 1e3 for _, _, s, _ in saves]),
            "checkpoint.record_ms_p50": _p50([(s.end - s.start) * 1e3 for _, kind, s, _ in events
                                              if kind == "record"]),
            "checkpoint.mb_per_superstep": _p50([b for *_, b in saves]) / 1e6,
        })
    return out


def print_layers(layer: dict[str, float]) -> None:
    for k in sorted(layer):
        print(f"  {k:<34} {layer[k]:>14.4f} {unit_of(k)}")


def write(here: str, args, layer: dict[str, float], tracer) -> None:
    """Trace spans and the full per-layer table under ``results/``."""
    out = os.path.join(here, "results")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-s{args.seed}-trace")
    tracer.dump(stem + ".spans.jsonl")
    with open(stem + ".layers.json", "w") as f:
        json.dump(layer, f, indent=1, sort_keys=True)
