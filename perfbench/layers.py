"""Per-layer metrics of a traced run, folded from its requests' spans.

Times and counts are means per measured request unless the name says
otherwise: a layer a request does not touch adds zero, so the layer
times of one workload add up to its mean request wall time. Counts that
only one workload produces read zero on the other.
"""

from __future__ import annotations

import statistics

from perfbench.batch_slots import SLOTS

#: the Spark counts the trace folds per request (``spark.outside_jobs_s``
#: comes from the spans instead)
SPARK_COUNTS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
    "spark.spill_mb",
)

#: span layer -> the metric its wall time feeds
SPAN_TIME = {
    "catalog.load": "catalog.load_s", "gridframe.build": "gridframe.build_s",
    "gridframe.collect": "gridframe.collect_s", "sinks.write": "sinks.write_s",
    "sources.decode": "sources.decode_s", "sources.land": "sources.land_s",
    "queries.build": "queries.build_s", "queries.run": "queries.run_s",
}


def per_layer(records, session_start_s: float, wl, names: list[str]) -> dict:
    """Every metric in ``names`` (``BENCHMARK.json``'s per-layer list)."""
    n = len(records)
    total = dict.fromkeys(names, 0.0)
    slot_s: dict[str, list] = {kind: [] for kind in SLOTS}
    coverage = []
    for r in records:
        spans = [s for s in r.spans if s["depth"] == 0]
        for s in spans:
            total[SPAN_TIME[s["layer"]]] += s["t1"] - s["t0"]
            total["spark.outside_jobs_s"] += s["outside_jobs_s"]
        coverage.append(sum(s["t1"] - s["t0"] for s in spans) / r.wall_s)
        if r.kind in slot_s:
            slot_s[r.kind].append(sum(s["t1"] - s["t0"] for s in spans))
        c = r.counts
        for k in SPARK_COUNTS:
            total[k] += c.get(k, 0.0)
        total["gridframe.eager_jobs"] += c.get("gridframe.build.jobs", 0.0)
        total["queries.build_jobs"] += c.get("queries.build.jobs", 0.0)
        for k in ("sinks.mb_out", "sinks.files_out", "sources.mb_in",
                  "streaming.batches", "streaming.batch_s"):
            total[k] += c.get(k, 0.0)
        if getattr(wl, "n_files", None):
            total["catalog.files_read"] += c.get("files_read", 0.0)
        total["jvm.cpu_s"] += r.jvm["jvm_cpu_s"]
        total["pyworker.cpu_s"] += r.jvm["tree_cpu_s"] - r.jvm["jvm_cpu_s"]
        total["jvm.gc_s"] += r.jvm["gc_s"]
        total["jvm.jit_ms"] += r.jvm["jit_ms"]
        total["codegen.compiles"] += r.jvm["compiles"]
    out = {k: v / n for k, v in total.items()}
    if getattr(wl, "n_files", None):
        scans = sum(r.counts.get("scans", 0.0) for r in records)
        read = sum(r.counts.get("files_read", 0.0) for r in records)
        out["catalog.prune_ratio"] = 1.0 - read / (scans * wl.n_files) if scans else 0.0
    out["session.start_s"] = session_start_s
    out["cachectl.live_rdds"] = max(r.counts.get("live_rdds", 0.0) for r in records)
    for kind, vals in slot_s.items():
        out[f"slot.{SLOTS[kind]}.s"] = statistics.fmean(vals) if vals else 0.0
    out["trace.coverage"] = statistics.fmean(coverage)
    return out
