"""Per-layer metrics of the traced run.

Every traced run reports every metric of ``per_layer_metrics()``; a layer the
workload does not reach reads 0 (no calls, no seconds). Span-based values
are per call unless the name says otherwise.
"""

from __future__ import annotations

import json
import os

from spans import count_in_log
from workloads import QueryMix, noop_sink

ENTRY_FIELDS = ("s", "jvm_cpu_s", "pyworker_cpu_s", "shuffle_mb", "codegen_fallbacks")

# (name, unit, better)
FIXED = [
    ("lake.write_bucket_data.s", "s", "lower"),
    ("lake.write_bucket_data.jvm_cpu_s", "s", "lower"),
    ("lake.write_bucket_data.pyworker_cpu_s", "s", "lower"),
    ("lake.write_bucket_data.shuffle_write_mb", "MB", "lower"),
    ("lake.write_bucket_data.spill_mb", "MB", "lower"),
    ("lake.write_bucket_data.output_mb", "MB", "lower"),
    ("lake.apply_batch_mor.s", "s", "lower"),
    ("cdc.extract.s", "s", "lower"),
    ("cdc.extract.pyworker_cpu_s", "s", "lower"),
    ("cdc.extract.mb_per_s", "MB/s", "higher"),
    ("cdc.run.self_s", "s", "lower"),
    ("cdc.jobs_per_batch", "count", "lower"),
    ("cdc.checkpoint_kb", "KB", "lower"),
    ("lake.commit.s", "s", "lower"),
    ("lake.commit.meta_kb", "KB", "lower"),
    ("lake.snapshot.calls_per_batch", "count", "lower"),
    ("lake.snapshot.s", "s", "lower"),
    ("lake.compact.s", "s", "lower"),
    ("lake.compact.calls", "count", "lower"),
    ("lake.compact.rewritten_mb", "MB", "lower"),
    ("lake.files_live", "count", "lower"),
    ("lake.delta_depth_max", "count", "lower"),
    ("lake.write_amplification", "ratio", "lower"),
    ("lake.read.s", "s", "lower"),
    ("lake.read.jvm_cpu_s", "s", "lower"),
    ("lake.read.shuffle_mb", "MB", "lower"),
    ("lake.read_keys.s", "s", "lower"),
    ("lake.read_keys.files", "count", "lower"),
    ("lake.changes_between.s", "s", "lower"),
    ("spark.codegen_fallbacks", "count", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.tasks", "count", "lower"),
    ("tail.backlog_max", "count", "lower"),
    ("tail.generator_late_s", "s", "lower"),
]
UNITS = {"s": "s", "jvm_cpu_s": "s", "pyworker_cpu_s": "s", "shuffle_mb": "MB",
         "codegen_fallbacks": "count"}


def per_layer_metrics() -> list[tuple[str, str, str]]:
    return FIXED + [
        (f"operators.{e}.{f}", UNITS[f], "lower") for e in QueryMix.ENTRIES for f in ENTRY_FIELDS
    ]


def install(tracer) -> None:
    """Wrap the program's public entry points at their module or class
    attribute. The lazily evaluated reads (``read``, ``read_keys``,
    ``changes_between``) are spanned at the benchmark's call sites, around
    the action that executes them."""
    from csv_cruncher_spark.cdc.pipeline import CdcPipeline
    from csv_cruncher_spark.lake import merge
    from csv_cruncher_spark.lake.table import LakeTable

    def commit_size(rec, args, result):
        rec["meta_kb"] = len(json.dumps(result)) / 1024.0

    tracer.wrap(CdcPipeline, "run", "cdc.run")
    tracer.wrap(merge, "apply_batch_mor", "lake.apply_batch_mor")
    tracer.wrap(LakeTable, "write_bucket_data", "lake.write_bucket_data")
    tracer.wrap(LakeTable, "compact", "lake.compact")
    tracer.wrap(LakeTable, "commit", "lake.commit", spark_jobs=False, after=commit_size)
    tracer.wrap(LakeTable, "snapshot", "lake.snapshot", spark_jobs=False)


def extract_alone(spark, tracer, paths: list[str]) -> dict:
    """``extract_text_udf`` by itself over the decoded html of ``paths``,
    noop sink: the Arrow UDF's cost without the rest of the replay."""
    from functools import reduce

    from pyspark.sql import functions as F

    from csv_cruncher_spark.cdc.extract import extract_text_udf
    from csv_cruncher_spark.cdc.pipeline import read_change_batch

    if not paths:
        return {"s": 0.0, "pyworker_cpu_s": 0.0, "mb_per_s": 0.0}
    html = reduce(
        lambda a, b: a.unionByName(b),
        (read_change_batch(spark, p).select("html") for p in paths),
    ).persist()
    mb = html.select(F.sum(F.length("html"))).first()[0] / (1024.0 * 1024.0)
    with tracer.span("cdc.extract", request="extract") as rec:
        noop_sink(html.select(extract_text_udf(F.col("html"))))
    html.unpersist()
    s = rec["end"] - rec["start"]
    return {"s": s, "pyworker_cpu_s": rec["pyworker_cpu_s"], "mb_per_s": mb / s}


def compute(tracer, groups: dict[str, dict], wl, extract: dict, log_span: tuple[int, int]) -> dict:
    """All per-layer values from the spans, the event-log sums per job
    group, and the workload's own counts."""
    kids = tracer.children_of()
    by = {}
    for s in tracer.spans:
        by.setdefault(s["name"], []).append(s)
    # Spark totals cover the timed operations, not the extraction run after them
    timed = [g for s in tracer.spans if s["parent"] is None and s["name"] != "cdc.extract"
             for g in tracer.subtree_groups(s, kids)]

    def dur(s):
        return s["end"] - s["start"]

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def ev(s, key):
        return sum(groups.get(g, {}).get(key, 0.0) for g in tracer.subtree_groups(s, kids))

    wbd = by.get("lake.write_bucket_data", [])
    runs = by.get("cdc.run", [])
    applies = by.get("lake.apply_batch_mor", [])
    batches = max(1, len(applies))
    in_runs = set()
    todo = list(runs)
    while todo:
        x = todo.pop()
        in_runs.add(x["id"])
        todo.extend(kids.get(x["id"], []))
    compacts = by.get("lake.compact", [])
    reads = by.get("lake.read", [])
    out = {
        "lake.write_bucket_data.s": mean(dur(s) for s in wbd),
        "lake.write_bucket_data.jvm_cpu_s": mean(s["jvm_cpu_s"] for s in wbd),
        "lake.write_bucket_data.pyworker_cpu_s": mean(s["pyworker_cpu_s"] for s in wbd),
        "lake.write_bucket_data.shuffle_write_mb": mean(ev(s, "shuffle_write_mb") for s in wbd),
        "lake.write_bucket_data.spill_mb": mean(ev(s, "spill_mb") for s in wbd),
        "lake.write_bucket_data.output_mb": mean(ev(s, "output_mb") for s in wbd),
        "lake.apply_batch_mor.s": mean(dur(s) for s in applies),
        "cdc.extract.s": extract["s"],
        "cdc.extract.pyworker_cpu_s": extract["pyworker_cpu_s"],
        "cdc.extract.mb_per_s": extract["mb_per_s"],
        "cdc.run.self_s": sum(tracer.self_time(s, kids) for s in runs) / batches,
        "cdc.jobs_per_batch": sum(ev(s, "jobs") for s in runs) / batches if runs else 0.0,
        "cdc.checkpoint_kb": _size_kb(os.path.join(wl.table_path, "checkpoint.json")),
        "lake.commit.s": mean(dur(s) for s in by.get("lake.commit", [])),
        "lake.commit.meta_kb": mean(s["meta_kb"] for s in by.get("lake.commit", [])),
        "lake.snapshot.calls_per_batch": (
            sum(1 for s in by.get("lake.snapshot", []) if s["id"] in in_runs) / batches
            if runs else 0.0
        ),
        "lake.snapshot.s": mean(dur(s) for s in by.get("lake.snapshot", [])),
        "lake.compact.s": mean(dur(s) for s in compacts),
        "lake.compact.calls": len(compacts),
        "lake.compact.rewritten_mb": sum(ev(s, "output_mb") for s in compacts),
        "lake.files_live": _files_live(wl.table_path),
        "lake.delta_depth_max": getattr(wl, "depth_max", 0),
        "lake.write_amplification": (
            sum(ev(s, "output_mb") for s in wbd)
            / (wl.input_bytes / (1024.0 * 1024.0))
            if wl.input_bytes else 0.0
        ),
        "lake.read.s": mean(dur(s) for s in reads),
        "lake.read.jvm_cpu_s": mean(s["jvm_cpu_s"] for s in reads),
        "lake.read.shuffle_mb": mean(ev(s, "shuffle_write_mb") for s in reads),
        "lake.read_keys.s": mean(dur(s) for s in by.get("lake.read_keys", [])),
        "lake.read_keys.files": mean(s.get("files", 0) for s in by.get("lake.read_keys", [])),
        "lake.changes_between.s": mean(dur(s) for s in by.get("lake.changes_between", [])),
        "spark.codegen_fallbacks": count_in_log(tracer.driver_log, *log_span),
        "spark.gc_s": sum(groups.get(g, {}).get("gc_s", 0.0) for g in timed),
        "spark.tasks": sum(groups.get(g, {}).get("tasks", 0) for g in timed),
        "tail.backlog_max": getattr(wl, "backlog_max", 0),
        "tail.generator_late_s": max(getattr(wl, "late", None) or [0.0]),
    }
    for e in QueryMix.ENTRIES:
        ss = by.get(f"operators.{e}", [])
        out[f"operators.{e}.s"] = sum(dur(s) for s in ss)
        out[f"operators.{e}.jvm_cpu_s"] = sum(s["jvm_cpu_s"] for s in ss)
        out[f"operators.{e}.pyworker_cpu_s"] = sum(s["pyworker_cpu_s"] for s in ss)
        out[f"operators.{e}.shuffle_mb"] = sum(ev(s, "shuffle_write_mb") for s in ss)
        out[f"operators.{e}.codegen_fallbacks"] = sum(tracer.codegen_fallbacks(s) for s in ss)
    return out


def _size_kb(path: str) -> float:
    return os.path.getsize(path) / 1024.0 if os.path.exists(path) else 0.0


def _files_live(table_path: str) -> int:
    if not table_path or not os.path.isdir(table_path):
        return 0
    from csv_cruncher_spark.lake.table import LakeTable

    return len(LakeTable.load(table_path).snapshot()["files"])
