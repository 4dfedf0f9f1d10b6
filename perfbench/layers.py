"""Per-layer metrics of a traced run, reduced from the tracer's spans,
jobs, stages and plans. Every value is per traced op (the mean over
the run's traced ops) unless its name says it is a ratio or a share.

Layers are the engine's modules: ``session``; ``registry`` (query
construction through operators/* and functions/*, and the dedup
lifecycle calls); ``plans``; Spark execution (``exec``) as the
operators drive it; ``sources`` scans; ``sources/storage`` writes
(``storage``); the Spark cache (``cache``); ``operators/collocations``
and ``operators/dedup``.
"""

from __future__ import annotations

import statistics

from ngrams_collocations_hadoop_spark.sources.ngram_source import (
    bigram_records)

from .trace import Tracer, covered

MB = 1e6
# name -> unit; BENCHMARK.json's per_layer list is this table
UNITS = {
    "session.start_s": "s",
    "registry.construct_s": "s",
    "registry.construct_driver_s": "s",
    "registry.construct_jobs": "count",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "plans.reused_exchanges": "count",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.busy_ratio": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_records": "count",
    "exec.spill_mb": "MB",
    "collocations.combine_ratio": "ratio",
    "sources.input_mb": "MB",
    "storage.write_share": "ratio",
    "storage.output_mb": "MB",
    "storage.files": "count",
    "storage.write_amp": "ratio",
    "cache.persisted_rdds": "count",
    "cache.persisted_mb": "MB",
    "dedup.match_pairs": "count",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
}
CONSTRUCT = ("registry.", "lifecycle.")
WRITES = ("lifecycle.append_lsh_index", "lifecycle.refresh_components_table")


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _jobs(spans: list[dict]) -> list[dict]:
    return [j for s in spans for j in s["jobs"]]


def _intervals(jobs: list[dict]) -> list[tuple[float, float]]:
    return [(j["start"], j["end"]) for j in jobs]


def metrics(wl, spark, data_dir: str, tr: Tracer, cpus: int,
            sessions: list[float], overhead: float,
            match_pairs: int) -> dict[str, tuple[float, str]]:
    a: dict[str, float] = dict.fromkeys(
        ("construct", "driver", "construct_jobs", "plan", "exec_wall",
         "jobs", "stages", "tasks", "task", "cpu", "gc", "shuffle_bytes",
         "shuffle_records", "spill", "output", "write", "wall",
         "exchanges", "reused", "rdds", "cached", "colloc_records",
         "files_read"), 0.0)
    coverage, n_colloc = [], 0
    for op in tr.ops:
        spans = tr.op_spans(op)
        root = spans[0]
        kids = [s for s in spans if s["parent"] == root["id"]]
        lo, hi = root["start"], root["end"]
        a["wall"] += hi - lo
        coverage.append(covered([(s["start"], s["end"]) for s in kids],
                                lo, hi) / (hi - lo))
        for s in kids:
            if s["name"].startswith(CONSTRUCT):
                a["construct"] += _dur(s)
                a["construct_jobs"] += len(s["jobs"])
                a["driver"] += _dur(s) - covered(
                    _intervals(s["jobs"]), s["start"], s["end"])
            if s["name"] == "plans.plan":
                a["plan"] += _dur(s)
            if s["name"] in WRITES:
                a["write"] += _dur(s)
        jobs = _jobs(spans)
        stages = [st for j in jobs for st in j["stages"]]
        a["exec_wall"] += covered(_intervals(jobs), lo, hi)
        a["jobs"] += len(jobs)
        a["stages"] += len(stages)
        for key, field in (("tasks", "tasks"), ("task", "task_s"),
                           ("cpu", "cpu_s"), ("gc", "gc_s"),
                           ("shuffle_bytes", "shuffle_write_bytes"),
                           ("shuffle_records", "shuffle_records"),
                           ("spill", "spill_bytes"),
                           ("output", "output_bytes")):
            a[key] += sum(st[field] for st in stages)
        if op["name"] == "colloc_topk":
            n_colloc += 1
            a["colloc_records"] += sum(st["shuffle_records"]
                                       for st in stages)
        a["files_read"] += op["files_read_bytes"]
        a["exchanges"] += op["exchanges"]
        a["reused"] += op["reused_exchanges"]
        a["rdds"] += op["persisted_rdds"]
        a["cached"] += op["persisted_bytes"]
    n = len(tr.ops)
    per = {k: v / n for k, v in a.items()}
    raw_bigrams = (bigram_records(spark, data_dir).count()
                   if n_colloc else 0)
    values = {
        "session.start_s": statistics.median(sessions),
        "registry.construct_s": per["construct"],
        "registry.construct_driver_s": per["driver"],
        "registry.construct_jobs": per["construct_jobs"],
        "plans.plan_s": per["plan"],
        "plans.exchanges": per["exchanges"],
        "plans.reused_exchanges": per["reused"],
        "exec.wall_s": per["exec_wall"],
        "exec.jobs": per["jobs"],
        "exec.stages": per["stages"],
        "exec.tasks": per["tasks"],
        "exec.task_s": per["task"],
        "exec.task_cpu_s": per["cpu"],
        "exec.gc_s": per["gc"],
        "exec.busy_ratio": a["task"] / (a["exec_wall"] * cpus),
        "exec.shuffle_write_mb": per["shuffle_bytes"] / MB,
        "exec.shuffle_records": per["shuffle_records"],
        "exec.spill_mb": per["spill"] / MB,
        "collocations.combine_ratio": (
            a["colloc_records"] / (n_colloc * raw_bigrams)
            if n_colloc else 0.0),
        "sources.input_mb": per["files_read"] / MB,
        "storage.write_share": a["write"] / a["wall"],
        "storage.output_mb": per["output"] / MB,
        "storage.files": float(wl.lifecycle_files(spark)),
        "storage.write_amp": (a["output"] / a["files_read"]
                              if a["files_read"] else 0.0),
        "cache.persisted_rdds": per["rdds"],
        "cache.persisted_mb": per["cached"] / MB,
        "dedup.match_pairs": float(match_pairs),
        "trace.overhead_s": overhead,
        "trace.span_coverage": min(coverage),
    }
    return {k: (values[k], u) for k, u in UNITS.items()}
