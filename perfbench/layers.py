"""Per-layer metrics of a traced run, and the end-to-end metric each one
should move (the workload in brackets):

- ``plans.build_s`` / ``plans.build_jobs``: time and Spark jobs inside
  ``spec.spark(...)``, the driver-blocking eager actions
  -> ``op_p50_s`` (corpus_curation).
- ``plans.exec_s``, ``plans.jobs``, ``plans.stages``, ``plans.tasks``,
  ``plans.task_s``, ``plans.task_cpu_s``, ``plans.busy_frac`` (task time
  over wall x Spark task slots: low means cutting jobs moves wall, high means
  cutting task time does) -> ``wall_s`` (both).
  ``plans.group_jobs`` is how many of ``plans.jobs`` a job-group count
  sees; jobs started from library thread pools have no group.
- ``plans.exchanges``, ``plans.broadcasts``, ``plans.smj``,
  ``plans.bhj``, ``plans.python_nodes``: final-plan node counts from
  ``tools/profile_query.plan_counts`` -> ``op_tail_s`` (corpus_curation).
- ``shuffle.*``, ``spill.bytes``, ``jvm.gc_s``: Spark UI stage data
  -> ``op_tail_s`` (corpus_curation: LSH and ANN).
- ``sources.input_bytes`` / ``input_rows`` and ``sources.bloom_prune.*``
  -> ``op_p50_s`` and freshness (ingest_writes).
- ``python.rows_sent`` / ``bytes_sent``: SQL node metrics of the
  Python-boundary nodes -> ``wall_s`` (corpus_curation).
- ``merge.*`` / ``evolution.*``: calls, seconds, bytes and files
  written, write amplification -> freshness and space_amp
  (ingest_writes); no change on corpus_curation.
- ``stream.*``: StreamingQueryListener progress -> ``wall_s``
  (corpus_curation).
- ``session.materialize.*``, ``session.rss_peak_mb`` -> ``op_p50_s``
  (corpus_curation), ``setup_s`` (both).
- ``pipeline.hourly_pipeline.s`` -> freshness (ingest_writes).
- ``host.steal_pct`` (median over ops), ``host.cores``.
- ``trace.overhead_s``: wall of one traced op of each kind minus wall
  of one untraced op of each kind, run back to back after the measured
  passes; ``trace.spans`` counts the spans of the measured ops.
- ``plans.ops_with_writes``: ops during which a ``merge`` or
  ``evolution`` function ran; it must stay 0 on corpus_curation.
"""

from __future__ import annotations

import os
import statistics

import tracing as T

UNITS = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.jobs": "count",
    "plans.group_jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.task_s": "s",
    "plans.task_cpu_s": "s",
    "plans.busy_frac": "ratio",
    "plans.exchanges": "count",
    "plans.broadcasts": "count",
    "plans.smj": "count",
    "plans.bhj": "count",
    "plans.python_nodes": "count",
    "plans.ops_with_writes": "count",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "spill.bytes": "bytes",
    "jvm.gc_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "sources.bloom_prune.calls": "count",
    "sources.bloom_prune.s": "s",
    "python.rows_sent": "count",
    "python.bytes_sent": "bytes",
    "merge.calls": "count",
    "merge.s": "s",
    "merge.bytes_written": "bytes",
    "merge.files_written": "count",
    "merge.write_amp": "ratio",
    "evolution.calls": "count",
    "evolution.s": "s",
    "evolution.bytes_written": "bytes",
    "evolution.files_written": "count",
    "evolution.write_amp": "ratio",
    "stream.batches": "count",
    "stream.batch_p50_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.input_rows": "count",
    "stream.state_rows": "count",
    "session.materialize.calls": "count",
    "session.materialize.s": "s",
    "session.rss_peak_mb": "MB",
    "pipeline.hourly_pipeline.s": "s",
    "host.steal_pct": "%",
    "host.cores": "count",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}

_PLAN_KEYS = {
    "plans.exchanges": "exchange",
    "plans.broadcasts": "broadcast_exchange",
    "plans.smj": "smj",
    "plans.bhj": "bhj",
    "plans.python_nodes": "python",
}


def per_layer(bench, recs: list[dict], stream: dict, rss_peak_mb: float,
              overhead_s: float) -> dict[str, float]:
    probe, tracer = bench.probe, bench.tracer
    probe.drain()
    job_ids: set[int] = set()
    build_jobs = 0
    for r in recs:
        job_ids.update(range(r["job_lo"], r["job_hi"]))
        if "job_mid" in r:
            build_jobs += r["job_mid"] - r["job_lo"]
    jobs = probe.jobs()
    stage_ids = {s for j in job_ids if j in jobs for s in jobs[j]["stageIds"]}
    stages = [s for sid, s in probe.stages().items()
              if sid in stage_ids and s.get("status") != "SKIPPED"]

    def stage_sum(key: str) -> float:
        return float(sum(s.get(key, 0) or 0 for s in stages))

    wall = recs[-1]["t1"] - recs[0]["t0"]
    cores = len(os.sched_getaffinity(0))
    slots = bench.dirs.cores
    task_s = stage_sum("executorRunTime") / 1e3
    rows_sent, bytes_sent = T.python_boundary(probe.sql(), job_ids)
    queries = [r for r in recs if r["op"][0] == "query"]
    ops = {r["index"] for r in recs}

    out: dict[str, float] = {
        "plans.build_s": sum(r["t_build"] - r["t0"] for r in queries if "t_build" in r),
        "plans.build_jobs": build_jobs,
        "plans.exec_s": sum(r["t1"] - r["t_build"] for r in queries if "t_build" in r),
        "plans.jobs": len(job_ids),
        "plans.group_jobs": sum(r["group_jobs"] for r in recs),
        "plans.stages": len(stages),
        "plans.tasks": stage_sum("numCompleteTasks"),
        "plans.task_s": task_s,
        "plans.task_cpu_s": stage_sum("executorCpuTime") / 1e9,
        "plans.busy_frac": task_s / (wall * slots),
        "plans.ops_with_writes": tracer.ops_with_writes(ops),
        "shuffle.write_bytes": stage_sum("shuffleWriteBytes"),
        "shuffle.read_bytes": stage_sum("shuffleReadBytes"),
        "shuffle.fetch_wait_s": stage_sum("shuffleFetchWaitTime") / 1e3,
        "spill.bytes": stage_sum("diskBytesSpilled"),
        "jvm.gc_s": stage_sum("jvmGcTime") / 1e3,
        "sources.input_bytes": stage_sum("inputBytes"),
        "sources.input_rows": stage_sum("inputRecords"),
        "python.rows_sent": rows_sent,
        "python.bytes_sent": bytes_sent,
    }
    for key, plan_key in _PLAN_KEYS.items():
        out[key] = sum(r.get("plan", {}).get(plan_key, 0) for r in queries)
    bloom = tracer.totals("sources.bloom_prune", ops)
    out["sources.bloom_prune.calls"] = bloom["calls"]
    out["sources.bloom_prune.s"] = bloom["s"]
    for layer in ("merge", "evolution"):
        t = tracer.totals(f"{layer}.", ops)
        out.update({f"{layer}.{k}": v for k, v in t.items()})
        out[f"{layer}.write_amp"] = tracer.write_amp(layer, t["bytes_written"])
    out.update(stream)
    mat = tracer.totals("session.materialize", ops)
    out["session.materialize.calls"] = mat["calls"]
    out["session.materialize.s"] = mat["s"]
    out["session.rss_peak_mb"] = rss_peak_mb
    out["pipeline.hourly_pipeline.s"] = tracer.totals("pipeline.hourly_pipeline", ops)["s"]
    steal = [r["steal"] for r in recs if r["steal"] >= 0]
    out["host.steal_pct"] = statistics.median(steal) if steal else -1.0
    out["host.cores"] = cores
    out["trace.overhead_s"] = overhead_s
    out["trace.spans"] = sum(1 for sp in tracer.spans if sp["op"] in ops)
    return {k: float(v) for k, v in out.items()}
