"""Per-layer metrics of a traced run.

The traced segment's spans, streaming progress and Spark event log are
reduced to one flat set of metrics with the same names on every
workload (``PER_LAYER``), normalized per op: per micro-batch on
``ingest``, per query execution on ``query``. The workload-specific
breakdown the same data gives (per query, per streaming query, per
sink table) goes into ``detail``, which the run writes next to its
spans.
"""

from __future__ import annotations

import statistics
from datetime import datetime

import tracing

STREAM_PHASES = {
    "stream.trigger_ms_p50": "triggerExecution",
    "stream.add_batch_ms_p50": "addBatch",
    "stream.wal_commit_ms_p50": "walCommit",
    "stream.commit_offsets_ms_p50": "commitOffsets",
    "stream.query_planning_ms_p50": "queryPlanning",
    "stream.latest_offset_ms_p50": "latestOffset",
}

SPARK_COUNTERS = {
    "spark.jobs_per_op": ("jobs", 1.0),
    "spark.stages_per_op": ("stages", 1.0),
    "spark.tasks_per_op": ("tasks", 1.0),
    "spark.job_span_ms_per_op": ("job_span_s", 1000.0),
    "spark.exec_run_ms_per_op": ("run_ms", 1.0),
    "spark.exec_cpu_ms_per_op": ("cpu_ms", 1.0),
    "spark.gc_ms_per_op": ("gc_ms", 1.0),
    "spark.input_bytes_per_op": ("input_bytes", 1.0),
    "spark.output_bytes_per_op": ("output_bytes", 1.0),
    "spark.shuffle_bytes_per_op": ("shuffle_bytes", 1.0),
}


def _p50(values) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else float("nan")


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def compute(run, tracer, spark_log: dict, progress: list[dict], traced, untraced) -> tuple[dict, dict]:
    """(per-layer metrics, detail) of the traced segment ``traced``;
    ``untraced`` is the same workload's untraced segment of the run."""
    ops = [op for op in tracer.ops if op.end]
    n_ops = len(traced.op_ms)
    per_unit = n_ops / len(ops)  # ops in one traced unit (batches per replay)
    spark = tracing.attribute_jobs(spark_log, ops)
    metrics: dict[str, tuple[float, str]] = {}

    for phase in ("session_build", "fixtures", "staging", "oracle", "warmup"):
        metrics[f"setup.{phase}_s"] = (run.phases[phase], "s")

    walls = [op.end - op.start for op in ops]
    traced_ms = 1000.0 * traced.wall_s / n_ops
    untraced_ms = 1000.0 * untraced.wall_s / len(untraced.op_ms)
    metrics["trace.wall_ms_per_op"] = (traced_ms, "ms")
    metrics["trace.overhead_pct"] = (100.0 * (traced_ms - untraced_ms) / untraced_ms, "%")

    layer_self: dict[str, float] = {}
    worst = 0.0
    per_op_rows = []
    for op, wall in zip(ops, walls):
        selfs = tracing.self_times(tracer.spans, op)
        worst = max(worst, abs(sum(selfs.values()) - wall) / wall)
        for name, sec in selfs.items():
            layer_self[name] = layer_self.get(name, 0.0) + sec
        per_op_rows.append({"op": op.op_id, "kind": op.kind, "wall_ms": 1000.0 * wall,
                            "self_ms": {k: 1000.0 * v for k, v in selfs.items()},
                            "spark": spark[op.op_id]})
    root_self = sum(v for k, v in layer_self.items() if k.startswith("op."))
    engine_self = sum(v for k, v in layer_self.items() if not k.startswith("op."))
    metrics["engine.self_ms_per_op"] = (1000.0 * engine_self / n_ops, "ms")
    metrics["driver.wait_ms_per_op"] = (1000.0 * root_self / n_ops, "ms")

    totals = {k: sum(row[k] for row in spark.values()) for k in
              ("jobs", "tagged_jobs", "stages", "tasks", "job_span_s", "run_ms", "cpu_ms",
               "gc_ms", "input_bytes", "output_bytes", "shuffle_bytes")}
    for name, (key, scale) in SPARK_COUNTERS.items():
        unit = "ms" if name.endswith("_ms_per_op") else (
            "bytes" if "bytes" in name else "count")
        metrics[name] = (scale * totals[key] / n_ops, unit)
    metrics["driver.residual_ms_per_op"] = (
        1000.0 * (sum(walls) - totals["job_span_s"]) / n_ops, "ms")

    t0, t1 = ops[0].start, ops[-1].end
    batches = [b for b in progress if t0 <= _epoch(b["timestamp"]) <= t1]
    for name, phase in STREAM_PHASES.items():
        metrics[name] = (_p50((b.get("durationMs") or {}).get(phase) for b in batches), "ms")
    metrics["stream.state_commit_ms_p50"] = (_p50(
        sum(s.get("commitTimeMs") or 0 for s in b["stateOperators"])
        for b in batches if b.get("stateOperators")), "ms")

    def span_p50(prefix: str) -> float:
        # spans exist only for traced units and the checks that follow them
        return 1000.0 * _p50(s.end - s.start for s in tracer.spans
                             if s.name.startswith(prefix) and s.end)

    metrics["sinks.write_batch_ms_p50"] = (span_p50("streaming.sinks.write_batch"), "ms")
    metrics["sinks.read_ms_p50"] = (span_p50("streaming.sinks.read"), "ms")

    detail = {
        "ops_per_unit": per_unit,
        "reconcile_err_pct": 100.0 * worst,
        "self_ms_by_span": {k: 1000.0 * v / n_ops for k, v in sorted(layer_self.items())},
        "spark_totals": totals,
        "tagged_job_share": totals["tagged_jobs"] / totals["jobs"] if totals["jobs"] else None,
        "per_op": per_op_rows,
        "stream_batches": batches,
    }
    return ({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail)


PER_LAYER = (
    [f"setup.{p}_s" for p in ("session_build", "fixtures", "staging", "oracle", "warmup")]
    + ["trace.wall_ms_per_op", "trace.overhead_pct",
       "engine.self_ms_per_op", "driver.wait_ms_per_op"]
    + list(SPARK_COUNTERS) + ["driver.residual_ms_per_op"]
    + list(STREAM_PHASES) + ["stream.state_commit_ms_p50",
                             "sinks.write_batch_ms_p50", "sinks.read_ms_p50"]
)
