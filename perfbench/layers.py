"""Per-layer metrics of a traced pass: spans, listener progress and the event log.

Every metric is taken per operation and reported as the median over the
pass's operations; per-trigger figures are medians over the triggers of all
operations. A metric of a layer that a workload bypasses reads 0.
"""

from __future__ import annotations

from statistics import median

from .spec import PER_LAYER
from .trace import Tracer, add_trigger_spans, p50, union_length

# span name -> layer whose self time it counts toward
LAYER_OF_SPAN = {
    "bench.op": "layer.bench_s",
    "sources.events_schema": "layer.sources_s",
    "sources.plan": "layer.sources_s",
    "plans.build": "layer.plans_s",
    "operators.execute": "layer.operators_s",
    "operators.enrich": "layer.operators_s",
    "streaming.run": "layer.streaming_s",
    "streaming.trigger": "layer.streaming_s",
    "streaming.latestOffset": "layer.streaming_s",
    "streaming.walCommit": "layer.streaming_s",
    "streaming.getBatch": "layer.streaming_s",
    "streaming.queryPlanning": "layer.streaming_s",
    "streaming.commitOffsets": "layer.streaming_s",
    "streaming.addBatch": "layer.add_batch_s",
    "sink.snapshot": "layer.sink_s",
}


def _span_ms(tracer: Tracer, root: int, name: str) -> float:
    kids = tracer.children()
    total, todo = 0.0, [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c["name"] == name:
                total += c["end"] - c["start"]
            todo.append(c["id"])
    return total * 1000


def _op_metrics(tracer: Tracer, op, log: dict, final_rows: int) -> tuple[dict, dict]:
    """Per-operation metrics, and per-trigger samples for the trigger medians."""
    m: dict[str, float] = {}
    run = [s["id"] for s in tracer.spans if s["parent"] == op.root and s["name"] == "streaming.run"]
    if run:
        add_trigger_spans(tracer, run[0], op.progress)
    selfs = tracer.self_times(op.root)
    for name, secs in selfs.items():
        layer = LAYER_OF_SPAN[name]
        m[layer] = m.get(layer, 0.0) + secs
    m["trace.layer_sum_s"] = sum(selfs.values())
    m["trace.result_s"] = op.wall_s
    m["sources.events_schema_ms"] = _span_ms(tracer, op.root, "sources.events_schema")
    m["sources.plan_ms"] = selfs.get("sources.plan", 0.0) * 1000
    m["plans.build_ms"] = selfs.get("plans.build", 0.0) * 1000

    jobs = {j: v for j, v in log["jobs"].items() if op.start <= v["start"] <= op.end}
    job_s = union_length([(v["start"], v["end"] or op.end) for v in jobs.values()])
    m["spark.job_s"] = job_s
    m["spark.driver_residue_s"] = op.wall_s - job_s
    m["spark.jobs"] = len(jobs)
    tasks = [t for t in log["tasks"] if t["job"] in jobs]
    m["spark.tasks"] = len(tasks)
    for key, metric in (
        ("run_s", "spark.task_run_s"), ("cpu_s", "spark.task_cpu_s"), ("gc_s", "spark.gc_s"),
        ("shuffle_write_bytes", "operators.shuffle_write_bytes"),
        ("shuffle_write_records", "operators.shuffle_write_records"),
        ("fetch_wait_s", "operators.shuffle_fetch_wait_s"),
        ("spill_bytes", "operators.spill_bytes"),
        ("input_rows", "sources.scan_rows"), ("input_bytes", "sources.scan_bytes"),
        ("output_rows", "sink.rows_emitted"), ("output_bytes", "sink.bytes_written"),
    ):
        m[metric] = sum(t[key] for t in tasks)
    m["sources.scan_task_s"] = sum(t["run_s"] for t in tasks if t["input_rows"] > 0)

    trig: dict[str, list[float]] = {}
    if op.progress:
        data = [p for p in op.progress if p["numInputRows"] > 0]
        m["streaming.batches"] = len(op.progress)
        m["streaming.nodata_batches"] = len(op.progress) - len(data)
        batch_jobs = {j for j, v in jobs.items() if v["batch_id"] is not None}
        m["streaming.jobs_per_batch"] = len(batch_jobs) / len(op.progress)
        # rows read inside micro-batches: the new file plus any static side
        batch_rows = sum(t["input_rows"] for t in tasks if t["job"] in batch_jobs)
        m["sources.scan_rows_per_batch"] = batch_rows / max(len(data), 1)
        m["operators.enrich_ms"] = _span_ms(tracer, op.root, "operators.enrich") / max(len(data), 1)
        for p in op.progress:
            d = p["durationMs"]
            for part, metric in (
                ("triggerExecution", "streaming.trigger_ms"),
                ("latestOffset", "streaming.latest_offset_ms"),
                ("queryPlanning", "streaming.query_planning_ms"),
                ("addBatch", "streaming.add_batch_ms"),
                ("walCommit", "streaming.wal_commit_ms"),
                ("commitOffsets", "streaming.commit_offsets_ms"),
            ):
                trig.setdefault(metric, []).append(d.get(part, 0))
            for st in p.get("stateOperators", [])[:1]:
                trig.setdefault("state.commit_ms", []).append(st.get("commitTimeMs", 0))
        states = [p["stateOperators"][0] for p in op.progress if p.get("stateOperators")]
        if states:
            m["state.partitions"] = states[-1].get("numShufflePartitions", 0)
            m["state.rows_total"] = states[-1].get("numRowsTotal", 0)
            m["state.rows_updated"] = sum(s.get("numRowsUpdated", 0) for s in states)
            m["state.rows_removed"] = sum(s.get("numRowsRemoved", 0) for s in states)
            m["state.dropped_by_watermark"] = sum(
                s.get("numRowsDroppedByWatermark", 0) for s in states
            )
            m["state.memory_bytes"] = max(s.get("memoryUsedBytes", 0) for s in states)
            inputs = sum(p["numInputRows"] for p in op.progress)
            m["state.update_ratio"] = m["state.rows_updated"] / max(inputs, 1)
        m["sink.snapshot_s"] = _span_ms(tracer, op.root, "sink.snapshot") / 1000
        m["sink.emit_ratio"] = final_rows / max(m["sink.rows_emitted"], 1)
    return m, trig


def layer_metrics(
    tracer: Tracer, traced_ops: list, untraced_ops: list, log: dict,
    final_rows: list[int], setup: dict,
) -> dict[str, float]:
    per_op = []
    trig: dict[str, list[float]] = {}
    for op, rows in zip(traced_ops, final_rows):
        m, t = _op_metrics(tracer, op, log, rows)
        per_op.append(m)
        for k, v in t.items():
            trig.setdefault(k, []).extend(v)
    out = {name: 0.0 for name in PER_LAYER}
    out.update(setup)
    for name in per_op[0] if per_op else ():
        out[name] = float(median(m.get(name, 0.0) for m in per_op))
    for name, values in trig.items():
        out[name] = p50(values)
    untraced = float(median(op.wall_s for op in untraced_ops))
    out["trace.untraced_result_s"] = untraced
    out["trace.overhead_s"] = out["trace.result_s"] - untraced
    out["trace.reconcile_frac"] = abs(out["trace.layer_sum_s"] - untraced) / untraced
    return out
