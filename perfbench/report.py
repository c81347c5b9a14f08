"""Metrics from timed ops (end to end) and from traced ops (per layer)."""

from __future__ import annotations

import statistics
import time

from tracing import Tracer, covered, self_times

OPERATORS = [
    "exact_dedup_canonical",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "connected_components_star",
    "remove_duplicate_spans",
    "topk_similar",
]

#: (name, unit, better) of every per-layer metric, in print order.
#: Times and counts are means per traced query (``analyst_mix``) or
#: round (``curation``) of the single-client phase.
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("queries.build_s", "s", "lower"),
    ("queries.eager_jobs", "count", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.wall_s", "s", "lower"),
    ("exec.busy_frac", "ratio", "higher"),
    ("exec.failed_tasks", "count", "lower"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.shuffle_read_bytes", "B", "lower"),
    ("exec.shuffle_write_bytes", "B", "lower"),
    ("exec.spill_bytes", "B", "lower"),
    ("exec.input_bytes", "B", "lower"),
    ("arrow.collect_s", "s", "lower"),
    ("arrow.result_rows", "count", "lower"),
    ("arrow.result_bytes", "B", "lower"),
    ("sources.load_s", "s", "lower"),
    ("sources.save_s", "s", "lower"),
    ("sources.files_written", "count", "lower"),
    ("sources.bytes_written", "B", "lower"),
    ("sources.bytes_per_row", "B", "lower"),
    ("functions.text_profile_s", "s", "lower"),
]
for _fn in OPERATORS:
    PER_LAYER += [
        (f"operators.{_fn}_s", "s", "lower"),
        (f"operators.{_fn}.rows_out", "count", "higher"),
        (f"operators.{_fn}.shuffle_bytes", "B", "lower"),
    ]
PER_LAYER += [
    ("operators.pairs_per_doc", "ratio", "higher"),
    ("plans.build_dims_s", "s", "lower"),
    ("plans.build_fact_s", "s", "lower"),
    ("plans.run_quality_s", "s", "lower"),
    ("plans.build_metric_layer_s", "s", "lower"),
    ("plans.metric_view_query_s", "s", "lower"),
    ("ops.failed_frac", "ratio", "lower"),
    ("trace.overhead_s", "s", "lower"),
]

#: (name, unit, better) of every end-to-end metric
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
]


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def _epoch_offset() -> float:
    """epoch seconds minus perf_counter seconds (to place Spark's job
    timestamps on the spans' clock)."""
    return time.time() - time.perf_counter()


def _job_intervals(jobs: list[dict], offset: float) -> list[tuple[float, float]]:
    return [
        (j["submit_ms"] / 1000 - offset, j["end_ms"] / 1000 - offset)
        for j in jobs
        if j["submit_ms"] is not None and j["end_ms"] is not None
    ]


def per_layer(ops, tracer: Tracer, extra: dict) -> dict[str, float]:
    """Means per traced unit of work: a query, or a round of a chain
    pass and its refresh cycle (0 where the workload does no such
    work)."""
    offset = _epoch_offset()
    traced = [op for op in ops if op.traced and op.error is None]
    n = max(sum(op.kind != "refresh" for op in traced), 1)
    selft = self_times(tracer.spans)
    acc = {name: 0.0 for name, _, _ in PER_LAYER}
    task_run = wall_cores = 0.0
    out_records = 0.0
    for op in traced:
        jobs = op.info.get("jobs", [])
        stages = [s for j in jobs for s in j["stages"]]
        intervals = _job_intervals(jobs, offset)
        acc["exec.jobs"] += len(jobs)
        acc["exec.stages"] += len(stages)
        acc["exec.tasks"] += sum(s["numTasks"] for s in stages)
        acc["exec.failed_tasks"] += sum(s["numFailedTasks"] for s in stages)
        run_s = sum(s["executorRunTime"] for s in stages) / 1000
        acc["exec.task_run_s"] += run_s
        acc["exec.shuffle_read_bytes"] += sum(s["shuffleReadBytes"] for s in stages)
        acc["exec.shuffle_write_bytes"] += sum(s["shuffleWriteBytes"] for s in stages)
        acc["exec.spill_bytes"] += sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages)
        acc["exec.input_bytes"] += sum(s["inputBytes"] for s in stages)
        wall = covered(intervals, float("-inf"), float("inf"))
        acc["exec.wall_s"] += wall
        task_run += run_s
        wall_cores += wall * extra["cores"]
        out_records += sum(s["outputRecords"] for s in stages)
        for c in op.info.get("catalyst", {}), *(
            s.attrs.get("catalyst", {}) for s in tracer.op_spans(op.info["trace_op"])
        ):
            for phase, ms in c.items():
                acc[f"catalyst.{phase}_ms"] += ms
        if op.rows is not None and "result_bytes" in op.info:
            acc["arrow.result_rows"] += op.rows
            acc["arrow.result_bytes"] += op.info["result_bytes"]
        for s in tracer.op_spans(op.info["trace_op"]):
            own = selft[s.sid]
            inside = [(a, b) for a, b in intervals if s.start <= a <= s.end]
            if s.name == "queries.build":
                acc["queries.build_s"] += max(own - covered(intervals, s.start, s.end), 0.0)
                acc["queries.eager_jobs"] += len(inside)
            elif s.name == "arrow.collect":
                last_end = max((b for _, b in inside), default=s.start)
                acc["arrow.collect_s"] += max(s.end - last_end, 0.0)
            elif s.name in ("sources.load", "sources.save"):
                acc[f"{s.name}_s"] += own
                if s.name == "sources.save":
                    acc["sources.files_written"] += s.attrs.get("files", 0)
                    acc["sources.bytes_written"] += s.attrs.get("bytes", 0)
            elif s.name.startswith("operators.") or s.name.startswith("functions."):
                acc[f"{s.name}_s"] += own
                if s.name.startswith("operators."):
                    step_stages = [
                        st for j in jobs if s.start <= j["submit_ms"] / 1000 - offset <= s.end
                        for st in j["stages"]
                    ]
                    acc[f"{s.name}.shuffle_bytes"] += sum(st["shuffleWriteBytes"] for st in step_stages)
            elif s.name.startswith("plans."):
                acc[f"{s.name}_s"] += own
    bytes_written = acc["sources.bytes_written"]
    out = {k: v / n for k, v in acc.items()}
    out["exec.busy_frac"] = task_run / wall_cores if wall_cores else 0.0
    out["sources.bytes_per_row"] = bytes_written / out_records if out_records else 0.0
    for key, rows in extra.get("rows_out", {}).items():
        if f"{key}.rows_out" in out:
            out[f"{key}.rows_out"] = float(rows)
    docs = extra.get("docs")
    pairs = extra.get("rows_out", {}).get("operators.minhash_lsh_pairs")
    out["operators.pairs_per_doc"] = pairs / docs if docs and pairs is not None else 0.0
    out["session.start_s"] = extra["session_start_s"]
    out["ops.failed_frac"] = extra["failed_frac"]
    untraced = [op.latency for op in ops if not op.traced and op.client == 0 and op.error is None]
    timed = [op.latency for op in traced]
    out["trace.overhead_s"] = (
        statistics.median(timed) - statistics.median(untraced) if timed and untraced else 0.0
    )
    return out
