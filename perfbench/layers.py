"""Turn a run's passes and spans into the reported metrics.

End-to-end timings come from the untraced passes no other guest of the
host disturbed (``timing_passes``); per-layer metrics from the spans of
traced passes (``spans.py``), one value per traced pass, reported
as the median over the run's traced passes. A layer the workload never
calls reports 0.

Which end-to-end metric each layer metric should move:

- ``session.*`` -> ``setup_s`` on every workload;
- ``csv_ingest.*`` (listing, pruning, header probes: per-file fixed
  costs) -> a small share of ``pass_p50_s``/``rows_per_s`` on
  ``ingest_day``, none on ``query_pack``;
- ``pipeline.*`` (inference, the post-write count) and ``cleanse.*`` ->
  ``pass_p50_s``/``rows_per_s`` on ``ingest_day`` (dedup is lazy: its
  execution lands in ``sinks.write_day_*``);
- ``sinks.*`` (the parquet write) -> ``pass_p50_s`` and
  ``disk_bytes_per_input_byte`` on ``ingest_day``;
- ``plans.*.build_*`` -> ``query_pack`` ``pass_p50_s`` through the
  build-heavy queries, not the execution-heavy ones; ``exec_*`` covers
  Catalyst, Spark execution and the Arrow kernels in ``functions``.
"""

from __future__ import annotations

from collections import defaultdict
from statistics import median

from workloads import QUERY_PACK, tail

END_TO_END = [
    # name, unit, better
    ("setup_s", "s", "lower"),
    ("pass_p50_s", "s", "lower"),
    ("pass_tail_s", "s", "lower"),
    ("rows_per_s", "rows/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
    ("disk_bytes_per_input_byte", "B/B", "lower"),
]

PER_LAYER = [
    ("session.get_spark_s", "s", "lower"),
    ("csv_ingest.list_files_s", "s", "lower"),
    ("csv_ingest.files_listed", "count", "lower"),
    ("csv_ingest.prune_paths_by_date_s", "s", "lower"),
    ("csv_ingest.prune_jobs", "count", "lower"),
    ("csv_ingest.prune_keep_ratio", "ratio", "higher"),
    ("csv_ingest.probe_headers_s", "s", "lower"),
    ("csv_ingest.probe_jobs", "count", "lower"),
    ("csv_ingest.probe_core_util", "ratio", "higher"),
    ("pipeline.ingest_day_plan_s", "s", "lower"),
    ("pipeline.infer_jobs", "count", "lower"),
    ("pipeline.post_write_count_s", "s", "lower"),
    ("pipeline.post_write_count_jobs", "count", "lower"),
    ("pipeline.process_day_self_s", "s", "lower"),
    ("cleanse.drop_all_null_columns_s", "s", "lower"),
    ("cleanse.drop_all_null_columns_jobs", "count", "lower"),
    ("cleanse.columns_dropped", "count", "higher"),
    ("cleanse.dedup_rows_dropped", "count", "higher"),
    ("sinks.write_day_s", "s", "lower"),
    ("sinks.write_day_jobs", "count", "lower"),
    ("sinks.write_day_executor_s", "s", "lower"),
    ("sinks.write_day_input_bytes", "B", "lower"),
    ("sinks.write_day_shuffle_write_bytes", "B", "lower"),
    ("sinks.write_day_core_util", "ratio", "higher"),
    ("sinks.write_audit_s", "s", "lower"),
    ("sinks.write_audit_jobs", "count", "lower"),
]
for _q in QUERY_PACK:
    PER_LAYER += [
        (f"plans.{_q}.build_s", "s", "lower"),
        (f"plans.{_q}.build_jobs", "count", "lower"),
        (f"plans.{_q}.exec_s", "s", "lower"),
        (f"plans.{_q}.exec_jobs", "count", "lower"),
        (f"plans.{_q}.shuffle_write_bytes", "B", "lower"),
    ]
PER_LAYER += [
    ("plans.build_s_sum", "s", "lower"),
    ("plans.exec_s_sum", "s", "lower"),
    ("plans.build_jobs_sum", "count", "lower"),
    ("plans.exec_core_util", "ratio", "higher"),
    ("trace.pass_p50_s", "s", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
    ("trace.pass_unattributed_s", "s", "lower"),
    ("trace.pass_jobs", "count", "lower"),
    ("trace.pass_stages", "count", "lower"),
    ("trace.pass_tasks", "count", "lower"),
]
UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}


def _report(values: dict[str, float]) -> dict:
    return {name: {"value": values[name], "unit": UNITS[name]} for name in values}


def timing_passes(passes: list[dict]) -> list[dict]:
    """The passes timings are taken from: those no other guest disturbed
    (``run.STEAL_LIMIT``), or the least disturbed one when every pass was."""
    calm = [p for p in passes if not p["disturbed"]]
    return calm or [min(passes, key=lambda p: p["steal_share"])]


def end_to_end(wl, passes: list[dict], setup_s: float, rss_mb: float) -> dict:
    times = [p["elapsed_s"] for p in timing_passes(passes)]
    p50 = median(times)
    disk = [
        (p["stored_bytes"] + p["counters"]["shuffle_write_bytes"]) / wl.input_bytes
        for p in passes
    ]
    return _report(
        {
            "setup_s": setup_s,
            "pass_p50_s": p50,
            "pass_tail_s": tail(times),
            "rows_per_s": wl.input_rows / p50,
            "peak_rss_mb": rss_mb,
            "disk_bytes_per_input_byte": median(disk),
        }
    )


def group_by_pass(spans) -> dict[int, list]:
    """Spans of each traced pass, keyed by the id of its ``pass`` root."""
    by_id = {s.id: s for s in spans}
    out: dict[int, list] = defaultdict(list)
    for s in spans:
        root = s
        while root.parent is not None:
            root = by_id[root.parent]
        if root.name == "pass":
            out[root.id].append(s)
    return out


def pass_layers(spans, stats, cpus: int, rows_loaded: int) -> dict[str, float]:
    """Per-layer values of one traced pass."""
    children = defaultdict(list)
    named = defaultdict(list)
    by_id = {s.id: s for s in spans}
    for s in spans:
        children[s.parent].append(s)
        named[s.name].append(s)

    def self_s(s):
        return s.dur - sum(c.dur for c in children[s.id])

    def jobs(s):
        return s.job_hi - s.job_lo

    def self_jobs(s):
        return jobs(s) - sum(jobs(c) for c in children[s.id])

    def counters(s):
        return stats.counters(s.job_lo, s.job_hi)

    def util(busy_s, wall_s):
        return busy_s / (wall_s * cpus) if wall_s > 0 else 0.0

    m = {name: 0.0 for name, _, _ in PER_LAYER}
    for s in named["csv_ingest.list_files"]:
        m["csv_ingest.list_files_s"] += s.dur
        m["csv_ingest.files_listed"] += s.attrs["files"]
    kept = considered = 0
    for s in named["csv_ingest.prune_paths_by_date"]:
        m["csv_ingest.prune_paths_by_date_s"] += s.dur
        m["csv_ingest.prune_jobs"] += jobs(s)
        kept += s.attrs["files"]
        considered += s.attrs["files_in"]
    m["csv_ingest.prune_keep_ratio"] = kept / considered if considered else 0.0
    busy = 0.0
    for s in named["csv_ingest.probe_headers"]:
        m["csv_ingest.probe_headers_s"] += s.dur
        m["csv_ingest.probe_jobs"] += jobs(s)
        busy += counters(s).executor_run_s
    m["csv_ingest.probe_core_util"] = util(busy, m["csv_ingest.probe_headers_s"])
    for s in named["pipeline.ingest_day_plan"]:
        m["pipeline.ingest_day_plan_s"] += self_s(s)
        m["pipeline.infer_jobs"] += self_jobs(s)
    for s in named["dataframe.count"]:
        if by_id.get(s.parent) is not None and by_id[s.parent].name == "pipeline.process_day":
            m["pipeline.post_write_count_s"] += s.dur
            m["pipeline.post_write_count_jobs"] += jobs(s)
    for s in named["pipeline.process_day"]:
        m["pipeline.process_day_self_s"] += self_s(s)
    for s in named["cleanse.drop_all_null_columns"]:
        m["cleanse.drop_all_null_columns_s"] += s.dur
        m["cleanse.drop_all_null_columns_jobs"] += jobs(s)
        m["cleanse.columns_dropped"] += s.attrs["columns_dropped"]
    busy = 0.0
    records = 0
    for s in named["sinks.write_day"]:
        c = counters(s)
        m["sinks.write_day_s"] += s.dur
        m["sinks.write_day_jobs"] += jobs(s)
        m["sinks.write_day_executor_s"] += c.executor_run_s
        m["sinks.write_day_input_bytes"] += c.input_bytes
        m["sinks.write_day_shuffle_write_bytes"] += c.shuffle_write_bytes
        busy += c.executor_run_s
        records += c.input_records
    m["sinks.write_day_core_util"] = util(busy, m["sinks.write_day_s"])
    if named["sinks.write_day"]:
        # the write scans every CSV row once; what it loads is deduplicated
        m["cleanse.dedup_rows_dropped"] = records - rows_loaded
    for s in named["sinks.write_audit"]:
        m["sinks.write_audit_s"] += s.dur
        m["sinks.write_audit_jobs"] += jobs(s)
    busy = 0.0
    for q in QUERY_PACK:
        for s in named[f"plans.{q}.build"]:
            m[f"plans.{q}.build_s"] += s.dur
            m[f"plans.{q}.build_jobs"] += jobs(s)
            m[f"plans.{q}.shuffle_write_bytes"] += counters(s).shuffle_write_bytes
        for s in named[f"plans.{q}.exec"]:
            c = counters(s)
            m[f"plans.{q}.exec_s"] += s.dur
            m[f"plans.{q}.exec_jobs"] += jobs(s)
            m[f"plans.{q}.shuffle_write_bytes"] += c.shuffle_write_bytes
            busy += c.executor_run_s
        m["plans.build_s_sum"] += m[f"plans.{q}.build_s"]
        m["plans.exec_s_sum"] += m[f"plans.{q}.exec_s"]
        m["plans.build_jobs_sum"] += m[f"plans.{q}.build_jobs"]
    m["plans.exec_core_util"] = util(busy, m["plans.exec_s_sum"])
    (root,) = named["pass"]
    c = counters(root)
    m["trace.pass_unattributed_s"] = self_s(root)
    m["trace.pass_jobs"] = c.jobs
    m["trace.pass_stages"] = c.stages
    m["trace.pass_tasks"] = c.tasks
    return m


def per_layer(wl, passes, spans_by_pass, stats, session_s: float, cpus: int) -> dict:
    traced = [p for p in passes if p["traced"]]
    plain = [p["elapsed_s"] for p in passes if not p["traced"]]
    rows = [
        pass_layers(spans_by_pass[p["root_span"]], stats, cpus, p["rows_loaded"]) for p in traced
    ]
    values = {name: median([r[name] for r in rows]) for name, _, _ in PER_LAYER}
    t50 = median([p["elapsed_s"] for p in traced])
    values["session.get_spark_s"] = session_s
    values["trace.pass_p50_s"] = t50
    values["trace.overhead_ratio"] = t50 / median(plain) if plain else 1.0
    return _report(values)
