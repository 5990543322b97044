"""Per-layer metrics from a traced run, and the end-to-end metric each one
should move (the mapping the benchmark was designed around).

Every per-layer time is self time (span minus its children) summed over
the traced operations and divided by their number, so the layers of one
operation add up to its traced latency.
"""

from __future__ import annotations

from spans import self_times

# metric -> (unit, better, span name or None, end-to-end metrics it moves)
PER_LAYER = {
    "session.get_spark_s": (
        "s", "lower", "session.get_spark", "setup_s and setup_wall_s on every workload"),
    "runner.run_weekly_batch_s": (
        "s", "lower", "runner.run_weekly_batch", "op latency and op_cpu_s on weekly_batch"),
    "pipelines.weekly.build_s": (
        "s", "lower", "pipelines.weekly.build_weekly_report",
        "op latency and op_cpu_s on weekly_batch, and on ondemand_api (run_single_farm builds the "
        "report once per request)"),
    "pipelines.on_demand.run_single_farm_s": (
        "s", "lower", "pipelines.on_demand.run_single_farm",
        "op latency and op_cpu_s on ondemand_api"),
    "api.handle_run_farm_s": (
        "s", "lower", "api.handle_run_farm", "op latency and op_cpu_s on ondemand_api"),
    "api.handle_status_s": (
        "s", "lower", "api.handle_status", "status latency on ondemand_api (reported, unbounded)"),
    "api.http_overhead_s": (
        "s", "lower", None, "op latency, op_cpu_s and status latency on ondemand_api"),
    "sources.sinks.staged_overwrite_s": (
        "s", "lower", "sources.sinks.staged_overwrite",
        "op latency and op_cpu_s on every workload (includes executing the lazy upstream plan)"),
    "sources.sinks.read_or_empty_s": (
        "s", "lower", "sources.sinks.read_or_empty", "op latency and op_cpu_s on every workload"),
    "sources.sinks.merge_upsert_s": (
        "s", "lower", "sources.sinks.merge_upsert", "op latency and op_cpu_s on weather_hourly"),
    "sources.sinks.replace_by_key_s": (
        "s", "lower", "sources.sinks.replace_by_key",
        "op latency and op_cpu_s on weekly_batch and ondemand_api"),
    "sources.sinks.bytes_written": (
        "B", "lower", None, "op latency, op_cpu_s and stored_bytes_per_row on every workload"),
    "sources.sinks.write_amplification": (
        "ratio", "lower", None, "op latency, op_cpu_s and stored_bytes_per_row on every workload"),
    "streaming.incremental.manifest_s": (
        "s", "lower", "streaming.incremental.RunManifest",
        "op latency and op_cpu_s on weekly_batch (a control: expected near 0)"),
    "streaming.incremental.batch_upsert_s": (
        "s", "lower", "streaming.incremental.foreach_batch_upsert",
        "op latency and op_cpu_s on weather_hourly"),
    "sources.weather_api.collect_village_forecast_s": (
        "s", "lower", "sources.weather_api.collect_village_forecast",
        "op latency and op_cpu_s on weather_hourly"),
    "sources.rest.fetch_s": (
        "s", "lower", "sources.rest.fetch", "op latency and op_cpu_s on weather_hourly"),
    "sources.rest.to_dataframe_s": (
        "s", "lower", "sources.rest.to_dataframe", "op latency and op_cpu_s on weather_hourly"),
    "sources.rest.fetches": ("count", "lower", None, "op latency and op_cpu_s on weather_hourly"),
    "sources.rest.retries": ("count", "lower", None, "op latency and op_cpu_s on weather_hourly"),
    "sources.rest.items_kept_ratio": (
        "ratio", "higher", None, "op latency and op_cpu_s on weather_hourly"),
    "spark.jobs": ("count", "lower", None, "op latency and op_cpu_s on every workload"),
    "spark.tasks": ("count", "lower", None, "op latency and op_cpu_s on every workload"),
    "jvm.gc_s": ("s", "lower", None, "op latency, op_cpu_s and peak_rss_mb on every workload"),
    "jvm.jit_cpu_s": (
        "s", "lower", None,
        "op latency on every workload (compiler threads compete for the cores); "
        "left out of op_cpu_s"),
    "trace.overhead_s": (
        "s", "lower", None,
        "none: tracing cost per operation, spans x cost of one wrapped call + hook time"),
}


# The per-layer metrics of the JSON result (and of BENCHMARK.json): those
# every workload exercises. A layer only one workload runs would read a
# constant 0 on the other; its numbers are in the printed report.
RESULT_LAYERS = (
    "session.get_spark_s",
    "sources.sinks.staged_overwrite_s",
    "sources.sinks.read_or_empty_s",
    "sources.sinks.bytes_written",
    "sources.sinks.write_amplification",
    "spark.jobs",
    "spark.tasks",
    "jvm.gc_s",
    "jvm.jit_cpu_s",
    "trace.overhead_s",
)


def per_layer(result: dict, live_bytes: int) -> tuple[dict[str, float], list[str]]:
    """(metrics, report lines) of a traced run's ``result``."""
    spans = result["spans"]
    selfs = self_times(spans)
    timed = result["ops"]
    op_ids = {f"op-{o['op']}" for o in timed}
    n = max(len(timed), 1)

    by_name: dict[str, list[dict]] = {}
    for s in spans:
        if s["op"] in op_ids or s["op"] == "setup":
            by_name.setdefault(s["name"], []).append(s)

    def self_s(name: str) -> float:
        return sum(selfs[s["id"]] for s in by_name.get(name, []))

    m: dict[str, float] = {}
    for metric, (_, _, span, _) in PER_LAYER.items():
        if span == "session.get_spark":
            m[metric] = self_s(span)
        elif span is not None:
            m[metric] = self_s(span) / n
    m["api.http_overhead_s"] = (self_s("client.run_farm") + self_s("client.status")) / n
    staged = sum(s.get("bytes", 0) for s in by_name.get("sources.sinks.staged_overwrite", []))
    m["sources.sinks.bytes_written"] = staged / n
    m["sources.sinks.write_amplification"] = staged / n / live_bytes if live_bytes else 0.0
    fetches = by_name.get("sources.rest.fetch", [])
    m["sources.rest.fetches"] = len(fetches) / n
    m["sources.rest.retries"] = sum(o["transport_calls"] for o in timed) / n - len(fetches) / n
    items = sum(s["items"] for s in fetches)
    kept = sum(s["records"] for s in by_name.get("sources.rest.to_dataframe", []))
    m["sources.rest.items_kept_ratio"] = kept / items if items else 0.0
    m["spark.jobs"] = sum(o["jobs"] for o in timed) / n
    m["spark.tasks"] = sum(o["tasks"] for o in timed) / n
    m["jvm.gc_s"] = sum(o["gc_s"] for o in timed) / n
    m["jvm.jit_cpu_s"] = sum(o["jit_cpu_s"] for o in timed) / n
    op_spans = [s for s in spans if s["op"] in op_ids]
    m["trace.overhead_s"] = (len(op_spans) * result["span_cost_s"]
                             + sum(s.get("hook_s", 0.0) for s in op_spans)) / n

    lines = [f"timed ops {len(timed)}, {len(op_spans) / n:.0f} spans per op, "
             f"{result['span_cost_s'] * 1e6:.2f} us per span",
             f"{'span':48s} {'calls/op':>8s} {'incl s/op':>10s} {'self s/op':>10s}"]
    for name, ss in sorted(by_name.items(), key=lambda kv: -sum(selfs[s['id']] for s in kv[1])):
        per = 1 if ss[0]["op"] == "setup" else n
        incl = sum(s["end"] - s["start"] for s in ss) / per
        lines.append(f"{name:48s} {len(ss) / per:8.2f} {incl:10.4f} {self_s(name) / per:10.4f}")
    lines.append(f"{'per-layer metric':48s} {'value':>12s} unit   moves")
    for metric, (unit, _, _, moves) in PER_LAYER.items():
        lines.append(f"{metric:48s} {m[metric]:12.5g} {unit:6s} {moves}")
    return m, lines
