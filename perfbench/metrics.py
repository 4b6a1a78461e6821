"""The benchmark's workloads and metrics, and the prediction of which
end-to-end metric each per-layer metric should move, on which
workload. ``python3 perfbench/metrics.py`` prints BENCHMARK.json.

Every workload reports every metric. A metric whose layer a workload
does not run reads 0 there — that is the prediction "no change" for
that workload.
"""

from __future__ import annotations

import json

RUN_SECONDS = 4

WORKLOADS = [
    ("batch",
     "ten headline queries built fresh per pass plus the reference's "
     "tcp replay: per-query fixed cost, CSV ingest and the batch COMMIT "
     "engine; no streaming code runs"),
    ("alert_stream",
     "always-on alert program plus a CMS top lane under an open-loop "
     "generator: the only workload that runs runner and streaming/*"),
]

# (name, unit, better, bound). The bounds are the widest allowed: on a
# shared 4-vCPU virtual machine the host's speed drifts between runs,
# and that drift sets the spread (README.md, Steadiness).
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("cold_pass_s", "s", "lower", 0.25),
    ("latency_p50_ms", "ms", "lower", 0.25),
    ("latency_p90_ms", "ms", "lower", 0.25),
    ("drain_rows_per_s", "1/s", "higher", 0.25),
    ("cpu_core_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("disk_write_mb", "MB", "lower", 0.25),
    ("ok_ratio", "ratio", "higher", 0.01),
]

_B = "batch"
_AS = "alert_stream"

# (name, unit, better, end-to-end metrics it should move, on)
PER_LAYER = [
    ("catalog.load_table_ms", "ms", "lower", "pass_s, cold_pass_s", _B),
    ("catalog.load_table_calls", "count", "lower", "pass_s, cold_pass_s", _B),
    ("catalog.load_table_jobs", "count", "lower", "pass_s, cold_pass_s", _B),
    ("queries.construct_self_ms", "ms", "lower", "pass_s, cold_pass_s", _B),
    ("queries.construct_jobs", "count", "lower", "pass_s, cold_pass_s", _B),
    ("catalyst.analysis_ms", "ms", "lower", "cold_pass_s, pass_s", _B),
    ("catalyst.optimization_ms", "ms", "lower", "cold_pass_s, pass_s", _B),
    ("catalyst.planning_ms", "ms", "lower", "cold_pass_s, pass_s", _B),
]
PER_LAYER += [
    (name, unit, "lower", "cpu_core_s, pass_s, disk_write_mb", _B)
    for name, unit in [
        ("exec.jobs", "count"), ("exec.stages", "count"),
        ("exec.tasks", "count"), ("exec.executor_cpu_ms", "ms"),
        ("exec.gc_ms", "ms"), ("exec.shuffle_write_bytes", "bytes"),
        ("exec.shuffle_read_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
        ("exec.input_rows", "count"),
        ("arrow.python_bytes_sent", "bytes"),
        ("arrow.python_bytes_received", "bytes"),
    ]
]
PER_LAYER += [
    ("raql.compile_ms", "ms", "lower", "pass_s on batch; setup_s on alert_stream", f"{_B}, {_AS}"),
    ("raql.materialize_ms", "ms", "lower", "pass_s on batch; setup_s on alert_stream", f"{_B}, {_AS}"),
    ("tcp.scan_stage_ms", "ms", "lower", "pass_s, cpu_core_s", _B),
    ("tcp.commit_stage_ms", "ms", "lower", "pass_s, cpu_core_s", _B),
    ("tcp.groups_out", "count", "higher", "(correctness: one row per port and minute)", _B),
    ("runner.deploy_ms", "ms", "lower", "setup_s", _AS),
    ("stream.hops", "count", "lower", "latency_p50_ms, latency_p90_ms, disk_write_mb", _AS),
]
HOPS = ("filtered", "ok", "alert")
HOP_FIELDS = [
    ("batches", "count"), ("trigger_ms_p50", "ms"), ("get_batch_ms", "ms"),
    ("query_planning_ms", "ms"), ("add_batch_ms", "ms"),
    ("wal_commit_ms", "ms"), ("input_rows", "count"),
    ("state_rows", "count"), ("state_mem_bytes", "bytes"),
    ("spool_bytes", "bytes"),
]
PER_LAYER += [
    (f"stream.{hop}.{field}", unit, "lower",
     "latency_p50_ms, latency_p90_ms, disk_write_mb", _AS)
    for hop in HOPS for field, unit in HOP_FIELDS
]
PER_LAYER += [
    ("stream.filtered.add_batch_us_per_row", "us", "lower",
     "drain_rows_per_s, latency_p90_ms", _AS),
    ("stream.filtered.add_batch_ns_per_row_group", "ns", "lower",
     "drain_rows_per_s, latency_p90_ms", _AS),
    ("notify.deliver_ms", "ms", "lower", "latency_p50_ms, cpu_core_s", _AS),
    ("notify.sent", "count", "higher", "(correctness: one per scheduled transition)", _AS),
    ("lane.top.commit_ms", "ms", "lower", "latency_p50_ms, cpu_core_s", _AS),
    ("lane.top.state_bytes", "bytes", "lower", "latency_p50_ms, cpu_core_s", _AS),
    ("gen.rows_offered", "count", "higher", "(validity of the run)", _AS),
    ("gen.late_ms_max", "ms", "lower", "(validity of the run)", _AS),
    ("gen.backlog_rows_end", "count", "lower", "(validity of the run)", _AS),
    ("setup.first_s", "s", "lower", "setup_s (the first set-up: imports + JVM launch + session)", "all"),
    # the traced run's own end-to-end figures: against the untraced
    # run's pass_s / latency_p50_ms they give the tracing overhead
    ("trace.pass_s", "s", "lower", "(tracing overhead vs pass_s)", "all"),
    ("trace.latency_p50_ms", "ms", "lower", "(tracing overhead vs latency_p50_ms)", "all"),
]


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd}
            for n, u, b, bd in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b, _, _ in PER_LAYER
        ],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
