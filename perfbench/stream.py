"""``alert_stream``: the reference's monitoring loop, always on.

A declarative threshold alert (alerts.compile_alert, with a
time_step) is the program: ``filtered`` (check-all COMMIT fold) →
``ok`` (HYSTERESIS) → ``alert`` (AFTER CHANGED, NOTIFY). It is
deployed with runner.deploy_program_streaming, its notifications go
through streaming.sinks.notify_sink into the benchmark's contact
callback, and a streaming.sketch.cms_top_stream lane keeps the top
talkers of the same input. A run is

1. three set-ups, each session + compile + deploy (``setup_s`` = their
   median; the first is timed from process start and holds the
   imports and the JVM launch, the next two reuse the JVM);
2. the backlog: a fixed number of ticks written at once into the fresh
   deployment and pushed through every hop (``drain_rows_per_s``,
   ``cold_pass_s``); it is also the warm-up of every hop;
3. the open loop: alertgen.py, a separate process, writes one tick of
   samples per host every 1/TICKS_PER_S seconds for ``--seconds``
   (plus the ticks that make the last windows commit); latency runs
   from the scheduled creation of the event that made a notification
   due to its delivery, and ``pass_s`` is the catch-up: from the
   generator's last tick until every hop has processed everything;
4. checks: notifications against the schedule, CMS top talkers
   against exact counts.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import threading
import time
from datetime import datetime

import numpy as np

import alertgen as G
from common import (
    BENCH_DIR, OUT, PROCESS_START, WORK, Run, Tracer, log, median,
    percentile, python_bytes_since, sql_execution_mark, start_spark,
    stop_spark,
)
from metrics import HOPS

TICKS_PER_S = 3.0  # 20 hosts → 60 rows/s
BACKLOG_TICKS = 30  # 600 rows at once
LATE_BOUND_MS = 250.0
SETUPS = 3
TOP_N, CMS_DEPTH, CMS_WIDTH = 5, 4, 2048

SCHEMA = "host string, start double, stop double, value double, talker string"
COL_TYPES = {"host": "string", "start": "float", "stop": "float",
             "value": "float", "talker": "string"}


class Deployment:
    """One compiled + deployed program with its notification sink and
    top-talkers lane, in its own directory."""

    def __init__(self, spark, tracer: Tracer, root: str) -> None:
        from ramen_spark.alerts import AlertSpec, compile_alert
        from ramen_spark.runner import deploy_program_streaming
        from ramen_spark.streaming.sinks import notify_sink, program_notifications
        from ramen_spark.streaming.sketch import cms_top_stream

        self.input = os.path.join(root, "in")
        os.makedirs(self.input)
        self.delivered: list[tuple[float, str, dict]] = []
        self._lock = threading.Lock()
        spec = AlertSpec(
            table="metrics", column="value", threshold=G.THRESHOLD,
            hysteresis=G.RECOVERY - G.THRESHOLD, group_by=["host"],
            id="hot", time_step=G.STEP,
        )
        with tracer.span("raql.compile"):
            self.prog, _ = compile_alert(spec, COL_TYPES)
        source = spark.readStream.schema(SCHEMA).csv(self.input)
        with tracer.span("runner.deploy"):
            self.hops = deploy_program_streaming(
                spark, self.prog, os.path.join(root, "work"), {"metrics": source})
            alert_df, _, alert_spool = self.hops["alert"]
            out = (spark.readStream.schema(alert_df.schema)
                   .option("pathGlobFilter", "*.parquet").parquet(alert_spool))
            notifs = program_notifications(self.prog.functions["alert"].op, out)
            self.notify = notify_sink(notifs, self._deliver,
                                      checkpoint=os.path.join(root, "notify_ckpt"))
            self.top_state = os.path.join(root, "top_state")
            self.lane = cms_top_stream(
                source, self.top_state, os.path.join(root, "top_ckpt"), [],
                "talker", depth=CMS_DEPTH, width=CMS_WIDTH)

    def _deliver(self, name: str, params: dict) -> None:
        t = time.time()
        with self._lock:
            self.delivered.append((t, name, params))

    def queries(self) -> dict:
        qs = {n: q for n, (_, q, _) in self.hops.items() if q is not None}
        return {**qs, "notify": self.notify, "lane": self.lane}

    def settle(self) -> None:
        """Block until every hop has processed everything written so far."""
        for q in self.queries().values():
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self.queries().values():
            q.stop()


def _progress(q, after: int) -> list[dict]:
    return [p for p in (json.loads(x.json) for x in q.recentProgress)
            if p["batchId"] > after and p["numInputRows"] > 0]


def _last_batch(q) -> int:
    lp = q.recentProgress
    return json.loads(lp[-1].json)["batchId"] if lp else -1


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def run_alert(seed: int, seconds: float, trace: bool, mon) -> Run:
    run = Run()
    open_ticks = int(round(seconds * TICKS_PER_S)) + G.COMMIT_TICKS
    first_open = BACKLOG_TICKS
    n_ticks = first_open + open_ticks
    sched = G.over(seed, n_ticks)

    setups, spark, dep, tracer = [], None, None, Tracer(trace)
    for i in range(SETUPS):
        if spark is not None:
            dep.stop()
            spark.stop()
        t = time.time()
        spark = tracer.spark = start_spark()
        dep = Deployment(spark, tracer, os.path.join(WORK, f"deploy{i}"))
        end = time.time()
        setups.append(end - PROCESS_START if i == 0 else end - t)

    log(f"alert_stream: set-ups {[round(s, 2) for s in setups]}")
    # the backlog, drained by the first micro-batches of every hop in
    # the fresh session: a warm drain after the open loop would cost
    # every run another ~7 s, which the run budget does not allow
    _, w_start = mon.sample()
    t = time.perf_counter()
    G.write_ticks(dep.input, seed, range(0, first_open), sched, "backlog")
    dep.settle()
    drain_s = time.perf_counter() - t
    log(f"alert_stream: backlog drained in {drain_s:.1f} s")

    # the open loop
    n_warm = len(dep.delivered)
    marks = {n: _last_batch(q) for n, q in dep.queries().items()}
    sql_mark = sql_execution_mark(spark) if trace else 0
    cpu0, w0 = mon.sample()
    t_open = time.time() + 0.5
    gen = subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "alertgen.py"), dep.input,
         str(seed), str(first_open), str(open_ticks), str(TICKS_PER_S), repr(t_open)],
        stdout=subprocess.PIPE, text=True)
    gen_out, _ = gen.communicate()
    t_gen_end = time.time()
    genr = json.loads(gen_out.strip().splitlines()[-1])
    dep.settle()
    catch_up_s = time.time() - t_gen_end
    cpu1, w1 = mon.sample()
    phase1 = {n: _progress(q, marks[n]) for n, q in dep.queries().items()}
    n_phase1 = len(dep.delivered) - n_warm
    python_bytes = python_bytes_since(spark, sql_mark) if trace else (0, 0)
    backlog_rows = BACKLOG_TICKS * G.HOSTS

    # checks (untimed)
    due_time = {k: t_open + (k - first_open) / TICKS_PER_S
                for k in range(first_open, n_ticks)}
    lat = _check_notifications(run, dep.delivered, sched, due_time)
    _check_top(run, spark, dep, seed, n_ticks, sched)
    if genr["late_ms_max"] > LATE_BOUND_MS:
        run.fail(f"generator ran {genr['late_ms_max']:.0f} ms late (bound {LATE_BOUND_MS:.0f})")
    run.attempted += 1  # the generator's schedule itself

    log(f"alert_stream: setups {[round(s, 2) for s in setups]} drain {drain_s:.2f} "
        f"catch-up {catch_up_s:.2f} latency n={len(lat)} p50 {percentile(lat, 50):.2f} "
        f"p90 {percentile(lat, 90):.2f} late {genr['late_ms_max']:.0f} ms "
        f"written backlog {(w0 - w_start) / 1e6:.2f} MB open loop {(w1 - w0) / 1e6:.2f} MB")
    run.e2e = {
        "setup_s": median(setups),
        "pass_s": catch_up_s,
        "cold_pass_s": drain_s,
        "latency_p50_ms": percentile(lat, 50) * 1000,
        "latency_p90_ms": percentile(lat, 90) * 1000,
        "drain_rows_per_s": backlog_rows / drain_s,
        "cpu_core_s": cpu1 - cpu0,
        # bytes written for the run's fixed input (backlog and open
        # loop); any shorter window catches the state store's
        # background snapshots or not, by timing
        "disk_write_mb": (w1 - w_start) / 1e6,
    }
    if trace:
        run.layers = _layers(tracer, dep, phase1, genr, t_gen_end, n_phase1)
        run.layers["arrow.python_bytes_sent"], run.layers["arrow.python_bytes_received"] = python_bytes
        run.layers["setup.first_s"] = setups[0]
        run.layers["trace.pass_s"] = catch_up_s
        run.layers["trace.latency_p50_ms"] = percentile(lat, 50) * 1000
        tracer.write(os.path.join(OUT, "spans-alert_stream.json"))
    dep.stop()
    stop_spark(spark)
    return run


def _check_notifications(run: Run, delivered, sched, due_time) -> list[float]:
    """Every transition whose commit became due must be notified once,
    with the right firing flag, and nothing else; → latencies (s) of
    the notifications that became due during the open loop."""
    n_ticks = len(sched)
    expected = {}
    for k in range(1, n_ticks - G.COMMIT_TICKS):
        for h in np.nonzero(sched[k] != sched[k - 1])[0]:
            expected[(f"h{h}", k)] = bool(sched[k, h])
    got: dict[tuple, list] = {}
    for t, _name, p in delivered:
        key = (p.get("host"), int(round(float(p["start"]) / G.STEP)))
        got.setdefault(key, []).append((t, p.get("firing") == "true"))
    run.attempted += len(expected)
    lat = []
    for key, firing in expected.items():
        hits = got.get(key, [])
        if len(hits) != 1 or hits[0][1] != firing:
            run.fail(f"notification {key} firing={firing}: got {hits}")
            continue
        due = due_time.get(key[1] + G.COMMIT_TICKS)
        if due is not None:
            lat.append(hits[0][0] - due)
    for key in got.keys() - expected.keys():
        run.fail(f"unexpected notification {key}: {got[key]}")
    return lat


def _check_top(run: Run, spark, dep: Deployment, seed: int, n_ticks: int, sched) -> None:
    """CMS top talkers against exact counts, within the sketch's
    additive error e/width × N."""
    from ramen_spark.streaming.sketch import IncrementalCmsTop

    run.attempted += 1
    counts = np.zeros(G.TALKERS, dtype=np.int64)
    for k in range(n_ticks):
        np.add.at(counts, G.tick_rows(seed, k, sched[k])[1], 1)
    slack = math.e / CMS_WIDTH * counts.sum()
    exact = np.sort(counts)[::-1]
    try:
        top = IncrementalCmsTop(spark, dep.top_state, [], "talker",
                                depth=CMS_DEPTH, width=CMS_WIDTH).top(TOP_N).collect()
        got = [int(v[1:]) for v in top[0]["top"]]
    except Exception as e:
        run.fail(f"top talkers: {type(e).__name__}: {str(e)[:300]}")
        return
    bad = [v for v in got if counts[v] < exact[TOP_N - 1] - slack]
    missing = [v for v in np.nonzero(counts > exact[TOP_N] + slack)[0] if v not in got]
    if len(got) != TOP_N or bad or missing:
        run.fail(f"top talkers {got}: too small {bad}, missing {missing}")


def _hop_stats(batches: list[dict]) -> dict[str, float]:
    d = [b["durationMs"] for b in batches]
    last_state = batches[-1]["stateOperators"] if batches else []
    return {
        "batches": len(batches),
        "trigger_ms_p50": median(x.get("triggerExecution", 0) for x in d),
        "get_batch_ms": median(x.get("getBatch", 0) for x in d),
        "query_planning_ms": median(x.get("queryPlanning", 0) for x in d),
        "add_batch_ms": median(x.get("addBatch", 0) for x in d),
        "wal_commit_ms": median(x.get("walCommit", 0) for x in d),
        "input_rows": sum(b["numInputRows"] for b in batches),
        "state_rows": sum(s["numRowsTotal"] for s in last_state),
        "state_mem_bytes": sum(s["memoryUsedBytes"] for s in last_state),
    }


def _layers(tracer, dep, phase1, genr, t_gen_end, n_phase1) -> dict[str, float]:
    out: dict[str, float] = {
        "raql.compile_ms": median(s["ms"] for s in tracer.spans if s["name"] == "raql.compile"),
        "runner.deploy_ms": median(s["ms"] for s in tracer.spans if s["name"] == "runner.deploy"),
        "stream.hops": len([1 for _, q, _ in dep.hops.values() if q is not None]),
    }
    for hop in HOPS:
        for k, v in _hop_stats(phase1[hop]).items():
            out[f"stream.{hop}.{k}"] = v
        out[f"stream.{hop}.spool_bytes"] = _du(dep.hops[hop][2])
    # the check-all fold: cost per input row, and per (row × group
    # already folded) — every row re-checks every group ever seen
    # (one group per host and window here, so groups = rows so far)
    measured = {b["batchId"] for b in phase1["filtered"]}
    cum, row_groups, add_ms, rows = 0, 0, 0.0, 0
    for b in (json.loads(x.json) for x in dep.hops["filtered"][1].recentProgress):
        cum += b["numInputRows"]
        if b["batchId"] in measured:
            row_groups += b["numInputRows"] * cum
            add_ms += b["durationMs"].get("addBatch", 0)
            rows += b["numInputRows"]
    out["stream.filtered.add_batch_us_per_row"] = add_ms * 1000 / max(1, rows)
    out["stream.filtered.add_batch_ns_per_row_group"] = add_ms * 1e6 / max(1, row_groups)
    out["notify.deliver_ms"] = median(b["durationMs"].get("addBatch", 0) for b in phase1["notify"])
    out["notify.sent"] = n_phase1
    out["lane.top.commit_ms"] = median(b["durationMs"].get("addBatch", 0) for b in phase1["lane"])
    out["lane.top.state_bytes"] = _du(dep.top_state)
    out["gen.rows_offered"] = genr["rows"]
    out["gen.late_ms_max"] = genr["late_ms_max"]
    done = sum(b["numInputRows"] for b in phase1["filtered"]
               if _ts(b["timestamp"]) + b["durationMs"].get("triggerExecution", 0) / 1000 <= t_gen_end)
    out["gen.backlog_rows_end"] = genr["rows"] - done
    return out
