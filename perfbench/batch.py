"""The ``batch`` workload: every pass runs the ten headline queries and
the reference's tcp replay, in an order the seed sets.

Closed loop with one client: a pass starts when the previous one has
finished. A run is

1. input generation (not timed);
2. five set-ups (``setup_s`` = their median): the first is timed from
   process start and holds the imports and the JVM launch; the next
   four stop the session and build it again in the same JVM (each
   takes ~0.15 s, so the median of four is steadier than of two);
3. the cold pass: the first pass in the fresh session, its results
   collected to the client; they are compared with the oracle after
   the pass;
4. warm passes to the noop sink until ``--seconds`` have elapsed, and
   at least two; the median is ``pass_s``.
"""

from __future__ import annotations

import os
import random
import time

import checks
import datagen
from common import (
    OUT, PROCESS_START, WORK, Run, Tracer, drain_listener_bus,
    exec_totals, group_exec, log, median, percentile, python_bytes_since,
    sql_execution_mark, start_spark, stop_spark,
)

SETUPS = 5


def run_batch(wl, seed: int, seconds: float, trace: bool, mon) -> Run:
    run = Run()
    rng = random.Random(seed)
    t = time.time()
    wl.generate(seed)
    gen_s = time.time() - t
    log(f"{wl.name}: inputs generated in {gen_s:.1f} s")

    setups, spark, tracer = [], None, Tracer(trace)
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t = time.time()
        spark = tracer.spark = start_spark()
        wl.prepare(spark, tracer)
        end = time.time()
        setups.append(end - PROCESS_START - gen_s if i == 0 else end - t)
    if trace:
        wl.instrument(tracer)

    def one_pass(label: str, collect: bool = False):
        """→ (pass seconds, per-item seconds, collected outputs)."""
        lat, outputs = [], []
        t0 = time.perf_counter()
        with tracer.span("pass", kind=label):
            for name, fn in wl.items(rng):
                run.attempted += 1
                q0 = time.perf_counter()
                try:
                    out = fn(spark, tracer, collect)
                except Exception as e:  # a failed operation, not a crash
                    run.fail(f"{name} ({label}): {type(e).__name__}: {str(e)[:300]}")
                else:
                    if collect:
                        outputs.append((name, out))
                lat.append(time.perf_counter() - q0)
        return time.perf_counter() - t0, lat, outputs

    # the cold pass delivers its results to the client, as a one-shot
    # invocation would; they are checked after the timed pass
    cold_s, _, outputs = one_pass("cold", collect=True)
    log(f"{wl.name}: cold pass {cold_s:.1f} s")
    for name, out in outputs:
        err = wl.check(name, out)
        if err:
            run.fail(f"{name}: {err}")

    passes, lats, cpus, writes = [], [], [], []
    mark = sql_execution_mark(spark) if trace else 0
    # at least two passes: with one, pass_s and latency_p90_ms spread
    # by a quarter across seeds on a shared host
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(passes) < 2:
        cpu0, w0 = mon.sample()
        dt, lat, _ = one_pass("measured")
        cpu1, w1 = mon.sample()
        passes.append(dt)
        lats += lat
        cpus.append(cpu1 - cpu0)
        writes.append(w1 - w0)
    log(f"{wl.name}: setups {[round(s, 2) for s in setups]} cold {cold_s:.2f}"
        f" passes {[round(p, 2) for p in passes]}")

    pass_s = median(passes)
    run.e2e = {
        "setup_s": median(setups),
        "pass_s": pass_s,
        "cold_pass_s": cold_s,
        "latency_p50_ms": percentile(lats, 50) * 1000,
        "latency_p90_ms": percentile(lats, 90) * 1000,
        "drain_rows_per_s": wl.rows_per_pass / pass_s,
        "cpu_core_s": median(cpus),
        "disk_write_mb": median(writes) / 1e6,
    }
    if trace:
        drain_listener_bus(spark)
        measured = [s for s in tracer.spans if s["name"] == "pass" and s["kind"] == "measured"]
        layers = wl.layers(spark, tracer, measured)
        sent, received = python_bytes_since(spark, mark)
        layers["arrow.python_bytes_sent"] = sent / len(measured)
        layers["arrow.python_bytes_received"] = received / len(measured)
        layers["setup.first_s"] = setups[0]
        layers["trace.pass_s"] = pass_s
        layers["trace.latency_p50_ms"] = percentile(lats, 50) * 1000
        run.layers = layers
        tracer.write(os.path.join(OUT, f"spans-{wl.name}.json"))
    stop_spark(spark)
    return run


def _execute(df, collect: bool):
    """Run the query: to the client, or to the noop sink."""
    if collect:
        return df.toPandas()
    df.write.format("noop").mode("overwrite").save()
    return None


def _descendants(tracer: Tracer, span: dict) -> list[dict]:
    out, frontier = [], [span]
    while frontier:
        kids = [c for s in frontier for c in tracer.children(s)]
        out += kids
        frontier = kids
    return out


class Batch:
    """The ten headline queries and the tcp replay, shuffled by the
    seed's generator each pass."""

    name = "batch"

    def __init__(self) -> None:
        self.parts = [Headline(), TcpReplay()]

    def generate(self, seed: int) -> None:
        for p in self.parts:
            p.generate(seed)
        self.rows_per_pass = sum(p.rows_per_pass for p in self.parts)

    def prepare(self, spark, tracer: Tracer) -> None:
        for p in self.parts:
            p.prepare(spark, tracer)

    def instrument(self, tracer: Tracer) -> None:
        for p in self.parts:
            p.instrument(tracer)

    def items(self, rng: random.Random):
        self.owner = {name: p for p in self.parts for name, _ in p.items()}
        out = [i for p in self.parts for i in p.items()]
        rng.shuffle(out)
        return out

    def check(self, name: str, got) -> str | None:
        return self.owner[name].check(name, got)

    def layers(self, spark, tracer: Tracer, passes) -> dict[str, float]:
        """exec.* per pass, summed over every span's jobs, and each
        part's own layers."""
        n = len(passes)
        spans = [s for p in passes for s in _descendants(tracer, p)]
        groups = group_exec(spark, [s["group"] for s in passes + spans])
        out = {k: v / n for k, v in exec_totals(list(groups.values())).items()}
        for p in self.parts:
            out.update(p.layers(tracer, spans, groups, n))
        return out


# --------------------------------------------------------------------------
# the ten headline queries
# --------------------------------------------------------------------------

HEADLINE = [
    "tumbling_revenue_per_minute", "q1_pricing_summary",
    "join_revenue_by_region", "top_users_by_value", "lag_derive_rate",
    "percentiles_by_flag", "split_word_count", "dedup_exact",
    "minhash_lsh_pairs", "ann_cosine_topk",
]
# tables each query reads (for rows per pass)
_READS = {
    "tumbling_revenue_per_minute": ["events"],
    "q1_pricing_summary": ["lineitem"],
    "join_revenue_by_region": ["orders", "customer", "nation", "region"],
    "top_users_by_value": ["events"],
    "lag_derive_rate": ["events"],
    "percentiles_by_flag": ["lineitem"],
    "split_word_count": ["documents"],
    "dedup_exact": ["documents"],
    "minhash_lsh_pairs": ["documents"],
    "ann_cosine_topk": ["embeddings"],
}
SCALE = 0.02  # lineitem 120k rows, events 20k, documents 1000


class Headline:
    name = "headline"

    def generate(self, seed: int) -> None:
        self.dir = os.path.join(WORK, "data", "tables")
        counts = datagen.tables(self.dir, seed, SCALE)
        counts.update(nation=25, region=5)
        self.rows_per_pass = sum(counts[t] for q in HEADLINE for t in _READS[q])
        self.expected = self._oracle()

    def _oracle(self) -> dict:
        import duckdb

        from ramen_spark.catalog import TABLES
        from ramen_spark.queries import ORACLES

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {q: con.execute(ORACLES[q]).fetchdf() for q in HEADLINE}
        con.close()
        return out

    def prepare(self, spark, tracer) -> None:
        pass

    def instrument(self, tracer: Tracer) -> None:
        """Wrap the catalog load the queries call (traced runs only)."""
        import ramen_spark.queries as Q

        inner = Q.load_table

        def load_table(*args, **kw):
            with tracer.span("load_table"):
                return inner(*args, **kw)

        Q.load_table = load_table

    def items(self):
        from ramen_spark.queries import QUERIES

        def item(q):
            def go(spark, tracer, collect):
                with tracer.span("query", query=q) as rec:
                    with tracer.span("construct"):
                        df = QUERIES[q](spark, self.dir)
                    if tracer.enabled:
                        rec["catalyst"] = _catalyst_phases(df)
                    with tracer.span("execute"):
                        return _execute(df, collect)
            return q, go

        return [item(q) for q in HEADLINE]

    def check(self, name: str, got) -> str | None:
        return checks.frames_match(got, self.expected[name])

    def layers(self, tracer, spans, groups, n) -> dict[str, float]:
        out = {}
        loads = [s for s in spans if s["name"] == "load_table"]
        constructs = [s for s in spans if s["name"] == "construct"]
        queries = [s for s in spans if s["name"] == "query"]
        out["catalog.load_table_ms"] = sum(s["ms"] for s in loads) / n
        out["catalog.load_table_calls"] = len(loads) / n
        out["catalog.load_table_jobs"] = sum(groups[s["group"]]["jobs"] for s in loads) / n
        out["queries.construct_self_ms"] = sum(tracer.self_ms(s) for s in constructs) / n
        out["queries.construct_jobs"] = sum(groups[s["group"]]["jobs"] for s in constructs) / n
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_ms"] = sum(q["catalyst"][phase] for q in queries) / n
        return out


def _catalyst_phases(df) -> dict[str, float]:
    """QueryPlanningTracker phases of the query (optimization and
    planning are forced here, on the traced path only)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# --------------------------------------------------------------------------
# the tcp replay
# --------------------------------------------------------------------------

TOP_TCP_RAQL = """
DEFINE top_tcp AS
  SELECT
    min capture_begin AS capture_begin,
    port_server,
    SUM(traffic_bytes_client + traffic_bytes_server) AS traffic,
    SUM(rtt_count_client + rtt_count_server) AS rtt_count,
    CASE WHEN rtt_count > 0 THEN
           SUM(rtt_sum_client + rtt_sum_server) / rtt_count
    END AS avg_rtt
  FROM tcp
  WHERE ip4_client IS NOT NULL
  GROUP BY port_server, capture_begin // 60_000_000
  COMMIT AFTER
    in.capture_begin > out.capture_begin + 80_000_000;
"""


def _reader_raql(path: str) -> str:
    types = ["u64?", "u32?", "u32?"] + ["u64?"] * (len(datagen.TCP_REAL) - 3)
    fields = [f"{c} {t}" for c, t in zip(datagen.TCP_REAL, types)]
    fields += [f"filler_{i} u64?" for i in range(datagen.TCP_FILLER)]
    cols = ",\n    ".join(fields)
    return f'DEFINE tcp AS READ FROM FILE "{path}" AS CSV (\n    {cols}\n);\n'


class TcpReplay:
    name = "tcp"
    rows_per_pass = datagen.TCP_ROWS

    def generate(self, seed: int) -> None:
        self.groups_out = 0
        self.path, cols = datagen.tcp_csv(os.path.join(WORK, "data", "tcp"), seed)
        self.expected = self._exact(cols)

    @staticmethod
    def _exact(cols):
        """The same aggregate by a plain group-by: one row per (port,
        minute) with any non-null client."""
        import pandas as pd

        keep = ~cols["ip4_client_null"]
        df = pd.DataFrame({c: cols[c][keep] for c in datagen.TCP_REAL if c != "ip4_client"})
        df["minute"] = df["capture_begin"] // 60_000_000
        df["traffic"] = df["traffic_bytes_client"] + df["traffic_bytes_server"]
        df["rtt_count"] = df["rtt_count_client"] + df["rtt_count_server"]
        df["rtt_sum"] = df["rtt_sum_client"] + df["rtt_sum_server"]
        g = df.groupby(["port_server", "minute"]).agg(
            capture_begin=("capture_begin", "min"), traffic=("traffic", "sum"),
            rtt_count=("rtt_count", "sum"), rtt_sum=("rtt_sum", "sum"),
        ).reset_index()
        g["avg_rtt"] = (g["rtt_sum"] / g["rtt_count"]).where(g["rtt_count"] > 0)
        return g[["capture_begin", "port_server", "traffic", "rtt_count", "avg_rtt"]]

    def prepare(self, spark, tracer) -> None:
        from ramen_spark.plans.raql import compile_program

        with tracer.span("raql.compile"):
            self.prog = compile_program(
                _reader_raql(self.path) + TOP_TCP_RAQL, name="ramen_vs_ksql")

    def instrument(self, tracer) -> None:
        pass

    def items(self):
        def go(spark, tracer, collect):
            with tracer.span("replay"):
                with tracer.span("materialize"):
                    df = self.prog.materialize(spark, register_views=False)["top_tcp"]
                with tracer.span("execute"):
                    return _execute(df, collect)

        return [("top_tcp", go)]

    def check(self, name: str, got) -> str | None:
        self.groups_out = len(got)
        return checks.frames_match(got, self.expected)

    def layers(self, tracer, spans, groups, n) -> dict[str, float]:
        out = {}
        replays = {s["id"] for s in spans if s["name"] == "replay"}
        spans = [s for s in spans if s["parent"] in replays]
        out["raql.compile_ms"] = median(
            s["ms"] for s in tracer.spans if s["name"] == "raql.compile")
        out["raql.materialize_ms"] = sum(
            s["ms"] for s in spans if s["name"] == "materialize") / n
        stages = [st for s in spans if s["name"] == "execute"
                  for st in groups[s["group"]]["stages"]]
        out["tcp.scan_stage_ms"] = sum(st["wall_ms"] for st in stages if st["input_rows"]) / n
        out["tcp.commit_stage_ms"] = sum(st["wall_ms"] for st in stages if not st["input_rows"]) / n
        out["tcp.groups_out"] = self.groups_out
        return out
