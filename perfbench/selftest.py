"""Self-test of the benchmark's own measuring code.

    python3 perfbench/selftest.py

1. BENCHMARK.json at the checkout root is what metrics.py describes.
2. exec.* figures are summed over EVERY job a call triggers, not only
   its final SQL execution. prepare_training_corpus (a composed
   pipeline that checkpoints its stages) runs on seeded tables at
   sf0.001; its shuffle summed over all of its jobs must exceed the
   shuffle of its final execution alone, the figure a
   final-execution-only reader reports.
3. The Python-worker byte counters read the SQL metrics: the same
   pipeline's pandas UDFs send and receive bytes.

Exits 0 when all hold.
"""

from __future__ import annotations

import json
import os
import sys

import common
import datagen
from metrics import benchmark_json


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def final_execution_shuffle(spark) -> int:
    """Shuffle bytes written by the jobs of the last SQL execution."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    last = store.executionsList(n - 1, 1).apply(0)
    jobs = [int(j) for j in _scala_iter(last.jobs().keys())]
    tracker = spark.sparkContext.statusTracker()
    stages = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
    app = spark.sparkContext._jsc.sc().statusStore()
    return sum(common._stage_record(app, s)["shuffle_write"] for s in stages)


def main() -> int:
    ok = True
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        if json.load(fh) != benchmark_json():
            print("FAIL: BENCHMARK.json differs from metrics.benchmark_json()")
            ok = False

    common.prepare_environment()
    data = os.path.join(common.WORK, "data", "sf0.001")
    datagen.tables(data, 7, 0.001)
    from ramen_spark.queries import QUERIES

    spark = common.start_spark()
    try:
        tracer = common.Tracer(True)
        tracer.spark = spark
        mark = common.sql_execution_mark(spark)
        with tracer.span("query"):
            with tracer.span("construct"):
                df = QUERIES["prepare_training_corpus"](spark, data)
            with tracer.span("execute"):
                df.write.format("noop").mode("overwrite").save()
        common.drain_listener_bus(spark)
        final = final_execution_shuffle(spark)
        groups = common.group_exec(spark, [s["group"] for s in tracer.spans])
        summed = common.exec_totals(list(groups.values()))
        print(f"prepare_training_corpus @ sf0.001: {summed['exec.jobs']} jobs, "
              f"{summed['exec.stages']} stages; shuffle written: summed over all "
              f"jobs {summed['exec.shuffle_write_bytes']} B, final execution {final} B")
        sent, received = common.python_bytes_since(spark, mark)
        print(f"  bytes sent to / returned from Python workers: {sent} / {received}")
        if not summed["exec.shuffle_write_bytes"] > final:
            print("FAIL: summed shuffle does not exceed the final execution's")
            ok = False
        if not (sent > 0 and received > 0):
            print("FAIL: no bytes counted to or from Python workers")
            ok = False
    finally:
        common.stop_spark(spark)
    print("selftest", "ok" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
