"""ramen_spark benchmark.

    python3 perfbench/run.py --workload batch --seed 1 \
        --seconds 4 --trace 0

Runs one workload (see metrics.WORKLOADS and README.md) from the root
of a source checkout, checks its outputs, and prints as the last line
of stdout one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — every end-to-end metric with ``--trace 0``, every
per-layer metric with ``--trace 1``. Logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import traceback

import common
from metrics import END_TO_END, PER_LAYER, WORKLOADS

WATCHDOG_S = 170.0


def _expire(mon) -> None:
    common.log(f"run exceeded {WATCHDOG_S:.0f} s: stopping")
    mon.kill_descendants()
    os._exit(3)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w for w, _ in WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not common.engine_available():
        common.log(f"no ramen_spark package under {common.ROOT}: run from a source checkout")
        return 2
    common.prepare_environment()
    os.makedirs(common.OUT, exist_ok=True)

    mon = common.TreeMonitor()
    # a run must end within 180 s: past WATCHDOG_S, stop everything
    watchdog = threading.Timer(WATCHDOG_S, _expire, (mon,))
    watchdog.daemon = True
    watchdog.start()
    try:
        if args.workload == "alert_stream":
            import stream

            run = stream.run_alert(args.seed, args.seconds, bool(args.trace), mon)
        else:
            import batch

            run = batch.run_batch(batch.Batch(), args.seed, args.seconds, bool(args.trace), mon)
    except Exception:
        traceback.print_exc()
        mon.kill_descendants()
        return 1
    finally:
        watchdog.cancel()
        mon.close()
        mon.wait_descendants_gone()
        shutil.rmtree(common.WORK, ignore_errors=True)

    run.e2e["peak_rss_mb"] = mon.peak_rss / 1e6
    common.log("peak RSS by executable (processes, MB):",
               {k: (n, round(b / 1e6)) for k, (n, b) in mon.peak_parts.items()})
    run.e2e["ok_ratio"] = (run.attempted - run.failed) / max(1, run.attempted)
    if args.trace:
        names, values = [m[:2] for m in PER_LAYER], run.layers
    else:
        names, values = [m[:2] for m in END_TO_END], run.e2e
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names
        },
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
