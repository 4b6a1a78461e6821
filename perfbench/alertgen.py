"""Seeded metric generator for ``alert_stream``.

The schedule (which host is over its threshold at which tick, every
sample value, every talker) is a pure function of the seed, so the
benchmark process can check notifications and top talkers against the
same schedule the generator writes.

Run as a separate process, it is the open loop: tick k of the range
is written at ``t0 + (k - first) / rate`` whatever the engine does,
and it reports how late it ran:

    python3 alertgen.py DIR SEED FIRST COUNT RATE T0
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

HOSTS = 20
STEP = 30.0  # seconds of event time per tick: the alert's time_step
TALKERS = 200
THRESHOLD, RECOVERY = 100.0, 50.0
# a window's aggregate commits when an event 1.5 × 60 s past its start
# arrives: three ticks later (see alerts.generate_alert_raql)
COMMIT_TICKS = 3


def over(seed: int, n_ticks: int) -> np.ndarray:
    """[tick, host] → host above its threshold. Every host starts
    healthy and alternates segments of 3 to 10 ticks. A longer range
    extends a shorter one: each host draws from its own stream."""
    out = np.zeros((n_ticks, HOSTS), dtype=bool)
    for h in range(HOSTS):
        rng = np.random.default_rng([seed, 0, h])
        k, bad = int(rng.integers(3, 11)), False
        while k < n_ticks:
            bad = not bad
            n = int(rng.integers(3, 11))
            out[k:k + n, h] = bad
            k += n
    return out


def tick_rows(seed: int, k: int, bad: np.ndarray) -> tuple[str, np.ndarray]:
    """CSV text of tick k (one sample per host) and its talker ids."""
    rng = np.random.default_rng([seed, 1, k])
    values = np.where(bad, rng.uniform(150, 200, HOSTS), rng.uniform(10, 40, HOSTS))
    talkers = np.minimum(rng.zipf(1.5, HOSTS), TALKERS) - 1
    lines = [
        f"h{h},{k * STEP + 1 + h * 0.01:.2f},{(k + 1) * STEP:.1f},{values[h]:.3f},t{talkers[h]}"
        for h in range(HOSTS)
    ]
    return "\n".join(lines) + "\n", talkers


def write_ticks(dir_: str, seed: int, ticks: range, sched: np.ndarray, name: str) -> None:
    """Write several ticks as ONE file (atomically: the engine's file
    source must never see a partial file)."""
    text = "".join(tick_rows(seed, k, sched[k])[0] for k in ticks)
    tmp = os.path.join(dir_, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.rename(tmp, os.path.join(dir_, f"{name}.csv"))


def main() -> None:
    dir_, seed, first, count, rate, t0 = sys.argv[1:7]
    seed, first, count, rate, t0 = int(seed), int(first), int(count), float(rate), float(t0)
    sched = over(seed, first + count)
    late = []
    for i, k in enumerate(range(first, first + count)):
        due = t0 + i / rate
        now = time.time()
        if now < due:
            time.sleep(due - now)
        write_ticks(dir_, seed, range(k, k + 1), sched, f"t{k:06d}")
        late.append(time.time() - due)
    print(json.dumps({"rows": count * HOSTS, "late_ms_max": max(late) * 1000}), flush=True)


if __name__ == "__main__":
    main()
