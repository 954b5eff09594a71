"""Seeded, single-process generator of MetricEnvelope JSON lines.

The engine sees only the files this writes. Two modes:

    python3 perfbench/loadgen.py backlog --workload W --seed N --out DIR \
        --count C --summary FILE
    python3 perfbench/loadgen.py live --workload W --seed N --out DIR \
        --seconds S --summary FILE

``backlog`` writes C envelopes spread over the workload's event-time
span into ``files`` files. ``live`` is an open loop: one file per tick
at the workload's rate, each envelope stamped (event time and
creation_time) with the tick's wall-clock due time; the file appears
(atomic rename from a dot-file Spark ignores) at that due time, and
how late the rename ran is recorded. The same seed gives the same
sequence of names, dimensions and values; live timestamps are wall
clock. Both modes write a JSON summary when done.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from workloads import (  # noqa: E402
    ENV_PRESENT,
    ENVS,
    HIGHCARD_HOSTS,
    HIGHCARD_NAME,
    HIGHCARD_TENANTS,
    HOSTS,
    ORDERED_NAMES,
    REGIONS,
    RULE_NAMES,
    SERVICE_ABSENT,
    SERVICES,
    TENANTS,
    WORKLOADS,
    Workload,
)

# backlog event time starts here (2025-10-01T00:00:00Z) plus a
# seed-derived whole number of minutes
BACKLOG_EPOCH_MS = 1_759_276_800_000


class Envelopes:
    """Draws envelopes for one workload from one seeded stream."""

    def __init__(self, workload: Workload, seed: int):
        self.w = workload
        self.rng = random.Random(seed)
        # last timestamp per (name, tenant, hostname) of ordered metrics
        self.last_ts: dict[tuple, int] = {}
        self.max_ts = 0

    def _stamp(self, name: str, tenant: int, host: int, ts: int) -> int:
        if name in ORDERED_NAMES:
            key = (name, tenant, host)
            ts = max(ts, self.last_ts.get(key, ts - 1) + 1)
        # windows and lags are whole seconds: keeping timestamps off
        # second boundaries keeps every watermark off a window end
        if ts % 1000 == 0:
            ts += 1
        if name in ORDERED_NAMES:
            self.last_ts[key] = ts
        self.max_ts = max(self.max_ts, ts)
        return ts

    def line(self, ts: int) -> str:
        r = self.rng
        if self.w.highcard:
            name = HIGHCARD_NAME
            tenant = r.randrange(HIGHCARD_TENANTS)
            host = r.randrange(HIGHCARD_HOSTS)
            dims = f'"hostname":"h{host}","region":"{r.choice(REGIONS)}"'
        else:
            name = r.choice(RULE_NAMES)
            tenant = r.randrange(TENANTS)
            host = r.randrange(HOSTS)
            dims = f'"hostname":"h{host}","region":"{r.choice(REGIONS)}"'
            if r.random() >= SERVICE_ABSENT:
                dims += f',"service":"{r.choice(SERVICES)}"'
            if r.random() < ENV_PRESENT:
                dims += f',"env":"{r.choice(ENVS)}"'
        ts = self._stamp(name, tenant, host, ts)
        value = r.randrange(1000)
        return (
            f'{{"metric":{{"name":"{name}","dimensions":{{{dims}}},'
            f'"timestamp":{ts},"value":{value}.0}},'
            f'"meta":{{"tenantId":"t{tenant}"}},"creation_time":{ts}}}\n'
        )


def _publish(out: Path, stem: str, lines: list[str]) -> None:
    tmp = out / f".{stem}.tmp"
    with open(tmp, "w") as f:
        f.writelines(lines)
    os.rename(tmp, out / f"{stem}.jsonl")


def write_backlog(w: Workload, seed: int, out: Path, count: int) -> dict:
    gen = Envelopes(w, seed)
    start = BACKLOG_EPOCH_MS + (seed % 10_000) * 60_000
    step = w.span_s * 1000.0 / count
    t0 = time.time()
    per_file = -(-count // w.files)
    for f in range(w.files):
        lo, hi = f * per_file, min(count, (f + 1) * per_file)
        lines = [gen.line(start + int(i * step)) for i in range(lo, hi)]
        _publish(out, f"backlog-{f:03d}", lines)
    wall = time.time() - t0
    return {
        "envelopes": count,
        "first_event_ms": start,
        "last_event_ms": gen.max_ts,
        "late_ms_max": 0.0,
        "rate_actual": count / wall,
    }


def run_live(w: Workload, seed: int, out: Path, seconds: float) -> dict:
    gen = Envelopes(w, seed)
    ticks = max(1, round(seconds / w.tick_s))
    t0 = time.time()
    late_max = 0.0
    sent = 0
    for k in range(ticks):
        due = t0 + (k + 1) * w.tick_s
        n = round(w.rate * w.tick_s * (k + 1)) - sent
        due_ms = int(due * 1000)
        lines = [gen.line(due_ms) for _ in range(n)]
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        _publish(out, f"tick-{k:06d}", lines)
        late_max = max(late_max, (time.time() - due) * 1000.0)
        sent += n
    wall = time.time() - t0
    return {
        "envelopes": sent,
        "first_event_ms": int((t0 + w.tick_s) * 1000),
        # ordered-metric bumps can push a stamp a few ms past due
        "last_event_ms": gen.max_ts,
        "late_ms_max": late_max,
        "rate_actual": sent / wall,
        "t_start": t0,
        "t_end": time.time(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("backlog", "live"))
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--summary", required=True)
    ap.add_argument("--count", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=0.0)
    args = ap.parse_args(argv)
    w = WORKLOADS[args.workload]
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    if args.mode == "backlog":
        summary = write_backlog(w, args.seed, out, args.count)
    else:
        summary = run_live(w, args.seed, out, args.seconds)
    tmp = args.summary + ".tmp"
    with open(tmp, "w") as f:
        json.dump(summary, f)
    os.rename(tmp, args.summary)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
