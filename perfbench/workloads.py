"""Workload parameters shared by the generator, the engine driver and
the oracle. Every number a workload depends on lives here.

- ``live_rules``: open loop. One JSONL file per tick at a fixed rate,
  event time = creation time = wall-clock due time, heartbeat on. At
  500 env/s the seven rule queries already keep 4 cores busy with
  per-batch work (latency read the same at 1000 env/s; at 2000 the
  tail grew), so the rate is one the seed sustains.
- ``replay_rules``: the same rules and key space as one pre-written
  backlog, drained with availableNow and the heartbeat off. Not in
  BENCHMARK.json: on 4 cores one drain takes ~10 s whether the backlog
  holds 60k or 150k envelopes (per-query batch overhead, not parsing,
  dominates), so its runs do not fit the benchmark's time budget.
- ``replay_highcard``: one rule over ~10^5 (tenant, hostname) groups
  per window, drained the same way.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent

# Key space of the rule workloads. Names and every dimension are drawn
# independently, so no rule's filter removes another rule's rows.
RULE_NAMES = (
    "net.in_bytes",
    "http.requests",
    "cpu.idle_perc",
    "mem.free_mb",
    "disk.used_pct",
    "net.out_bytes_total",
    "http.requests_total",
    # matched by no rule: the filter step's useful-to-attempted ratio
    "proc.count",
    "swap.used_mb",
)
# delta/rate inputs: timestamps are made unique per (name, tenant,
# hostname), so first/last by event time is deterministic
ORDERED_NAMES = frozenset({"net.out_bytes_total", "http.requests_total"})
TENANTS = 4
HOSTS = 8
REGIONS = ("us-east", "us-west", "eu-west")
SERVICES = ("web", "db", "cache", "queue")
SERVICE_ABSENT = 0.2  # share of envelopes without a service key
ENVS = ("prod", "test")
ENV_PRESENT = 0.3  # share of envelopes carrying an env key

HIGHCARD_NAME = "host.load"
HIGHCARD_TENANTS = 50
HIGHCARD_HOSTS = 2000


@dataclass(frozen=True)
class Workload:
    name: str
    rules: str  # YAML file name under perfbench/
    live: bool
    window_s: int
    lag_s: int
    highcard: bool = False
    rate: int = 0  # live: envelopes per second
    tick_s: float = 0.0  # live: one file per tick
    backlog: int = 0  # replay: envelopes in the backlog
    span_s: float = 0.0  # event-time span of the (warm-up) backlog
    files: int = 8  # files per backlog
    warmup: int = 0  # envelopes in the warm-up backlog
    warm_drains: int = 2  # warm-up drains of it before timing
    warm_s: float = 0.0  # live: seconds of traffic before timing starts

    @property
    def rules_path(self) -> str:
        return str(HERE / self.rules)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "live_rules", "rules.yaml", live=True, window_s=1, lag_s=1,
            rate=500, tick_s=0.2, warm_s=2.0,
            # preloaded into the live source (engine.live_phase): cold
            # first batches otherwise run for up to ~30 s into the timed
            # part and push latency into a second mode
            warmup=5_000, span_s=10.0, warm_drains=0,
        ),
        Workload(
            "replay_rules", "rules.yaml", live=False, window_s=1, lag_s=1,
            backlog=60_000, span_s=30.0, warmup=20_000,
        ),
        Workload(
            "replay_highcard", "highcard.yaml", live=False, window_s=10,
            lag_s=2, highcard=True, backlog=400_000, span_s=30.0,
            warmup=100_000,
        ),
    )
}

# local[1] single-threaded baseline (traced runs): a highcard backlog
BASELINE = WORKLOADS["replay_highcard"]
