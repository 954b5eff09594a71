"""Aggregator benchmark: publish latency and backlog-drain throughput
through the daemon's continuous rule pipeline.

    python3 perfbench/run.py --workload live_rules|replay_highcard \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Three kinds of process take part:
this one (orchestration, /proc accounting, oracle), the seeded
generator (``loadgen.py``) and the engine (``engine.py``: Spark plus
the program's ``build_continuous_pipeline``). CPU time and peak RSS
are read from /proc for the engine's session (driver Python, JVM,
Python workers) and never include the generator.

End-to-end metrics (``--trace 0``):

- ``setup_s``: engine spawn until timing starts (session; warm-up
  over a smaller backlog: two drains on a replay, the live queries'
  first batches plus ``warm_s`` seconds of traffic on live), with the
  measured pipeline's start counted as the median of every pipeline
  start in the run;
- ``publish_latency_p50_ms`` / ``_p90_ms``: per (rule, window), from
  the creation of its last envelope (live) or from the moment the
  backlog became available (replay) to the sink's commit of that
  window. The tail is the highest percentile, at most p90, with ten
  samples beyond it; the sample count is printed;
- ``drain_env_per_s``: replay, the median over drains of backlog size
  over pipeline start -> every query ended; live, envelopes over
  generator start -> last window published;
- ``cpu_s_per_menv`` and ``peak_rss_mb`` of the engine.

This process is a child subreaper: descendants whose parent dies (the
JVM once the engine is killed, its helpers, Python workers) are
re-parented to it, and before it exits it kills and reaps every
descendant, on every path out.

Every published (rule, window) is checked against a DuckDB computation
over the same files (``oracle.py``). The last line of stdout is one
JSON object: ``attempted`` counts expected (rule, window) publications
and ``failed`` those missing, published twice or unequal to the
oracle (``failed / attempted`` is the failed share, also printed).
``--trace 1`` runs an untraced and a traced half, then isolated layer
calls and a local[1] baseline drain, and reports the per-layer
metrics; its spans go to ``.perfbench_out/<run>/spans.jsonl``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from engine import iso_ms  # noqa: E402
from workloads import BASELINE, WORKLOADS  # noqa: E402

ROOT = Path.cwd()
DEADLINE_S = 170.0
# Spark's driver JVM gets a fixed, pre-touched heap: peak RSS then moves
# with off-heap memory and processes, not with when G1 grows its heap.
DRIVER_MEMORY = "1g"


class Failure(Exception):
    pass


# -- /proc accounting ------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def session_usage(sid: int, prev: set) -> tuple[float, int, set]:
    """(CPU seconds, RSS bytes, process keys) summed over the live
    processes of one session: pyspark's worker daemon takes a process
    group of its own, but stays in the engine's session. CPU includes
    reaped children (cutime/cstime), so short-lived workers still count
    once their parent waits for them. RSS counts only processes already present in
    the previous sample (``prev``): a helper the JVM spawns shares the
    JVM's memory for its first instants and would count it twice."""
    cpu = rss = 0
    keys = set()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) != sid:
            continue
        key = (d, fields[19])  # pid, start time
        keys.add(key)
        cpu += sum(int(x) for x in fields[11:15])
        if key in prev:
            rss += int(fields[21])
    return cpu / _TICK, rss * _PAGE, keys


class Sampler(threading.Thread):
    """Samples one session every ``period`` seconds."""

    def __init__(self, sid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.sid, self.period = sid, period
        self.samples: list[tuple[float, float, int]] = []
        self._halt = threading.Event()

    def run(self) -> None:
        keys: set = set()
        while not self._halt.is_set():
            cpu, rss, keys = session_usage(self.sid, keys)
            self.samples.append((time.time(), cpu, rss))
            self._halt.wait(self.period)

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def cpu_at(self, t: float) -> float:
        """CPU seconds of the first sample at or after ``t``."""
        for ts, cpu, _ in self.samples:
            if ts >= t:
                return cpu
        return self.samples[-1][1]

    def peak_rss(self) -> int:
        return max(s[2] for s in self.samples)


# -- processes -------------------------------------------------------------


class Procs:
    """Starts each child in a session of its own (the sampler follows
    the engine's) and stops every descendant."""

    def __init__(self, deadline: float):
        self.deadline = deadline

    def spawn(self, argv, **kw) -> subprocess.Popen:
        return subprocess.Popen(argv, start_new_session=True, **kw)

    def reap(self, p: subprocess.Popen) -> float | None:
        """Exit status check + the child's CPU seconds (rusage), or
        None while it runs."""
        pid, status, ru = os.wait4(p.pid, os.WNOHANG)
        if pid == 0:
            return None
        p.returncode = os.waitstatus_to_exitcode(status)
        if p.returncode != 0:
            raise Failure(f"{p.args[1]} exited with {p.returncode}")
        return ru.ru_utime + ru.ru_stime

    def wait(self, p: subprocess.Popen) -> float:
        while True:
            cpu = self.reap(p)
            if cpu is not None:
                return cpu
            self.check_deadline()
            time.sleep(0.05)

    def check_deadline(self) -> None:
        if time.time() > self.deadline:
            raise Failure("run exceeded its time limit")

    def kill_all(self) -> None:
        """SIGKILL every descendant and reap until none is left."""
        end = time.time() + 30.0
        while True:
            for pid in descendants():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                return  # no child, live or zombie, is left
            if time.time() > end:
                raise Failure("a child process could not be stopped")
            time.sleep(0.02)


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Orphaned descendants are re-parented here instead of to init, so
    kill_all can find and reap each of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants() -> list[int]:
    """Pids of every process below this one."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def loadgen(procs: Procs, mode: str, workload: str, seed: int, out: Path,
            summary: Path, **kw) -> subprocess.Popen:
    argv = [sys.executable, str(HERE / "loadgen.py"), mode, "--workload", workload,
            "--seed", str(seed), "--out", str(out), "--summary", str(summary)]
    for k, v in kw.items():
        argv += [f"--{k}", str(v)]
    return procs.spawn(argv)


def engine(procs: Procs, run_dir: Path, workload: str, seconds: float, trace: int,
           cpus: int, *extra: str) -> subprocess.Popen:
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=str(ROOT),
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_SUBMIT_ARGS=f'--driver-java-options "-Djava.io.tmpdir={tmp} '
        f'-XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch" pyspark-shell',
        # spark-submit's launcher JVM would otherwise write to /tmp
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    log = open(run_dir / "engine.log", "w")
    try:
        return procs.spawn(
            [sys.executable, str(HERE / "engine.py"), "--workload", workload,
             "--run-dir", str(run_dir), "--seconds", str(seconds),
             "--trace", str(trace), "--cpus", str(cpus), *extra],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
        )
    finally:
        log.close()


def drive_engine(procs: Procs, eng: subprocess.Popen, run_dir: Path, w, seed: int) -> dict:
    """Follow the engine's events; start a live generator per phase.
    Returns event times and generator accounting."""
    events_path = run_dir / "events.jsonl"
    seen: dict = {"gen_cpu_s": 0.0}
    gens: list[subprocess.Popen] = []
    pos = 0
    while True:
        procs.check_deadline()
        if events_path.exists():
            with open(events_path) as f:
                f.seek(pos)
                chunk = f.read()
            lines = chunk.split("\n")
            pos += len(chunk) - len(lines[-1])
            for line in lines[:-1]:
                ev = json.loads(line)
                key = ev["ev"] + (f"{ev['phase']}" if "phase" in ev else "")
                seen[key] = ev["t"]
                if ev["ev"] == "done":
                    # all measured and written: skip Spark's orderly shutdown
                    os.killpg(eng.pid, signal.SIGKILL)
                if ev["ev"] == "phase_ready" and w.live:
                    gens.append(loadgen(
                        procs, "live", w.name, seed * 7 + ev["phase"],
                        Path(ev["src"]), run_dir / f"gen{ev['phase']}.json",
                        seconds=ev["seconds"]))
        for g in list(gens):
            cpu = procs.reap(g)
            if cpu is not None:
                seen["gen_cpu_s"] += cpu
                gens.remove(g)
        if eng.poll() is not None:
            if "done" not in seen:
                raise Failure(f"engine exited with {eng.returncode}; see {run_dir}/engine.log")
            break
        time.sleep(0.05)
    for g in gens:
        seen["gen_cpu_s"] += procs.wait(g)
    return seen


# -- metrics ---------------------------------------------------------------


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def tail_pct(n: int) -> float:
    """Highest percentile (at most p90) with >= 10 samples beyond it."""
    return min(0.9, max(0.5, 1.0 - 10.0 / n)) if n else 0.5


def check_phase(oracle, ph: dict, w, table: str) -> dict:
    """Oracle check of every pass of one phase; latency samples."""
    lines = oracle.load_source(table, ph["src"])
    oracle.expected(table, closed_only=not w.live)
    attempted = failed = 0
    lat: list[float] = []
    out_rows = oracle.expected_rows()
    bad = []
    for p in ph["passes"]:
        commit = {(c["rule"], c["batch"]): c["t2"] for c in p["commits"]}
        for rule, window, ok, last_created, batch in oracle.check(p["root"]):
            attempted += 1
            if not ok:
                failed += 1
                bad.append((rule, window))
            if batch is None or (rule, batch) not in commit or last_created is None:
                continue
            if w.live and window < ph["t_measure"] * 1000.0:
                continue  # a warm-up window
            # live: from the last envelope's creation; replay: from the
            # moment the whole backlog was available
            since = last_created / 1000.0 if w.live else p["t0"]
            lat.append((window, (commit[(rule, batch)] - since) * 1000.0))
    return {"lines": lines, "attempted": attempted, "failed": failed,
            "latency_ms": lat, "oracle_rows": out_rows, "bad": bad[:10]}


def measured_envelopes(ph: dict, backlog: int) -> float:
    """Envelopes put through the pipeline while timed."""
    if "gen" in ph:
        g = ph["gen"]
        return g["envelopes"] * (g["t_end"] - ph["t_measure"]) / (g["t_end"] - g["t_start"])
    return backlog * len(ph["passes"])


def measure_start(ph: dict, seen: dict) -> float:
    return ph.get("t_measure", seen[f"phase_ready{ph['phase']}"])


def drain_rate(ph: dict, backlog: int) -> float:
    if "gen" in ph:
        # live: envelopes over generator start -> last window published
        return ph["gen"]["envelopes"] / (ph["t_published"] - ph["gen"]["t_start"])
    return statistics.median(backlog / p["wall"] for p in ph["passes"])


def end_to_end(eng: dict, seen: dict, checks: list, w, backlog: int,
               sampler: Sampler) -> dict:
    ph = eng["phases"][0]
    lat = [ms for _, ms in checks[0]["latency_ms"]]
    if not lat:
        raise Failure("no window was published")
    t0 = measure_start(ph, seen)
    starts = eng["pipeline_starts"]
    # spawn -> timing starts, with the measured pipeline's start replaced
    # by the median over every pipeline start in the run (warm-up and
    # measured drains; the one live start)
    setup = t0 - seen["spawn"] + statistics.median(starts) - (starts[-1] if w.live else 0.0)
    cpu = sampler.cpu_at(seen["phase_done0"]) - sampler.cpu_at(t0)
    q = tail_pct(len(lat))
    return {
        "setup_s": (setup, "s"),
        "publish_latency_p50_ms": (pct(lat, 0.5), "ms"),
        "publish_latency_p90_ms": (pct(lat, q), "ms"),
        "drain_env_per_s": (drain_rate(ph, backlog), "1/s"),
        "cpu_s_per_menv": (cpu / (measured_envelopes(ph, backlog) / 1e6), "s"),
        "peak_rss_mb": (sampler.peak_rss() / 2**20, "MB"),
    }, {"latency_samples": len(lat), "latency_tail_pct": q,
        "failed_frac": checks[0]["failed"] / max(1, checks[0]["attempted"])}


def per_layer(eng: dict, seen: dict, checks: list, w, backlog: int, baseline: dict,
              gen_summaries: list) -> tuple[dict, list[str]]:
    """Per-layer metrics from the traced phase: the last one. Sink
    spans (and ``rows_out``) cover the batches run while spans were on,
    the listener's numbers the whole phase."""
    problems = []
    ph = eng["phases"][-1]
    npass = len(ph["passes"])
    run_ids = {qi["run_id"] for p in ph["passes"] for qi in p["queries"].values()}
    prog = [p for p in eng["progress"] if p["runId"] in run_ids]
    generated = ph["gen"]["envelopes"] + ph["preloaded"] if w.live else backlog * npass
    rules = sorted({p["name"] for p in prog})

    def per_query(fn):
        return {r: fn([p for p in prog if p["name"] == r]) for r in rules}

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    file_rows = sum(s["numInputRows"] for p in prog for s in p["sources"]
                    if s["description"].startswith("FileStreamSource"))
    obs = {name: per_query(lambda ps, n=name: sum(
        (p.get("observedMetrics") or {}).get(n, {}).get("n", 0) for p in ps))
        for name in ("in_messages", "out_messages")}
    in_per_pass = {r: v / npass for r, v in obs["in_messages"].items()}
    out_total = sum(obs["out_messages"].values()) / npass
    if any(v != generated / npass for v in in_per_pass.values()):
        problems.append(f"in_messages {in_per_pass} != generated {generated / npass}")
    if out_total != checks[-1]["oracle_rows"]:
        problems.append(f"out_messages {out_total} != oracle rows {checks[-1]['oracle_rows']}")

    state = [(p["name"], p["batchId"], op) for p in prog for op in p.get("stateOperators", [])]

    def state_sum(key):
        return sum(op.get(key, 0) for _, _, op in state) / npass

    def state_peak(key):
        peak: dict = {}
        for r, _, op in state:
            peak[r] = max(peak.get(r, 0), op.get(key, 0))
        return sum(peak.values())

    wall = ph["t1"] - ph["t0"]
    busy = statistics.mean(v / 1000.0 / wall for v in per_query(
        lambda ps: sum(dur(p, "triggerExecution") for p in ps)).values())
    commits = [c for p in ph["passes"] for c in p["commits"] if c["rows"] is not None]
    sink_ms = [(c["t2"] - c["t1"]) * 1000.0 for c in commits]
    exec_ms = [(c["t1"] - c["t0"]) * 1000.0 for c in commits]
    trig = [dur(p, "triggerExecution") for p in prog]
    add_batch = [dur(p, "addBatch") for p in prog]
    loop_self = [t - a for t, a in zip(trig, add_batch)]
    layers = eng["layers"]
    gen = gen_summaries[-1]
    def backlog_at(frac: float) -> float:
        """Generated minus consumed (by the slowest query, counting
        batches that had ended) once ``frac`` of the generation time
        had passed. A replay's backlog is all there before it starts."""
        if not w.live:
            return backlog
        g = ph["gen"]
        t = g["t_start"] + frac * (g["t_end"] - g["t_start"])
        consumed = min(
            sum(s["numInputRows"] for p in prog if p["name"] == r
                and (iso_ms(p["timestamp"]) + dur(p, "triggerExecution")) / 1000.0 <= t
                for s in p["sources"] if s["description"].startswith("FileStreamSource"))
            for r in rules)
        return g["envelopes"] * frac - (consumed - ph["preloaded"])
    if w.live:
        # windows opened after the sink's spans were switched on
        lat = checks[0]["latency_ms"]
        t_trace = ph["t_trace"] * 1000.0
        overhead = (pct([ms for win, ms in lat if win >= t_trace], 0.5)
                    / pct([ms for win, ms in lat if win < t_trace], 0.5) - 1.0)
    else:
        overhead = (drain_rate(eng["phases"][0], backlog)
                    / drain_rate(ph, backlog) - 1.0)
    m = {
        "session.start_s": (eng["session_start_s"], "s"),
        "config.pipeline_start_s": (statistics.median(eng["pipeline_starts"]), "s"),
        "sources.envelope.parse_env_per_s": (layers["lines"] / layers["parse_s"], "1/s"),
        "sources.envelope.parse_amplification": (file_rows / generated, "ratio"),
        "sources.envelope.invalid_dropped": (layers["lines"] - layers["parsed"], "count"),
    }
    for rule, n in sorted(layers["matched"].items()):
        m[f"operators.aggregate.match_frac.{rule}"] = (n / max(1, layers["parsed"]), "ratio")
    m.update({
        "streaming.pipeline.state_rows_peak": (state_peak("numRowsTotal"), "count"),
        "streaming.pipeline.state_mem_bytes_peak": (state_peak("memoryUsedBytes"), "bytes"),
        "streaming.pipeline.state_update_ms": (state_sum("allUpdatesTimeMs"), "ms"),
        "streaming.pipeline.state_commit_ms": (state_sum("commitTimeMs"), "ms"),
        "streaming.pipeline.rows_dropped_by_watermark":
            (state_sum("numRowsDroppedByWatermark"), "count"),
        "streaming.pipeline.self_ms": (sum(exec_ms) / npass, "ms"),
        "config.batches": (len(prog) / len(rules) / npass, "count"),
        "config.trigger_ms_p50": (statistics.median(trig), "ms"),
        "config.add_batch_ms_p50": (statistics.median(add_batch), "ms"),
        "config.planning_ms_p50": (statistics.median(dur(p, "queryPlanning") for p in prog), "ms"),
        "config.offsets_ms_p50":
            (statistics.median(dur(p, "latestOffset", "getBatch") for p in prog), "ms"),
        "config.checkpoint_ms_p50":
            (statistics.median(dur(p, "walCommit", "commitOffsets") for p in prog), "ms"),
        "config.busy_frac": (busy, "ratio"),
        "config.self_ms": (sum(loop_self) / npass, "ms"),
        "sources.kafka.sink_ms_p50": (statistics.median(sink_ms), "ms"),
        "sources.kafka.rows_out": (sum(c["rows"] for c in commits) / npass, "count"),
        "sources.kafka.self_ms": (sum(sink_ms) / npass, "ms"),
        "observability.in_messages": (min(in_per_pass.values()), "count"),
        "observability.out_messages": (out_total, "count"),
        "loadgen.late_ms_max": (gen["late_ms_max"], "ms"),
        "loadgen.rate_actual": (gen["rate_actual"], "1/s"),
        "loadgen.cpu_s_per_menv":
            (seen["gen_cpu_s"] / (sum(g["envelopes"] for g in gen_summaries) / 1e6), "s"),
        "backlog.envelopes_mid": (backlog_at(0.5), "count"),
        "backlog.envelopes_end": (backlog_at(1.0), "count"),
        "trace.overhead_frac": (overhead, "ratio"),
        "baseline.local1_drain_env_per_s": (baseline["rate"], "1/s"),
        "baseline.local1_setup_s": (baseline["setup"], "s"),
    })
    return m, problems


# -- run -------------------------------------------------------------------


def run(args) -> tuple[dict, int, int, list[str], dict, Path]:
    """One benchmark run: (metrics, attempted, failed, problems,
    notes, run directory)."""
    from oracle import Oracle, load_rules

    w = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    out_root = ROOT / ".perfbench_out"
    run_dir = out_root / f"{w.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    procs = Procs(time.time() + DEADLINE_S)
    sampler = None
    problems: list[str] = []
    try:
        backlog_gen_cpu = 0.0
        warm = loadgen(procs, "backlog", w.name, args.seed * 7 + 5, run_dir / "warmup",
                       run_dir / "gen_warmup.json", count=w.warmup)
        if not w.live:
            gen = loadgen(procs, "backlog", w.name, args.seed * 7, run_dir / "backlog",
                          run_dir / "gen_backlog.json", count=w.backlog)
            backlog_gen_cpu = procs.wait(gen)
        procs.wait(warm)
        seen = {"spawn": time.time()}
        eng = engine(procs, run_dir, w.name, args.seconds, args.trace, cpus)
        sampler = Sampler(eng.pid)
        sampler.start()
        seen.update(drive_engine(procs, eng, run_dir, w, args.seed))
        sampler.stop()
        result = json.loads((run_dir / "engine.json").read_text())

        if w.live:
            gen_summaries = [json.loads((run_dir / f"gen{ph['phase']}.json").read_text())
                             for ph in result["phases"]]
        else:
            gen_summaries = [json.loads((run_dir / "gen_backlog.json").read_text())]
            seen["gen_cpu_s"] = backlog_gen_cpu
        oracle = Oracle(load_rules(w.rules_path), w.window_s, w.lag_s, run_dir / "tmp")
        try:
            checks = [check_phase(oracle, ph, w, f"src{ph['phase']}")
                      for ph in result["phases"]]
        finally:
            oracle.close()
        attempted = sum(c["attempted"] for c in checks)
        failed = sum(c["failed"] for c in checks)
        for c in checks:
            if c["bad"]:
                problems.append(f"failed (rule, window): {c['bad']}")

        if not args.trace:
            metrics, notes = end_to_end(result, seen, checks, w, w.backlog, sampler)
        else:
            baseline = run_baseline(procs, run_dir, args.seed)
            metrics, more = per_layer(result, seen, checks, w, w.backlog, baseline,
                                      gen_summaries)
            problems += more
            notes = {"failed_frac": failed / max(1, attempted)}
            with open(run_dir / "spans.jsonl", "w") as f:
                for s in result["spans"]:
                    f.write(json.dumps(s) + "\n")
        return metrics, attempted, failed, problems, notes, run_dir
    finally:
        if sampler is not None and sampler.is_alive():
            sampler.stop()
        procs.kill_all()
        for sub in ("warmup", "backlog", "p0", "p1", "w", "tmp", "spark-local", "baseline"):
            shutil.rmtree(run_dir / sub, ignore_errors=True)


def run_baseline(procs: Procs, run_dir: Path, seed: int) -> dict:
    """One local[1] drain of a replay_highcard backlog, after one
    warm-up drain: the single-threaded baseline."""
    bdir = run_dir / "baseline"
    bdir.mkdir()
    gens = [loadgen(procs, "backlog", BASELINE.name, seed * 7 + 5, bdir / "warmup",
                    bdir / "gen_warmup.json", count=BASELINE.warmup),
            loadgen(procs, "backlog", BASELINE.name, seed * 7, bdir / "backlog",
                    bdir / "gen_backlog.json", count=BASELINE.backlog)]
    for g in gens:
        procs.wait(g)
    t0 = time.time()
    eng = engine(procs, bdir, BASELINE.name, 0, 0, 1, "--baseline", "--warmups", "1")
    procs.wait(eng)
    res = json.loads((bdir / "engine.json").read_text())
    ev = [json.loads(x) for x in (bdir / "events.jsonl").read_text().splitlines()]
    ready = next(e["t"] for e in ev if e["ev"] == "session_ready")
    passes = res["phases"][0]["passes"]
    return {"rate": statistics.median(BASELINE.backlog / p["wall"] for p in passes),
            "setup": ready - t0 + res["warmup_s"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a termination request unwinds through run()'s cleanup, which
    # stops every descendant
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    if not (ROOT / "monasca_aggregator_spark" / "config.py").is_file():
        print("perfbench: run from the root of a checkout of the program "
              "(monasca_aggregator_spark/ not found)", file=sys.stderr)
        return 2
    try:
        metrics, attempted, failed, problems, notes, run_dir = run(args)
    except Failure as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    for name, (value, unit) in metrics.items():
        print(f"{name:52s} {value:16.4f} {unit}")
    for k, v in notes.items():
        print(f"# {k}: {v}")
    for p in problems:
        print(f"# problem: {p}")
    print(f"# attempted={attempted} failed={failed} run_dir={run_dir.relative_to(ROOT)}")
    correct = failed == 0 and not problems
    with open(run_dir / "result.json", "w") as f:
        json.dump({"metrics": metrics, "notes": notes, "problems": problems}, f)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
