"""The engine under test: the daemon's own composition
(``config.build_continuous_pipeline``) with a file ``source()`` and a
benchmark-owned ``sink()``, the edges ``__main__`` uses in
``--source-dir`` mode. ``run.py`` starts this as its own process so
that its CPU time and memory can be read from outside.

    python3 perfbench/engine.py --workload W --run-dir D --seconds S \
        --trace 0|1 --cpus N [--baseline]

Talks to ``run.py`` through files in the run directory: it appends
events to ``events.jsonl`` (``phase_ready`` asks for a live generator
to start) and polls for the generator's ``gen<k>.json`` summary. With
``--trace 0`` a run is one untraced phase of S seconds. With
``--trace 1`` the first S/2 seconds are untraced and the last S/2
traced, so their difference is the tracing overhead: a replay runs two
phases of drains; a live run keeps one pipeline (one warm-up, one
tail) with the progress listener attached throughout and switches the
sink's spans on halfway. ``--baseline`` drains the backlog once after
the warm-up (the local[1] run). Everything it measured goes to
``engine.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
from datetime import datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from workloads import HERE, WORKLOADS, Workload  # noqa: E402

MIN_DRAINS = 3
WAIT_S = 60.0  # bound on each wait for the generator or a watermark


class StopAtNextBatch(Exception):
    """Raised by the sink, before it touches the batch, to end a live
    query at a micro-batch boundary.

    ``__main__._drain_and_stop`` waits for the trigger to go idle, but
    under the heartbeat a loaded query runs its triggers back to back
    and is never seen idle; ``q.stop()`` then interrupts the stream
    thread inside ``foreachBatch`` (StackOverflowError, aborted
    ``_temporary`` files). Refusing the next batch ends the query from
    its own thread: every earlier batch is committed, the refused one
    wrote nothing."""


class Events:
    """Append-only event log read by run.py."""

    def __init__(self, path: Path):
        self._f = open(path, "a")
        self._lock = threading.Lock()

    def emit(self, ev: str, **kw) -> None:
        with self._lock:
            self._f.write(json.dumps({"ev": ev, "t": time.time(), **kw}) + "\n")
            self._f.flush()

    def close(self) -> None:
        self._f.close()


class Tracer:
    """Spans kept in memory, written out at the end.

    Micro-batch spans come from Spark's public StreamingQueryListener
    progress events (one span per (query, batchId), children laid out
    from its reported phases); sink and isolated-layer spans are timed
    by this file around calls into the program.
    """

    PHASES = (  # MicroBatchExecution order within triggerExecution
        "latestOffset", "getBatch", "walCommit", "queryPlanning",
        "addBatch", "commitOffsets",
    )

    def __init__(self):
        self._lock = threading.Lock()
        self.progress: list[dict] = []
        self.spans: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Collect(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = json.loads(event.progress.json)
                with tracer._lock:
                    tracer.progress.append(p)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        return _Collect()

    def span(self, name: str, start: float, end: float, **kw) -> dict:
        s = {"name": name, "start": start, "end": end, **kw}
        with self._lock:
            self.spans.append(s)
        return s

    def batch_spans(self, progress: list[dict]) -> None:
        """One span per (query, batchId) with a child per phase."""
        for p in progress:
            start = iso_ms(p["timestamp"]) / 1000.0
            d = p.get("durationMs", {})
            sid = f"{p['name']}/{p['batchId']}"
            self.span(
                "config.micro_batch", start,
                start + d.get("triggerExecution", 0) / 1000.0,
                id=sid, query=p["name"], batch=p["batchId"],
            )
            t = start
            for ph in self.PHASES:
                ms = d.get(ph)
                if ms is None:
                    continue
                self.span(f"spark.{ph}", t, t + ms / 1000.0, parent=sid)
                t += ms / 1000.0


def iso_ms(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000.0


def _wait_for(pred, timeout: float, what: str, poll: float = 0.05):
    end = time.time() + timeout
    while time.time() < end:
        v = pred()
        if v:
            return v
        time.sleep(poll)
    raise TimeoutError(f"timed out waiting for {what}")


class Engine:
    def __init__(self, args):
        self.args = args
        self.w: Workload = WORKLOADS[args.workload]
        self.run_dir = Path(args.run_dir)
        self.events = Events(self.run_dir / "events.jsonl")
        self.tracer = Tracer()
        self.pipeline_starts: list[float] = []
        self.out: dict = {"phases": []}

    # -- the composition under test -----------------------------------

    def start_pipeline(self, src: Path, root: Path, *, live: bool,
                       trace: threading.Event | None = None,
                       stop: threading.Event | None = None):
        """build_continuous_pipeline over ``src`` with fresh checkpoint
        and sink directories under ``root``: continuous with the
        heartbeat (``live``) or an availableNow drain without it.
        Returns (queries, commits, start time); commits collects one
        record per sink batch. While ``trace`` is set, the sink times the
        batch's execution and its own serialization + write apart. Once
        ``stop`` is set, each query ends at its next batch
        (StopAtNextBatch)."""
        from pyspark.sql import functions as F

        from monasca_aggregator_spark.config import (
            EngineConfig,
            build_continuous_pipeline,
        )
        from monasca_aggregator_spark.sources.envelope import parse_envelopes
        from monasca_aggregator_spark.sources.kafka import envelopes_to_json

        spark, w = self.spark, self.w
        config = EngineConfig.from_dict(
            {"windowSize": w.window_s, "windowLag": w.lag_s, "heartbeat": live}
        )
        commits: list[dict] = []
        lock = threading.Lock()

        def source():
            raw = spark.readStream.format("text").load(str(src)).select(F.col("value"))
            return parse_envelopes(raw)

        def sink(plan, spec):
            out_dir = root / "sink" / spec.name

            def write_batch(df, batch_id):
                if stop is not None and stop.is_set():
                    raise StopAtNextBatch(spec.name)
                t0 = time.time()
                rows = None
                traced = trace is not None and trace.is_set()
                if traced:
                    # materialise the micro-batch first, so the sink span
                    # holds serialization + write only
                    df = df.persist()
                    rows = df.count()
                t1 = time.time()
                envelopes_to_json(df).select("value").write.mode(
                    "overwrite"
                ).text(str(out_dir / f"batch={batch_id}"))
                t2 = time.time()
                if traced:
                    df.unpersist()
                rec = {"rule": spec.name, "batch": batch_id, "t0": t0,
                       "t1": t1, "t2": t2, "rows": rows}
                with lock:
                    commits.append(rec)

            writer = (
                plan.writeStream.foreachBatch(write_batch)
                .queryName(spec.name)
                .option("checkpointLocation", str(root / "ckpt" / spec.name))
                .outputMode("append")
            )
            if not live:
                writer = writer.trigger(availableNow=True)
            return writer.start()

        t0 = time.time()
        queries = build_continuous_pipeline(
            spark, config, self.specs,
            checkpoint_dir=str(root / "ckpt"), source=source, sink=sink,
        )
        self.pipeline_starts.append(time.time() - t0)
        return queries, commits, t0

    def drain(self, src: Path, root: Path, *, trace: threading.Event | None) -> dict:
        """One availableNow drain: pipeline start to every query ended."""
        queries, commits, t0 = self.start_pipeline(src, root, live=False, trace=trace)
        for q in queries:
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"query {q.name} failed: {q.exception()}")
        t1 = time.time()
        return {"root": str(root), "t0": t0, "t1": t1, "wall": t1 - t0,
                "commits": commits, "queries": self._query_ids(queries)}

    @staticmethod
    def _query_ids(queries) -> dict:
        return {q.name: {"run_id": q.runId,
                         "last_batch": (q.lastProgress or {}).get("batchId", -1)}
                for q in queries}

    # -- phases ---------------------------------------------------------

    def replay_phase(self, k: int, seconds: float, traced: bool,
                     min_drains: int = MIN_DRAINS) -> dict:
        """Drains of the backlog, each with fresh checkpoints and sink,
        for about ``seconds`` and at least ``min_drains`` times."""
        src = self.run_dir / "backlog"
        trace = None
        if traced:
            self.spark.streams.addListener(self.tracer.listener())
            trace = threading.Event()
            trace.set()
        self.events.emit("phase_ready", phase=k)
        t_phase = time.time()
        drains = []
        while True:
            drains.append(self.drain(src, self.run_dir / f"p{k}" / f"d{len(drains)}",
                                     trace=trace))
            walls = [d["wall"] for d in drains]
            elapsed = time.time() - t_phase
            if len(drains) >= min_drains and elapsed + statistics.median(walls) > seconds:
                break
        t_end = time.time()
        self.events.emit("phase_done", phase=k)
        return {"phase": k, "src": str(src), "t0": t_phase,
                "t1": t_end, "passes": drains}

    def live_phase(self, k: int, seconds: float, trace_after: float | None) -> dict:
        """The warm-up backlog is moved into the source first, so the
        queries' cold first batches run before the generator starts.
        The generator then runs ``warm_s`` + ``seconds``; windows before
        the last ``seconds`` are checked but not timed. With
        ``trace_after`` the listener records from the start and the
        sink's spans start ``trace_after`` seconds into the timed part."""
        src = self.run_dir / f"p{k}" / "src"
        src.mkdir(parents=True)
        preloaded = 0
        for f in sorted((self.run_dir / "warmup").glob("*.jsonl")):
            os.rename(f, src / f.name)
            preloaded = self.w.warmup
        root = self.run_dir / f"p{k}" / "pipe"
        stop = threading.Event()
        trace = threading.Event()
        if trace_after is not None:
            self.spark.streams.addListener(self.tracer.listener())
        queries, commits, t0 = self.start_pipeline(src, root, live=True, trace=trace,
                                                   stop=stop)
        # batch 0 reads the backlog, batch 1 publishes its windows
        _wait_for(lambda: all((q.lastProgress or {}).get("batchId", -1) >= 1
                              for q in queries), WAIT_S, "the warm-up batches")
        gen_s = self.w.warm_s + seconds
        self.events.emit("phase_ready", phase=k, src=str(src), seconds=gen_s)
        t_ready = time.time()
        gen_path = self.run_dir / f"gen{k}.json"
        t_trace = None

        def generated():
            nonlocal t_trace
            if (trace_after is not None and t_trace is None
                    and time.time() >= t_ready + self.w.warm_s + trace_after):
                trace.set()
                t_trace = time.time()
            return gen_path.exists()

        _wait_for(generated, gen_s + WAIT_S, "the generator")
        gen = json.loads(gen_path.read_text())
        win = self.w.window_s * 1000
        last_end = (gen["last_event_ms"] // win + 1) * win

        def published():
            for q in queries:
                if q.exception() is not None:
                    raise RuntimeError(f"query {q.name} failed: {q.exception()}")
                wm = ((q.lastProgress or {}).get("eventTime") or {}).get("watermark")
                if wm is None or iso_ms(wm) <= last_end:
                    return False
            return True

        # the heartbeat carries every watermark past the last window
        _wait_for(published, WAIT_S, "the last window to publish")
        t_published = time.time()
        ids = self._query_ids(queries)
        stop.set()
        for q in queries:
            try:
                ended = q.awaitTermination(WAIT_S)
            except Exception as e:  # the query's own StopAtNextBatch
                if "StopAtNextBatch" not in str(e):
                    raise
                ended = True
            if not ended:
                raise TimeoutError(f"query {q.name} did not reach a batch boundary")
        t_end = time.time()
        self.events.emit("phase_done", phase=k)
        return {"phase": k, "src": str(src), "t0": t0,
                "t1": t_end, "t_published": t_published, "t_trace": t_trace,
                "t_measure": gen["t_start"] + self.w.warm_s, "gen": gen,
                "preloaded": preloaded,
                "passes": [{"root": str(root), "t0": t0, "t1": t_published,
                            "wall": t_published - t0, "commits": commits,
                            "queries": ids}]}

    # -- isolated layer calls (traced runs) -----------------------------

    def layer_calls(self, src: str) -> dict:
        import yaml
        from pyspark.sql import functions as F

        from monasca_aggregator_spark.operators.aggregate import matches_metric
        from monasca_aggregator_spark.sources.envelope import parse_envelopes
        from monasca_aggregator_spark.specs import load_specs

        spark = self.spark
        raw = spark.read.text(src)
        lines = raw.count()
        parsed = parse_envelopes(raw.select("value"))
        n_parsed = parsed.count()
        times = []
        for _ in range(3):
            t0 = time.time()
            parsed.write.format("noop").mode("overwrite").save()
            t1 = time.time()
            self.tracer.span("sources.envelope.parse_envelopes", t0, t1, rows=lines)
            times.append(t1 - t0)
        specs = []
        for f in ("rules.yaml", "highcard.yaml"):
            with open(HERE / f) as fh:
                specs += load_specs(yaml.safe_load(fh))
        t0 = time.time()
        row = parsed.select(
            *[
                F.sum(matches_metric(s, F.col("name"), F.col("dimensions")).cast("long"))
                .alias(s.name)
                for s in specs
            ]
        ).first()
        self.tracer.span("operators.aggregate.matches_metric", t0, time.time(),
                         rows=n_parsed)
        return {
            "lines": lines,
            "parsed": n_parsed,
            "parse_s": statistics.median(times),
            "matched": {s.name: int(row[s.name] or 0) for s in specs},
        }

    # -- main -----------------------------------------------------------

    def run(self) -> None:
        from monasca_aggregator_spark.session import get_spark
        from monasca_aggregator_spark.specs import load_specs_from_yaml

        t0 = time.time()
        self.spark = get_spark("perfbench", cpus=self.args.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.out["session_start_s"] = time.time() - t0
        self.events.emit("session_ready")
        self.specs = load_specs_from_yaml(self.w.rules_path)

        t0 = time.time()
        warm = self.run_dir / "warmup"
        drains = self.w.warm_drains if self.args.warmups is None else self.args.warmups
        for j in range(drains if self.w.warmup else 0):
            self.drain(warm, self.run_dir / "w" / f"d{j}", trace=None)
        self.out["warmup_s"] = time.time() - t0

        if self.args.baseline:
            self.out["phases"].append(self.replay_phase(0, 0.0, False, min_drains=1))
        elif self.args.trace:
            half = self.args.seconds / 2.0
            if self.w.live:
                self.out["phases"].append(self.live_phase(0, self.args.seconds, half))
            else:
                self.out["phases"].append(self.replay_phase(0, half, False))
                self.out["phases"].append(self.replay_phase(1, half, True))
            traced = self.out["phases"][-1]
            # the listener delivers asynchronously: wait for every
            # query's last batch before reading the spans
            want = {(qi["run_id"], qi["last_batch"])
                    for p in traced["passes"] for qi in p["queries"].values()}
            _wait_for(lambda: want <= {(p["runId"], p["batchId"])
                                       for p in list(self.tracer.progress)},
                      10.0, "listener progress")
            self.out["layers"] = self.layer_calls(traced["src"])
            self.out["progress"] = list(self.tracer.progress)
        elif self.w.live:
            self.out["phases"].append(self.live_phase(0, self.args.seconds, None))
        else:
            self.out["phases"].append(self.replay_phase(0, self.args.seconds, False))
        self.out["pipeline_starts"] = self.pipeline_starts
        if self.args.trace:
            self.tracer.batch_spans(self.out["progress"])
            for ph in self.out["phases"]:
                for p in ph["passes"]:
                    for c in p["commits"]:
                        if c["rows"] is not None:
                            parent = f"{c['rule']}/{c['batch']}"
                            self.tracer.span("streaming.pipeline.execute", c["t0"],
                                             c["t1"], parent=parent, rows=c["rows"])
                            self.tracer.span("sources.kafka.sink", c["t1"], c["t2"],
                                             parent=parent)
            self.out["spans"] = self.tracer.spans
        tmp = self.run_dir / "engine.json.tmp"
        tmp.write_text(json.dumps(self.out))
        os.rename(tmp, self.run_dir / "engine.json")
        self.events.emit("done")

    def close(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is not None:
            spark.stop()
        self.events.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--warmups", type=int, help="warm-up drains (default: the workload's)")
    ap.add_argument("--baseline", action="store_true")
    args = ap.parse_args(argv)
    engine = Engine(args)
    try:
        engine.run()
    finally:
        engine.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
