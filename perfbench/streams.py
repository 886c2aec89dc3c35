"""Open-loop streaming workloads over the file broker.

Two queries, each a *leg* of a workload:

- ``wordcount`` is the reference's KafkaWordCount: lines → ``word_count``
  (update mode) → ``counts`` topic through ``filebroker_writer``;
- ``join`` is the reference's StreamStreamJoinIntegrationTest: JSON
  ``{k, v}`` records on ``left``/``right`` → ``decode_records`` →
  ``windowed_join`` (±10 s, default watermark) → ``table_sink``.

``stream_wordcount`` and ``stream_join`` run one leg each through the three
phases below. ``stream_wordcount_join`` starts both legs in one session, but
only the wordcount leg goes on past set-up: a join leg costs 25-35 s of
micro-batches per phase on a 4-core box, too much to run every phase of
both legs within one benchmark run.

1. set-up: session, query build and start, and one warm-up batch. The join
   leg's warm-up records are stamped over the minute before they are
   produced, so the no-data batch that follows (which set-up waits for)
   advances the watermark and evicts join state;
2. catch-up: the queries stop, a backlog is produced, and the queries
   restart from their checkpoints with a fixed ``maxOffsetsPerTrigger``
   that takes the backlog in one batch (each further batch would add a
   whole per-batch floor to the run) and stays well above the open loop's
   inflow;
3. open loop: one generator process per leg produces at a fixed rate for
   the run's measured seconds, then the queries drain and stop.

From the catch-up restart on, the measured queries run on a processing-time
trigger whose interval is the run's measured seconds, so batches start on
a fixed grid instead of whenever the previous batch ends. The open loop
lasts exactly one interval, so whatever its phase against the grid, a
record waits on average half an interval for its trigger and then the
batch's own time. With back-to-back batches, the number of batches the
window splits into depends on batch length, and where their boundaries
fall decides the latency percentiles more than batch time does.

Latency is attributed per record from ``StreamingQueryProgress`` events
collected by a listener (see ``latency.py``); outputs are checked after the
queries have stopped.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import subprocess
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

import checks
import generator as gen
import latency
from harness import median, now_ms, stage_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
PARTITIONS = 4
JOIN_WINDOW_MS = 10_000
WAIT_S = 150

LEGS = {
    "wordcount": {
        "inputs": ("lines",), "kind": "lines", "rate": 400.0,
        "warmup": 400, "warmup_spread_ms": 0, "backlog": 6_000,
        "cap": 1_500},
    "join": {
        "inputs": ("left", "right"), "kind": "join", "rate": 100.0,
        "warmup": 400, "warmup_spread_ms": 60_000, "backlog": 2_000,
        "cap": 400},
}
# workload: (legs started, legs that go on to catch-up and the open loop)
WORKLOAD_LEGS = {
    "stream_wordcount": (("wordcount",), ("wordcount",)),
    "stream_join": (("join",), ("join",)),
    "stream_wordcount_join": (("wordcount", "join"), ("wordcount",)),
}

# durationMs phases in the order a micro-batch runs them, with the layer
# each belongs to; addBatch runs the operators, the state store and the sink
PHASE_LAYERS = (("latestOffset", "sources.filebroker"),
                ("getBatch", "sources.filebroker"),
                ("queryPlanning", "microbatch"),
                ("walCommit", "microbatch"),
                ("addBatch", "streaming"),
                ("commitOffsets", "microbatch"))

# per-layer metrics every leg reports, suffixed ``.<leg>``
LEG_METRICS = {
    "latency_p50_ms": "ms", "batch_ms_p50": "ms", "addBatch_ms": "ms",
    "queryPlanning_ms": "ms", "walCommit_ms": "ms", "commitOffsets_ms": "ms",
    "latestOffset_ms": "ms", "getBatch_ms": "ms", "batches": "count",
    "no_data_batches": "count", "data_batch_ratio": "ratio",
    "rows_per_batch": "count", "source_lag_records_max": "count",
    "produce_flush_ms": "ms", "generator_late_ms_max": "ms",
    "state_commit_ms": "ms", "state_instances": "count",
    "state_rows_total": "count", "state_memory_bytes": "bytes",
    "rocksdb_file_sync_ms": "ms", "rocksdb_load_ms": "ms",
}
SINK_METRICS = {"sink_write_ms.wordcount": "ms",
                "changelog_rows_per_input_word.wordcount": "ratio",
                "sink_files_per_batch.join": "count"}


class ProgressLog(StreamingQueryListener):
    """Every ``StreamingQueryProgress`` of the session, with the broker lag
    of its query (log end minus the batch's end offsets) seen when it
    arrived. Queries are told apart by their name, which is the leg's."""

    def __init__(self, broker, topics: dict[str, tuple[str, ...]]):
        self.broker, self.topics = broker, topics
        self.events: list[dict] = []
        self.lags: dict[str, list[int]] = {name: [] for name in topics}
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        ends = sum(sum(self.broker.end_offsets(t).values())
                   for t in self.topics[p["name"]])
        consumed = sum(sum(latency.offsets(s.get("endOffset")).values())
                       for s in p.get("sources") or [])
        with self._lock:
            self.events.append(p)
            self.lags[p["name"]].append(ends - consumed)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self, name: str | None = None) -> list[dict]:
        with self._lock:
            return [p for p in self.events
                    if name is None or p["name"] == name]

    def wait_for(self, run_id: str, batch_ids: set[int]) -> None:
        """Block until the events of ``batch_ids`` of ``run_id`` arrived:
        the listener bus delivers them asynchronously."""
        deadline = time.time() + WAIT_S
        while True:
            got = {p["batchId"] for p in self.snapshot()
                   if p["runId"] == run_id}
            if batch_ids <= got:
                return
            if time.time() > deadline:
                raise TimeoutError(f"progress events missing: "
                                   f"{sorted(batch_ids - got)}")
            time.sleep(0.05)


def _end_offsets(progress: dict) -> list[dict[int, int]]:
    return [latency.offsets(s.get("endOffset"))
            for s in progress.get("sources") or []]


def _covers(progress: dict, targets: list[dict[int, int]]) -> bool:
    """True if the batch's source end offsets reach ``targets`` (one per
    input topic, matched to the progress sources in either order)."""
    ends = _end_offsets(progress)
    return len(ends) == len(targets) and any(
        all(ends[i].get(p, 0) >= o for i, t in enumerate(perm)
            for p, o in t.items())
        for perm in itertools.permutations(targets))


def _source_order(progress: dict, finals: list[dict[int, int]]) -> list[int]:
    """Index of the progress source that reads each input topic, found by
    matching the final batch's end offsets with the topics' log ends."""
    ends = _end_offsets(progress)
    for perm in itertools.permutations(range(len(finals))):
        if all(ends[perm[i]] == finals[i] for i in range(len(finals))):
            return list(perm)
    return list(range(len(finals)))


def read_topic(root: str, topic: str) -> list[dict]:
    """All records of a topic, read from its segment files, with the
    record timestamp as integer epoch ms (no time zone applied)."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    files = sorted(glob.glob(os.path.join(root, topic, "p*", "*.parquet")))
    if not files:
        return []
    t = pads.dataset(files, format="parquet").to_table(
        columns=["partition", "offset", "key", "value", "timestamp"])
    us = t.column("timestamp").cast(pa.int64()).to_pylist()
    rows = t.drop(["timestamp"]).to_pylist()
    for r, v in zip(rows, us):
        r["ts_ms"] = v // 1000
    return rows


class Leg:
    """One streaming query of a run, with its inputs, sink and progress."""

    def __init__(self, name: str, work: str, broker):
        self.name, self.spec, self.broker = name, LEGS[name], broker
        self.ckpt = os.path.join(work, f"ckpt-{name}")
        self.sink_path = os.path.join(work, f"sink-{name}")
        self.stats = os.path.join(work, f"generator-{name}.json")
        self.sink_calls: list[tuple[int, float, float]] = []
        self.run_ids: list[str] = []
        self.uncommitted = 0
        self.query = None
        self.catch: list[dict] = []
        self.window: list[float] = []
        self.gstats: dict = {"flushes": [], "late_ms_max": 0.0}

    def ends(self) -> list[dict[int, int]]:
        return [self.broker.end_offsets(t) for t in self.spec["inputs"]]

    def records(self) -> int:
        return sum(sum(e.values()) for e in self.ends())

    def source(self, seed: int, phase: str):
        if self.spec["kind"] == "lines":
            return gen.LineSource(seed, phase)
        return gen.JoinSource(seed, phase, first_id=self.records())

    def generator(self, seed: int, seconds: float) -> subprocess.Popen:
        """Start this leg's open-loop generator process."""
        return subprocess.Popen(
            [sys.executable, os.path.join(HERE, "generator.py"),
             "--root", self.broker.root, "--kind", self.spec["kind"],
             "--seed", str(seed), "--rate", str(self.spec["rate"]),
             "--seconds", str(seconds),
             "--first-id", str(self.records()), "--stats", self.stats])


class StreamRun:
    """One run of a streaming workload in a fresh working directory."""

    def __init__(self, name: str, work: str, seed: int, seconds: float,
                 tracer, start_spark):
        from kafka_connect_streams_spark.sources.filebroker import FileBroker
        self.name, self.work = name, work
        self.seed, self.seconds = seed, seconds
        self.tracer, self.start_spark = tracer, start_spark
        self.broker = FileBroker(os.path.join(work, "broker"))
        started, measured = WORKLOAD_LEGS[name]
        self.legs = [Leg(n, work, self.broker) for n in started]
        self.measured = [leg for leg in self.legs if leg.name in measured]
        self.spark = None

    # -- query ----------------------------------------------------------

    def _reader(self, topic: str, cap: int | None):
        r = (self.spark.readStream.format("filebroker")
             .option("path", self.broker.root).option("subscribe", topic))
        if cap:
            r = r.option("maxOffsetsPerTrigger", cap)
        return r.load()

    def _timed_writer(self, leg: Leg):
        """``filebroker_writer``'s callable, timed per call. Under
        ``foreachBatch`` the callable drives the batch plan's execution."""
        from kafka_connect_streams_spark.sources.filebroker import (
            filebroker_writer)
        inner = filebroker_writer(self.broker.root, "counts")

        def write(df, epoch: int) -> None:
            t0 = now_ms()
            inner(df, epoch)
            leg.sink_calls.append((epoch, t0, now_ms()))
        return write

    def _start_query(self, leg: Leg, cap: int | None,
                     interval_s: float | None = None) -> None:
        """Start the leg's query; with ``interval_s``, on a processing-time
        trigger of that interval instead of back-to-back batches."""
        from pyspark.sql import functions as F
        if leg.spec["kind"] == "lines":
            from kafka_connect_streams_spark.operators.aggregations import (
                word_count)
            lines = self._reader("lines", cap).select(
                F.col("value").cast("string").alias("line"))
            out = word_count(lines, "line").select(
                F.col("word").cast("string").alias("key"),
                F.to_json(F.struct("word", "cnt")).alias("value"))
            w = (out.writeStream.outputMode("update")
                 .foreachBatch(self._timed_writer(leg)))
        else:
            from pyspark.sql.types import LongType, StructField, StructType
            from kafka_connect_streams_spark.sources.kafka import (
                decode_records)
            from kafka_connect_streams_spark.streaming.joins import (
                windowed_join)
            schema = StructType([StructField("k", LongType()),
                                 StructField("v", LongType())])

            def side(topic):
                rec = decode_records(self._reader(topic, cap), schema)
                return rec.select(
                    F.col("k").alias("key"), F.col("v").alias("value"),
                    F.timestamp_millis("rowtime").alias("ts"))
            joined = windowed_join(side("left"), side("right"),
                                   window_ms=JOIN_WINDOW_MS)
            w = (joined.select("key", "l_value", "r_value")
                 .writeStream.format("table_sink")
                 .option("path", leg.sink_path))
        if interval_s:
            w = w.trigger(processingTime=f"{round(interval_s * 1000)} "
                                         "milliseconds")
        leg.query = (w.queryName(leg.name)
                     .option("checkpointLocation", leg.ckpt).start())
        leg.run_ids.append(leg.query.runId)

    def _wait_covered(self, leg: Leg, targets) -> dict:
        """The first progress of the leg's current run whose end offsets
        reach ``targets``."""
        deadline = time.time() + WAIT_S
        run_id = leg.query.runId
        while True:
            for p in self.log.snapshot(leg.name):
                if p["runId"] == run_id and _covers(p, targets):
                    return p
            if leg.query.exception() is not None:
                raise RuntimeError(str(leg.query.exception()))
            if time.time() > deadline:
                raise TimeoutError(f"{leg.name}: offsets {targets} "
                                   "not committed in time")
            time.sleep(0.05)

    def _stop_query(self, leg: Leg) -> None:
        """Stop between triggers, then wait for the run's progress events."""
        q = leg.query
        deadline = time.time() + WAIT_S
        while q.status["isTriggerActive"] and time.time() < deadline:
            time.sleep(0.05)
        ids = {p["batchId"] for p in q.recentProgress}
        q.stop()
        self.log.wait_for(q.runId, ids)

    def stop(self) -> None:
        for leg in self.legs:
            if leg.query is not None and leg.query.isActive:
                leg.query.stop()

    def _open_loop(self) -> None:
        """Run every measured leg's generator for the measured seconds."""
        legs = self.measured
        procs = [leg.generator(self.seed, self.seconds) for leg in legs]
        try:
            for proc in procs:
                proc.wait(timeout=self.seconds + 60)
        finally:
            for proc in procs:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        for leg, proc in zip(legs, procs):
            if proc.returncode != 0:
                raise RuntimeError(f"{leg.name} generator exited "
                                   f"{proc.returncode}")
            with open(leg.stats) as f:
                leg.gstats = json.load(f)

    # -- run ------------------------------------------------------------

    def _settled(self, leg: Leg, warm: dict) -> dict:
        """The warm-up batch, or for a join leg the no-data batch after it
        (the first batch sets the watermark, the next evicts by it)."""
        if leg.spec["kind"] == "lines":
            return warm
        deadline = time.time() + WAIT_S
        while time.time() < deadline:
            for p in self.log.snapshot(leg.name):
                if p["runId"] == warm["runId"] \
                        and p["batchId"] > warm["batchId"]:
                    return p
            time.sleep(0.05)
        raise TimeoutError(f"{leg.name}: no batch after the warm-up")

    def run(self, t_start_ms: float, root_span: int) -> dict:
        tr, legs = self.tracer, self.legs
        for leg in legs:
            for t in leg.spec["inputs"] + (
                    ("counts",) if leg.spec["kind"] == "lines" else ()):
                self.broker.create_topic(t, PARTITIONS)
        m: dict = {}

        with tr.span("setup", "harness", root_span) as ph:
            for leg in legs:
                gen.produce_now(self.broker, leg.source(self.seed, "warmup"),
                                leg.spec["warmup"],
                                leg.spec["warmup_spread_ms"])
            with tr.span("session", "engine", ph):
                self.spark = self.start_spark()
            from kafka_connect_streams_spark.sources import (
                filebroker, python_datasink)
            filebroker.register(self.spark)
            python_datasink.register(self.spark)
            self.log = ProgressLog(self.broker, {
                leg.name: leg.spec["inputs"] for leg in legs})
            self.spark.streams.addListener(self.log)
            with tr.span("query_start", "microbatch", ph):
                for leg in legs:
                    self._start_query(leg, None)
            warm = [self._settled(leg, self._wait_covered(leg, leg.ends()))
                    for leg in legs]
        m["setup_s"] = (max(map(latency.commit_ms, warm))
                        - t_start_ms) / 1000.0

        with tr.span("catchup", "harness", root_span):
            for leg in legs:
                self._stop_query(leg)
            legs = self.measured
            targets = []
            for leg in legs:
                gen.produce_now(self.broker, leg.source(self.seed, "backlog"),
                                leg.spec["backlog"])
                targets.append(leg.ends())
            t_restart = now_ms()
            for leg in legs:
                self._start_query(leg, leg.spec["cap"], self.seconds)
            caught = [self._wait_covered(leg, t)
                      for leg, t in zip(legs, targets)]
        catchup_s = (max(map(latency.commit_ms, caught)) - t_restart) / 1000.0
        m["catchup_rps"] = sum(leg.spec["backlog"] for leg in legs) / catchup_s
        for leg, c in zip(legs, caught):
            leg.catch = [p for p in self.log.snapshot(leg.name)
                         if p["runId"] == c["runId"]
                         and p["batchId"] <= c["batchId"]]
        m["batch_total_s"] = sum(p["durationMs"]["triggerExecution"]
                                 for leg in legs for p in leg.catch) / 1000.0

        with tr.span("openloop", "harness", root_span) as ph:
            before = {leg.name: leg.ends() for leg in legs}
            self._open_loop()
            after = {leg.name: leg.ends() for leg in legs}
            for leg in legs:
                self._wait_covered(leg, after[leg.name])
            for leg in legs:
                self._stop_query(leg)
                for a, b in leg.gstats["flushes"]:
                    tr.add("produce_flush", "sources.filebroker", a, b, ph,
                           f"generator-{leg.name}")

        window = []
        for leg in self.legs:
            ends = leg.ends()
            leg.window = self._latencies(leg, before.get(leg.name, ends),
                                         after.get(leg.name, ends))
            window += leg.window
        m["latency_p50_ms"] = latency.percentile(window, 50)
        m["latency_p99_ms"] = latency.percentile(window, 99)
        m["catchup_s"] = catchup_s
        m["window_records"] = len(window)
        return m

    def _latencies(self, leg: Leg, before, after) -> list[float]:
        """Attribute every record of the leg to its batch; returns the
        latencies of the open-loop records and counts the uncommitted."""
        progresses = self.log.snapshot(leg.name)
        final = max(progresses, key=lambda p: p["batchId"])
        order = _source_order(final, after)
        window = []
        for ti, topic in enumerate(leg.spec["inputs"]):
            recs = [(r["partition"], r["offset"], r["ts_ms"])
                    for r in read_topic(self.broker.root, topic)]
            att = latency.attribute(recs, progresses, source=order[ti])
            leg.uncommitted += sum(a is None for a in att)
            window += [a[0] for (part, off, _), a in zip(recs, att)
                       if a is not None
                       and before[ti].get(part, 0) <= off
                       < after[ti].get(part, 0)]
        return window

    # -- per-layer metrics and spans ---------------------------------------

    def _leg_metrics(self, leg: Leg) -> dict[str, float]:
        """A leg's per-layer metrics from its progress events, generator
        and sink; phase timings are medians over the open-loop batches
        (over every batch with input, for a leg that stops after set-up)."""
        progresses = self.log.snapshot(leg.name)
        batches = {p["batchId"]: p for p in progresses}
        data = [p for p in batches.values() if p["numInputRows"] > 0]
        last = batches[max(batches)]
        openloop = data
        if leg.catch:
            last_catch = leg.catch[-1]
            openloop = [p for p in data
                        if p["runId"] == last_catch["runId"]
                        and p["batchId"] > last_catch["batchId"]]

        def phase(key):
            return median(p["durationMs"].get(key, 0) for p in openloop)

        def state(p, key):
            return sum(o.get(key, 0) for o in p.get("stateOperators") or [])

        def rocksdb(p, key):
            return sum(o.get("customMetrics", {}).get(key, 0)
                       for o in p.get("stateOperators") or [])

        return {
            "latency_p50_ms": (latency.percentile(leg.window, 50)
                               if leg.window else 0.0),
            "batch_ms_p50": phase("triggerExecution"),
            "addBatch_ms": phase("addBatch"),
            "queryPlanning_ms": phase("queryPlanning"),
            "walCommit_ms": phase("walCommit"),
            "commitOffsets_ms": phase("commitOffsets"),
            "latestOffset_ms": phase("latestOffset"),
            "getBatch_ms": phase("getBatch"),
            "batches": float(len(batches)),
            "no_data_batches": float(len(batches) - len(data)),
            "data_batch_ratio": len(data) / len(batches),
            "rows_per_batch": sum(p["numInputRows"] for p in openloop)
            / max(1, len(openloop)),
            "source_lag_records_max": float(max(self.log.lags[leg.name])),
            "produce_flush_ms": median(b - a
                                       for a, b in leg.gstats["flushes"]),
            "generator_late_ms_max": leg.gstats["late_ms_max"],
            "state_commit_ms": median(state(p, "commitTimeMs")
                                      for p in openloop),
            "state_instances": float(state(last, "numStateStoreInstances")),
            "state_rows_total": float(state(last, "numRowsTotal")),
            "state_memory_bytes": float(state(last, "memoryUsedBytes")),
            "rocksdb_file_sync_ms": median(
                rocksdb(p, "rocksdbCommitFileSyncLatencyMs")
                for p in openloop),
            "rocksdb_load_ms": float(max(
                (rocksdb(p, "rocksdbLoadLatencyMs") for p in leg.catch),
                default=0)),
        }

    def layer_metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for leg in self.legs:
            for k, v in self._leg_metrics(leg).items():
                out[f"{k}.{leg.name}"] = v
            if leg.spec["kind"] == "lines":
                out["sink_write_ms.wordcount"] = median(
                    b - a for _, a, b in leg.sink_calls)
                words = sum(len(r["value"].split()) for r in
                            read_topic(self.broker.root, "lines"))
                out["changelog_rows_per_input_word.wordcount"] = len(
                    read_topic(self.broker.root, "counts")) / words
            else:
                manifests = []
                for path in glob.glob(os.path.join(
                        leg.sink_path, "_commits", "*.json")):
                    with open(path) as f:
                        manifests.append(json.load(f))
                out["sink_files_per_batch.join"] = sum(
                    len(mf["files"]) for mf in manifests) / len(manifests)
        st = stage_metrics(self.spark, {r for leg in self.legs
                                        for r in leg.run_ids})
        out.update({"jobs_total": st["jobs"],
                    "executor_run_s": st["executor_run_s"],
                    "shuffle_write_bytes": st["shuffle_write_bytes"],
                    "spill_bytes_total": st["spill_bytes"],
                    "task_skew_max": st["task_skew"],
                    "failed_tasks_total": st["failed_tasks"]})
        return out

    def trace_batches(self, root_span: int) -> None:
        """One span per micro-batch under the phase it committed in, with a
        child per ``durationMs`` phase (laid out in execution order) and the
        sink call under ``addBatch``."""
        tr = self.tracer
        phases = [s for s in tr.spans if s["parent"] == root_span]
        for leg in self.legs:
            sinks = {e: (a, b) for e, a, b in leg.sink_calls}
            for p in sorted(self.log.snapshot(leg.name),
                            key=lambda p: p["batchId"]):
                group = f"{leg.name}-batch-{p['batchId']}"
                start = latency.epoch_ms(p["timestamp"])
                end = latency.commit_ms(p)
                parent = next((s["id"] for s in phases
                               if s["start_ms"] <= end <= s["end_ms"]),
                              root_span)
                bid = tr.add("microbatch", "microbatch", start, end, parent,
                             group)
                t = start
                for key, layer in PHASE_LAYERS:
                    dur = p["durationMs"].get(key, 0)
                    if not dur:
                        continue
                    cid = tr.add(key, layer, t, t + dur, bid, group)
                    if key == "addBatch" and p["batchId"] in sinks:
                        a, b = sinks[p["batchId"]]
                        tr.add("sink_write", "sinks", a, b, cid, group)
                    t += dur

    # -- correctness --------------------------------------------------------

    def _check_leg(self, leg: Leg) -> list[str]:
        root = self.broker.root
        if leg.spec["kind"] == "lines":
            lines = [r["value"].decode() for r in read_topic(root, "lines")]
            changelog = [(r["partition"], r["offset"], r["value"])
                         for r in read_topic(root, "counts")]
            return checks.check_wordcount(lines, changelog)
        import pyarrow.dataset as pads

        def records(topic):
            out = []
            for r in read_topic(root, topic):
                v = json.loads(r["value"])
                out.append((v["k"], v["v"], r["ts_ms"]))
            return out
        files = sorted(glob.glob(os.path.join(leg.sink_path,
                                              "part-*.parquet")))
        rows = []
        if files:
            t = pads.dataset(files, format="parquet").to_table(
                columns=["key", "l_value", "r_value"])
            rows = list(zip(*(t.column(c).to_pylist()
                              for c in ("key", "l_value", "r_value"))))
        return checks.check_join(records("left"), records("right"), rows,
                                 JOIN_WINDOW_MS)

    def check(self) -> tuple[int, int, list[str]]:
        """``(attempted, failed, problems)``: every produced record is
        attempted; uncommitted records and output mismatches fail."""
        attempted, failed, problems = 0, 0, []
        for leg in self.legs:
            bad = self._check_leg(leg)
            failed += leg.uncommitted + len(bad)
            if leg.uncommitted:
                bad.append(f"{leg.uncommitted} records never committed")
            problems += [f"{leg.name}: {p}" for p in bad]
            attempted += leg.records()
        return attempted, failed, problems
