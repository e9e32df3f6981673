"""The ``nexmark-stream`` workload: one session on seeded NEXMark streams
from ``squirtle_spark.sources``.

- drain (closed loop): a staged backlog of epoch files is drained by
  ``streaming.run_nexmark_q4_stream``: three chained stateful operators
  (stream-stream interval join -> windowed max -> windowed partials).
  The first drain in the JVM pays the cold streaming path and belongs to
  set-up; it takes the whole backlog in one micro-batch. Then the backlog
  is drained again, at least ``WARM_DRAINS`` times and for at least
  ``--seconds``, and the median wall is ``pass_s``. A traced run drains
  untraced, then with the progress listener attached, then untraced
  again, and reports the tracing overhead as the traced wall over the
  mean of the untraced ones, so a steady JIT ramp cancels.
- live (open loop, traced runs only): a generator thread moves one
  pre-built parquet file of bids into a watched directory every
  ``LIVE_INTERVAL_S``, whether or not the query keeps up; q5's stateful
  stage (``replay_stream`` -> ``hopping_agg``, default trigger, append
  mode) runs over it. A file's latency is the end of the micro-batch
  that consumed it minus the time the file was due.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time

from . import env, livemap, probes
from .stats import Tracer, median, pctl, supported_pctl

#: Drain backlog: DRAIN_EPS events/s of NEXMark mix over DRAIN_SECONDS
#: (39k events in 13 epoch files: the generator spreads one second of
#: events over DRAIN_EPS / 1000 s of event time), DRAIN_FILES_PER_TRIGGER
#: files per micro-batch: two data batches, then the batch the flush
#: sentinel's watermark jump triggers. addBatch is ~80% of each batch's
#: trigger time (the traced stream.add_batch_share.drain: 0.76-0.78 here, and
#: 0.78-0.84 from 5k x 10 s up to 20k x 40 s); most of it is the
#: per-batch cost of the chain's six state stores, which a 0-row batch
#: pays too. A run's wall is mostly fixed cost (Spark start, staging, the
#: cold drain), so the backlog is kept small enough for the measured
#: drains to fit the benchmark's time budget.
DRAIN_EPS = 10_000
DRAIN_SECONDS = 4
DRAIN_FILES_PER_TRIGGER = 7
#: The cold drain reads every file in one micro-batch (plus the flush
#: batch): it runs the same operators as a measured drain, in half the
#: batches.
COLD_FILES_PER_TRIGGER = 1_000
WARM_DRAINS = 2
#: Live input: one event-time second per file (LIVE_GEN_EPS events, of
#: which 92% are bids), so a file spans 1 s of event time, far inside
#: the 30 s watermark. One file every LIVE_INTERVAL_S is 10k ev/s
#: (9.2k bids/s).
LIVE_GEN_EPS = 1_000
LIVE_INTERVAL_S = 0.1
#: The measured open loop lasts --seconds, and at least LIVE_MIN_FILES
#: files so that p90 has ten samples above it. Before it, the query
#: processes LIVE_WARM_FILES at start and LIVE_OPEN_WARM files on the
#: open-loop schedule, neither measured.
LIVE_MIN_FILES = 100
LIVE_WARM_FILES = 10
LIVE_OPEN_WARM = 20
LIVE_WATERMARK = "30 seconds"
LIVE_QUERY = "perfbench_live_q5"

#: progress durationMs key -> per-layer metric stem
PHASE_KEYS = {
    "latestOffset": "stream.latest_offset_ms",
    "getBatch": "stream.get_batch_ms",
    "queryPlanning": "stream.planning_ms",
    "addBatch": "stream.add_batch_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
    "triggerExecution": "stream.trigger_ms",
}
#: order the engine runs the phases in, for laying out child spans
_PHASE_ORDER = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _epoch_col(df, ts):
    from pyspark.sql import functions as F

    return df.withColumn("epoch", F.unix_timestamp(F.col(ts).cast("timestamp")) % 100000)


def run(seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    work = env.WorkDir("nexmark-stream", seed)
    k = env.cores()
    tracer = Tracer(f"nexmark-stream-{seed}-{int(time.time())}", trace)
    layer: dict[str, float] = {}
    try:
        load0 = env.host_load()
        t = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = env.start_spark(k, work)
        layer["session.start_s"] = time.perf_counter() - t
        try:
            return _run_session(spark, work, seed, seconds, trace, tracer, layer, t_start, k, load0)
        finally:
            env.stop_spark(spark)
    finally:
        work.close()


def live_files(seconds: float) -> int:
    return max(LIVE_MIN_FILES, int(seconds / LIVE_INTERVAL_S))


def _stage(spark, work, seed, n_live, tracer, layer) -> dict:
    """Generate and stage the drain backlog and, when n_live > 0, the
    live files; returns paths, frames and the live file payloads."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from squirtle_spark import sources, streaming

    t = time.perf_counter()
    with tracer.span("sources.gen"):
        bids = sources.nexmark_bids(spark, DRAIN_EPS, DRAIN_SECONDS, seed).localCheckpoint()
        aucs = sources.nexmark_auctions(spark, DRAIN_EPS, DRAIN_SECONDS, seed).localCheckpoint()
        live = None
        if n_live:
            n_epochs = LIVE_WARM_FILES + LIVE_OPEN_WARM + n_live
            live = _epoch_col(sources.nexmark_bids(spark, LIVE_GEN_EPS, n_epochs, seed + 1), "b_date_time").toArrow()
    layer["sources.gen_s"] = time.perf_counter() - t

    t = time.perf_counter()
    paths = {"bids": work.sub("in", "bids"), "aucs": work.sub("in", "aucs")}
    with tracer.span("streaming.write_epoch_files"):
        streaming.write_epoch_files(_epoch_col(bids, "b_date_time"), paths["bids"])
        streaming.write_epoch_files(_epoch_col(aucs, "a_date_time"), paths["aucs"])
    payloads = []
    if live is not None:
        with tracer.span("bench.live_payloads"):
            # one parquet file per event-time second, in event-time order
            epochs = live.column("epoch").to_numpy()
            live = live.drop_columns(["epoch"])
            for ep in sorted(set(epochs.tolist())):
                buf = io.BytesIO()
                pq.write_table(live.filter(pa.array(epochs == ep)), buf, coerce_timestamps="us")
                payloads.append(buf.getvalue())
    layer["sources.stage_s"] = time.perf_counter() - t
    return {"bids": bids, "aucs": aucs, "paths": paths,
            "payloads": payloads, "n_drain_events": bids.count() + aucs.count()}


def _drain(spark, work, staged, tag: str, tracer,
           files_per_trigger: int = DRAIN_FILES_PER_TRIGGER) -> tuple[float, object]:
    """Drain the backlog through the q4 runner; returns (wall, result)."""
    from squirtle_spark import streaming

    p = staged["paths"]
    t = time.perf_counter()
    with tracer.span("streaming.run_nexmark_q4_stream", tag=tag):
        q4 = streaming.run_nexmark_q4_stream(
            spark, p["bids"], p["aucs"], checkpoint=os.path.join(work.sub("ckpt"), f"q4-{tag}"),
            files_per_trigger=files_per_trigger,
        )
    return time.perf_counter() - t, q4


def _expected_q4(bids, aucs):
    from pyspark.sql import functions as F

    bb = bids.withColumn("b_date_time", F.col("b_date_time").cast("timestamp"))
    ba = aucs.withColumn("a_date_time", F.col("a_date_time").cast("timestamp")).withColumn(
        "expires", F.col("expires").cast("timestamp")
    )
    winning = (
        ba.join(bb, (ba["a_id"] == bb["auction"]) & bb["b_date_time"].between(ba["a_date_time"], ba["expires"]))
        .groupBy("a_id", "category")
        .agg(F.max("price").alias("final"))
    )
    return winning.groupBy("category").agg((F.sum("final").cast("double") / F.count("*")).alias("avg_final"))


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _content_digest(*dfs) -> str:
    """Order- and layout-independent digest of the rows of each frame
    (Spark's part-file names and row order differ from run to run)."""
    h = hashlib.sha256()
    for df in dfs:
        row = df.selectExpr("count(*) AS n", "bit_xor(xxhash64(*)) AS x").first()
        h.update(f"{row.n}:{row.x};".encode())
    return h.hexdigest()


class _Generator(threading.Thread):
    """Open-loop file writer: file i is due at t0 + i * interval and is
    written (hidden name, then rename) at its due time, however far the
    query has fallen behind."""

    def __init__(self, watch_dir: str, payloads: list[bytes], first: int, n: int, t0: float):
        super().__init__(name="perfbench-live-gen", daemon=True)
        self.watch_dir, self.payloads, self.first, self.n, self.t0 = watch_dir, payloads, first, n, t0
        self.due: dict[str, float] = {}
        self.late: list[float] = []

    def run(self) -> None:
        for i in range(self.n):
            due = self.t0 + i * LIVE_INTERVAL_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = _write_file(self.watch_dir, self.first + i, self.payloads[self.first + i])
            self.late.append(time.time() - due)
            self.due[name] = due


def _write_file(watch_dir: str, i: int, payload: bytes) -> str:
    name = f"bids-{i:05d}.parquet"
    tmp = os.path.join(watch_dir, f".{name}.tmp")  # dot files are not listed
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, os.path.join(watch_dir, name))
    return name


class _Live:
    """The open-loop phase: a q5 hopping-count query over a watched directory."""

    def __init__(self, spark, work, payloads: list[bytes]):
        self.spark, self.payloads = spark, payloads
        self.watch = work.sub("live-watch")
        self.ck = os.path.join(work.sub("ckpt"), "live")
        self.q = None

    def start(self) -> float:
        """Start the query over the warm-up files and wait until it has
        processed them; returns that wall (the job's cold start)."""
        from squirtle_spark import streaming

        t = time.perf_counter()
        for i in range(LIVE_WARM_FILES):
            _write_file(self.watch, i, self.payloads[i])
        stream = streaming.replay_stream(self.spark, self.watch, files_per_trigger=100_000)
        agg = streaming.hopping_agg(stream, "b_date_time", "auction", size="10 seconds",
                                    slide="5 seconds", watermark=LIVE_WATERMARK)
        self.q = (agg.writeStream.format("memory").queryName(LIVE_QUERY)
                  .outputMode("append").option("checkpointLocation", self.ck).start())
        self.q.processAllAvailable()
        return time.perf_counter() - t

    def run(self, n_files: int) -> "_Generator":
        """Write LIVE_OPEN_WARM untimed files, then n_files measured ones,
        on the open-loop schedule; wait until the query has consumed
        them, and stop it."""
        try:
            first = LIVE_WARM_FILES
            warm = _Generator(self.watch, self.payloads, first, LIVE_OPEN_WARM, time.time() + 0.1)
            warm.start()
            warm.join()
            self.q.processAllAvailable()
            n_before = len(self.q.recentProgress)
            gen = _Generator(self.watch, self.payloads, first + LIVE_OPEN_WARM, n_files, time.time() + 0.1)
            gen.start()
            gen.join()
            self.q.processAllAvailable()
            self.all_progress = [json.loads(p.json) for p in self.q.recentProgress]
            self.progress = self.all_progress[n_before:]
        finally:
            self.stop()
        return gen

    def stop(self) -> None:
        if self.q is not None:
            self.q.stop()
            self.q = None


def _expected_live(spark, watch: str, watermark_iso: str):
    from pyspark.sql import functions as F

    b = spark.read.parquet(watch).withColumn("b_date_time", F.col("b_date_time").cast("timestamp"))
    wm = F.lit(watermark_iso.replace("Z", "")).cast("timestamp")
    return (
        b.groupBy(F.window("b_date_time", "10 seconds", "5 seconds"), "auction")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("window.end") <= wm)
        .select(F.col("window.start").alias("win_start"), "auction", "cnt")
    )


def _phase_stats(progress: list[dict], tag: str, layer: dict) -> None:
    data = [p for p in progress if livemap.has_data(p)]
    layer[f"stream.batches_data.{tag}"] = len(data)
    layer[f"stream.batches_nodata.{tag}"] = len(progress) - len(data)
    for key, stem in PHASE_KEYS.items():
        vals = [p["durationMs"].get(key, 0) for p in data]
        layer[f"{stem}.{tag}.p50"] = pctl(vals, 0.5)
        layer[f"{stem}.{tag}.p90"] = pctl(vals, 0.9)


def _state_stats(progress: list[dict]) -> dict:
    out = {"state.rows_peak": 0, "state.mem_bytes_peak": 0, "state.commit_ms": 0,
           "state.update_ms": 0, "state.removal_ms": 0, "state.rows_dropped_late": 0}
    for p in progress:
        ops = p.get("stateOperators") or []
        out["state.rows_peak"] = max(out["state.rows_peak"], sum(o.get("numRowsTotal", 0) for o in ops))
        out["state.mem_bytes_peak"] = max(out["state.mem_bytes_peak"], sum(o.get("memoryUsedBytes", 0) for o in ops))
        for o in ops:
            out["state.commit_ms"] += o.get("commitTimeMs", 0)
            out["state.update_ms"] += o.get("allUpdatesTimeMs", 0)
            out["state.removal_ms"] += o.get("allRemovalsTimeMs", 0)
            out["state.rows_dropped_late"] += o.get("numRowsDroppedByWatermark", 0)
    return out


def _run_session(spark, work, seed, seconds, trace, tracer, layer, t_start, k, load0) -> dict:
    listener = probes.ProgressLog() if trace else None
    n_files = live_files(seconds) if trace else 0
    staged = _stage(spark, work, seed, n_files, tracer, layer)
    if listener:
        # attached once in set-up, so the py4j callback server starts here
        spark.streams.addListener(listener)
    first_pass_s, cold_result = _drain(spark, work, staged, "cold", tracer, COLD_FILES_PER_TRIGGER)
    if listener:
        listener.wait_terminated("mem_q4_cold")
        spark.streams.removeListener(listener)
        listener.take()
    layer["cold.first_pass_s"] = first_pass_s
    results = [cold_result]
    setup_s = time.perf_counter() - t_start

    # measured drains; a traced run alternates untraced and traced ones
    t_timed = time.perf_counter()
    walls, traced_walls, traced_names = [], [], []
    while (len(walls) < WARM_DRAINS or (trace and not traced_walls)
           or time.perf_counter() - t_timed < seconds):
        n = len(walls) + len(traced_walls)
        if not (trace and n % 2 == 1):  # U T U T ...
            wall, res = _drain(spark, work, staged, f"warm{n}", tracer)
            walls.append(wall)
        else:
            spark.streams.addListener(listener)
            wall, res = _drain(spark, work, staged, f"traced{n}", tracer)
            traced_walls.append(wall)
            traced_names.append(f"mem_q4_traced{n}")
            listener.wait_terminated(traced_names[-1])
            spark.streams.removeListener(listener)
        results.append(res)
    timed_s = time.perf_counter() - t_timed

    failures = []
    pass_s = median(walls)
    live_out = {}
    if trace:
        events = listener.take()
        drain = [p for p in events if p.get("name") in traced_names]
        _phase_stats(drain, "drain", layer)
        trig = sum(p["durationMs"].get("triggerExecution", 0) for p in drain)
        layer["stream.add_batch_share.drain"] = (
            sum(p["durationMs"].get("addBatch", 0) for p in drain) / trig if trig else 0.0)
        layer["stream.trigger_share.drain"] = trig / 1000.0 / sum(traced_walls)
        first = [p for p in drain if p.get("name") == traced_names[0]]
        batches = {}
        _phase_stats(first, "drain", batches)
        for key in ("stream.batches_data.drain", "stream.batches_nodata.drain"):
            layer[key] = batches[key]  # per drain, not summed over drains
        layer["bench.trace_overhead_pct"] = 100.0 * (median(traced_walls) / pass_s - 1.0)
        live_out = _live_phase(spark, work, staged, n_files, tracer, layer, failures)
        # state figures: the live query's and the first traced drain's together
        for key, val in _state_stats(first).items():
            if key != "state.rows_dropped_late":  # gated on the live query only
                layer[key] = max(layer[key], val) if key.endswith("_peak") else layer[key] + val
        layer["proc.heap_retained_mb"] = env.heap_retained_mb(spark)
        layer["proc.peak_rss_mb"] = env.peak_rss_mb(spark)

    # correctness, outside the timed region
    expected = _rows(_expected_q4(staged["bids"], staged["aucs"]))
    for i, res in enumerate(results):
        if _rows(res) != expected:
            failures.append(f"q4 drain {i} differs from batch q4")
    for msg in failures[:5]:
        env.log(msg)

    n_events = staged["n_drain_events"]
    metrics = {"setup_s": (setup_s, "s"), "pass_s": (pass_s, "s")}
    detail = {
        "drain_events": n_events,
        "drain_walls_s": walls,
        "traced_drain_walls_s": traced_walls,
        "drain_ev_s": n_events / pass_s,
        "drain_cold_s": first_pass_s,
        "timed_s": timed_s,
        **live_out,
        "failures": failures,
    }
    stamp = env.stamp(
        spark, workload="nexmark-stream", seed=seed, k=k, load_at_start=load0,
        extra={
            "drain_rate_ev_s": DRAIN_EPS, "drain_seconds": DRAIN_SECONDS,
            "drain_files_per_trigger": DRAIN_FILES_PER_TRIGGER,
            "live_rate_ev_s": LIVE_GEN_EPS / LIVE_INTERVAL_S if trace else None,
            "live_interval_s": LIVE_INTERVAL_S if trace else None,
            "inputs_sha256": _content_digest(staged["bids"], staged["aucs"]),
            "live_files_sha256": hashlib.sha256(b"".join(staged["payloads"])).hexdigest() if trace else None,
        },
    )
    return {
        "attempted": len(results) + (2 + live_out["live_files"] if trace else 0),
        "failed": len(failures),
        "metrics": metrics,
        "layer": layer,
        "stamp": stamp,
        "detail": detail,
        "tracer": tracer,
    }


def _live_phase(spark, work, staged, n_files, tracer, layer, failures) -> dict:
    """Run the open loop, check it, and fill the live per-layer metrics."""
    live = _Live(spark, work, staged["payloads"])
    try:
        with tracer.span("live.start"):
            start_s = live.start()
        t = time.perf_counter()
        with tracer.span("live.open_loop"):
            gen = live.run(n_files)
        live_s = time.perf_counter() - t
    finally:
        live.stop()
    progress, all_progress = live.progress, live.all_progress
    entries = livemap.read_source_log(live.ck)
    lat, missing = livemap.file_latencies(gen.due, entries, all_progress)
    latencies = [r["latency"] for r in lat]
    waits = [r["wait"] for r in lat]
    procs = [r["process"] for r in lat]

    state = _state_stats(all_progress)
    watermark = all_progress[-1]["eventTime"].get("watermark")
    expected = _rows(_expected_live(spark, live.watch, watermark))
    if not expected or _rows(spark.sql(f"SELECT * FROM {LIVE_QUERY}")) != expected:
        failures.append(f"live windows closed by the watermark differ from batch ({len(expected)} expected)")
    if state["state.rows_dropped_late"]:
        failures.append(f"live dropped {state['state.rows_dropped_late']} rows as late")
    failures.extend(f"live file {f} never consumed" for f in missing)

    _phase_stats(progress, "live", layer)
    layer.update(state)
    # a percentile with fewer than ten samples above it reads 0
    for name, vals, ps in (("latency.p{}_s", latencies, (0.5, 0.75, 0.9)),
                           ("source.wait_s.p{}", waits, (0.5, 0.9)),
                           ("live.process_s.p{}", procs, (0.5, 0.9))):
        for p in ps:
            layer[name.format(int(p * 100))] = supported_pctl(vals, p) or 0.0
    layer["source.wait_share"] = sum(waits) / sum(latencies) if latencies else 0.0
    layer["source.backlog_files_max"] = livemap.backlog_max(gen.due, entries, all_progress)
    layer["bench.gen_late_max_s"] = max(gen.late)
    _live_spans(tracer, progress)
    return {
        "live_files": len(gen.due),
        "live_start_s": start_s,
        "live_s": live_s,
        "live_latency_samples": len(latencies),
        "live_batches": len(progress),
        "live_file_latency": lat,
        "final_watermark": watermark,
    }


def _live_spans(tracer: Tracer, progress: list[dict]) -> None:
    """One span per live micro-batch, its engine phases as child spans."""
    base = time.time() - tracer.now()  # epoch seconds at tracer time 0
    for p in progress:
        start, end = livemap.batch_window(p)
        sid = tracer.add("streaming.micro_batch", start - base, end - base, None, batch=p["batchId"])
        t = start
        for key in _PHASE_ORDER:
            d = p["durationMs"].get(key, 0) / 1000.0
            tracer.add(f"streaming.{key}", t - base, t + d - base, sid)
            t += d
