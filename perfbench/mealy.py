"""The streaming pass of a traced ``dsl_interpret`` run.

The same term runs per key across Structured Streaming micro-batches:
``run_mealy(stream, term, "double")`` on the program's default backend,
with each key's continuation pickled into the state store every batch.
Its events reach a parquet file source as chunk files, each written under
a hidden name and then published by an atomic rename. The source is read
without ``maxFilesPerTrigger``, so a micro-batch takes every chunk
published since the last one (the repository's ``file_stream`` helper
replays one chunk per batch, which suits finite replays, not a live
feed). The sink collects every micro-batch on the driver and stamps when
it was delivered.

An open-loop generator thread publishes a chunk every ``CHUNK_S`` at the
fixed ``OFFERED_RATE``, whether or not the query keeps up. Each event is
timed from its chunk's scheduled time to the delivery of its output. The
term emits one output per input, so an output's ``(key, seq)`` names its
input event (``events.ChunkIndex``). A pass whose backlog keeps growing,
or that has not delivered every event ``CATCHUP_S`` after the schedule
ends, is not sustainable. The outputs must equal ``run_prefix`` over each
key's whole stream, so chunk and batch boundaries cannot change results.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from bisect import bisect_right
from datetime import datetime

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import events
from perfbench.common import median, percentile, slope, supports_percentile

# events/s: about a ninth of the 17k events/s at which one 100k-event
# micro-batch drained on the 4-core baseline, so the stream keeps up
OFFERED_RATE = 2_000
CHUNK_S = 0.25
CATCHUP_S = 60.0
SCHEMA = "key string, seq long, value double"


class Sink:
    """foreachBatch target: collects each micro-batch and stamps it."""

    def __init__(self) -> None:
        self.batches: list[tuple[float, int, pd.DataFrame]] = []
        self.delivered = 0
        self._lock = threading.Lock()

    def __call__(self, batch_df, batch_id: int) -> None:
        pdf = batch_df.toPandas()
        t = time.perf_counter()
        with self._lock:
            self.batches.append((t, batch_id, pdf))
            self.delivered += len(pdf)

    def frame(self) -> pd.DataFrame:
        with self._lock:
            frames = [b[2] for b in self.batches]
        if not frames:
            return pd.DataFrame({"key": [], "seq": [], "value": []})
        return pd.concat(frames, ignore_index=True)


def _write_chunk(in_dir: str, idx: int, ev: dict, lo: int, hi: int) -> None:
    table = pa.table({k: v[lo:hi] for k, v in ev.items()})
    tmp = os.path.join(in_dir, f".c{idx:06d}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(in_dir, f"c{idx:06d}.parquet"))


def _start(ctx, spark, in_dir: str, sink: Sink):
    from pyspark import cloudpickle

    from rspl_spark.streaming.stateful import mealy_backend, run_mealy

    # ship the term's module by value: the stateful workers then need not
    # import the benchmark package
    cloudpickle.register_pickle_by_value(events)
    ckpt = _fresh_dir(ctx, "ckpt")
    src = spark.readStream.schema(SCHEMA).parquet(in_dir)
    out = run_mealy(src, events.term, "double")
    q = (out.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt)
         .trigger(processingTime="0 seconds").start())
    return q, mealy_backend(spark)


def _fresh_dir(ctx, name: str) -> str:
    d = ctx.path("stream", name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


class Generator(threading.Thread):
    """Open-loop load. Chunk 0 warms the query up and is not timed; chunk
    ``c >= 1`` is due at ``t0 + c * CHUNK_S`` and is published then,
    however far behind the query is."""

    def __init__(self, in_dir: str, ev: dict, chunk_rows: int, n_chunks: int,
                 sink: Sink) -> None:
        super().__init__(daemon=True)
        self.in_dir, self.ev, self.sink = in_dir, ev, sink
        self.chunk_rows, self.n_chunks = chunk_rows, n_chunks
        self.index = events.ChunkIndex()
        self.due: list[float | None] = []
        self.lag: list[float] = []
        self.backlog: list[tuple[float, int]] = []
        self.published: list[float] = []
        self.t0 = 0.0
        self.error: BaseException | None = None

    def publish(self, c: int, due: float | None) -> None:
        lo, hi = c * self.chunk_rows, (c + 1) * self.chunk_rows
        self.index.add_chunk(self.ev["key"][lo:hi])
        self.due.append(due)
        _write_chunk(self.in_dir, c, self.ev, lo, hi)
        now = time.perf_counter()
        self.published.append(now)
        if due is not None:
            self.lag.append(now - due)
            self.backlog.append((now, hi - self.sink.delivered))

    def run(self) -> None:
        try:
            self.t0 = time.perf_counter()
            for c in range(1, self.n_chunks):
                due = self.t0 + c * CHUNK_S
                time.sleep(max(0.0, due - time.perf_counter()))
                self.publish(c, due)
        except BaseException as e:  # noqa: BLE001 - re-raised by the caller
            self.error = e

    def published_rows(self, t: float) -> int:
        return bisect_right(self.published, t) * self.chunk_rows


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]


def _epoch_to_perf(iso: str) -> float:
    ts = datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
    return ts - time.time() + time.perf_counter()


def _layers(ctx, progress: list[dict], sink: Sink, gen: Generator, run_span,
            skip: set[int]) -> dict:
    batches = [p for p in progress if p.get("numInputRows", 0) > 0 and p["batchId"] not in skip]
    for p in batches:
        start = _epoch_to_perf(p["timestamp"])
        ctx.tracer.add("batch", start, start + p["durationMs"]["triggerExecution"] / 1e3,
                       parent=run_span["id"], batch=p["batchId"])

    def dur(key: str) -> list[float]:
        return [p["durationMs"].get(key, 0) / 1e3 for p in batches]

    trig = dur("triggerExecution")
    L = {
        "stream.batches": len(batches),
        "stream.batch_s_p50": median(trig),
        "stream.batch_s_p90": percentile(trig, 90) if trig else 0.0,
        "stream.add_batch_s_p50": median(dur("addBatch")),
        "stream.latest_offset_s_p50": median(dur("latestOffset")),
        "stream.query_planning_s_p50": median(dur("queryPlanning")),
        "stream.wal_commit_s_p50": median(dur("walCommit")),
        "stream.rows_per_batch_p50": median([p["numInputRows"] for p in batches]),
        "stream.backlog_rows_max": max((b for _, b in gen.backlog), default=0),
        "stream.backlog_slope_rows_per_s": slope(gen.backlog),
        "gen.lag_s_p50": median(gen.lag),
    }
    ops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    if ops:
        L["stream.state_commit_s_p50"] = median([o.get("commitTimeMs", 0) / 1e3 for o in ops])
        L["stream.state_rows"] = ops[-1].get("numRowsTotal", 0)
        L["stream.state_bytes"] = ops[-1].get("memoryUsedBytes", 0)
        if L["stream.state_rows"]:
            L["stream.state_bytes_per_key"] = L["stream.state_bytes"] / L["stream.state_rows"]
    keys_per_batch = {bid: pdf["key"].nunique() for _, bid, pdf in sink.batches}
    L["stream.key_batch_ms"] = median([
        p["durationMs"].get("addBatch", 0) / keys_per_batch[p["batchId"]]
        for p in batches if keys_per_batch.get(p["batchId"])])
    return L


def run_stream(ctx, spark, ev: dict) -> dict:
    """Run ``ev`` (whole chunks of it) through the paced stream for
    ``ctx.seconds``; returns the streaming layers and what was checked."""
    in_dir = _fresh_dir(ctx, "in")
    chunk_rows = int(OFFERED_RATE * CHUNK_S)
    n_chunks = 1 + max(1, int(ctx.seconds / CHUNK_S))
    total = chunk_rows * n_chunks
    ev = {k: v[:total] for k, v in ev.items()}
    sink = Sink()
    q, backend = _start(ctx, spark, in_dir, sink)
    gen = Generator(in_dir, ev, chunk_rows, n_chunks, sink)
    with ctx.tracer.span("stream") as run_span:
        try:
            gen.publish(0, None)
            deadline = time.perf_counter() + CATCHUP_S
            while sink.delivered < chunk_rows and time.perf_counter() < deadline and q.isActive:
                time.sleep(0.05)
            warm = len(sink.batches)
            gen.start()
            gen.join()
            if gen.error is not None:
                raise gen.error
            deadline = time.perf_counter() + CATCHUP_S
            while sink.delivered < total and time.perf_counter() < deadline and q.isActive:
                time.sleep(0.05)
            progress = _progress(q)
        finally:
            q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"streaming query failed: {q.exception()}")
    caught_up = sink.delivered >= total

    lat = []
    for t, _, pdf in sink.batches[warm:]:
        for key, seq in zip(pdf["key"].tolist(), pdf["seq"].tolist()):
            due = gen.due[gen.index.chunk_of(key, seq)]
            if due is not None:
                lat.append(t - due)
    # the backlog just after each delivery: flat when the query keeps up
    troughs, delivered = [], 0
    for t, _, pdf in sink.batches:
        delivered += len(pdf)
        if gen.t0 <= t <= gen.published[-1]:
            troughs.append((t, gen.published_rows(t) - delivered))
    growth = slope(troughs)
    want = events.reference_outputs(events.per_key_values(ev))
    return {
        "layers": _layers(ctx, progress, sink, gen, run_span,
                          {bid for _, bid, _ in sink.batches[:warm]}),
        "backend": backend,
        "chunks": n_chunks,
        "events": total,
        "offered_rate": OFFERED_RATE,
        "wrong_keys": events.mismatched_keys(sink.frame(), want),
        "sustainable": caught_up and growth <= 0.1 * OFFERED_RATE,
        "caught_up": caught_up,
        "trough_slope_rows_per_s": growth,
        "gen_lag_s_max": max(gen.lag),
        "latency_p50_s": median(lat),
        "latency_p90_s": percentile(lat, 90) if supports_percentile(len(lat), 90) else None,
        "latency_samples": len(lat),
    }
