"""Keyed stateful Mealy-machine template for Structured Streaming.

Runs ANY DSL StreamProcessor term per key across micro-batches: the term's
continuation (a closure tree) is cloudpickled into GroupState between
batches — the direct Spark analog of the reference's event-driven FSM
pattern (tests/events.rs:32-55, states-as-continuations), where the
evaluating thread's blocking ``tail()`` becomes "wait for the next
micro-batch" (SURVEY.md §3 entry point 2). Each micro-batch of a key is
one chunk for ``StreamProcessor.feed`` (contract: ``run_prefix``), so
map/filter/compose stages evaluate in bulk. A NULL value fails the query,
naming its key, before it reaches pandas.

Scale model: one FSM per key, all keys in parallel; state store holds one
pickled continuation per key (bounded: a term is a finite closure tree).
A single logical stream = one key, correct but serial — the trade rspl's
total order forces (SURVEY.md §7 hard parts).
"""

from __future__ import annotations

import pickle

from collections.abc import Callable, Iterable
from typing import Any

from pyspark import cloudpickle

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    StructField,
    StructType,
)

from rspl_spark.dsl.core import StreamProcessor

STATE_SCHEMA = StructType([StructField("sp", BinaryType())])


def _values_not_null(stream_df: DataFrame, key_col: str, value_col: str, caller: str) -> DataFrame:
    """Fail the query on a NULL value, naming its key. Without this the
    pandas boundary turns NULL into NaN and an integral column into
    floats, for that key's chunk only; NaN stays a legal double."""
    v = stream_df[value_col]
    msg = F.format_string(
        f"{caller}: NULL value in stream (key %s); rspl streams carry values,"
        " filter NULL rows first",
        stream_df[key_col].cast("string"),
    )
    return stream_df.withColumn(value_col, F.when(v.isNull(), F.raise_error(msg)).otherwise(v))


def run_mealy_stream_tws(
    stream_df: DataFrame,
    sp_factory: Callable[[], StreamProcessor],
    out_type: str,
    key_col: str = "key",
    seq_col: str = "seq",
    value_col: str = "value",
    timeout_ms: int | None = None,
    timeout_event=None,
    timeout_capability: Callable[[Any], int | None] | None = None,
) -> DataFrame:
    """Same semantics as run_mealy_stream on the MODERN backend
    (transformWithStateInPandas, Spark 4): continuation in a ValueState,
    feedback on PER-KEY TIMERS.

    Both backends exist on purpose: applyInPandasWithState is the widely
    deployed API; transformWithState adds real per-key timers — feedback
    events fire at their scheduled processing time instead of "whenever
    the key's next micro-batch happens to run" (the legacy backend's
    batch-paced approximation).

    Two feedback modes, mirroring the reference's two uses:

    - ``timeout_ms`` + ``timeout_event``: idle timeout — when a key sees
      no input for the duration, the sentinel is fed to its FSM and the
      timer re-arms (same contract as run_mealy_stream).
    - ``timeout_capability``: pelican-style capability-driven feedback
      (examples/pelican.rs:306-308,350-367) — called on every OUTPUT
      value; returning a duration (ms) schedules ``timeout_event`` for
      this key after that delay. Deliveries are serialized exactly like
      the reference's single feedback-worker thread draining an
      unbounded channel (pelican.rs:350-358): a new request's delay
      starts only when the previous one has been delivered
      (``worker_free`` carried in state).

    The two modes are MUTUALLY EXCLUSIVE (one per-key timer namespace;
    an idle timer and capability timers would be indistinguishable when
    they expire) — passing both raises rather than silently ignoring
    ``timeout_ms``.

    Requires google.protobuf + the RocksDB state store; see
    rspl_spark.streaming.tws_runtime (enable_tws_runtime() must run
    before SparkSession creation; the RocksDB conf is applied here).
    """
    if timeout_ms is not None and timeout_capability is not None:
        raise ValueError(
            "run_mealy_stream_tws: timeout_ms (idle sentinel) and"
            " timeout_capability (per-output feedback) are mutually"
            " exclusive — they share the key's timer namespace"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from rspl_spark.streaming.tws_runtime import enable_tws_runtime_for_session

    # session-level enablement (not just the RocksDB conf): works even
    # on a session this process did not create — the vendored protobuf
    # reaches workers via sc.environment per-function env vars
    enable_tws_runtime_for_session(stream_df.sparkSession)
    stream_df = _values_not_null(stream_df, key_col, value_col, "run_mealy_stream_tws")
    use_timers = timeout_ms is not None or timeout_capability is not None
    out_schema = f"`{key_col}` string, `{seq_col}` long, `{value_col}` {out_type}"

    class MealyProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            # state = (continuation term, #outputs so far, worker_free ms)
            self._state = handle.getValueState(
                "mealy", StructType([StructField("sp", BinaryType())])
            )

        def _load(self):
            if self._state.exists():
                return pickle.loads(self._state.get()[0])
            return sp_factory(), 0, 0

        def _save(self, sp, n_out, worker_free) -> None:
            self._state.update((cloudpickle.dumps((sp, n_out, worker_free)),))

        def _rearm_idle(self, now_ms: int) -> None:
            for t in list(self._handle.listTimers()):
                self._handle.deleteTimer(t)
            self._handle.registerTimer(now_ms + timeout_ms)

        def _schedule_caps(self, outs, now_ms: int, worker_free: int) -> int:
            """Serial feedback worker: each timeout_after capability is
            delivered its delay AFTER the previous delivery."""
            for v in outs:
                dur = timeout_capability(v)
                if dur is not None:
                    # timers are ms-granular and registerTimer collapses
                    # duplicates: two deliveries scheduled for the same
                    # expiry (dur=0, or sub-ms durations truncating to 0)
                    # would lose a feedback event, so each delivery lands
                    # at least 1ms after the previous one
                    worker_free = max(
                        max(worker_free, now_ms) + int(dur),
                        worker_free + 1,
                    )
                    self._handle.registerTimer(worker_free)
            return worker_free

        def _emit(self, key, outs, n_out):
            if outs:
                yield pd.DataFrame(
                    {
                        key_col: [str(key[0])] * len(outs),
                        seq_col: range(n_out, n_out + len(outs)),
                        value_col: outs,
                    }
                )

        def handleInputRows(self, key, rows, timerValues):
            sp, n_out, worker_free = self._load()
            # A key's micro-batch may arrive as SEVERAL Arrow chunks
            # (split at spark.sql.execution.arrow.maxRecordsPerBatch) in
            # no guaranteed order — materialize and sort ONCE so the FSM
            # sees the total seq order the reference semantics require.
            chunks = [pdf for pdf in rows if len(pdf)]
            outs_all = []
            if chunks:
                batch = pd.concat(chunks, ignore_index=True)
                batch = batch.sort_values(seq_col, kind="mergesort")
                outs_all, sp = sp.feed(batch[value_col].tolist())
            now = timerValues.getCurrentProcessingTimeInMs()
            if timeout_capability is not None:
                worker_free = self._schedule_caps(outs_all, now, worker_free)
            elif timeout_ms is not None:
                self._rearm_idle(now)
            self._save(sp, n_out + len(outs_all), worker_free)
            yield from self._emit(key, outs_all, n_out)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            sp, n_out, worker_free = self._load()
            outs, sp = sp.feed([timeout_event])
            now = timerValues.getCurrentProcessingTimeInMs()
            if timeout_capability is not None:
                worker_free = self._schedule_caps(outs, now, worker_free)
            elif timeout_ms is not None:
                self._rearm_idle(now)
            self._save(sp, n_out + len(outs), worker_free)
            yield from self._emit(key, outs, n_out)

        def close(self) -> None:
            pass

    return stream_df.groupBy(key_col).transformWithStateInPandas(
        MealyProcessor(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="processingTime" if use_timers else "none",
    )


def run_mealy_stream(
    stream_df: DataFrame,
    sp_factory: Callable[[], StreamProcessor],
    out_type: str,
    key_col: str = "key",
    seq_col: str = "seq",
    value_col: str = "value",
    timeout_ms: int | None = None,
    timeout_event=None,
) -> DataFrame:
    """Apply a fresh ``sp_factory()`` term to each key's sub-stream.

    Input: a streaming (or batch) DataFrame with (key, seq, value).
    Output: (key, seq, value) where seq is the per-key OUTPUT ordinal,
    continuing across micro-batches.

    Feedback loops (the pelican pattern, examples/pelican.rs:306-367):
    the reference re-injects timeout events through a second channel +
    thread; Spark plans are acyclic, so the same behavior comes from
    processing-time state timeouts — pass ``timeout_ms`` and a
    ``timeout_event``: when a key sees no input for the duration, the
    sentinel is fed to its FSM exactly as if it had arrived on the input
    stream, and the timeout re-arms (SURVEY.md §2.1 "Feedback loop").
    """
    out_schema = f"`{key_col}` string, `{seq_col}` long, `{value_col}` {out_type}"
    stream_df = _values_not_null(stream_df, key_col, value_col, "run_mealy_stream")
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )

    def proc(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            sp, n_out = pickle.loads(state.get[0])
        else:
            sp, n_out = sp_factory(), 0
        outs_all = []
        if timeout_ms is not None and state.hasTimedOut:
            # Feedback: the armed timeout fires as an input event.
            outs, sp = sp.feed([timeout_event])
            outs_all.extend(outs)
        else:
            # Arrow delivers a key's micro-batch as multiple chunks
            # (split at arrow maxRecordsPerBatch) with no ordering
            # guarantee BETWEEN chunks — sorting each chunk alone would
            # silently break the total-order contract for keys spanning
            # >1 chunk. Materialize, concat, sort once.
            chunks = [pdf for pdf in pdfs if len(pdf)]
            if chunks:
                batch = pd.concat(chunks, ignore_index=True)
                batch = batch.sort_values(seq_col, kind="mergesort")
                outs_all, sp = sp.feed(batch[value_col].tolist())
        # cloudpickle: continuations are closure trees, stdlib pickle
        # cannot serialize them.
        state.update((cloudpickle.dumps((sp, n_out + len(outs_all))),))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        if outs_all:
            yield pd.DataFrame(
                {
                    key_col: [str(key[0])] * len(outs_all),
                    seq_col: range(n_out, n_out + len(outs_all)),
                    value_col: outs_all,
                }
            )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        proc,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def mealy_backend(
    spark, need_capability_feedback: bool = False
) -> str:
    """Default-backend decision (r13 verdict ask #6), executable.

    - ``"tws"`` (transformWithStateInPandas) is the DEFAULT on
      Spark >= 4.0 whenever its runtime prerequisites hold (a
      ``google.protobuf`` importable driver-side — natively or vendored
      — and the bundled RocksDB state store). It is strictly more
      capable: real per-key timers (capability feedback fires at its
      scheduled time, not "whenever the key's next batch runs"), state
      in named variables, RocksDB-backed stores.
    - ``"legacy"`` (applyInPandasWithState) on Spark 3.x, or when the
      protobuf runtime is unavailable. Its batch-paced timeout
      approximation keeps the idle-sentinel contract (parity-swept in
      tests/test_mealy_backend_parity.py) but cannot express
      capability-driven feedback — if that is required and TWS is not
      available, raise rather than approximate.

    The sweep that licenses this default: legacy == TWS == pure-DSL on
    keyed FSMs, composition, and idle timeouts
    (tests/test_mealy_backend_parity.py), plus the pelican capability
    trace on TWS against the pure-DSL ground truth (tests/test_streaming
    .py::test_tws_pelican_capability_timer_parity, gate
    q_pelican_capability_stream).
    """
    from rspl_spark.streaming.tws_runtime import enable_tws_runtime

    major = int(spark.version.split(".")[0])
    tws_ok = major >= 4 and enable_tws_runtime()
    if need_capability_feedback and not tws_ok:
        raise RuntimeError(
            "capability-driven feedback (timeout_capability) needs the "
            "TWS backend: Spark >= 4.0 with a google.protobuf runtime. "
            f"This session: Spark {spark.version}, protobuf "
            f"{'ok' if enable_tws_runtime() else 'missing'}. The legacy "
            "backend's batch-paced timers cannot honor per-output "
            "schedules; refusing to approximate."
        )
    return "tws" if tws_ok else "legacy"


def run_mealy(
    stream_df: DataFrame,
    sp_factory: Callable[[], StreamProcessor],
    out_type: str,
    backend: str = "auto",
    **kwargs,
) -> DataFrame:
    """One entry point for the keyed stateful Mealy template: dispatch
    to :func:`run_mealy_stream_tws` or :func:`run_mealy_stream` per
    :func:`mealy_backend` (``backend="auto"``), or force one
    explicitly. ``timeout_capability`` implies TWS (the legacy backend
    cannot express it)."""
    if backend == "auto":
        backend = mealy_backend(
            stream_df.sparkSession,
            need_capability_feedback=kwargs.get("timeout_capability")
            is not None,
        )
    if backend == "tws":
        return run_mealy_stream_tws(stream_df, sp_factory, out_type, **kwargs)
    if backend == "legacy":
        if kwargs.get("timeout_capability") is not None:
            raise ValueError(
                "timeout_capability requires backend='tws' (per-key "
                "timers); the legacy backend cannot honor per-output "
                "schedules"
            )
        return run_mealy_stream(stream_df, sp_factory, out_type, **kwargs)
    raise ValueError(f"unknown backend {backend!r}: use 'auto', 'tws', 'legacy'")
