"""Stateful DSL interpreter over Spark: runs ANY StreamProcessor term
(alternate, multi-Get windows, FSMs, stateful generate) with exact
reference semantics, distributed by stream key.

Model (SURVEY.md §1.3 / §7 "hard parts"): an rspl stream is a *sequence*;
Spark scale-out comes from keyed sub-streams. A single logical stream is
one key — correct but serial, exactly the trade the reference's totally
ordered semantics force; at 100 TB you key the stream (per-user,
per-session, per-device) and every key runs in parallel.

Execution is one Arrow pass per partition, not one pandas frame per key:

    repartition(N, key) → sortWithinPartitions(key, seq) → mapInArrow

Each partition then arrives as a stream of Arrow record batches in which
every key's rows are contiguous and seq-ordered. ``interpret_partition``
walks the batches in order, finds the key runs in each batch and feeds
each run to the term as one chunk (``StreamProcessor.feed``, whose
contract is ``run_prefix``'s: the outputs and the exact residual term
after a finite prefix, src/lib.rs:249-285, late-tail rule included; a
map/filter/compose run is evaluated in bulk, anything else stepwise). So
a key's stream may be cut anywhere: when a run reaches the end of a
batch, its residual term and output ordinal carry into the next batch,
and the key resumes there. No rows are buffered — memory stays
bounded by one Arrow batch however long a key's stream is (the prefix
consistency Structured Streaming relies on, applied inside one task).

The value column is read straight from Arrow: a Spark NULL is the
column's validity bit (fail loud, below), a NaN is a float value, and an
integral column reaches the term as exact Python ints.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rspl_spark.dsl.core import StreamProcessor

_SINGLE_KEY = "__rspl_key__"


def interpret_batch(
    sp: StreamProcessor,
    df: DataFrame,
    out_type: str,
    value_col: str = "value",
    seq_col: str = "seq",
    key_col: str | None = None,
) -> DataFrame:
    """Run ``sp`` over each key's seq-ordered sub-stream.

    Returns (key?, seq, value) where ``seq`` is the OUTPUT ordinal per key
    (rspl output streams are fresh sequences, src/lib.rs:249).
    ``out_type`` is the Spark DDL type of the output value (e.g. "long").
    Keys group as Spark's ``groupBy`` groups them: NULL keys form one
    sub-stream, NaN keys another. A NULL input value raises.
    """
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string

    from rspl_spark.session import grouped_map_parallelism

    single = key_col is None
    work = df.withColumn(_SINGLE_KEY, F.lit(0)) if single else df
    kcol = _SINGLE_KEY if single else key_col
    key_type = work.schema[kcol].dataType.simpleString()
    schema = f"`{kcol}` {key_type}, `{seq_col}` long, `{value_col}` {out_type}"
    value_arrow = to_arrow_type(_parse_datatype_string(schema)[value_col].dataType)
    # Pin the partition count: AQE coalesces an exchange by shuffle-byte
    # size, the wrong objective for a Python-compute-bound stage
    # (measured: 1M rows / 1000 keys landed on 8 tasks of a 32-core
    # box). A repartition to an explicit N is exempt from coalescing.
    # A single stream is serial by the reference's total order: one
    # partition. The input seq only orders the rows, so it is dropped
    # after the sort and never crosses into Python.
    n = 1 if single else grouped_map_parallelism(work.sparkSession)
    work = (
        work.select(kcol, seq_col, value_col)
        .repartition(n, kcol)
        .sortWithinPartitions(kcol, seq_col)
        .select(kcol, value_col)
    )
    fn = partial(
        interpret_partition,
        sp,
        key_col=kcol,
        value_col=value_col,
        seq_col=seq_col,
        value_type=value_arrow,
        out_type=out_type,
    )
    out = work.mapInArrow(fn, schema)
    if single:
        return out.select(seq_col, value_col)
    return out


def interpret_partition(
    sp: StreamProcessor,
    batches: Iterable[pa.RecordBatch],
    key_col: str,
    value_col: str,
    seq_col: str,
    value_type: pa.DataType,
    out_type: str,
) -> Iterator[pa.RecordBatch]:
    """Run ``sp`` over each key run of a key-clustered, seq-ordered
    stream of record batches (columns ``key_col`` and ``value_col``).

    Yields at most one batch per input batch, with columns ``key_col``,
    ``seq_col`` (the per-key output ordinal) and ``value_col`` (Arrow type
    ``value_type``, the Arrow form of the Spark DDL type ``out_type``).
    The result does not depend on where the input is cut into batches.
    """
    term: StreamProcessor = sp  # residual of the run in progress
    ordinal = 0  # its next output ordinal
    last_key: pa.Array | None = None  # the previous batch's last key
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        keys = batch.column(key_col)
        values = batch.column(value_col)
        if values.null_count:
            i = int(np.argmax(values.is_null().to_numpy(zero_copy_only=False)))
            raise ValueError(
                f"interpret_batch: NULL value in stream (key {keys[i].as_py()!r});"
                " rspl streams carry values, filter NULL rows first"
            )
        vals = _pylist(values)
        starts = np.flatnonzero(~_same_key(keys.slice(1), keys.slice(0, n - 1))) + 1
        bounds = [0, *starts.tolist(), n]
        resume = last_key is not None and bool(_same_key(last_key, keys.slice(0, 1))[0])
        last_key = keys.take([n - 1])

        outs: list = []
        run_rows: list[int] = []  # first row of each run that emitted
        counts: list[int] = []
        firsts: list[int] = []  # its first output ordinal in this batch
        for j in range(len(bounds) - 1):
            s, e = bounds[j], bounds[j + 1]
            if j or not resume:
                term, ordinal = sp, 0
            got, term = term.feed(vals[s:e])
            if got:
                outs.extend(got)
                run_rows.append(s)
                counts.append(len(got))
                firsts.append(ordinal)
                ordinal += len(got)
        if not outs:
            continue
        reps = np.asarray(counts)
        row_of = np.repeat(np.asarray(run_rows), reps)
        offset = np.repeat(np.asarray(firsts) - (np.cumsum(reps) - reps), reps)
        yield pa.RecordBatch.from_arrays(
            [
                keys.take(pa.array(row_of)),
                pa.array(np.arange(len(outs), dtype=np.int64) + offset),
                _to_arrow(outs, value_type, out_type, keys, row_of),
            ],
            names=[key_col, seq_col, value_col],
        )


def _pylist(values: pa.Array) -> list:
    """Arrow values as Python values (exact ints for integral columns)."""
    t = values.type
    if pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_boolean(t):
        return values.to_numpy(zero_copy_only=False).tolist()
    return values.to_pylist()


def _same_key(a: pa.Array, b: pa.Array) -> np.ndarray:
    """``a[i]`` and ``b[i]`` are the same key under Spark's grouping:
    NULL equals NULL and NaN equals NaN."""
    try:
        same = pc.fill_null(pc.equal(a, b), False).to_numpy(zero_copy_only=False)
    except pa.ArrowNotImplementedError:  # nested keys: compare as Python values
        same = np.array([x == y for x, y in zip(a.to_pylist(), b.to_pylist())], dtype=bool)
    if a.null_count or b.null_count:
        same |= (
            a.is_null().to_numpy(zero_copy_only=False)
            & b.is_null().to_numpy(zero_copy_only=False)
        )
    if pa.types.is_floating(a.type):
        same |= _is_nan(a) & _is_nan(b)
    return same


def _is_nan(a: pa.Array) -> np.ndarray:
    return pc.fill_null(pc.is_nan(a), False).to_numpy(zero_copy_only=False)


_BUILD_ERRORS = (pa.ArrowException, TypeError, ValueError, OverflowError)


def _lossy_types(t: pa.DataType) -> tuple[type, ...]:
    """Python types Arrow converts to ``t`` without complaint, but not exactly."""
    if pa.types.is_integer(t):
        return (float, np.floating)  # 1.5 would become 1
    if pa.types.is_floating(t):
        return (bool, np.bool_)  # True would become 1.0
    return ()


def _fits(v, value_type: pa.DataType, lossy: tuple[type, ...]) -> bool:
    try:
        pa.array([v], type=value_type)
    except _BUILD_ERRORS:
        return False
    return not isinstance(v, lossy)


def _to_arrow(
    outs: list, value_type: pa.DataType, out_type: str, keys: pa.Array, row_of: np.ndarray
) -> pa.Array:
    """Build the output value column. A value that does not fit raises,
    naming the type and key — never a silent conversion."""
    lossy = _lossy_types(value_type)
    if not any(issubclass(t, lossy) for t in set(map(type, outs))):
        try:
            return pa.array(outs, type=value_type)
        except _BUILD_ERRORS:
            pass
    i = next((i for i, v in enumerate(outs) if not _fits(v, value_type, lossy)), 0)
    raise TypeError(
        f"interpret_batch: output value {outs[i]!r} ({type(outs[i]).__name__}) cannot"
        f" be built as out_type {out_type!r} (key {keys[int(row_of[i])].as_py()!r})"
    )


def to_stream_df(spark, values: Iterable, value_type: str = "long") -> DataFrame:
    """Build a (seq, value) stream DataFrame from driver-side values —
    the test-fixture analog of InfiniteList::cons chains
    (src/streams/infinite_lists.rs:19-24), finite-prefix style."""
    rows = [(i, v) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, schema=f"seq long, value {value_type}")
