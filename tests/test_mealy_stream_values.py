"""Input values on the streaming Mealy runtime, on both backends.

A NULL value fails the query and names its key, as ``interpret_batch``
does. Before the guard, the pandas boundary turned a NULL into NaN and the
whole ``long`` chunk of that key into floats, while other keys still saw
ints. NaN in a ``double`` column stays a legal value, and an integral
column reaches the term as exact ints.
"""

from __future__ import annotations

import tempfile

import pytest

from rspl_spark.dsl import map_sp
from rspl_spark.streaming import file_stream, run_mealy_stream, run_mealy_stream_tws, write_stream_chunks
from rspl_spark.streaming.sources import run_to_memory_sink

from tests.conftest import TWS_AVAILABLE

BACKENDS = [
    "legacy",
    pytest.param(
        "tws",
        marks=pytest.mark.skipif(not TWS_AVAILABLE, reason="transformWithStateInPandas needs google.protobuf"),
    ),
]


def _run(spark, backend, rows, schema, term, out_type, name):
    runner = run_mealy_stream if backend == "legacy" else run_mealy_stream_tws
    with tempfile.TemporaryDirectory() as tmp:
        write_stream_chunks(spark, tmp, [spark.createDataFrame(rows, schema)])
        out = runner(file_stream(spark, tmp, schema), term, out_type)
        run_to_memory_sink(out, name)
        return {(r["key"], r["seq"]): r["value"] for r in spark.table(name).collect()}


def _typed():
    # a closure, not a module-level function: executors cannot import
    # this module, so the factory must pickle by value
    tag = lambda v: f"{type(v).__name__}:{v}"  # noqa: E731
    return lambda: map_sp(tag, py_fn=tag)


@pytest.mark.parametrize("backend", BACKENDS)
def test_mealy_stream_rejects_null_values(spark, backend):
    rows = [("a", 0, 1), ("a", 1, None), ("a", 2, 3), ("b", 0, 5)]
    with pytest.raises(Exception, match=r"NULL value in stream \(key a\)"):
        _run(spark, backend, rows, "key string, seq long, value long", _typed(), "string",
             f"t_mealy_null_{backend}")


@pytest.mark.parametrize("backend", BACKENDS)
def test_mealy_stream_exact_ints_and_nan(spark, backend):
    rows = [("a", 0, 1), ("a", 1, 2), ("b", 0, 5)]
    got = _run(spark, backend, rows, "key string, seq long, value long", _typed(), "string",
               f"t_mealy_ints_{backend}")
    assert got == {("a", 0): "int:1", ("a", 1): "int:2", ("b", 0): "int:5"}

    rows = [("a", 0, 1.0), ("a", 1, float("nan")), ("b", 0, 2.5)]
    got = _run(spark, backend, rows, "key string, seq long, value double", _typed(), "string",
               f"t_mealy_nan_{backend}")
    assert got == {("a", 0): "float:1.0", ("a", 1): "float:nan", ("b", 0): "float:2.5"}
