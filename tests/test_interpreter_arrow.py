"""The interpreter's per-partition Arrow pass, without a JVM.

``interpret_partition`` is a pure function over record batches, so its
chunking invariance is checked directly: a key-clustered table cut at
arbitrary batch boundaries (mid-key, mid multi-Get window) gives each key
exactly ``eval_sp`` over that key's whole stream, with output ordinals
0..n-1.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from perfbench.events import account_fsm, decode
from rspl_spark.dsl import Get, Put, alternate, compose, eval_sp, filter_sp, map_sp
from rspl_spark.dsl.interpreter import interpret_partition


def swap_forever():
    # basic.rs sp_aux generalized: a two-Get window, emitted swapped
    return Get(lambda n1: Get(lambda n2: Put(n2, lambda: Put(n1, swap_forever))))


TERMS = {
    "swap_forever": swap_forever,
    "alternate": lambda: alternate(
        filter_sp(lambda v: v >= 1500.0), filter_sp(lambda v: v < 1500.0)
    ),
    # values encode kind * 1000 + amount, the FSM's event shape
    "account_fsm": lambda: compose(map_sp(decode), account_fsm()),
    # the last group's values are all >= 2000: that key emits nothing
    "drop_key": lambda: filter_sp(lambda v: v < 2000.0),
}


# Seven distinct keys per key type, NULL and NaN among them: runs must
# treat NULL = NULL and NaN = NaN, as Spark's groupBy does.
KEYS = {
    "long": (pa.int64(), [None, 0, 1, 2, 3, 4, 5]),
    "double": (pa.float64(), [None, math.nan, -1.5, 0.0, 2.5, 7.0, 1e300]),
    "string": (pa.string(), [None, "", "a", "b", "k0001", "zz", "é"]),
    # nested keys have no Arrow equality kernel: compared as Python values
    "struct": (
        pa.struct([("a", pa.int64()), ("b", pa.string())]),
        [None, {"a": None, "b": None}, {"a": 1, "b": "x"}, {"a": 1, "b": "y"},
         {"a": 2, "b": "x"}, {"a": 2, "b": None}, {"a": 3, "b": "z"}],
    ),
}


def _norm(k):
    """A hashable stand-in for a key, equal for equal keys (NaN included)."""
    if isinstance(k, dict):
        return tuple(k.items())
    return "NaN" if isinstance(k, float) and math.isnan(k) else k


def _run(term, batches, out_type=pa.float64()):
    return list(
        interpret_partition(
            term, batches, key_col="k", value_col="v", seq_col="seq",
            value_type=out_type, out_type=str(out_type),
        )
    )


@given(
    term=st.sampled_from(sorted(TERMS)),
    key_kind=st.sampled_from(sorted(KEYS)),
    groups=st.lists(
        st.lists(st.integers(0, 2999), max_size=25), min_size=1, max_size=6
    ),
    cuts=st.lists(st.integers(0, 200), max_size=12),
)
@settings(max_examples=300, deadline=None)
def test_partition_pass_is_chunking_invariant(term, key_kind, groups, cuts):
    key_type, key_pool = KEYS[key_kind]
    groups = [*groups, [2500, 2600, 2700]]
    keys = key_pool[: len(groups)]
    key_col, val_col = [], []
    for k, vals in zip(keys, groups):
        key_col += [k] * len(vals)
        val_col += [float(v) for v in vals]
    table = pa.record_batch(
        [pa.array(key_col, type=key_type), pa.array(val_col, type=pa.float64())],
        names=["k", "v"],
    )
    n = table.num_rows
    bounds = sorted({0, n, *(c for c in cuts if c <= n)})
    # repeat one boundary so an empty batch is fed too
    bounds = [bounds[0], *bounds]
    batches = [table.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]

    if term == "drop_key":
        assert not list(eval_sp(TERMS[term](), [2500.0, 2600.0, 2700.0]))
    got: dict = {}
    for out in _run(TERMS[term](), batches):
        assert out.schema.names == ["k", "seq", "v"]
        for k, s, v in zip(*(out.column(c).to_pylist() for c in ("k", "seq", "v"))):
            got.setdefault(_norm(k), []).append((s, v))
    for k, vals in zip(keys, groups):
        want = list(eval_sp(TERMS[term](), [float(v) for v in vals]))
        rows = got.pop(_norm(k), [])
        assert [s for s, _ in rows] == list(range(len(want)))
        assert [v for _, v in rows] == want
    assert not got


def test_integral_stream_is_exact_python_ints():
    seen = []
    big = 2**62 + 1
    batch = pa.record_batch(
        [pa.array([7, 7, 7], pa.int64()), pa.array([1, big, 3], pa.int64())],
        names=["k", "v"],
    )
    term = map_sp(lambda v: seen.append(type(v)) or v + 1)
    (out,) = _run(term, [batch], pa.int64())
    assert seen == [int, int, int]
    assert out.column("v").type == pa.int64()
    assert out.column("v").to_pylist() == [2, big + 1, 4]


@pytest.mark.parametrize(
    "out_type, value",
    [
        (pa.int64(), 1.5),  # Arrow would truncate it to 1
        (pa.float64(), True),  # Arrow would build 1.0
        (pa.string(), 3),
        (pa.list_(pa.int64()), "ab"),
    ],
)
def test_unbuildable_output_names_type_and_key(out_type, value):
    batch = pa.record_batch(
        [pa.array(["ok", "bad"]), pa.array([1.0, 2.0])], names=["k", "v"]
    )
    good = {pa.int64(): 1, pa.float64(): 1.0, pa.string(): "x"}.get(out_type, [1])
    term = map_sp(lambda v: good if v == 1.0 else value)
    with pytest.raises(TypeError, match=rf"out_type '{out_type}' \(key 'bad'\)"):
        _run(term, [batch], out_type)


def test_null_value_fails_loud_with_its_key():
    batch = pa.record_batch(
        [pa.array(["a", "b"]), pa.array([1.0, None])], names=["k", "v"]
    )
    with pytest.raises(ValueError, match=r"NULL value in stream \(key 'b'\)"):
        _run(map_sp(lambda v: v), [batch])
