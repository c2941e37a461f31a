"""The chunk protocol ``StreamProcessor.feed`` against its specification,
``run_prefix`` (no Spark).

Random terms over map, filter, compose (nested on both sides), alternate,
bind, a Put-headed prefix, paced generate, the two-Get swap window and
perfbench's account FSM are fed a random input in random chunks. The
concatenated chunk outputs must equal ``run_prefix`` over the whole input,
and the final residual must continue exactly as the stepwise term does.
Equality alone would also pass if ``feed`` fell back to stepwise
evaluation after the first chunk, so the residuals of map/filter/compose
nodes are checked structurally too: a map or filter stays itself and a
compose stays a ``ComposeSP``.
"""

from __future__ import annotations

import itertools

from hypothesis import given, settings, strategies as st

from perfbench.events import account_fsm, decode
from rspl_spark.dsl import Get, Put, alternate, bind, compose, filter_sp, map_sp, paced_generate
from rspl_spark.dsl.combinators import ComposeSP, FilterSP, MapSP, PacedGenerateSP
from rspl_spark.dsl.core import run_prefix


def swap_forever():
    # basic.rs sp_aux generalized: a two-Get window, emitted swapped
    return Get(lambda n1: Get(lambda n2: Put(n2, lambda: Put(n1, swap_forever))))


def fsm():
    return compose(map_sp(decode), account_fsm())


def build(spec):
    """A fresh term for ``spec`` (terms carry state, so each run builds one)."""
    kind = spec[0]
    if kind == "map":
        _, a, b = spec
        return map_sp(lambda v: v * a + b)
    if kind == "filter":
        _, m, r = spec
        return filter_sp(lambda v: v % m == r)
    if kind == "swap":
        return swap_forever()
    if kind == "fsm":
        return fsm()
    if kind == "paced":
        return paced_generate(lambda s: (s * s, s + 1), spec[1])
    if kind == "compose":
        return compose(build(spec[1]), build(spec[2]))
    if kind == "alternate":
        return alternate(build(spec[1]), build(spec[2]))
    if kind == "bind":
        _, sp, even, odd = spec
        return bind(build(sp), lambda v: build(even) if int(v) % 2 == 0 else build(odd))
    if kind == "put":
        _, c, rest = spec
        return Put(c, lambda: build(rest))
    raise AssertionError(spec)


LEAVES = st.one_of(
    st.tuples(st.just("map"), st.integers(-3, 3), st.integers(-5, 5)),
    st.tuples(st.just("filter"), st.integers(2, 4), st.integers(0, 3)),
    st.just(("swap",)),
    st.just(("fsm",)),
    st.tuples(st.just("paced"), st.integers(0, 5)),
)
SPECS = st.recursive(
    LEAVES,
    lambda children: st.one_of(
        st.tuples(st.just("compose"), children, children),
        st.tuples(st.just("alternate"), children, children),
        st.tuples(st.just("bind"), children, children, children),
        st.tuples(st.just("put"), st.integers(-5, 5), children),
    ),
    max_leaves=8,
)
VALUES = st.lists(st.integers(0, 2999), max_size=40)


def assert_bulk_residual(spec, fed, residual):
    """Map/filter/compose residuals keep their bulk form, recursively
    down every compose."""
    kind = spec[0]
    if kind in ("map", "filter"):
        assert isinstance(fed, (MapSP, FilterSP)) and residual is fed
    elif kind == "paced":
        assert isinstance(residual, PacedGenerateSP)
    elif kind == "fsm":
        assert isinstance(residual, ComposeSP) and residual.sp1 is fed.sp1
    elif kind == "compose":
        assert isinstance(residual, ComposeSP)
        assert_bulk_residual(spec[1], fed.sp1, residual.sp1)
        assert_bulk_residual(spec[2], fed.sp2, residual.sp2)


def feed_chunks(term, values, cuts, spec=None):
    bounds = sorted({0, len(values), *(c for c in cuts if c <= len(values))})
    outs = []
    for a, b in zip(bounds, bounds[1:] or [0]):
        got, residual = term.feed(values[a:b])
        if spec is not None:
            assert_bulk_residual(spec, term, residual)
        outs += got
        term = residual
    return outs, term


@given(spec=SPECS, values=VALUES, cuts=st.lists(st.integers(0, 40), max_size=8), suffix=VALUES)
@settings(max_examples=400, deadline=None)
def test_feed_matches_run_prefix(spec, values, cuts, suffix):
    want, _ = run_prefix(build(spec), values)
    outs, residual = feed_chunks(build(spec), values, cuts, spec)
    assert outs == want
    # the residual continues exactly as the stepwise term does
    want_all, _ = run_prefix(build(spec), values + suffix)
    rest, _ = run_prefix(residual, suffix)
    assert outs + rest == want_all


def test_bench_term_stays_bulk_across_chunks():
    """perfbench's term keeps its map stage and ComposeSP shape however
    its input is cut, so every chunk after the first is bulk too."""
    values = [float(k * 1000 + a) for k, a in itertools.product((2, 0, 2, 1, 2), (3, 7))]
    want, _ = run_prefix(fsm(), values)
    for cut in range(len(values) + 1):
        term = fsm()
        outs, mid = term.feed(values[:cut])
        assert isinstance(mid, ComposeSP) and mid.sp1 is term.sp1
        more, end = mid.feed(values[cut:])
        assert isinstance(end, ComposeSP) and end.sp1 is term.sp1
        assert outs + more == want


def test_feed_keeps_the_late_tail_rule():
    """Puts that need no further input are emitted within the chunk: a
    downstream Put goes first, an upstream Put is queued behind it, and
    an empty chunk drains both (src/lib.rs:256-260)."""
    up = Put(7, lambda: map_sp(lambda x: x))
    down = Put(99, lambda: map_sp(lambda x: x * 2))
    assert compose(up, down).feed([])[0] == [99, 14]
    assert compose(up, down).feed([5])[0] == [99, 14, 10]
    swap_twice = compose(swap_forever(), swap_forever())
    outs, residual = swap_twice.feed([1, 2, 3, 4, 5])
    assert outs == [1, 2, 3, 4] and residual.feed([6])[0] == [5, 6]


def test_basic_rs_golden_at_every_cut():
    """tests/basic.rs:9-56 through ``feed``: prefix 2,4,1,5,5 wherever the
    input is cut."""

    def sp_aux():
        return Get(lambda n1: Get(lambda n2: Put(n2, lambda: Put(n1, lambda: map_sp(lambda x: x)))))

    def sp():
        return bind(
            map_sp(lambda n: n == 0),
            lambda b: alternate(sp_aux(), map_sp(lambda n: n + 1)) if b else map_sp(lambda x: x),
        )

    values = [0, 1, 2, 3, 4, 5, 6]
    for cut in range(len(values) + 1):
        outs, _ = feed_chunks(sp(), values, [cut])
        assert outs[:5] == [2, 4, 1, 5, 5]
