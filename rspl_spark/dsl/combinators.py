"""The six rspl combinators (src/combinators.rs) as structured nodes.

Each node is a StreamProcessor whose ``step()`` unfolds to plain Get/Put
with exactly the reference's semantics; the node classes themselves are the
compiler's IR (pattern-matched in rspl_spark.dsl.compiler).

Functions passed to ``map_sp``/``filter_sp`` should be *polymorphic over
Python scalars and pyspark Columns* (plain operators: ``lambda x: x * 2``,
``lambda x: x > 0``) so one lambda serves both the compiled path (applied
to a Column) and the interpreted path (applied to row values). When that's
impossible, pass ``py_fn=`` for the interpreter / ``expr_fn=`` for the
compiler explicitly. Passing ONLY ``py_fn`` marks the stage
interpreter-only (the compiler raises CompileError instead of applying a
Python-only function to a Column).

CAVEAT — operators whose Python and Spark-SQL semantics differ must NOT
use the one-lambda style: ``%`` on negative operands is the canonical
trap (Python: sign of divisor, -7 % 3 == 2; Spark/Rust: remainder keeps
the dividend's sign, -7 % 3 == -1 — the REFERENCE semantics, since rspl
is Rust). For such operators pass an explicit pair, e.g.
``expr_fn=lambda c: F.pmod(c, 3)`` with the matching ``py_fn``, or accept
that only the compiled path mirrors the reference.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from rspl_spark.dsl.core import Get, Put, StreamProcessor


class MapSP(StreamProcessor):
    """map(f): 1-in/1-out transform (src/combinators.rs:205-212)."""

    def __init__(self, fn: Callable[[Any], Any], expr_fn=None, py_fn=None):
        self.fn = fn
        # py_fn-only marks the stage interpreter-only: expr_fn is None
        # and the compiler raises CompileError (a Python-only function
        # applied to a Column raises TypeError mid-compile otherwise,
        # which callers cannot distinguish from a real bug)
        self.expr_fn = expr_fn if expr_fn is not None else (None if py_fn is not None else fn)
        self.py_fn = py_fn or fn

    def step(self) -> StreamProcessor:
        return Get(lambda a: Put(self.py_fn(a), lambda: self))

    def feed(self, values: list) -> tuple[list, StreamProcessor]:
        f = self.py_fn
        return [f(a) for a in values], self


class FilterSP(StreamProcessor):
    """filter(p): drop failing elements (src/combinators.rs:143-154)."""

    def __init__(self, pred: Callable[[Any], Any], expr_fn=None, py_fn=None):
        self.pred = pred
        self.expr_fn = expr_fn if expr_fn is not None else (None if py_fn is not None else pred)
        self.py_fn = py_fn or pred

    def step(self) -> StreamProcessor:
        def cont(a):
            if self.py_fn(a):
                return Put(a, lambda: self)
            return self.step()

        return Get(cont)

    def feed(self, values: list) -> tuple[list, StreamProcessor]:
        p = self.py_fn
        return [a for a in values if p(a)], self


class ComposeSP(StreamProcessor):
    """compose(sp1, sp2): pipe sp1's output into sp2 (src/combinators.rs:97-121).

    ``step`` implements the reference's fusion loop: a Put from sp1 meeting
    a Get in sp2 transfers the element synchronously — the intermediate
    stream is never materialized (src/combinators.rs:101-120).
    """

    def __init__(self, sp1: StreamProcessor, sp2: StreamProcessor):
        self.sp1 = sp1
        self.sp2 = sp2

    def step(self) -> StreamProcessor:
        # DOCUMENTED DEVIATION from the reference's branch order
        # (src/combinators.rs:101-120 inspects sp1 first; we inspect sp2
        # first). On infinite streams — the only streams the reference can
        # express — both orders produce identical output values; they
        # differ only in INPUT DEMAND, which finite prefixes observe:
        #
        # - reference order: a Get upstream blocks a pending Put
        #   downstream, so at input exhaustion trailing outputs sit
        #   unemitted in the term (prefix-correct but non-maximal).
        # - this order (downstream-first): a Put whose value provably
        #   does not depend on future input is emitted immediately —
        #   the denotational extension to finite inputs (every infinite
        #   extension of the input shares this output prefix), and the
        #   behavior micro-batch residuals rely on (run_prefix drains
        #   all available outputs at each batch boundary).
        #
        # Consequence (pinned in test_compose_put_only_downstream_*):
        # compose(map(f), generate(..)) over an EMPTY input emits
        # generate's (input-independent) output here, where the
        # reference's operational semantics would demand input first and
        # produce nothing. Consumers must take()-bound Put-only terms.
        sp1, sp2 = self.sp1, self.sp2
        while True:
            s2 = sp2.step()
            if isinstance(s2, Put):
                # Downstream can emit without touching upstream ("late
                # tail": output never blocked by input, src/lib.rs:256-260).
                return Put(s2.value, lambda s2=s2, sp1=sp1: ComposeSP(sp1, s2.lazy_tail()))
            s1 = sp1.step()
            if isinstance(s1, Put):
                # Fusion: hand s1's element straight to s2's continuation.
                sp1, sp2 = s1.lazy_tail(), s2.cont(s1.value)
                continue
            # capture the already-stepped s2 (Get.step is identity), not
            # the raw sp2: re-stepping a deep downstream chain on every
            # input element would cost O(pipeline depth) per element
            return Get(lambda a, s1=s1, s2=s2: ComposeSP(s1.cont(a), s2))

    def feed(self, values: list) -> tuple[list, StreamProcessor]:
        # The whole chunk through sp1, then its outputs through sp2: the
        # same outputs as the element-wise fusion loop, since sp2 sees the
        # same input sequence, and both residuals have drained their Puts.
        mid, r1 = self.sp1.feed(values)
        outs, r2 = self.sp2.feed(mid)
        return outs, ComposeSP(r1, r2)


class AlternateSP(StreamProcessor):
    """alternate(sp1, sp2): per-output-element round-robin
    (src/combinators.rs:31-41). sp1 consumes input until it emits once,
    then control passes to sp2 with sp1's continuation saved."""

    def __init__(self, sp1: StreamProcessor, sp2: StreamProcessor):
        self.sp1 = sp1
        self.sp2 = sp2

    def step(self) -> StreamProcessor:
        s1 = self.sp1.step()
        if isinstance(s1, Put):
            return Put(s1.value, lambda: AlternateSP(self.sp2, s1.lazy_tail()))
        return Get(lambda a: AlternateSP(s1.cont(a), self.sp2))


class BindSP(StreamProcessor):
    """bind(sp, f): run sp until its FIRST emission, feed that value to f
    to select the processor for the whole remaining stream; the value
    itself is NOT emitted (src/combinators.rs:43-73)."""

    def __init__(self, sp: StreamProcessor, f: Callable[[Any], StreamProcessor]):
        self.sp = sp
        self.f = f

    def step(self) -> StreamProcessor:
        # Iterative, not recursive: a chain of Put-headed binds (the
        # FSM-states-as-binds pattern) must not grow the Python stack —
        # each selection continues the LOOP, preserving core.py's
        # trampolined stack-safety contract. A term whose selections
        # never reach a Get or a non-bind processor is semantically
        # divergent and loops here (as it would in the reference).
        sp, f = self.sp, self.f
        while True:
            s = sp.step()
            if isinstance(s, Put):
                nxt = f(s.value)
                if isinstance(nxt, BindSP):
                    sp, f = nxt.sp, nxt.f
                    continue
                return nxt.step()
            return Get(lambda a, s=s, f=f: BindSP(s.cont(a), f))


class GenerateSP(StreamProcessor):
    """generate(body, state): pure unfold — ignore input, emit the
    state-passing iteration of ``body`` (src/combinators.rs:156-183).

    ``index_expr``, if given, is a closed form ``seq -> value`` (as a
    Column lambda) letting the compiler lower this to ``spark.range``.
    """

    def __init__(self, body: Callable[[Any], tuple], state: Any, index_expr=None):
        self.body = body
        self.state = state
        self.index_expr = index_expr

    def step(self) -> StreamProcessor:
        b, s2 = self.body(self.state)
        return Put(b, lambda: GenerateSP(self.body, s2, self.index_expr))


class PacedGenerateSP(StreamProcessor):
    """Demand-paced unfold: one input element consumed per emission —
    the streaming form of the reference's demand-driven generators
    (tests/demands.rs, hics MeasureOnDemand examples/hics.rs:69-98),
    where each consumer ``tail()`` forces exactly one state-passing
    iteration. In Spark the "demand" stream is any ticking source (rate
    source, unit rows); a plain ``GenerateSP`` would emit unboundedly
    within one micro-batch."""

    def __init__(self, body: Callable[[Any], tuple], state: Any):
        self.body = body
        self.state = state

    def step(self) -> StreamProcessor:
        def cont(_demand):
            b, s2 = self.body(self.state)
            return Put(b, lambda: PacedGenerateSP(self.body, s2))

        return Get(cont)

    def feed(self, values: list) -> tuple[list, StreamProcessor]:
        body, state = self.body, self.state
        outs = []
        for _ in values:
            b, state = body(state)
            outs.append(b)
        return outs, PacedGenerateSP(body, state)


def paced_generate(body: Callable[[Any], tuple], state: Any) -> PacedGenerateSP:
    return PacedGenerateSP(body, state)


def map_sp(fn, expr_fn=None, py_fn=None) -> MapSP:
    return MapSP(fn, expr_fn=expr_fn, py_fn=py_fn)


def filter_sp(pred, expr_fn=None, py_fn=None) -> FilterSP:
    return FilterSP(pred, expr_fn=expr_fn, py_fn=py_fn)


def compose(sp1: StreamProcessor, sp2: StreamProcessor) -> ComposeSP:
    return ComposeSP(sp1, sp2)


def alternate(sp1: StreamProcessor, sp2: StreamProcessor) -> AlternateSP:
    return AlternateSP(sp1, sp2)


def bind(sp: StreamProcessor, f: Callable[[Any], StreamProcessor]) -> BindSP:
    return BindSP(sp, f)


def generate(body: Callable[[Any], tuple], state: Any, index_expr=None) -> GenerateSP:
    return GenerateSP(body, state, index_expr)
