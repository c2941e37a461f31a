"""StreamProcessor ADT + trampolined evaluator.

Mirrors the reference's term language (src/lib.rs:188-199):

- ``Get(cont)``  — consume one input element, choose the continuation from
  it (src/lib.rs:193, ctor :204-209). Reactive / event-driven.
- ``Put(value, lazy_tail)`` — emit one output element, continue lazily
  WITHOUT consuming input (src/lib.rs:198, ctor :213-219). Generative.

``eval_sp`` is the interpreter (src/lib.rs:249-285): a trampolined loop
(never Python recursion — the reference is explicit about stack safety,
src/lib.rs:253-256) that

- drains consecutive ``Get``s eagerly (src/lib.rs:265-268),
- takes the input tail *as late as possible* so ``Put``s are never blocked
  by input (src/lib.rs:256-260) — output availability must not depend on
  future input ("late tail" rule),
- yields outputs lazily (a Python generator ≈ the lazy InfiniteList result,
  src/lib.rs:271-282).

Streams here are Python iterables. The reference's streams are necessarily
infinite; finite iterators get prefix semantics — evaluation stops when a
``Get`` finds the input exhausted (the reference's termination-by-consumer,
src/streams/mod.rs:41-52).

``run_prefix`` is the specification of incremental evaluation: the outputs
of a finite prefix and the residual term that resumes after it.
``StreamProcessor.feed(values)`` is the chunk protocol that callers use
instead (the interpreter per key run, the streaming Mealy runtime per
micro-batch); its contract is exactly ``run_prefix``'s and its default body
is ``run_prefix`` itself. Nodes that can take a whole chunk at once override
it where that is exact and cheap — map and filter as one comprehension,
compose by feeding its upstream's chunk output to its downstream, paced
generate as one body step per input — and every other node keeps the
stepwise trampoline. Two caveats follow from evaluating a chunk stage by
stage rather than element by element:

- ``py_fn`` must be pure: a compose runs its upstream over the whole chunk
  before its downstream sees the first element, so side effects interleave
  differently than under stepwise evaluation.
- When two stages would both raise on a chunk, the exception surfaced may
  come from a different stage than stepwise evaluation would raise (the
  upstream's, from a later element).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any


class StreamProcessor:
    """Base class; a term denotes Stream[A] -> Stream[B]."""

    def step(self) -> "StreamProcessor":
        """Unfold one step to a plain Get or Put (identity for them).

        Structured combinator nodes override this; ``eval_sp`` and the
        interpreter only ever see Get/Put through it.
        """
        return self

    def eval(self, stream: Iterable[Any]) -> Iterator[Any]:
        return eval_sp(self, stream)

    def feed(self, values: list) -> tuple[list, "StreamProcessor"]:
        """Run a finite chunk of input: (outputs, residual term), exactly
        as ``run_prefix(self, values)``. Nodes override this only where a
        whole chunk can be evaluated at once with the same result."""
        return run_prefix(self, values)


class Get(StreamProcessor):
    __slots__ = ("cont",)

    def __init__(self, cont: Callable[[Any], StreamProcessor]):
        self.cont = cont


class Put(StreamProcessor):
    __slots__ = ("value", "lazy_tail")

    def __init__(self, value: Any, lazy_tail: Callable[[], StreamProcessor]):
        self.value = value
        self.lazy_tail = lazy_tail


def get(cont: Callable[[Any], StreamProcessor]) -> Get:
    return Get(cont)


def put(value: Any, lazy_tail: Callable[[], StreamProcessor]) -> Put:
    return Put(value, lazy_tail)


def run_prefix(sp: StreamProcessor, values: Iterable[Any]) -> tuple[list, StreamProcessor]:
    """Feed a finite prefix through ``sp``; return (outputs, residual term).

    The incremental form of ``eval_sp`` used by the streaming layer: the
    residual term is the exact continuation state after consuming the
    prefix (Puts are drained first, per the late-tail rule), so evaluation
    resumes seamlessly on the next micro-batch — the Spark analog of the
    reference's blocking ``tail()`` on a channel
    (src/streams/overeager_receivers.rs:41-49).
    """
    outs: list = []
    it = iter(values)
    while True:
        s = sp.step()
        if isinstance(s, Put):
            outs.append(s.value)
            sp = s.lazy_tail()
            continue
        if isinstance(s, Get):
            try:
                a = next(it)
            except StopIteration:
                return outs, s
            sp = s.cont(a)
            continue
        raise TypeError(f"not a StreamProcessor step: {s!r}")  # pragma: no cover


def eval_sp(sp: StreamProcessor, stream: Iterable[Any]) -> Iterator[Any]:
    """Trampolined interpreter (src/lib.rs:249-285). Yields the output
    stream lazily; never recurses."""
    it = iter(stream)
    while True:
        sp = sp.step()
        if isinstance(sp, Get):
            # Eager consecutive-Get draining (src/lib.rs:265-268).
            try:
                a = next(it)
            except StopIteration:
                return
            sp = sp.cont(a)
        elif isinstance(sp, Put):
            # Output before any further input demand (src/lib.rs:256-260).
            yield sp.value
            sp = sp.lazy_tail()
        else:  # pragma: no cover
            raise TypeError(f"not a StreamProcessor step: {sp!r}")
