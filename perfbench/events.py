"""Seeded keyed event stream and the rspl term both DSL workloads run.

The stream follows the event-driven pattern of the reference's
``tests/events.rs``: each key is one totally ordered sub-stream of
``signup`` / ``error`` / ``other`` events carrying a double amount. Keys
are Zipf-distributed, so the hottest key's sub-stream sets the length of
the slowest grouped-map task. Key names are fixed by popularity rank
(``k0000`` is always the hottest), so a seed changes the events but not
which Spark partition the heavy keys hash to.

The event kind and amount travel in one double column (``value``), the
shape ``interpret_batch`` and ``run_mealy`` consume: ``kind * 1000 +
amount`` with ``0 <= amount < 100``. The term's first stage decodes it.
"""

from __future__ import annotations

from bisect import bisect_right

import numpy as np

from rspl_spark.dsl import Get, Put, compose, map_sp
from rspl_spark.dsl.core import StreamProcessor, run_prefix

SIGNUP, ERROR, OTHER = 0, 1, 2
KIND_P = (0.05, 0.05, 0.90)


def key_name(rank: int) -> str:
    return f"k{rank:04d}"


def zipf_weights(n_keys: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    return w / w.sum()


def make_events(seed: int, n: int, n_keys: int, zipf_s: float) -> dict[str, np.ndarray]:
    """``n`` events in global ``seq`` order: columns key, seq, value."""
    rng = np.random.default_rng(seed)
    ranks = rng.choice(n_keys, size=n, p=zipf_weights(n_keys, zipf_s))
    kinds = rng.choice(3, size=n, p=KIND_P)
    amounts = np.round(rng.uniform(0.0, 100.0, n), 2)
    names = np.array([key_name(r) for r in range(n_keys)])
    return {
        "key": names[ranks],
        "seq": np.arange(n, dtype=np.int64),
        "value": kinds * 1000.0 + amounts,
    }


def decode(v: float) -> tuple[int, float]:
    kind = int(v // 1000.0)
    return kind, v - 1000.0 * kind


def account_fsm() -> StreamProcessor:
    """Two-state Mealy machine, one output per input event.

    ``anon`` emits 0 (or -1 on an error) until a signup; ``active``
    emits the running total of amounts since the signup and drops back
    to ``anon`` on an error, emitting the negated total."""

    def anon() -> StreamProcessor:
        def on(ev):
            kind, amount = ev
            if kind == SIGNUP:
                return Put(amount, lambda: active(amount))
            return Put(-1.0 if kind == ERROR else 0.0, anon)

        return Get(on)

    def active(total: float) -> StreamProcessor:
        def on(ev):
            kind, amount = ev
            if kind == ERROR:
                return Put(-total, anon)
            nxt = total + amount
            return Put(nxt, lambda: active(nxt))

        return Get(on)

    return anon()


def term() -> StreamProcessor:
    """``compose(map_sp(decode), account_fsm())``: a fresh term per key."""
    return compose(map_sp(decode), account_fsm())


def per_key_values(events: dict[str, np.ndarray]) -> dict[str, list[float]]:
    """Each key's values in ``seq`` order (events are generated in seq order)."""
    order = np.argsort(events["key"], kind="stable")
    keys = events["key"][order]
    vals = events["value"][order]
    bounds = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [len(keys)]])
    return {str(keys[s]): vals[s:e].tolist() for s, e in zip(starts, ends)}


def reference_outputs(per_key: dict[str, list[float]]) -> dict[str, list[float]]:
    """The driver-side single-threaded run of the same job: ``run_prefix``
    over each key's whole sub-stream."""
    return {k: run_prefix(term(), vals)[0] for k, vals in per_key.items()}


def mismatched_keys(pdf, want: dict[str, list[float]]) -> int:
    """Keys whose outputs in ``pdf`` (columns key, seq, value; seq the
    per-key output ordinal) differ from ``want``, compared in seq order."""
    got: dict[str, list[float] | None] = {}
    pdf = pdf.sort_values(["key", "seq"], kind="mergesort")
    for k, g in pdf.groupby("key", sort=False):
        seqs = g["seq"].tolist()
        got[k] = g["value"].tolist() if seqs == list(range(len(seqs))) else None
    return sum(1 for k in set(want) | set(got) if got.get(k) != want.get(k))


class ChunkIndex:
    """Maps an output ``(key, seq)`` back to the chunk its input came in.

    The term emits exactly one output per input, so a key's output
    ordinal ``n`` is its ``n``-th input event; with each chunk's per-key
    counts known, the event's chunk is found by bisecting the key's
    cumulative counts."""

    def __init__(self) -> None:
        self._cum: dict[str, list[int]] = {}
        self._chunk: dict[str, list[int]] = {}
        self.n_chunks = 0

    def add_chunk(self, keys: np.ndarray) -> int:
        """Register the next chunk's key column; returns its index."""
        idx = self.n_chunks
        uniq, counts = np.unique(keys, return_counts=True)
        for k, c in zip(uniq.tolist(), counts.tolist()):
            cum = self._cum.setdefault(k, [])
            cum.append((cum[-1] if cum else 0) + c)
            self._chunk.setdefault(k, []).append(idx)
        self.n_chunks += 1
        return idx

    def chunk_of(self, key: str, seq: int) -> int:
        cum = self._cum[key]
        i = bisect_right(cum, seq)
        if i == len(cum):
            raise KeyError(f"output {key}/{seq} has no input event")
        return self._chunk[key][i]
