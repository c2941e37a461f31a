"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import events
from perfbench.common import percentile, self_times, slope, supports_percentile
from perfbench.metrics import END_TO_END, per_layer_units

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert percentile(xs, 50) == 50.0
    assert percentile(xs, 90) == 90.0
    assert percentile(xs, 100) == 100.0
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_percentile_needs_ten_samples_beyond_it():
    assert supports_percentile(100, 90)      # 10 samples above the 90th
    assert not supports_percentile(99, 90)   # only 9
    assert supports_percentile(20, 50)
    assert not supports_percentile(19, 50)
    assert not supports_percentile(0, 50)


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_child_cover_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 5.0, 0),   # overlaps span 1: [1, 5] covered once
        _span(3, 9.0, 12.0, 0),  # runs past its parent: clipped to [9, 10]
        _span(4, 1.5, 2.5, 1),   # a grandchild does not count for span 0
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_slope():
    assert slope([(0.0, 1.0), (1.0, 3.0), (2.0, 5.0)]) == pytest.approx(2.0)
    assert slope([(0.0, 4.0)]) == 0.0


def test_chunk_index_maps_output_seq_to_input_chunk():
    idx = events.ChunkIndex()
    idx.add_chunk(np.array(["a", "b", "a"]))   # chunk 0: a#0 a#1 b#0
    idx.add_chunk(np.array(["b"]))             # chunk 1: b#1
    idx.add_chunk(np.array(["a", "a", "c"]))   # chunk 2: a#2 a#3 c#0
    assert [idx.chunk_of("a", n) for n in range(4)] == [0, 0, 2, 2]
    assert [idx.chunk_of("b", n) for n in range(2)] == [0, 1]
    assert idx.chunk_of("c", 0) == 2
    with pytest.raises(KeyError):
        idx.chunk_of("a", 4)


def test_term_is_one_output_per_input_and_chunking_free():
    """The latency mapping relies on one output per input; the streaming
    check relies on chunked evaluation equalling the whole-stream one."""
    from rspl_spark.dsl.core import run_prefix

    ev = events.make_events(7, 3000, 20, 1.3)
    per_key = events.per_key_values(ev)
    whole = events.reference_outputs(per_key)
    for k, vals in per_key.items():
        assert len(whole[k]) == len(vals)
        sp, outs = events.term(), []
        for lo in range(0, len(vals), 7):
            o, sp = run_prefix(sp, vals[lo:lo + 7])
            outs.extend(o)
        assert outs == whole[k]


def test_events_are_seeded_and_keys_fixed_by_rank():
    a = events.make_events(3, 5000, 100, 1.3)
    b = events.make_events(3, 5000, 100, 1.3)
    c = events.make_events(4, 5000, 100, 1.3)
    assert all(np.array_equal(a[k], b[k]) for k in a)
    assert not np.array_equal(a["value"], c["value"])
    for ev in (a, c):
        keys, counts = np.unique(ev["key"], return_counts=True)
        assert keys[np.argmax(counts)] == events.key_name(0)


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
    from perfbench import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
