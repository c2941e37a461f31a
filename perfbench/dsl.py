"""``dsl_interpret``: one rspl term run per key through ``interpret_batch``.

The seeded event stream (``perfbench.events``) is written once per run to
a parquet file in the build directory and interpreted repeatedly with the
fixed term ``compose(map_sp(decode), account_fsm())``. Each measured job
builds the grouped map and writes it to the noop sink. The driver-side
``run_prefix`` over each key's stream is both the correctness reference
and the ``dsl.core`` layer: the single-threaded run of the same job.

A traced run then also runs the same term incrementally, per key across
Structured Streaming micro-batches (``perfbench.mealy``), to split the
streaming layers; untraced runs do not, so it moves no end-to-end metric.
"""

from __future__ import annotations

import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import Outcome, events
from perfbench.common import SparkAccounting, last_sql_size_metrics, median

N_EVENTS = 200_000
N_KEYS = 1000
ZIPF_S = 1.3
SETUPS = 3
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _job(spark, df):
    from rspl_spark.dsl.interpreter import interpret_batch

    return interpret_batch(events.term(), df, "double", key_col="key")


def _measure(ctx, acct, spark, df, seconds: float, traced: bool) -> tuple[list[dict], float]:
    ops: list[dict] = []
    t0 = time.perf_counter()
    while not ops or time.perf_counter() - t0 < seconds:
        if not traced:
            a = time.perf_counter()
            _job(spark, df).write.format("noop").mode("overwrite").save()
            ops.append({"latency_s": time.perf_counter() - a})
            continue
        tr = ctx.tracer
        with tr.span("job") as j:
            with tr.span("build") as b:
                out = _job(spark, df)
            with acct.group("dsl_interpret") as gid, tr.span("exec") as e:
                out.write.format("noop").mode("overwrite").save()
        op = {"latency_s": j["end"] - j["start"], "build_s": b["end"] - b["start"],
              "exec_s": e["end"] - e["start"]}
        op.update(acct.stats(gid))
        py = last_sql_size_metrics(spark, PY_BYTES)
        op.update(py_sent=py[PY_BYTES[0]], py_returned=py[PY_BYTES[1]])
        ops.append(op)
    return ops, time.perf_counter() - t0


def _stream_pass(ctx, spark) -> dict:
    from perfbench import mealy

    n = int(mealy.OFFERED_RATE * (ctx.seconds + 2 * mealy.CHUNK_S))
    # a seed of its own, so the batch input is the same in traced runs
    ev = events.make_events(ctx.seed + 2**32, n, N_KEYS, ZIPF_S)
    with ctx.tracer.span("stream_pass"):
        return mealy.run_stream(ctx, spark, ev)


def run(ctx) -> Outcome:
    from perfbench.metrics import zero_layers

    ev = events.make_events(ctx.seed, N_EVENTS, N_KEYS, ZIPF_S)
    path = ctx.path("dsl-events.parquet")
    pq.write_table(pa.table(ev), path)
    per_key = events.per_key_values(ev)
    with ctx.tracer.span("dsl.core"):
        t0 = time.perf_counter()
        want = events.reference_outputs(per_key)
        eval_s = time.perf_counter() - t0
    rows_out = sum(len(v) for v in want.values())

    setups, wrong_keys, wrong_jobs = [], 0, 0
    for k in range(SETUPS):
        with ctx.tracer.span("setup", k=k):
            t0 = time.perf_counter()
            spark = ctx.open_session(k)
            df = spark.read.parquet(path)
            pdf = _job(spark, df).toPandas()
            setups.append(time.perf_counter() - t0)
        bad = events.mismatched_keys(pdf, want)
        wrong_keys += bad
        wrong_jobs += bad > 0

    acct = SparkAccounting(spark) if ctx.trace else None
    plain_p50, stream = None, None
    if ctx.trace:  # untraced jobs first: the base of trace.overhead_share
        plain, _ = _measure(ctx, acct, spark, df, ctx.seconds / 2, False)
        plain_p50 = median([op["latency_s"] for op in plain])
    ops, wall = _measure(ctx, acct, spark, df, ctx.seconds, ctx.trace)
    lat = [op["latency_s"] for op in ops]

    L = zero_layers()
    L["dsl.core.eval_s"] = eval_s
    L["dsl.core.rows_in"] = N_EVENTS
    L["dsl.core.rows_out"] = rows_out
    L["dsl.core.rows_per_s"] = N_EVENTS / eval_s
    if ctx.trace:
        def med(key: str) -> float:
            return median([op[key] for op in ops])

        L["interpreter.build_s"] = med("build_s")
        L["interpreter.job_s"] = med("latency_s")
        L["spark.exec_s"] = med("exec_s")
        for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes", "task_skew_max"):
            L[f"spark.{key}"] = med(key)
        L["spark.core_busy_share"] = L["spark.executor_run_s"] / (L["spark.exec_s"] * ctx.cpus)
        L["interpreter.eval_share"] = eval_s / L["spark.executor_run_s"]
        L["interpreter.python_bytes_sent"] = med("py_sent")
        L["interpreter.python_bytes_returned"] = med("py_returned")
        L["trace.overhead_share"] = median(lat) / plain_p50 - 1.0
        stream = _stream_pass(ctx, spark)
        L.update(stream.pop("layers"))

    attempted, failed = SETUPS + len(ops), wrong_jobs
    if stream:
        attempted += stream["chunks"]
        if stream["wrong_keys"] or not stream["sustainable"]:
            print(f"# dsl_interpret: streaming pass failed {stream}", file=sys.stderr)
            failed += stream["chunks"]
    if wrong_keys:
        print(f"# dsl_interpret: {wrong_keys} keys differ from the reference", file=sys.stderr)
    counts = np.unique(ev["key"], return_counts=True)[1]
    return Outcome(
        correct=wrong_keys == 0 and not (stream and stream["wrong_keys"]),
        attempted=attempted,
        failed=failed,
        e2e={
            "setup_s": median(setups),
            "throughput_per_s": N_EVENTS * len(ops) / wall,
            "latency_p50_s": median(lat),
        },
        layers=L,
        detail={
            "setup_s": setups,
            "job_latency_s": lat,
            "input": {"events": N_EVENTS, "keys": N_KEYS, "keys_present": int(len(counts)),
                      "zipf_s": ZIPF_S, "hot_key_share": float(counts.max() / N_EVENTS)},
            "wrong_keys": wrong_keys,
            "stream": stream,
        },
    )
