"""``headline_sql``: the batch SQL path, 13 registry queries at sf0.1.

The query list is the benchmark's own, so editing ``bench.py`` cannot
change this workload. Inputs are the repository's synthetic sf0.1 tables
(``tools/gen_scale_data.py``, seed 42), built once per checkout under
``.bench_build/``; each query's DuckDB oracle result is hashed at the same
time. The run seed only permutes the query order of each round.

Set-up is done three times: each set-up opens a session and runs a third
of the queries for the first time, collecting their results, which are
checked against the oracle outside the timer. The measured rounds time
``fn(spark, sf_dir)`` plus a noop write per query, after clearing the
cache; ``count()`` is not used because Catalyst can prune it hollow.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import random
import shutil
import sys
import time
import traceback

from perfbench import Outcome
from perfbench.common import SparkAccounting, median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q_rollup",
    "q_window_running",
    "q_asof_join",
    "q_sessionize",
    "q_minhash_lsh_pairs",
    "q_cosine_topk_bruteforce",
    "q_tfidf_top_terms",
    "q_dsl_map_filter",
)

# One set-up per group; the groups take about the same steady-state time.
SETUP_GROUPS = (
    ("q1_pricing_summary", "q_tfidf_top_terms", "q3_shipping_priority", "q6_forecast_revenue"),
    ("q_sessionize", "q_cosine_topk_bruteforce", "q10_returned_items", "q_dsl_map_filter", "q_rollup"),
    ("q_window_running", "q5_local_supplier", "q_asof_join", "q_minhash_lsh_pairs"),
)

SF = 0.1
DATA_SEED = 42


def _load_tool(name: str):
    path = os.path.join(ROOT, "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"perfbench_tool_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def ensure_data(ctx, reg) -> tuple[str, dict]:
    """sf0.1 tables plus the oracle's canonical result hashes, built once
    per checkout. The directory name carries a digest of the generator and
    the oracle SQL, so a change to either builds afresh."""
    gen_path = os.path.join(ROOT, "tools", "gen_scale_data.py")
    h = hashlib.sha256()
    with open(gen_path, "rb") as f:
        h.update(f.read())
    for q in HEADLINE:
        h.update(q.encode() + b"\0" + (reg[q].oracle or "").encode() + b"\0")
    d = ctx.path(f"sf{SF:g}-{h.hexdigest()[:12]}")
    oracle_file = os.path.join(d, "oracle.json")
    if not os.path.isfile(oracle_file):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)
        _load_tool("gen_scale_data").generate(SF, tmp, seed=DATA_SEED)
        hashes = _oracle_hashes(ctx, reg, tmp)
        with open(os.path.join(tmp, "oracle.json"), "w") as f:
            json.dump(hashes, f, indent=1, sort_keys=True)
        os.replace(tmp, d)
    with open(oracle_file) as f:
        return d, json.load(f)


def _oracle_hashes(ctx, reg, sf_dir: str) -> dict:
    import duckdb

    co = _load_tool("check_oracle")
    con = duckdb.connect()
    try:
        spill = ctx.path("duckdb-spill")
        os.makedirs(spill, exist_ok=True)
        con.sql(f"SET temp_directory='{spill}'")
        con.sql(f"SET threads={ctx.cpus}")
        con.sql("SET memory_limit='2GB'")
        from rspl_spark.catalog import TABLES

        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for q in HEADLINE:
            c = co.canon(con.sql(reg[q].oracle).df())
            out[q] = {"rows": len(c), "cols": list(c.columns), "hash": co.value_hash(c)}
        return out
    finally:
        con.close()


def _check(co, pdf, want: dict) -> str | None:
    """None when the Spark result matches the oracle, else why not."""
    c = co.canon(pdf)
    if len(c) != want["rows"]:
        return f"rows {len(c)} != {want['rows']}"
    if list(c.columns) != want["cols"]:
        return f"columns {list(c.columns)} != {want['cols']}"
    if co.value_hash(c) != want["hash"]:
        return "value hash differs"
    return None


def _run_query(ctx, acct, spark, fn, q: str, sf_dir: str, traced: bool) -> dict:
    """One timed execution. Untraced: build plus noop write, nothing else.
    Traced: build, a Catalyst planning pass and the write as spans, with
    the write's jobs read from the status store afterwards."""
    spark.catalog.clearCache()
    if not traced:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return {"latency_s": time.perf_counter() - t0}
    tr = ctx.tracer
    with tr.span("query", query=q) as qs:
        with tr.span("build") as b:
            df = fn(spark, sf_dir)
        with tr.span("plan") as p:
            df._jdf.queryExecution().executedPlan()
        with acct.group(q) as gid, tr.span("exec") as e:
            df.write.format("noop").mode("overwrite").save()
    op = {
        "latency_s": qs["end"] - qs["start"],
        "build_s": b["end"] - b["start"],
        "plan_s": p["end"] - p["start"],
        "exec_s": e["end"] - e["start"],
    }
    op.update(acct.stats(gid))
    return op


def _rounds(ctx, acct, spark, reg, sf_dir, rng, seconds: float, failures: list,
            traced: bool) -> tuple[list, float]:
    """Whole rounds until ``seconds`` have passed (at least one round)."""
    rounds: list[dict[str, dict]] = []
    t0 = time.perf_counter()
    while not rounds or time.perf_counter() - t0 < seconds:
        order = list(HEADLINE)
        rng.shuffle(order)
        with ctx.tracer.span("round", order=order):
            done = {}
            for q in order:
                try:
                    done[q] = _run_query(ctx, acct, spark, reg[q].fn, q, sf_dir, traced)
                except Exception:  # noqa: BLE001 - a failed query is counted, the run goes on
                    traceback.print_exc()
                    failures.append(q)
        rounds.append(done)
    return rounds, time.perf_counter() - t0


def _layers(ctx, rounds: list[dict[str, dict]], untraced_round_s: float, traced_wall: float) -> dict:
    from perfbench.metrics import zero_layers

    L = zero_layers()
    for q in HEADLINE:
        for k in ("build_s", "plan_s", "exec_s"):
            L[f"q.{q}.{k}"] = median([r[q][k] for r in rounds if q in r])

    def per_round(key: str) -> float:
        return median([sum(op[key] for op in r.values()) for r in rounds])

    L["queries.build_s"] = per_round("build_s")
    L["catalyst.plan_s"] = per_round("plan_s")
    L["spark.exec_s"] = per_round("exec_s")
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        L[f"spark.{k}"] = per_round(k)
    L["spark.task_skew_max"] = max(op["task_skew_max"] for r in rounds for op in r.values())
    L["spark.core_busy_share"] = L["spark.executor_run_s"] / (L["spark.exec_s"] * ctx.cpus)
    L["trace.overhead_share"] = (traced_wall / len(rounds)) / untraced_round_s - 1.0
    return L


def run(ctx) -> Outcome:
    from rspl_spark.catalog import load_all
    from rspl_spark.queries import load_registry

    reg = load_registry()
    with ctx.tracer.span("build_inputs"):
        sf_dir, oracle = ensure_data(ctx, reg)
    co = _load_tool("check_oracle")

    setups, wrong = [], {}
    for k, group in enumerate(SETUP_GROUPS):
        with ctx.tracer.span("setup", k=k):
            t0 = time.perf_counter()
            spark = ctx.open_session(k)
            results = {q: reg[q].fn(spark, sf_dir).toPandas() for q in group}
            setups.append(time.perf_counter() - t0)
        for q, pdf in results.items():
            why = _check(co, pdf, oracle[q])
            if why:
                wrong[q] = why
    # the measuring session reads every table once before the timer, like
    # a long-lived session would have
    load_all(spark, sf_dir)

    rng = random.Random(ctx.seed)
    acct = SparkAccounting(spark) if ctx.trace else None
    failures: list[str] = []
    untraced_round_s = None
    if ctx.trace:  # one untraced round first: the base of trace.overhead_share
        plain, plain_wall = _rounds(ctx, acct, spark, reg, sf_dir, rng, 0.0, failures, False)
        untraced_round_s = plain_wall / len(plain)
    rounds, wall = _rounds(ctx, acct, spark, reg, sf_dir, rng, ctx.seconds, failures, ctx.trace)

    lat = [op["latency_s"] for r in rounds for op in r.values()]
    e2e = {
        "setup_s": median(setups),
        "throughput_per_s": len(lat) / wall,
        "latency_p50_s": median(lat),
    }
    if ctx.trace:
        layers = _layers(ctx, rounds, untraced_round_s, wall)
    else:
        from perfbench.metrics import zero_layers

        layers = zero_layers()
    if wrong:
        print(f"# headline_sql: wrong results {wrong}", file=sys.stderr)
    n_checked = sum(len(g) for g in SETUP_GROUPS)
    return Outcome(
        correct=not wrong,
        attempted=n_checked + len(lat) + len(failures),
        failed=len(wrong) + len(failures),
        e2e=e2e,
        layers=layers,
        detail={
            "setup_s": setups,
            "rounds": len(rounds),
            "queries_per_s": len(lat) / wall,
            "latency_s": {q: [r[q]["latency_s"] for r in rounds if q in r] for q in HEADLINE},
            "wrong": wrong,
            "failed_queries": failures,
            "sf_dir": os.path.relpath(sf_dir, ROOT),
        },
    )
