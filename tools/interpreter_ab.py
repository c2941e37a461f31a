"""Interleaved A/B of ``interpret_batch`` between two checkouts, with the
Python-boundary floors beneath it.

    python tools/interpreter_ab.py --a OTHER_CHECKOUT --b . \\
        --events 200000 1000000 --pairs 5 --out docs/bench/NAME.json

Input is the keyed event stream of perfbench's ``dsl_interpret`` workload
(1000 Zipf(1.3) keys, seed 2), written once per size to parquet under
``--work``; the term is that workload's ``compose(map_sp(decode),
account_fsm())``. Each pair runs checkout A and checkout B, alternating
which goes first, each in a fresh Python process and JVM that imports
``rspl_spark`` from its checkout. A worker runs one warm-up job, checks
its output per key against the driver-side ``run_prefix`` reference,
then times ``--jobs`` noop-sink jobs and reports their median. The floors
(same input, same partition count, identity Python function) are timed
in the B workers: shuffle only, identity ``applyInPandas``, identity
grouped ``applyInArrow`` and identity sorted-partition ``mapInArrow``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_KEYS, ZIPF_S, SEED = 1000, 1.3, 2


def _timed(make, jobs: int) -> float:
    make().write.format("noop").mode("overwrite").save()  # warm-up
    times = []
    for _ in range(jobs):
        t0 = time.perf_counter()
        make().write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def worker(data: str, jobs: int, floors: bool) -> dict:
    """Runs inside the checkout under test (it is first on sys.path)."""
    import pyarrow.parquet as pq

    from perfbench import events
    from rspl_spark.dsl.interpreter import interpret_batch
    from rspl_spark.session import get_spark, grouped_map_parallelism

    spark = get_spark("interpreter-ab")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(data)
    table = pq.read_table(data)
    ev = {c: table[c].to_numpy() for c in ("key", "seq", "value")}
    want = events.reference_outputs(events.per_key_values(ev))
    job = lambda: interpret_batch(events.term(), df, "double", key_col="key")  # noqa: E731
    res = {
        "wrong_keys": events.mismatched_keys(job().toPandas(), want),
        "interpret_s": _timed(job, jobs),
    }
    if floors:
        n = grouped_map_parallelism(spark)
        shuffled = lambda: df.repartition(n, "key")  # noqa: E731
        schema = df.schema
        res["floors_s"] = {
            "shuffle_only": _timed(shuffled, jobs),
            "identity_applyInPandas": _timed(
                lambda: shuffled().groupBy("key").applyInPandas(lambda p: p, schema), jobs),
            "identity_grouped_applyInArrow": _timed(
                lambda: shuffled().groupBy("key").applyInArrow(lambda t: t, schema), jobs),
            "identity_sorted_mapInArrow": _timed(
                lambda: shuffled().sortWithinPartitions("key", "seq")
                .mapInArrow(lambda it: it, schema), jobs),
        }
    spark.stop()
    return res


def _run_worker(repo: str, data: str, jobs: int, floors: bool) -> dict:
    env = dict(os.environ, PYTHONPATH=os.path.abspath(repo))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    cmd = [sys.executable, os.path.abspath(__file__), "--worker", data, "--jobs", str(jobs)]
    out = subprocess.run(cmd + (["--floors"] if floors else []), env=env,
                         cwd=os.path.abspath(repo), capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--a", required="--worker" not in sys.argv, help="checkout A (e.g. the parent commit)")
    ap.add_argument("--b", default=ROOT, help="checkout B (default: this one)")
    ap.add_argument("--events", type=int, nargs="+", default=[200_000])
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--jobs", type=int, default=5)
    ap.add_argument("--work", default="/tmp/interpreter-ab")
    ap.add_argument("--out")
    ap.add_argument("--worker", help=argparse.SUPPRESS)
    ap.add_argument("--floors", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker:
        print(json.dumps(worker(args.worker, args.jobs, args.floors)))
        return

    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, ROOT)
    from perfbench import events

    os.makedirs(args.work, exist_ok=True)
    report = {"cpus": os.environ.get("SPARK_GRAFT_CPUS"), "host_cpus": os.cpu_count(),
              "keys": N_KEYS, "zipf_s": ZIPF_S, "seed": SEED, "jobs_per_worker": args.jobs,
              "stat": "median noop-sink job seconds per worker", "sizes": {}}
    for n in args.events:
        data = os.path.join(args.work, f"events-{n}.parquet")
        pq.write_table(pa.table(events.make_events(SEED, n, N_KEYS, ZIPF_S)), data)
        runs = {"a": [], "b": [], "floors": []}
        for p in range(args.pairs):
            for side in ("ab" if p % 2 == 0 else "ba"):
                r = _run_worker(getattr(args, side), data, args.jobs, side == "b")
                if r["wrong_keys"]:
                    raise SystemExit(f"{side} at {n} events: {r['wrong_keys']} keys wrong")
                runs[side].append(r["interpret_s"])
                if side == "b":
                    runs["floors"].append(r["floors_s"])
                print(f"# {n} pair {p} {side}: {r}", file=sys.stderr)
        a, b = statistics.median(runs["a"]), statistics.median(runs["b"])
        report["sizes"][str(n)] = {
            "a_s": runs["a"], "b_s": runs["b"], "a_median_s": a, "b_median_s": b,
            "b_speedup": a / b,
            "floors_median_s": {k: statistics.median(f[k] for f in runs["floors"])
                                for k in runs["floors"][0]},
            "floors_s": runs["floors"],
        }
    print(json.dumps(report, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
