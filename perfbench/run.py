"""Benchmark entry point.

    python3 perfbench/run.py --workload headline_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds its inputs under ``.bench_build/``
in that checkout, runs one workload on ``local[$SPARK_GRAFT_CPUS]``
(default: the CPUs this process may use), checks the outputs, and prints
one JSON object as the last line of standard output. With ``--trace 0``
it reports the end-to-end metrics; with ``--trace 1`` it reports the
per-layer split instead. Details (every sample, probes, the decisions the
program took) go to standard error and to ``.bench_build/perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Context:
    """What a workload needs from the harness: arguments, the build
    directory, the session factory and the tracer."""

    def __init__(self, args: argparse.Namespace, work: str, cpus: int) -> None:
        from perfbench.common import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cpus = cpus
        self.tracer = Tracer(self.trace, f"{args.workload}-{args.seed}")
        self.spark = None
        self.get_spark_s: list[float] = []

    def open_session(self, k: int):
        """Set-up ``k``: the first launches the JVM through the program's
        session factory; later ones open a new session on the same context."""
        t0 = time.perf_counter()
        if k == 0:
            from rspl_spark.session import get_spark

            self.spark = get_spark(f"perfbench-{self.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
        else:
            self.spark = self.spark.newSession()
        self.get_spark_s.append(time.perf_counter() - t0)
        return self.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _isolate(work: str, cpus: int) -> None:
    """Keep every file Spark, Python and the JVM write inside the checkout.
    Must run before pyspark launches the JVM."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local"), os.path.join(work, "warehouse")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    paths = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + paths if paths else "")
    # the heap is resident at its maximum from the start, so peak RSS does
    # not depend on when the JVM grows its heap or touches its pages
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    java_opts = (f"-Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
                 f" -Dderby.system.home={work}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "pyspark-shell",
    ])


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0))


def _metrics(values: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"workload did not report {missing}")
    return {n: {"value": float(values[n]), "unit": u} for n, u in units.items()}


def main(argv: list[str] | None = None) -> int:
    """Run one workload; on every way out, end the JVM and every other
    process the run started, and wait for them."""
    import signal

    # a SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    from perfbench.common import become_subreaper, reap_children, stop_jvm

    become_subreaper()
    try:
        return _main(argv)
    finally:
        stop_jvm()
        left = reap_children()
        if left:
            print(f"# perfbench: ended stray processes {left}", file=sys.stderr)


def _main(argv: list[str] | None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")

    if not os.path.isdir(os.path.join(ROOT, "rspl_spark")):
        print(f"perfbench: no rspl_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    from perfbench import WORKLOADS
    from perfbench.common import RssSampler, median, probes, stop_jvm
    from perfbench.metrics import END_TO_END, per_layer_units

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cpus = _cpus()
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    _isolate(work, cpus)
    ctx = Context(args, work, cpus)

    t0 = time.perf_counter()
    phases = {}
    with RssSampler() as rss:
        probe_start = probes(cpus)
        phases["probes"] = time.perf_counter() - t0
        try:
            outcome = WORKLOADS[args.workload](ctx)
        finally:
            phases["workload"] = time.perf_counter() - t0
            try:
                if ctx.spark is not None:
                    ctx.spark.stop()
            finally:
                stop_jvm()  # the end probes then run on an idle machine
            phases["stop"] = time.perf_counter() - t0
        probe_end = probes(cpus)
        phases["end"] = time.perf_counter() - t0

    layers = outcome.layers
    layers["probe.cpu_s"] = (probe_start["cpu_s"] + probe_end["cpu_s"]) / 2
    layers["probe.mc_s"] = (probe_start["mc_s"] + probe_end["mc_s"]) / 2
    layers["session.get_spark_s"] = ctx.get_spark_s[0]
    layers["session.warm_s"] = median(
        [s - g for s, g in zip(outcome.detail["setup_s"], ctx.get_spark_s)])
    e2e = dict(outcome.e2e, peak_rss_mb=rss.peak / 2**20)

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "spark_cpus": cpus, "host_cpus": os.cpu_count(),
        "probes": {"start": probe_start, "end": probe_end},
        "get_spark_s": ctx.get_spark_s, "e2e": e2e, "layers": layers,
        "rss_peak_mb_by_command": {c: b / 2**20 for c, b in rss.peak_by_command.items()},
        "max_processes": rss.max_processes, "phases_s": phases,
        **outcome.detail,
    }
    os.makedirs(work, exist_ok=True)
    stem = os.path.join(work, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True, default=str)
    if ctx.trace:
        with open(stem + ".spans.json", "w") as f:
            json.dump({"spans": ctx.tracer.spans,
                       "self_s": ctx.tracer.self_times()}, f, default=str)
    print("# detail " + json.dumps(detail, sort_keys=True, default=str), file=sys.stderr)

    metrics = _metrics(layers, per_layer_units()) if ctx.trace else _metrics(e2e, END_TO_END)
    print(json.dumps({
        "correct": outcome.correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
