"""Conf-flip A/B: time one workload under each value of one Spark conf.

Per size: build the workload's input once, warm every value once, then
run ``--reps`` interleaved reps that alternate the value order, each
timed as a noop-sink write of the workload's output frame. Records the
runs and the median per value, bracketed by bench.py's single-core and
multi-core CPU probes, and rewrites OUT.json after every size so a late
OOM keeps the finished sizes. Per-size keys match the committed
artifacts (docs/bench/r16_cc_path_ab.json,
docs/bench/r16_tfidf_mat_sweep.json).

Workloads:
  cc     connected_components_star over deterministic mixed graphs
         (chains of length 64 — deep enough to need several star
         rounds — plus 8-node clusters); sizes are edge counts.
  tfidf  tfidf_top_terms over parquet-backed synthetic corpora shaped
         like the gate documents (~54 words/doc); sizes are doc counts,
         or a testdata directory to run its documents.parquet.

Usage: python tools/conf_ab.py OUT.json --workload {cc,tfidf} --conf KEY
           --values a,b [--sizes n1,n2,...] [--reps 3]
e.g.   python tools/conf_ab.py cc.json --workload cc
           --conf spark.rspl.ccDriverMaxEdges --values 0,2147483648
       python tools/conf_ab.py tfidf.json --workload tfidf
           --conf spark.rspl.tfidfMaterialize --values off,on
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import cpu_probe, cpu_probe_mc  # noqa: E402
from rspl_spark.operators.dedup import connected_components_star  # noqa: E402
from rspl_spark.operators.text import tfidf_top_terms  # noqa: E402
from rspl_spark.plan_stats import leaf_input_bytes  # noqa: E402
from rspl_spark.session import get_spark  # noqa: E402

WORDS_PER_DOC = 54  # gate documents average (sf0.1: 54.1 words, 297 chars)
VOCAB = 20_000


def cc_graph(spark, n_edges: int):
    """Half chain edges (i -> i+1 within 64-node runs), half cluster
    edges (hash-spread 8-node cliquish stars); deterministic."""
    half = n_edges // 2
    chains = spark.range(half).select(
        F.when(F.col("id") % 64 == 63, F.col("id") - 1).otherwise(F.col("id")).alias("doc_a"),
        (F.when(F.col("id") % 64 == 63, F.col("id") - 1).otherwise(F.col("id")) + 1).alias("doc_b"),
    )
    base = 10_000_000_000
    clusters = spark.range(half).select(
        (base + (F.col("id") / 8).cast("long") * 8).alias("doc_a"),
        (base + (F.col("id") / 8).cast("long") * 8 + 1 + (F.col("id") * 2654435761) % 7).alias("doc_b"),
    )
    return chains.unionByName(clusters)


def synth_corpus_parquet(spark, n_docs: int, path: str):
    """Deterministic corpus: n_docs docs of WORDS_PER_DOC words drawn
    from a VOCAB-word vocabulary by multiplicative hash — written to
    parquet and read back so leaf bytes match a storage-backed corpus."""
    words = F.transform(
        F.sequence(F.lit(0), F.lit(WORDS_PER_DOC - 1)),
        lambda i: F.concat(
            F.lit("w"),
            ((F.col("id") * WORDS_PER_DOC + i) * 2654435761 % VOCAB).cast("string"),
        ),
    )
    (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text"))
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path)


def cc_block(spark, size: str, tmp: str):
    df = cc_graph(spark, int(size)).localCheckpoint()  # isolate CC from generation
    return size, {}, lambda: connected_components_star(df)


def tfidf_block(spark, size: str, tmp: str):
    if os.path.isdir(size):
        corpus = spark.read.parquet(os.path.join(size, "documents.parquet"))
        corpus = corpus.select("doc_id", "text")
        label = f"gate:{os.path.basename(size.rstrip('/'))}"
    else:
        corpus = synth_corpus_parquet(spark, int(size), os.path.join(tmp, size))
        label = f"synth:{size}_docs"
    return label, {"leaf_bytes": leaf_input_bytes(corpus)}, lambda: tfidf_top_terms(corpus, k=3)


WORKLOADS = {
    "cc": (cc_block, "10000,65000,262000,1000000", {}),
    "tfidf": (tfidf_block, "10000,100000,1000000",
              {"words_per_doc": WORDS_PER_DOC, "vocab": VOCAB}),
}


def time_value(spark, key: str, value: str, frame) -> float:
    spark.conf.set(key, value)
    spark.sparkContext.setJobDescription(f"conf_ab:{key}={value}")
    try:
        spark.catalog.clearCache()
        t0 = time.time()
        frame().write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)
    finally:
        spark.conf.unset(key)
        spark.sparkContext.setJobDescription(None)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--conf", required=True)
    ap.add_argument("--values", required=True)
    ap.add_argument("--sizes")
    ap.add_argument("--reps", type=int, default=3)
    ns = ap.parse_args()
    block, default_sizes, meta = WORKLOADS[ns.workload]
    values = [v for v in ns.values.split(",") if v]
    sizes = [s for s in (ns.sizes or default_sizes).split(",") if s]
    spark = get_spark(f"conf-ab-{ns.workload}")
    out: dict = {"workload": ns.workload, "conf": ns.conf, "values": values,
                 "reps": ns.reps, **meta}
    tmp = tempfile.mkdtemp(prefix="rspl_conf_ab_")
    try:
        for size in sizes:
            label, extra, frame = block(spark, size, tmp)
            probe0, probe_mc0 = cpu_probe(), cpu_probe_mc()
            runs: dict = {v: [] for v in values}
            for v in values:
                time_value(spark, ns.conf, v, frame)  # warm
            for r in range(ns.reps):
                for v in values if r % 2 == 0 else values[::-1]:
                    runs[v].append(time_value(spark, ns.conf, v, frame))
            out[label] = {
                **extra,
                "cpu_probe_sec": [probe0, cpu_probe()],
                "cpu_probe_mc": [probe_mc0, cpu_probe_mc()],
                "runs": runs,
                "median": {v: sorted(ts)[len(ts) // 2] for v, ts in runs.items()},
            }
            print(label, json.dumps(out[label]), flush=True)
            with open(ns.out, "w") as f:
                json.dump(out, f, indent=1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("wrote", ns.out)


if __name__ == "__main__":
    main()
