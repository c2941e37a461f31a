"""Dump .explain("formatted") physical plans → docs/plans/<query>.txt.

Evidence artifacts: PushedFilters / ReadSchema / join strategies /
exchange counts are visible without running anything.

Usage: python tools/dump_plans.py [--out DIR] [--suffix before|after]
                                  [sf_dir] [query ...]
  --out     output directory (default docs/plans under the repo root)
  --suffix  write <query>_<suffix>.txt instead of <query>.txt, for
            before/after plan pairs of an optimization
With no query list, dumps the flagship set below.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rspl_spark.queries import load_registry  # noqa: E402
from rspl_spark.session import get_spark  # noqa: E402

FLAGSHIPS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q_asof_join",
    "q_minhash_lsh_pairs",
    "q_cosine_topk_bruteforce",
    "q_sessionize",
    "q12_late_priority",
    "q21_waiting_suppliers",
    "q_simhash_neardup_pairs",
    "q_corpus_clean_pipeline",
    "q_salted_join",
    "q_skew_count_distinct",
    "q_bucketed_join",
    "q_token_packing_sharded",
    "q_mix_sources_upsampled",
    "q_repetition_signals",
    "q_asof_join_forward",
    "q_mix_temperature",
    "q_quality_weighted_sample",
    "q_incremental_dedup",
    "q_multimodal_decode_pgm",
    "q_embedding_cosine_pairs",
    "q_incremental_agg",
    "q_binned_range_join",
    "q_ann_pq_adc",
    "q_semantic_dedup",
    "q_multimodal_decode_wav",
    "q_multimodal_decode_bmp",
    "q_zorder_key",
    "q_heavy_hitters_cms",
    "q_quality_classifier",
    "q_bigram_lm_perplexity",
    "q_approx_distinct_hll",
    "q_ann_pq_adc_incremental",
    "q_approx_percentile_hist",
    "q_hll_daily_users",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_stock",
    "q16_parts_supplier",
    "q_scd2_merge_rebuild",
    "q_scd2_fact_enrich",
    "q_fuzzy_join_trigram",
    "q_edit_distance_join",
    "q_cosine_topk_int8",
    "q_psi_drift",
    "q_rate_anomalies",
    "q_chi_square",
    "q_hll_intersect",
    "q_peak_concurrency",
    "q_winsorize",
    "q_quality_audit",
    "q_table_diff",
    "q_orc_roundtrip",
    "q20_potential_promotion",
    "q_cosine_topk_ivf_incremental",
    "q_cosine_topk_srp_incremental",
    "q_semantic_dedup_adaptive",
]


def main() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(root, "docs", "plans"))
    ap.add_argument("--suffix", choices=("before", "after"))
    ap.add_argument("args", nargs="*", metavar="[sf_dir] [query ...]")
    ns = ap.parse_args()
    argv = list(ns.args)
    sf_dir = argv.pop(0) if argv and os.path.isdir(argv[0]) else "/root/testdata/sf0.1"
    names = argv or FLAGSHIPS
    os.makedirs(ns.out, exist_ok=True)
    reg = load_registry()
    spark = get_spark("plans")
    for name in names:
        stem = f"{name}_{ns.suffix}" if ns.suffix else name
        try:
            df = reg[name].fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        except Exception as e:
            plan = f"ERROR dumping plan: {e}"
        with open(os.path.join(ns.out, f"{stem}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {stem} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
