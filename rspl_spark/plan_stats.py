"""Cheap pre-execution size signals for scale-aware materialization
policies (r15 verdict ask #1).

A multiply-consumed intermediate frame is worth ``localCheckpoint``-ing
only in the regime where the blocks it writes are cheaper than the
recompute they save; the r12/r15 probes showed that trade INVERTING
with scale in both directions (triangle `und`: wins at gate scale,
loses 1.4-4x at 1.2M+ edges; tfidf `(doc, term)`: loses at gate scale,
wins at 100k+ docs). The deciding variable must be available BEFORE
executing the frame — so we use the Catalyst leaf-relation size
estimates: actual file bytes for file scans (the common case: every
gate input is a parquet scan), 8 B/row for ``range``, actual bytes for
local relations. Derived-frame blowup (self-joins, explodes) is NOT
modelled; each policy's cutover is therefore SET BY A MEASURED SWEEP
on the operator's own shape (docs/bench/r16_*_sweep.json), not
guessed, and the conservative direction on estimate error is "keep
today's plan".
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def leaf_input_bytes(df: DataFrame) -> int:
    """Sum of the optimized plan's leaf-relation size estimates, in
    bytes; -1 when the JVM plan is unavailable (never raises — callers
    treat unknown as "keep the default plan")."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        leaves = plan.collectLeaves()
        total = 0
        for i in range(leaves.size()):
            # py4j maps scala BigInt to a Python int already
            total += int(leaves.apply(i).stats().sizeInBytes())
        return total
    except Exception:
        return -1


def materialize_mode(spark, conf_key: str, default: str = "auto") -> str:
    """Read a tri-state materialization conf: "on" / "off" / "auto"
    (case-insensitive; unknown values fall back to ``default``)."""
    try:
        v = (spark.conf.get(conf_key, default) or default).strip().lower()
    except Exception:
        v = default
    return v if v in ("on", "off", "auto") else default
