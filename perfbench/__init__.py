"""The repository's benchmark: two workloads over rspl_spark.

``headline_sql`` times the batch SQL path, ``dsl_interpret`` the keyed
grouped-map interpretation of an rspl term (its traced runs also run the
term per key across Structured Streaming micro-batches). See README.md.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Outcome:
    """What one workload run measured and checked."""

    correct: bool
    attempted: int
    failed: int
    e2e: dict[str, float]
    layers: dict[str, float]
    detail: dict = field(default_factory=dict)


def _headline_sql(ctx) -> Outcome:
    from perfbench.headline import run

    return run(ctx)


def _dsl_interpret(ctx) -> Outcome:
    from perfbench.dsl import run

    return run(ctx)


WORKLOADS = {
    "headline_sql": _headline_sql,
    "dsl_interpret": _dsl_interpret,
}
