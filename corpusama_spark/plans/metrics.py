"""In-flight pipeline metrics via Spark's Observation API — zero extra pass.

The north_rule asks for per-partition lineage + metrics tables. Lineage
is the per-bucket record of each snapshot commit, verified against the
output's parquet footers (checkpoint.commit_wave); ``pipeline.metrics``
is a DataFrame, but a SECOND aggregation pass over the decision table.
``df.observe`` attaches named aggregates to the SAME action that
materializes the decisions — the metrics ride along with the write,
costing one accumulator merge instead of a 10^12-row re-scan. That is the difference between "metrics" and
"affordable metrics" at scale: the observed values are exactly what the
job that just ran saw (no read-back race with concurrent writers either).

Usage:

    observed, obs = observe_decisions(run_pipeline(captions, config))
    observed.write.parquet(out)          # the action
    row = metrics_row(obs)               # dict, available post-action

Streaming twin: for readStream pipelines the same ``observe`` call works
with a named observation + QueryListener (public Spark API); the batch
Observation object here is the simpler synchronous form.

Reference seam: corpusama logs per-run counts into a _log table
(reliefweb.py:139-150); this is that record computed without a second
pass and without driver-side counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from corpusama_spark.pipeline import DROP_REASONS

DEFAULT_REASONS = DROP_REASONS


def observe_decisions(
    decisions: DataFrame,
    reasons: tuple[str, ...] = DEFAULT_REASONS,
) -> tuple[DataFrame, Observation]:
    """(decisions-with-observation, Observation): attach n_rows / n_keep /
    per-reason drop counts to whatever action next materializes
    ``decisions``. Call ``metrics_row(obs)`` AFTER that action."""
    obs = Observation("filter_metrics")
    exprs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
    ]
    for r in reasons:
        exprs.append(
            F.sum((F.col("drop_reason") == r).cast("long")).alias(f"n_{r}")
        )
    return decisions.observe(obs, *exprs), obs


def metrics_row(obs: Observation) -> dict:
    """The observed metrics as a plain dict (blocks until the observed
    action has completed); null-sums (no rows matched) coerced to 0."""
    got = obs.get
    return {k: (0 if v is None else v) for k, v in got.items()}
