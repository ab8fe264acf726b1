"""Incremental view maintenance — aggregates kept current by CHANGELOG
DELTAS instead of recomputation.

The consumer half of the CDC lane (operators/upsert.row_changelog /
tableops.snapshot_changelog, X253): a 10^12-row corpus's rollups
(per-source keep counts, per-language byte sums, dashboard aggregates)
cannot be recomputed on every upsert wave — the standard answer is IVM
(classic database literature: Gupta & Mumick's "Maintenance of
Materialized Views", public): distributive aggregates (COUNT, SUM, and
AVG as SUM/COUNT) update by applying signed deltas:

    insert / update_after  -> +1 · row
    delete / update_before -> -1 · row

so the maintenance cost is proportional to the CHANGE. MIN/MAX are
deliberately excluded — they are not self-maintainable under deletes
(a retracted max needs a rescan); the qualitystate.py mergeable-state
lane handles those with partition-level recompute.

The maintained state is pinned bit-equal to a fresh recompute by test
and by the `ivm_rollup` oracle: maintain(state(before), changelog) must
equal state(after) exactly — which is why the sums here should be exact
types (integers / decimals), the same discipline as the engine's
cents-not-doubles contract queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _sign():
    # built lazily: Column construction needs an active session, and this
    # module is imported by others before any Spark context exists
    return (
        F.when(F.col("change").isin("insert", "update_after"), F.lit(1))
        .when(F.col("change").isin("delete", "update_before"), F.lit(-1))
        .otherwise(F.lit(0))
    )


def aggregate_state(
    df: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """The materialized rollup: per group, row count ``n`` and
    ``sum_<c>`` for each sum column. One map-side-combinable groupBy."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in sum_cols:
        aggs.append(F.sum(c).alias(f"sum_{c}"))
        # non-null counter: what makes SUM self-maintainable under
        # deletes even when a group degenerates to all-NULL values
        # (SUM of an empty/all-NULL set is NULL, not 0)
        aggs.append(F.count(c).alias(f"nn_{c}"))
    return df.groupBy(*group_cols).agg(*aggs)


def apply_changelog(
    state: DataFrame,
    changelog: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Merge signed changelog deltas into the maintained state. Cost:
    one groupBy over the changelog (change-sized) + one outer join
    against the state (group-cardinality-sized) — the table itself is
    never read. Groups whose count reaches zero drop out, groups first
    seen in the delta appear; the result is exactly
    ``aggregate_state(after)`` (pinned by test + oracle)."""
    delta = changelog.withColumn("_sign", _sign())
    d_aggs = [F.sum("_sign").alias("_dn")]
    for c in sum_cols:
        d_aggs.append(F.sum(F.col(c) * F.col("_sign")).alias(f"_d_{c}"))
        d_aggs.append(
            F.sum(
                F.col("_sign") * F.col(c).isNotNull().cast("long")
            ).alias(f"_dnn_{c}")
        )
    deltas = delta.groupBy(*group_cols).agg(*d_aggs)
    j = state.alias("s").join(deltas.alias("d"), group_cols, "full")
    cols = [F.col(c) for c in group_cols]
    new_n = F.coalesce(F.col("s.n"), F.lit(0)) + F.coalesce(
        F.col("d._dn"), F.lit(0)
    )
    cols.append(new_n.alias("n"))
    for c in sum_cols:
        nn = F.coalesce(F.col(f"s.nn_{c}"), F.lit(0)) + F.coalesce(
            F.col(f"d._dnn_{c}"), F.lit(0)
        )
        merged = F.coalesce(F.col(f"s.sum_{c}"), F.lit(0)) + F.coalesce(
            F.col(f"d._d_{c}"), F.lit(0)
        )
        # SUM over zero non-null values is NULL (matches a fresh
        # recompute that only ever saw NULLs in the group)
        cols.append(F.when(nn > 0, merged).alias(f"sum_{c}"))
        cols.append(nn.alias(f"nn_{c}"))
    return j.select(*cols).where(F.col("n") != 0)
