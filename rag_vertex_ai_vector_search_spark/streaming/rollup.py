"""Streaming incremental rollup: a materialized view maintained per
micro-batch (the hypertable-continuous-aggregate pattern, Spark-first;
an ``EpochFold``, see streaming/epoch_fold.py).

``q_events_hourly`` (hour x event_type aggregate) recomputed from raw
events costs O(history) every refresh; at 100 TB of events that is the
difference between a dashboard and a daily job. This view is
maintained with O(batch) work per micro-batch.

Fold algebra: each micro-batch is reduced to PARTIAL aggregates at
(hour, event_type, user_id) grain -- additive counts and exact DECIMAL
sums, plus the user grain so the non-additive ``countDistinct(user_id)``
stays derivable (the classic two-level exact-distinct design; swap the
user grain for an HLL sketch column when approximate distinct is
acceptable at extreme cardinality). The fold sums at that grain; the
read-time finalize sums to (hour, event_type) and counts distinct
users, bit-equal to the batch query (DECIMAL sums are associative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .epoch_fold import EpochFold

_DEC = "decimal(18,2)"


def rollup_partial(batch_df: DataFrame) -> DataFrame:
    """One micro-batch -> (hour, event_type, user_id) partials."""
    return (
        batch_df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
            F.col("user_id"),
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).alias("sum_value"),
        )
    )


def _hourly_view(folded: DataFrame) -> DataFrame:
    return folded.groupBy("hour", "event_type").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").cast("double").alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


def rollup_fold() -> EpochFold:
    """The maintained events rollup; ``read`` is the (hour,
    event_type) view of the batch ``events_hourly`` aggregate."""
    return EpochFold(
        rollup_partial,
        keys=("hour", "event_type", "user_id"),
        folds=(("n_events", "sum"), ("sum_value", "sum")),
        finalize=_hourly_view,
    )
