"""Streaming incremental rollup == batch aggregate, replay-idempotent,
compaction-stable (streaming/rollup.py)."""

import glob

from pyspark.sql import functions as F

from rag_vertex_ai_vector_search_spark.sources import load_table
from rag_vertex_ai_vector_search_spark.streaming.rollup import rollup_fold

import pytest

# Slow tier: excluded from the per-commit fast gate (pytest -m "not full");
# the full suite still runs before a round is declared done.
pytestmark = pytest.mark.full

ROLLUP = rollup_fold()


def _batch_hourly(ev):
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


def _assert_same(a, b):
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_stream_rollup_matches_batch(spark, sf_smoke, tmp_path):
    ev = load_table(spark, sf_smoke, "events").select(
        "ts", "event_type", "user_id", "value"
    )
    src = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    # three separate files -> maxFilesPerTrigger=1 gives three micro-batches
    ev.repartition(3).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = ROLLUP.stream(stream, rollup, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    epochs = spark.read.parquet(rollup).select("_epoch").distinct().count()
    assert epochs >= 2, "stream must have produced multiple micro-batches"
    _assert_same(ROLLUP.read(spark, rollup), _batch_hourly(ev))


def test_rollup_replay_is_idempotent(spark, sf_smoke, tmp_path):
    """Re-applying an epoch (at-least-once delivery) changes nothing:
    the epoch partition is overwritten wholesale, not appended."""
    ev = load_table(spark, sf_smoke, "events").select(
        "ts", "event_type", "user_id", "value"
    )
    rollup = str(tmp_path / "rollup")
    first = ev.filter(F.col("user_id") % 2 == 0)
    second = ev.filter(F.col("user_id") % 2 == 1)
    ROLLUP.apply(first, 0, rollup)
    ROLLUP.apply(second, 1, rollup)
    before = ROLLUP.read(spark, rollup).collect()

    ROLLUP.apply(second, 1, rollup)  # replay epoch 1
    after = ROLLUP.read(spark, rollup)
    _assert_same(after, spark.createDataFrame(before, after.schema))
    _assert_same(after, _batch_hourly(ev))


def test_compaction_preserves_view_and_folds_epochs(spark, sf_smoke, tmp_path):
    ev = load_table(spark, sf_smoke, "events").select(
        "ts", "event_type", "user_id", "value"
    )
    rollup = str(tmp_path / "rollup")
    # many small epochs, as a long-running stream would leave behind
    for i in range(5):
        ROLLUP.apply(ev.filter(F.col("user_id") % 5 == i), i, rollup)
    expected = _batch_hourly(ev)
    _assert_same(ROLLUP.read(spark, rollup), expected)

    ROLLUP.compact(spark, rollup)
    dirs = [d for d in glob.glob(rollup + "/_epoch=*")]
    assert dirs == [rollup + "/_epoch=-1"]
    _assert_same(ROLLUP.read(spark, rollup), expected)

    # incremental continues on top of the compacted base
    ROLLUP.apply(ev.limit(0), 99, rollup)  # empty batch: no-op
    _assert_same(ROLLUP.read(spark, rollup), expected)
