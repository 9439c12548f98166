"""Epoch-fold maintenance: the one primitive behind every streaming
table that is a fold of per-micro-batch partials (vocab, n-gram, line
df, rollup, DSIR, DoReMi, HLL / CMS / Bloom / histogram sketches).

A family is an ``EpochFold`` spec: a ``partial`` that reduces one
micro-batch to partial rows, the fold ``keys``, the ``folds`` (one
aggregate per value column: ``sum``, ``max`` or ``bit_or``), and an
optional read-time ``finalize``. The four operations are written once:

- ``apply`` writes a batch's partial as the ``_epoch=<epoch_id>``
  partition with WRITER-scoped dynamic partition overwrite (an option
  on the write, never a session conf, so nothing leaks into other
  writes). A replayed epoch replaces its own partition wholesale, so
  at-least-once ``foreachBatch`` delivery yields exactly-once table
  contents: idempotence by layout, no transaction log needed.
- ``stream`` attaches ``apply`` to a stream with ``foreachBatch`` and a
  checkpoint location.
- ``read`` is ``finalize(groupBy(keys).agg(folds))`` over every epoch.
  Each fold is associative and commutative, and each source row lands
  in exactly one epoch, so the fold equals the batch computation over
  all rows. Every fold is cast back to its column's stored type, so it
  re-applies to its own output.
- ``compact`` writes that fold (without ``finalize``) back as the one
  ``_epoch=-1`` base partition, bounding read amplification. It PINS
  ``partitionOverwriteMode=static`` on the write: the fold must replace
  the whole table. Under a session-level dynamic mode an unpinned
  overwrite would replace only ``_epoch=-1``, leave every epoch it
  folded beside the base, and double-count them on the next read. The
  fold is checkpointed first to cut its lineage off the files it
  replaces. Run it with the stream paused; a table format with
  transactions (Delta/Iceberg) lifts that restriction behind the same
  DataFrames.

Empty batches follow one rule: the sink never probes for emptiness (a
probe is one more job on every epoch). An empty partial writes no
partition, so an empty epoch costs its write job and changes nothing.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BASE_EPOCH = -1


def write_epoch(df: DataFrame, epoch_id: int, path: str) -> None:
    """Write ``df`` as the ``_epoch=<epoch_id>`` partition of the
    parquet table at ``path``, replacing only that partition."""
    (
        df.withColumn("_epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch")
        .parquet(path)
    )


@dataclass(frozen=True)
class EpochFold:
    """One maintained table: partial, fold keys, fold aggregates
    (``(column, aggregate)`` pairs) and an optional read-time finalize."""

    partial: Callable[[DataFrame], DataFrame]
    keys: tuple[str, ...]
    folds: tuple[tuple[str, str], ...]
    finalize: Callable[[DataFrame], DataFrame] | None = None

    def apply(self, batch_df: DataFrame, epoch_id: int, path: str) -> None:
        """The ``foreachBatch`` body, callable directly (tests,
        backfills)."""
        write_epoch(self.partial(batch_df), epoch_id, path)

    def stream(self, stream_df: DataFrame, path: str, *, checkpoint_dir: str):
        """Start the streaming query maintaining the table at ``path``."""
        return (
            stream_df.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(lambda df, eid: self.apply(df, eid, path))
            .start()
        )

    def _fold(self, spark: SparkSession, path: str) -> DataFrame:
        rows = spark.read.parquet(path)
        return rows.groupBy(*self.keys).agg(*(
            F.call_function(agg, F.col(c)).cast(rows.schema[c].dataType)
            .alias(c)
            for c, agg in self.folds
        ))

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        """Fold every epoch to the current table."""
        folded = self._fold(spark, path)
        return folded if self.finalize is None else self.finalize(folded)

    def compact(self, spark: SparkSession, path: str) -> None:
        """Replace every epoch with their fold as ``_epoch=-1``."""
        folded = (
            self._fold(spark, path)
            .withColumn("_epoch", F.lit(BASE_EPOCH))
            .localCheckpoint(eager=True)
        )
        (
            folded.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("_epoch")
            .parquet(path)
        )
