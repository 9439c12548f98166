"""Streaming NEAR-duplicate suppression: MinHash-LSH dedup at ingest.

stream_dedup_exact catches byte-identical re-ingests; this module
catches the near-dups (boilerplate rewraps, whitespace/typo variants)
ONLINE, against everything ingested so far, with bounded per-batch
work:

- STATE is a maintained (doc_id, band_id, band_hash, sig) table of
  previously KEPT documents, epoch-partitioned exactly like the
  epoch-fold streams (``epoch_fold.write_epoch``: a replayed epoch
  overwrites its own partition).
- Each micro-batch computes its bands once, equi-joins against the
  PRIOR state on (band_id, band_hash) -- the same no-cross-product
  shape as the batch LSH self-join -- and drops a doc when a matched
  pair's MinHash component agreement >= ``est_threshold`` (the
  standard unbiased Jaccard estimate; the signature rides in the
  state table so no prior document's text is ever re-read).
- WITHIN the batch, first-wins is decided by the batch-local
  candidate pairs (exact-Jaccard-verified via the batch operator) --
  min id survives inside a duplicate cluster.
- Survivors' bands append to the state under the batch's epoch;
  kept documents land in the output table under the same epoch.

Replay safety: candidate matching reads state with
``_epoch != current`` (a replayed batch must not match ITSELF), and
both writes are epoch overwrites -- re-delivery reproduces byte-equal
state and output partitions.

First-wins across epochs is inherent to streaming dedup (a later
near-dup of a kept doc is dropped; the kept doc is never revisited);
cross-epoch pairs the bands miss are reconciled by the exact offline
pass, the same lambda split stream_dedup_exact documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .epoch_fold import write_epoch


def _sig_agreement(a, b):
    """Fraction of agreeing MinHash components -- the unbiased Jaccard
    estimate for two signatures (Broder 1997)."""
    return (
        F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda z: z))
        .cast("double")
        / F.size(a).cast("double")
    )


def apply_minhash_dedup_batch(
    batch_df: DataFrame,
    epoch_id: int,
    *,
    state_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    est_threshold: float = 0.5,
    base_hash: str = "xxhash64",
) -> None:
    """foreachBatch body: drop near-dups of prior keepers and of
    better (lower-id) batch-mates; append survivors to state + output."""
    from ..operators.cluster import dedup_keep_one
    from ..operators.dedup import (
        minhash_banded_signatures,
        minhash_candidate_pairs,
        minhash_with_sig,
    )

    spark = batch_df.sparkSession
    # the shingle pass + signature UDF are the batch's CPU cost: run
    # them ONCE and feed both the banding (state match + state append)
    # and the within-batch candidate pairs through the with_sig seam
    # (r17 -- they used to run twice per epoch)
    ws = minhash_with_sig(
        batch_df, id_col, text_col,
        shingle_words=shingle_words, num_hashes=num_hashes,
        base_hash=base_hash,
    ).localCheckpoint(eager=True)
    banded = minhash_banded_signatures(
        batch_df, id_col, text_col,
        shingle_words=shingle_words, num_hashes=num_hashes, bands=bands,
        base_hash=base_hash, with_sig=ws,
    )

    # -- matches against PRIOR state (never the replayed epoch itself)
    try:
        state = spark.read.parquet(state_path).filter(
            F.col("_epoch") != int(epoch_id)
        )
        # NO state-side prefilter (r18, VERDICT r17 #5 -- evaluated and
        # REJECTED with plan evidence, plans/r18/streaming_dedup_
        # minhash_state_join_*.txt): the match join below already
        # executes as BroadcastHashJoin with the (checkpointed, known-
        # size) epoch side broadcast, so the state table is SCANNED
        # once per trigger and never shuffled. A broadcast-semi/bloom
        # prefilter on the epoch's band keys adds an exchange plus a
        # second hash probe per state row in front of the exact same
        # scan -- strictly more work per trigger, zero shuffle saved.
        dup_of_prior = (
            banded.alias("b")
            .join(state.alias("s"), ["band_id", "band_hash"])
            .filter(
                _sig_agreement(F.col("b.sig"), F.col("s.sig"))
                >= F.lit(est_threshold)
            )
            .select(F.col(f"b.{id_col}").alias(id_col))
            .distinct()
        )
    except Exception:  # first epoch: no state yet
        dup_of_prior = batch_df.select(id_col).limit(0)

    # -- within-batch first-wins (exact-Jaccard-verified pairs)
    pairs = minhash_candidate_pairs(
        batch_df, id_col, text_col,
        shingle_words=shingle_words, num_hashes=num_hashes, bands=bands,
        jaccard_threshold=est_threshold, base_hash=base_hash, with_sig=ws,
    )
    losers = (
        dedup_keep_one(pairs)
        .filter(F.col("node_id") != F.col("component_id"))
        .select(F.col("node_id").alias(id_col))
    )

    dropped = dup_of_prior.unionByName(losers).distinct()
    kept = batch_df.join(dropped, id_col, "left_anti")

    write_epoch(kept, epoch_id, out_path)
    write_epoch(
        banded.join(dropped, id_col, "left_anti"), epoch_id, state_path
    )


def stream_dedup_minhash(
    stream_df: DataFrame, *,
    state_path: str, out_path: str, checkpoint_dir: str,
    **kwargs,
):
    """Attach streaming near-dup suppression to a document stream."""
    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, eid: apply_minhash_dedup_batch(
                df, eid, state_path=state_path, out_path=out_path, **kwargs
            )
        )
        .start()
    )


def read_deduped(spark: SparkSession, out_path: str) -> DataFrame:
    """All kept documents across epochs."""
    return spark.read.parquet(out_path).drop("_epoch")
