"""Streaming vocab maintenance == batch word counts, replay-idempotent,
compaction-stable; tokenizer ops read the maintained table
(streaming/vocab.py)."""

import glob

from pyspark.sql import functions as F

from rag_vertex_ai_vector_search_spark.operators.tokenizer import (
    bpe_merge_pairs,
    bpe_merge_pairs_from_counts,
    vocab_coverage_from_counts,
    vocab_coverage_report,
)
from rag_vertex_ai_vector_search_spark.sources import load_table
from rag_vertex_ai_vector_search_spark.streaming.vocab import vocab_fold

import pytest

# Slow tier: excluded from the per-commit fast gate (pytest -m "not full");
# the full suite still runs before a round is declared done.
pytestmark = pytest.mark.full

VOCAB = vocab_fold()


def _batch_counts(docs):
    from rag_vertex_ai_vector_search_spark.operators.tokenizer import (
        _word_counts,
    )

    return _word_counts(docs, "text")


def _assert_same(a, b):
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_stream_vocab_matches_batch(spark, sf_smoke, tmp_path):
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    table = str(tmp_path / "vocab")
    ckpt = str(tmp_path / "ckpt")
    docs.repartition(3).write.parquet(src)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = VOCAB.stream(stream, table, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    epochs = spark.read.parquet(table).select("_epoch").distinct().count()
    assert epochs >= 2, "stream must have produced multiple micro-batches"
    _assert_same(
        VOCAB.read(spark, table),
        _batch_counts(docs).withColumn("n", F.col("n").cast("long")),
    )


def test_vocab_replay_idempotent_and_tokenizer_parity(spark, sf_smoke, tmp_path):
    """Replaying an epoch changes nothing, and the tokenizer reports
    computed from the maintained counts equal the batch-path reports."""
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    table = str(tmp_path / "vocab")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    VOCAB.apply(first, 0, table)
    VOCAB.apply(second, 1, table)
    VOCAB.apply(second, 1, table)  # at-least-once replay
    counts = VOCAB.read(spark, table)
    _assert_same(
        counts, _batch_counts(docs).withColumn("n", F.col("n").cast("long"))
    )

    cov_stream = vocab_coverage_from_counts(counts, top_k=20)
    cov_batch = vocab_coverage_report(docs, top_k=20)
    _assert_same(cov_stream, cov_batch)
    bpe_stream = bpe_merge_pairs_from_counts(counts, top_k=20)
    bpe_batch = bpe_merge_pairs(docs, top_k=20)
    _assert_same(bpe_stream, bpe_batch)


def test_vocab_compaction_folds_epochs(spark, sf_smoke, tmp_path):
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    table = str(tmp_path / "vocab")
    for i in range(4):
        VOCAB.apply(docs.filter(F.col("doc_id") % 4 == i), i, table)
    expected = VOCAB.read(spark, table).collect()

    VOCAB.compact(spark, table)
    dirs = sorted(glob.glob(table + "/_epoch=*"))
    assert dirs == [table + "/_epoch=-1"]
    after = VOCAB.read(spark, table)
    _assert_same(after, spark.createDataFrame(expected, after.schema))


def test_train_bpe_reads_maintained_vocab(spark, sf_smoke, tmp_path):
    """train_bpe(counts=VOCAB.read(...)) learns the IDENTICAL merges
    as batch self-training -- the streaming-vocab table feeds BPE
    training without re-reading documents."""
    from rag_vertex_ai_vector_search_spark.operators.tokenizer import (
        train_bpe,
    )
    from rag_vertex_ai_vector_search_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    table = str(tmp_path / "vocab")
    VOCAB.apply(docs.filter(F.col("doc_id") % 2 == 0), 0, table)
    VOCAB.apply(docs.filter(F.col("doc_id") % 2 == 1), 1, table)
    maintained = VOCAB.read(spark, table)
    a = [tuple(r) for r in
         train_bpe(None, counts=maintained, n_merges=4)
         .orderBy("merge_rank").collect()]
    b = [tuple(r) for r in
         train_bpe(docs, n_merges=4).orderBy("merge_rank").collect()]
    assert a == b
