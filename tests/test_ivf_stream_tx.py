"""``stream_merge_into_ivf_index(txlog=True)`` in the fast tier: two
epochs of new and rewritten keys, a replayed epoch and an empty epoch
against a tiny file source. Checks the key set and latest vectors,
sticky leaves for rewritten keys, replay and empty-epoch no-ops through
the commit log, and the job count of one drained epoch -- on the
driver executor (the default budget) and on the Spark executor (the
budget forced to 0)."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from rag_vertex_ai_vector_search_spark.functions.hashing import (
    hash_embedding_numpy,
)
from rag_vertex_ai_vector_search_spark.operators.serving import surrogate_key
from rag_vertex_ai_vector_search_spark.sources.txlog import (
    TxLog,
    read_table,
)
from rag_vertex_ai_vector_search_spark.streaming import ivf_stream
from rag_vertex_ai_vector_search_spark.streaming.ivf_stream import (
    stream_merge_into_ivf_index,
)

DIM = 8
SCHEMA = "doc_id long, text string"


def _land(src: str, name: str, rows) -> None:
    pq.write_table(pa.table({
        "doc_id": pa.array([d for d, _ in rows], pa.int64()),
        "text": pa.array([t for _, t in rows], pa.string()),
    }), os.path.join(src, name))


def _nearest(text: str, centroids: np.ndarray) -> int:
    v = hash_embedding_numpy(text, DIM).astype(np.float64)
    return int(((v - centroids) ** 2).sum(axis=1).argmin())


def test_tx_stream_merge_epochs_replay_and_empty(spark, tmp_path):
    # a driver epoch launches its one collect
    _epochs_replay_and_empty(spark, tmp_path, max_jobs=2)


def test_tx_stream_merge_on_the_spark_executor(spark, tmp_path, monkeypatch):
    # stream start-up plus the Spark merge's jobs
    monkeypatch.setattr(ivf_stream, "DRIVER_EPOCH_BUDGET_BYTES", 0)
    _epochs_replay_and_empty(spark, tmp_path, max_jobs=8)


def _epochs_replay_and_empty(spark, tmp_path, *, max_jobs: int) -> None:
    src = str(tmp_path / "src")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    centroids = np.random.RandomState(3).randn(4, DIM)
    jsc = spark.sparkContext._jsc.sc()

    def drain():
        q = stream_merge_into_ivf_index(
            spark.readStream.schema(SCHEMA).parquet(src), index, centroids,
            checkpoint_dir=ckpt, dim=DIM, n_buckets=4, txlog=True,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    first = [(i, f"first doc {i}") for i in range(12)]
    _land(src, "b0.parquet", first)
    drain()
    log = TxLog(spark, index)
    v0 = log.current_version()
    assert v0 >= 0

    second = [(i, f"changed doc {i}") for i in range(4)] + [
        (i, f"new doc {i}") for i in (20, 21, 22)
    ]
    _land(src, "b1.parquet", second)
    j0 = jsc.dagScheduler().nextJobId()
    drain()
    epoch_jobs = jsc.dagScheduler().nextJobId() - j0
    v1 = log.current_version()
    assert v1 == v0 + 1
    assert epoch_jobs <= max_jobs, epoch_jobs

    latest = dict(first)
    latest.update(dict(second))

    def check():
        rows = {
            r.data_point_id: r
            for r in read_table(spark, index).select(
                "data_point_id", "feature_vector", "cluster_id"
            ).collect()
        }
        assert set(rows) == {surrogate_key(d) for d in latest}
        for d, text in latest.items():
            r = rows[surrogate_key(d)]
            want = hash_embedding_numpy(text, DIM)
            assert np.array_equal(
                np.asarray(r.feature_vector, dtype=np.float32), want
            )
            # rewritten keys keep the leaf of their first text
            leaf_text = dict(first).get(d, text)
            assert r.cluster_id == _nearest(leaf_text, centroids)

    check()

    # replay: forget that epoch 1 finished, restart, and the stream
    # re-runs it; the txn meta in the log turns it into a no-op
    for name in ("1", ".1.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    drain()
    assert log.current_version() == v1
    check()

    # an empty epoch commits no version
    _land(src, "b2.parquet", [])
    drain()
    assert os.path.exists(os.path.join(ckpt, "commits", "2"))
    assert log.current_version() == v1
    check()
