"""The two executors of ``stream_merge_into_ivf_index(txlog=True)``.

A small epoch of a local index merges on the driver, any other on
Spark, both through ``ivf_stream.merge_keys``. Generated epoch
sequences feed two indexes from one source, one at the default
``DRIVER_EPOCH_BUDGET_BYTES`` and one with it forced to 0; after every
epoch both hold the rows of a model built from ``hash_embedding_numpy``
and the sticky-leaf rule, and an epoch with no accepted row (empty,
all over the token gate, or a replay) commits no version. A second
test drains two rewrites of one key in one micro-batch, a third mixes
driver-written and Spark-written files in one index and reads it
through ``read_table_any`` and a ``ServingReplica``."""

import os
import re
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rag_vertex_ai_vector_search_spark.functions.hashing import (
    hash_embedding_numpy,
)
from rag_vertex_ai_vector_search_spark.functions.text import TOKEN_PATTERN
from rag_vertex_ai_vector_search_spark.operators.ingest import (
    MAX_TOKENS_PER_TEXT,
    ingest_documents,
)
from rag_vertex_ai_vector_search_spark.operators.serving import (
    ReplicaSource,
    ServingReplica,
    surrogate_key,
)
from rag_vertex_ai_vector_search_spark.sources.txlog import (
    TxLog,
    read_table,
    read_table_any,
    tx_append,
)
from rag_vertex_ai_vector_search_spark.streaming import ivf_stream
from rag_vertex_ai_vector_search_spark.streaming.ingest import _bucket_expr

DIM = 8
N_BUCKETS = 4
SCHEMA = "doc_id long, text string"
CENTROIDS = np.random.RandomState(3).randn(4, DIM)
OVER_LIMIT = "w " * (MAX_TOKENS_PER_TEXT + 10)
WORDS = ["alpha", "beta gamma", "delta 42", "eps? zeta", OVER_LIMIT]
_TOKENS = re.compile(TOKEN_PATTERN, re.ASCII)


def _land(src: str, name: str, rows) -> None:
    pq.write_table(pa.table({
        "doc_id": pa.array([d for d, _ in rows], pa.int64()),
        "text": pa.array([t for _, t in rows], pa.string()),
    }), os.path.join(src, name))


def _drain(spark, src, index, ckpt, budget=None):
    with pytest.MonkeyPatch.context() as mp:
        if budget is not None:
            mp.setattr(ivf_stream, "DRIVER_EPOCH_BUDGET_BYTES", budget)
        q = ivf_stream.stream_merge_into_ivf_index(
            spark.readStream.schema(SCHEMA).parquet(src), index, CENTROIDS,
            checkpoint_dir=ckpt, dim=DIM, n_buckets=N_BUCKETS, txlog=True,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def _stored(df) -> dict:
    """id -> (vector bytes, cluster_id, restricts, numeric_restricts,
    crowding_attribute) of an index read through Spark."""
    return {
        r.data_point_id: (
            np.asarray(r.feature_vector, dtype=np.float32).tobytes(),
            r.cluster_id,
            {k: list(v) for k, v in r.restricts.items()},
            dict(r.numeric_restricts),
            r.crowding_attribute,
        )
        for r in df.collect()
    }


def _spark_written(path: str) -> bool:
    meta = pq.read_metadata(path).metadata or {}
    return b"org.apache.spark.version" in meta


class _Model:
    """The index an epoch sequence should leave: the last accepted row
    of a key wins, and a key keeps the leaf of its first accepted
    text."""

    def __init__(self):
        self.latest: dict[int, str] = {}
        self.leaf: dict[int, int] = {}

    def epoch(self, rows) -> bool:
        winners = {
            d: t for d, t in rows
            if len(_TOKENS.findall(t)) <= MAX_TOKENS_PER_TEXT
        }
        for d, t in winners.items():
            if d not in self.leaf:
                v = hash_embedding_numpy(t, DIM).astype(np.float64)
                self.leaf[d] = int(((v - CENTROIDS) ** 2).sum(axis=1).argmin())
            self.latest[d] = t
        return bool(winners)

    def rows(self) -> dict:
        return {
            surrogate_key(d): (
                hash_embedding_numpy(t, DIM).tobytes(),
                self.leaf[d],
                {"file_type": ["markdown"], "content_type": ["documentation"]},
                {
                    "embedding_dimension": DIM,
                    "content_length": len(t),
                    "token_count": len(_TOKENS.findall(t)),
                },
                str(d),
            )
            for d, t in self.latest.items()
        }


epoch_rows = st.lists(
    st.tuples(st.integers(0, 7), st.sampled_from(WORDS), st.integers(0, 2)),
    max_size=8,
).map(lambda rows: [(d, f"{w} doc {d} v{n}") for d, w, n in rows])


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(epochs=st.lists(epoch_rows, min_size=1, max_size=3))
def test_driver_and_spark_executors_write_equal_rows(spark, tmp_path, epochs):
    work = tempfile.mkdtemp(dir=tmp_path)
    src = os.path.join(work, "src")
    os.makedirs(src)
    sides = {
        "driver": (os.path.join(work, "a"), os.path.join(work, "ck_a"), None),
        "spark": (os.path.join(work, "b"), os.path.join(work, "ck_b"), 0),
    }
    logs = {k: TxLog(spark, index) for k, (index, _, _) in sides.items()}
    model = _Model()

    def run(name: str, rows, *, changes: bool) -> None:
        before = {k: log.current_version() for k, log in logs.items()}
        if rows is not None:
            _land(src, name, rows)
        for index, ckpt, budget in sides.values():
            _drain(spark, src, index, ckpt, budget)
        for k, log in logs.items():
            after = log.current_version()
            if before[k] < 0:  # the first commit also creates the log
                assert (after >= 0) == changes, (name, k)
            else:
                assert after == before[k] + changes, (name, k)
        if model.latest:
            want = model.rows()
            for k, (index, _, _) in sides.items():
                assert _stored(read_table(spark, index)) == want, (name, k)

    for i, rows in enumerate(epochs):
        run(f"e{i}.parquet", rows, changes=model.epoch(rows))
    # replay: forget that the last epoch finished; the restarted
    # stream re-runs it and the txn meta turns it into a no-op
    last = len(epochs) - 1
    for _, ckpt, _ in sides.values():
        for name in (str(last), f".{last}.crc"):
            os.remove(os.path.join(ckpt, "commits", name))
    run("replay", None, changes=False)
    run("empty.parquet", [], changes=False)
    assert os.path.exists(
        os.path.join(sides["driver"][1], "commits", str(last + 1))
    )

    # each side's live files came from its own executor, with one
    # file schema across both
    schemas = set()
    for k, log in logs.items():
        root = sides[k][0]
        for rel in log.live_files() if model.latest else []:
            path = os.path.join(root, rel)
            assert _spark_written(path) == (k == "spark")
            schemas.add(pq.read_schema(path).remove_metadata())
    assert len(schemas) <= 1, schemas
    shutil.rmtree(work, ignore_errors=True)


def test_two_rewrites_in_one_micro_batch_follow_the_scan_order(
    spark, tmp_path
):
    """Two rewrites of one key land as two files and drain in one
    micro-batch: on both executors the last row in the micro-batch's
    scan order wins. Spark's file scan reads the larger file first, so
    here the text of the older, smaller file wins."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _land(src, "a.parquet", [(1, "alpha doc 1 old")])
    _land(src, "b.parquet", [(1, "beta gamma doc 1 new")] + [
        (100 + i, f"delta 42 doc {i}") for i in range(40)
    ])
    scan = spark.read.schema(SCHEMA).parquet(src).collect()
    model = _Model()
    model.epoch([(r.doc_id, r.text) for r in scan])
    assert model.latest[1] == "alpha doc 1 old"
    for name, budget in (("driver", None), ("spark", 0)):
        index = str(tmp_path / name)
        _drain(spark, src, index, str(tmp_path / f"ck_{name}"), budget)
        # v0 creates the log, v1 is the one micro-batch's merge
        assert TxLog(spark, index).current_version() == 1, name
        assert _stored(read_table(spark, index)) == model.rows(), name


def test_mixed_writer_index_reads_like_the_model(spark, tmp_path):
    """Driver epoch, then a Spark append that leaves two files in some
    leaves, then ``maintain_index`` compacts those leaves with Spark,
    then a second driver epoch reads and rewrites Spark-written files.
    Every live file has one schema, and both readers see the model's
    rows."""
    from rag_vertex_ai_vector_search_spark.operators.pq import (
        encode_pq,
        train_pq,
    )
    from rag_vertex_ai_vector_search_spark.streaming.maintenance import (
        maintain_index,
    )

    src = str(tmp_path / "src")
    index = str(tmp_path / "index")
    codes = str(tmp_path / "codes")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    model = _Model()

    first = [(i, f"first doc {i}") for i in range(24)]
    _land(src, "b0.parquet", first)
    _drain(spark, src, index, ckpt)
    model.epoch(first)

    appended = [(100 + i, f"bulk doc {i}") for i in range(24)]
    dp = ingest_documents(
        spark.createDataFrame(appended, SCHEMA), dim=DIM
    ).datapoints
    log = TxLog(spark, index)
    driver_files = set(log.live_files())
    tx_append(
        spark, index,
        dp.withColumn("_bucket", _bucket_expr("data_point_id", N_BUCKETS))
        .withColumn(
            "cluster_id",
            ivf_stream.nearest_cluster_udf(CENTROIDS)(F.col("feature_vector")),
        ),
        partition_cols=("_bucket", "cluster_id"),
    )
    model.epoch(appended)
    spark_schema = {
        pq.read_schema(os.path.join(index, r)).remove_metadata()
        for r in set(log.live_files()) - driver_files
    }
    assert len(spark_schema) == 1
    report = maintain_index(spark, index, CENTROIDS, min_age_seconds=0)
    assert report["compact_scope"]["partitions_fragmented"] > 0

    def encode():
        encode_pq(
            read_table_any(spark, index), books,
            id_col="data_point_id", vec_col="feature_vector",
            keep_cols=("cluster_id",),
        ).codes.write.mode("overwrite").partitionBy("cluster_id").parquet(codes)

    books = train_pq(
        read_table_any(spark, index), vec_col="feature_vector",
        m=2, ksub=4, iters=2,
    )
    encode()
    replica = ServingReplica.from_source(spark, ReplicaSource(
        vectors_path=index, codes_path=codes, books=books,
        centroids=CENTROIDS, id_col="data_point_id",
        vec_col="feature_vector",
    ), dim=DIM)

    # the second epoch touches one bucket that holds compacted files,
    # and leaves another such bucket alone
    spark_buckets = sorted({
        int(r.split("/", 1)[0].split("=")[1]) for r in log.live_files()
        if _spark_written(os.path.join(index, r))
    })
    assert len(spark_buckets) >= 2, spark_buckets
    candidates = [*model.latest, *range(200, 260)]
    bucket_of = dict(spark.createDataFrame(
        [(surrogate_key(d), d) for d in candidates], "k string, d long"
    ).select("d", _bucket_expr("k", N_BUCKETS)).collect())
    hot = [d for d in candidates if bucket_of[d] == spark_buckets[0]]
    second = [(d, f"changed doc {d}") for d in hot if d < 200][::2] + [
        (d, f"new doc {d}") for d in hot if d >= 200
    ][:4]
    _land(src, "b1.parquet", second)
    _drain(spark, src, index, ckpt)
    model.epoch(second)

    # compaction writes the schema it read (every field nullable); the
    # driver writes the schema the Spark merge and append write
    paths = [os.path.join(index, r) for r in log.live_files()]
    driver = [p for p in paths if not _spark_written(p)]
    assert driver and len(driver) < len(paths)
    assert {pq.read_schema(p).remove_metadata() for p in driver} == spark_schema

    want = model.rows()
    assert _stored(read_table_any(spark, index)) == want

    encode()
    assert replica.is_stale()
    replica.refresh()
    gen = replica._state
    ids = gen.ids.to_pylist()
    assert set(ids) == set(want)
    for i, key in enumerate(ids):
        vec = np.ascontiguousarray(gen.vectors[gen.vec_row[i]])
        assert vec.tobytes() == want[key][0], key
        assert gen.vec_clusters[i] == want[key][1], key
