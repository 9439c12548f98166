"""ServingReplica (operators/serving.py): the warm-replica interactive
path must be BIT-EQUAL to the batch route (ingest UDF embed +
ivf_pq_search) -- the driver-side embed/gate/key are the same formulas
the distributed path runs, so swapping routes can never change an
answer (reference config.py:44-50 serving premise)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rag_vertex_ai_vector_search_spark.operators.ingest import (
    TokenLimitExceeded,
    ingest_documents,
)
from rag_vertex_ai_vector_search_spark.operators.ivf import (
    IVFIndex,
    build_ivf_index,
)
from rag_vertex_ai_vector_search_spark.operators.pq import (
    PQIndex,
    encode_pq,
    ivf_pq_search,
    train_pq,
)
from rag_vertex_ai_vector_search_spark.operators.serving import (
    ReplicaSource,
    ServingReplica,
    embed_query_text,
    surrogate_key,
)
from rag_vertex_ai_vector_search_spark.sources import load_table

QUERY_TEXT = "what is the pricing summary of urgent orders"
QUERY_ID = 900001


@pytest.fixture(scope="module")
def replica(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    ivf = build_ivf_index(emb, n_clusters=8)
    books = train_pq(emb, m=8, ksub=16, iters=2, sample_rows=300)
    pq = encode_pq(ivf.assigned, books, keep_cols=("cluster_id",))
    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "lang", "source"
    )
    ivf_index = IVFIndex(
        assigned=ivf.assigned, centroids=ivf.centroids,
        id_col="vec_id", vec_col="embedding",
    )
    pq_index = PQIndex(codes=pq.codes, books=books, id_col="vec_id")
    return (
        ServingReplica(spark, ivf_index, pq_index, docs, dim=64),
        ivf_index, pq_index, docs,
    )


def test_driver_embed_matches_udf_embed(spark):
    """The driver-side embed must be bit-identical to what the ingest
    pandas UDF writes (it wraps the same function; this pins the
    float32 round-trip through createDataFrame)."""
    one = spark.createDataFrame(
        [(QUERY_ID, QUERY_TEXT)], "doc_id long, text string"
    )
    row = ingest_documents(one, dim=64).datapoints.select(
        "data_point_id", "feature_vector"
    ).first()
    assert row.data_point_id == surrogate_key(QUERY_ID)
    got = np.asarray(
        embed_query_text(QUERY_TEXT, dim=64), dtype=np.float32
    )
    want = np.asarray(row.feature_vector, dtype=np.float32)
    assert np.array_equal(got, want)


def test_replica_query_bit_equal_to_batch_route(spark, replica):
    """replica.query() == ingest-UDF qvec -> ivf_pq_search(broadcast)
    -> broadcast hydration, tuple-for-tuple (scores are doubles --
    bit equality, not approx)."""
    rep, ivf_index, pq_index, docs = replica

    served = sorted(
        tuple(r) for r in rep.query(
            QUERY_TEXT, doc_id=QUERY_ID, k=10, probe_percent=25.0
        ).collect()
    )

    one = spark.createDataFrame(
        [(QUERY_ID, QUERY_TEXT)], "doc_id long, text string"
    )
    qvec = ingest_documents(one, dim=64).datapoints.select(
        F.col("data_point_id").alias("query_id"),
        F.col("feature_vector").alias("query_vector"),
    )
    hits = ivf_pq_search(
        ivf_index, pq_index, qvec, 10,
        probe_percent=25.0, method="broadcast",
    )
    batch = sorted(
        tuple(r) for r in hits.join(
            F.broadcast(docs), hits.neighbor_id == docs.doc_id, "left"
        ).select(
            "query_id", F.col("rank").cast("long").alias("rank"),
            "neighbor_id", "score", "lang", "source",
        ).collect()
    )
    assert served == batch
    assert len(served) == 10


def test_replica_token_gate(replica):
    rep = replica[0]
    with pytest.raises(TokenLimitExceeded):
        rep.query("word " * 3000, doc_id=1)


def test_replica_broadcast_equals_cogroup(spark, replica):
    """The replica's broadcast route must match the collect-free
    cogroup route bit-for-bit on the same query (the r10 serving
    invariant, preserved through the r12 latency work)."""
    rep, ivf_index, pq_index, _docs = replica
    qvec = rep.query_vector_df(QUERY_ID, QUERY_TEXT)
    a = sorted(
        tuple(r) for r in ivf_pq_search(
            ivf_index, pq_index, qvec, 10,
            probe_percent=25.0, method="broadcast",
        ).collect()
    )
    b = sorted(
        tuple(r) for r in ivf_pq_search(
            ivf_index, pq_index, qvec, 10,
            probe_percent=25.0, method="cogroup",
        ).collect()
    )
    assert a == b


def test_replica_restrict_crowding_bit_equal_to_batch(spark, replica):
    """The replica's pass-through of the full serving contract
    (restrict + crowding THROUGH the cascade) must also be bit-equal
    to the direct ivf_pq_search route."""
    rep, ivf_index, pq_index, _docs = replica
    pq_l = encode_pq(
        ivf_index.assigned,
        pq_index.books,
        keep_cols=("cluster_id", "label"),
    )
    rep2 = ServingReplica(spark, ivf_index, pq_l, None, dim=64)
    restrict = F.col("label").isin(1, 2, 3)
    served = sorted(
        tuple(r) for r in rep2.query(
            QUERY_TEXT, doc_id=QUERY_ID, k=6, probe_percent=50.0,
            rerank_candidates=60, restrict=restrict,
            per_crowding_k=2, crowding_col="label",
        ).collect()
    )
    qvec = rep2.query_vector_df(QUERY_ID, QUERY_TEXT)
    direct = sorted(
        tuple(r) for r in ivf_pq_search(
            ivf_index, pq_l, qvec, 6,
            probe_percent=50.0, rerank_candidates=60,
            method="broadcast", restrict=restrict,
            per_crowding_k=2, crowding_col="label",
        ).collect()
    )
    assert served == direct
    assert 0 < len(served) <= 6
    # the crowding cap really bit: no label appears more than twice
    from collections import Counter

    label_counts = Counter(t[-1] for t in served)
    assert max(label_counts.values()) <= 2


def test_query_batch_bit_equal(spark, replica):
    """query_batch (r13 request coalescing): answers for a window of
    requests answered in ONE job must be bit-equal, per request, to
    the single-query route -- ivf_pq_search ranks within query_id
    partitions, so batching can never leak a neighbor across
    requests."""
    rep, _ivf, _pq, _docs = replica
    reqs = [
        (920000 + i, f"{QUERY_TEXT} window {i}") for i in range(6)
    ]
    batched = rep.query_batch(reqs, k=5, probe_percent=50.0)
    assert [d for d, _ in batched] == [d for d, _ in reqs]
    for (doc_id, text), (_got_id, got_rows) in zip(reqs, batched):
        want = rep.query(
            text, doc_id=doc_id, k=5, probe_percent=50.0
        ).collect()
        assert sorted(map(tuple, got_rows)) == sorted(map(tuple, want))
        # rank-ordered within each request's answer list
        assert [r.rank for r in got_rows] == sorted(
            r.rank for r in got_rows
        )


def test_query_batch_rejects_duplicate_request_ids(spark, replica):
    """Two requests sharing a doc_id would share a surrogate query_id
    and the cascade would merge their neighbor lists -- the window
    must refuse loudly."""
    rep, _ivf, _pq, _docs = replica
    with pytest.raises(ValueError, match="duplicate doc_id"):
        rep.query_batch(
            [(1, "text a"), (1, "text b")], k=3, probe_percent=50.0
        )


def test_replica_refresh_sees_appended_vector(spark, sf_smoke, tmp_path):
    """STREAM_UPDATE serving semantic (r14, VERDICT r13 #1): a warm
    replica built from a durable layout must detect a post-startup
    index mutation (is_stale) and, after refresh(), answer bit-equal
    to a freshly built replica -- here the mutation plants the query's
    own embedding as a new vector, so the refreshed answer must rank
    it first while the stale fingerprint proves the layout moved."""
    import pandas as pd

    emb = load_table(spark, sf_smoke, "embeddings")
    ivf = build_ivf_index(emb, n_clusters=8)
    books = train_pq(emb, m=8, ksub=16, iters=2, sample_rows=300)
    vectors_path = str(tmp_path / "vectors")
    codes_path = str(tmp_path / "codes")
    ivf.save(vectors_path)  # persists the _centroids sidecar too
    encode_pq(
        spark.read.parquet(vectors_path), books,
        keep_cols=("cluster_id",),
    ).codes.write.partitionBy("cluster_id").parquet(codes_path)

    src = ReplicaSource(
        vectors_path=vectors_path, codes_path=codes_path, books=books,
    )
    rep = ServingReplica.from_source(spark, src, dim=64)
    # centroids came from the sidecar ivf.save wrote
    assert np.array_equal(rep.centroids, ivf.centroids)
    q0 = sorted(
        tuple(r) for r in rep.query(
            QUERY_TEXT, doc_id=QUERY_ID, k=5, probe_percent=25.0
        ).collect()
    )
    assert not rep.is_stale()

    qvec = embed_query_text(QUERY_TEXT, dim=64)
    cid = int(
        ((qvec.astype(np.float64)[None, :] - rep.centroids) ** 2)
        .sum(axis=1).argmin()
    )
    plant = spark.createDataFrame(
        pd.DataFrame({
            "vec_id": [999999],
            "embedding": [[float(x) for x in qvec]],
            "label": [0],
            "cluster_id": [cid],
        }),
        "vec_id long, embedding array<float>, label int, cluster_id int",
    )
    plant.coalesce(1).write.mode("append").partitionBy(
        "cluster_id"
    ).parquet(vectors_path)
    # repartition, not coalesce: a pandas UDF below a coalesce pays
    # one Arrow-runner setup per parent partition (see bench.py r14)
    encode_pq(
        plant.repartition(1), books, keep_cols=("cluster_id",)
    ).codes.write.mode("append").partitionBy(
        "cluster_id"
    ).parquet(codes_path)

    assert rep.is_stale()
    report = rep.refresh()
    assert not rep.is_stale()
    assert report["n_vectors"] == emb.count() + 1

    got = rep.query(
        QUERY_TEXT, doc_id=QUERY_ID, k=5, probe_percent=25.0
    ).collect()
    assert got[0].neighbor_id == 999999  # the planted exact match wins
    fresh = ServingReplica.from_source(spark, src, dim=64)
    want = fresh.query(
        QUERY_TEXT, doc_id=QUERY_ID, k=5, probe_percent=25.0
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert sorted(map(tuple, got)) != q0


def test_plain_layout_staleness_without_py4j_listing(
    spark, tmp_path, monkeypatch
):
    """A local plain-parquet layout is fingerprinted by one pyarrow
    walk (never the Hadoop listing): staleness flips on a data append
    and on a rewrite of the ``_centroids`` sidecar alone, and clears on
    refresh."""
    import pandas as pd

    from rag_vertex_ai_vector_search_spark.operators.ivf import (
        save_centroids,
    )
    from rag_vertex_ai_vector_search_spark.sources import compact

    def no_hadoop_fs(*_a, **_k):
        raise AssertionError("local fingerprint took the py4j listing")

    monkeypatch.setattr(compact, "_fs_and_path", no_hadoop_fs)
    path = str(tmp_path / "vectors")

    def append(ids):
        spark.createDataFrame(
            pd.DataFrame({"vec_id": ids, "cluster_id": [0] * len(ids)}),
            "vec_id long, cluster_id int",
        ).coalesce(1).write.mode("append").partitionBy(
            "cluster_id"
        ).parquet(path)

    append([1, 2])
    save_centroids(spark, path, np.zeros((2, 4)))
    rep = ServingReplica.from_source(
        spark, ReplicaSource(vectors_path=path), dim=4
    )
    assert not rep.is_stale()
    append([3])
    assert rep.is_stale()
    rep.refresh()
    assert not rep.is_stale()
    save_centroids(spark, path, np.ones((2, 4)))
    assert rep.is_stale()
    rep.refresh()
    assert np.array_equal(rep.centroids, np.ones((2, 4)))
    assert not rep.is_stale()


@pytest.mark.full
def test_replica_refresh_stream_update_and_recluster(
    spark, sf_smoke, tmp_path
):
    """The full live-index lifecycle against ONE warm replica: stream
    batch -> warm replica -> second stream batch (changed + planted
    docs) -> refresh sees it -> forced recluster (grown centroid
    matrix, sidecar auto-updated, codes re-encoded) -> refresh probes
    with the NEW centroids and answers bit-equal to a freshly built
    replica; full-probe results are invariant across the rebalance
    (the row set is unchanged, only the partition map refines)."""
    from rag_vertex_ai_vector_search_spark.operators.ivf import (
        load_centroids,
        save_centroids,
    )
    from rag_vertex_ai_vector_search_spark.streaming.ivf_stream import (
        recluster_ivf_index,
        stream_merge_into_ivf_index,
    )

    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "text"
    )
    index_path = str(tmp_path / "ivf")
    codes_path = str(tmp_path / "codes")
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    dp = ingest_documents(docs).datapoints
    centroids = np.asarray(
        [
            r.feature_vector
            for r in dp.orderBy("data_point_id").limit(4).collect()
        ],
        dtype=np.float64,
    )
    books = train_pq(
        dp, vec_col="feature_vector", m=8, ksub=16, iters=2,
        sample_rows=300,
    )

    def run_stream():
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).parquet(src_dir)
        q = stream_merge_into_ivf_index(
            stream, index_path, centroids,
            checkpoint_dir=ckpt, n_buckets=4,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def encode_codes():
        assigned = spark.read.parquet(index_path)
        encode_pq(
            assigned, books,
            id_col="data_point_id", vec_col="feature_vector",
            keep_cols=("cluster_id",),
        ).codes.write.mode("overwrite").partitionBy(
            "cluster_id"
        ).parquet(codes_path)

    docs.write.parquet(src_dir)
    run_stream()
    save_centroids(spark, index_path, centroids)
    encode_codes()

    src = ReplicaSource(
        vectors_path=index_path, codes_path=codes_path, books=books,
        id_col="data_point_id", vec_col="feature_vector",
    )
    rep = ServingReplica.from_source(spark, src, dim=64)
    q0 = sorted(
        tuple(r) for r in rep.query(
            QUERY_TEXT, doc_id=QUERY_ID, k=5, probe_percent=50.0
        ).collect()
    )
    assert not rep.is_stale()

    # STREAM_UPDATE batch 2: changed docs + a planted exact match
    i = F.col("doc_id")
    delta = docs.filter(i % 17 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" v2")).alias("text")
    ).unionByName(
        spark.createDataFrame(
            [(990001, QUERY_TEXT)], "doc_id long, text string"
        )
    )
    delta.coalesce(1).write.mode("append").parquet(src_dir)
    run_stream()
    encode_codes()

    assert rep.is_stale()
    rep.refresh()
    got = rep.query(
        QUERY_TEXT, doc_id=QUERY_ID, k=5, probe_percent=50.0
    ).collect()
    assert got[0].neighbor_id == surrogate_key(990001)
    fresh = ServingReplica.from_source(spark, src, dim=64)
    want = fresh.query(
        QUERY_TEXT, doc_id=QUERY_ID, k=5, probe_percent=50.0
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert sorted(map(tuple, got)) != q0

    full_pre = sorted(
        (r.neighbor_id, r.score) for r in rep.query(
            QUERY_TEXT, doc_id=QUERY_ID, k=5, probe_percent=100.0,
            rerank_candidates=50,
        ).collect()
    )

    # forced tree-AH rebalance: 500 docs / 4 leaves >> the 64-row cap
    new_cent = recluster_ivf_index(
        spark, index_path, load_centroids(spark, index_path),
        max_leaf_rows=64, max_drift_fraction=1.1,
    )
    assert new_cent.shape[0] > centroids.shape[0]
    assert np.array_equal(load_centroids(spark, index_path), new_cent)
    encode_codes()

    assert rep.is_stale()
    rep.refresh()
    assert rep.centroids.shape[0] == new_cent.shape[0]
    got2 = rep.query(
        QUERY_TEXT, doc_id=QUERY_ID, k=5, probe_percent=50.0
    ).collect()
    fresh2 = ServingReplica.from_source(spark, src, dim=64)
    want2 = fresh2.query(
        QUERY_TEXT, doc_id=QUERY_ID, k=5, probe_percent=50.0
    ).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, want2))

    full_post = sorted(
        (r.neighbor_id, r.score) for r in rep.query(
            QUERY_TEXT, doc_id=QUERY_ID, k=5, probe_percent=100.0,
            rerank_candidates=50,
        ).collect()
    )
    assert full_post == full_pre


@pytest.mark.full
def test_replica_extra_paths_staleness(spark, sf_smoke, tmp_path):
    """ReplicaSource.extra_paths (r14): a mutation of the HYDRATION
    table path -- not the index -- must flip is_stale() when the path
    is folded into the fingerprint, and refresh() must re-invoke the
    docs loader so post-refresh answers carry the new metadata."""
    emb = load_table(spark, sf_smoke, "embeddings")
    ivf = build_ivf_index(emb, n_clusters=8)
    books = train_pq(emb, m=8, ksub=16, iters=2, sample_rows=300)
    vectors_path = str(tmp_path / "vectors")
    codes_path = str(tmp_path / "codes")
    docs_path = str(tmp_path / "docs")
    ivf.save(vectors_path)
    encode_pq(
        spark.read.parquet(vectors_path), books,
        keep_cols=("cluster_id",),
    ).codes.write.partitionBy("cluster_id").parquet(codes_path)
    docs = load_table(spark, sf_smoke, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang", "source"
    )
    docs.write.parquet(docs_path)

    def load_docs(s):
        s.catalog.refreshByPath(docs_path)
        return s.read.parquet(docs_path)

    src = ReplicaSource(
        vectors_path=vectors_path, codes_path=codes_path, books=books,
        docs=load_docs, extra_paths=(docs_path,),
    )
    rep = ServingReplica.from_source(
        spark, src, dim=64, doc_id_col="vec_id",
        hydrate_cols=("lang", "source"),
    )
    q0 = rep.query(QUERY_TEXT, doc_id=QUERY_ID, k=3, probe_percent=50.0)
    assert all(r.source != "updated" for r in q0.collect())
    assert not rep.is_stale()

    docs.withColumn("source", F.lit("updated")).write.mode(
        "overwrite"
    ).parquet(docs_path)
    assert rep.is_stale()
    rep.refresh()
    got = rep.query(
        QUERY_TEXT, doc_id=QUERY_ID, k=3, probe_percent=50.0
    ).collect()
    assert got and all(r.source == "updated" for r in got)
    assert not rep.is_stale()


def test_compaction_preserves_sidecars_and_replica_refresh(
    spark, sf_smoke, tmp_path
):
    """One maintenance compaction over a saved IVF layout must PRESERVE
    the underscore sidecars (r15, ADVICE r14 medium): the staged
    rewrite reads through spark.read.parquet, which HIDES underscore
    entries, so before the sidecar rescue commit_staged_rewrite deleted
    ``_centroids`` / ``_index_manifest.json`` with the old dir --
    breaking load_centroids, has_centroids recluster gating, and
    ServingReplica.refresh() on a ReplicaSource-backed replica whose
    centroids come from the sidecar (the maintained-index default)."""
    from rag_vertex_ai_vector_search_spark.operators.ivf import (
        has_centroids,
        load_centroids,
    )
    from rag_vertex_ai_vector_search_spark.operators.upsert import (
        read_json_sidecar,
        write_json_sidecar,
    )
    from rag_vertex_ai_vector_search_spark.sources import (
        compact_parquet,
        table_file_stats,
    )

    from rag_vertex_ai_vector_search_spark.operators.ivf import (
        save_centroids,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    ivf = build_ivf_index(emb, n_clusters=8)
    vectors_path = str(tmp_path / "vectors")
    # fragmented layout, as a streaming merge leaves it (several files
    # per cluster dir) so the compaction threshold actually trips
    ivf.assigned.repartition(4).write.partitionBy("cluster_id").parquet(
        vectors_path
    )
    save_centroids(spark, vectors_path, ivf.centroids)
    write_json_sidecar(
        spark, vectors_path, "_index_manifest.json", {"dim": 64}
    )
    src = ReplicaSource(vectors_path=vectors_path)  # centroids=sidecar
    rep = ServingReplica.from_source(spark, src, dim=64)

    n_before, total = table_file_stats(spark, vectors_path)
    assert n_before > 1
    n_after = compact_parquet(
        spark,
        vectors_path,
        target_file_bytes=total,
        partition_cols=("cluster_id",),
    )
    assert n_after < n_before  # the rewrite actually ran

    # sidecars survived the swap
    assert has_centroids(spark, vectors_path)
    assert np.array_equal(
        load_centroids(spark, vectors_path), ivf.centroids
    )
    assert read_json_sidecar(
        spark, vectors_path, "_index_manifest.json"
    ) == {"dim": 64}

    # a refresh through the compacted layout still resolves centroids
    assert rep.is_stale()  # the rewrite changed the data-file listing
    report = rep.refresh()
    assert report["n_clusters"] == 8
    assert np.array_equal(rep.centroids, ivf.centroids)
