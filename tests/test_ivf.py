"""IVF pruned search quality: recall@k vs the exact path.

Mirrors the reference's leaf_nodes_to_search_percent semantics
(common/config.py:38): scanning a fraction of leaves must retain most
of the true top-k.
"""

from pyspark.sql import functions as F

from rag_vertex_ai_vector_search_spark.sources import load_table
from rag_vertex_ai_vector_search_spark.operators import knn_search
from rag_vertex_ai_vector_search_spark.operators.ivf import build_ivf_index, ivf_search
import pytest


def _topk_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_ivf_full_probe_is_exact(spark, sf_smoke):
    """probe=100% must reproduce the exact path even on structureless
    (uniform random) vectors -- pruning-off is a correctness identity."""
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    k = 10
    exact = _topk_sets(knn_search(emb, queries, k=k, method="fold").collect())
    index = build_ivf_index(emb, n_clusters=16)
    full = _topk_sets(ivf_search(index, queries, k=k, probe_percent=100.0).collect())
    assert full == exact


@pytest.mark.full
def test_ivf_recall_on_clustered_data(spark):
    """recall@10 >= 0.95 at 25% probe on data with cluster structure
    (real embedding corpora are clustered; the driver fixture vectors are
    uniform random, where no IVF layout can prune -- verified: intra-label
    cosine == 0.0 -- so the recall gate runs on planted clusters,
    mirroring leaf_nodes_to_search_percent semantics, config.py:38)."""
    import numpy as np

    rng = np.random.RandomState(42)
    n_centers, per_center, dim = 20, 25, 32
    centers = rng.randn(n_centers, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per_center):
            v = c + 0.15 * rng.randn(dim)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    queries = emb.filter(F.col("vec_id") % 25 == 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    k = 10
    exact = _topk_sets(knn_search(emb, queries, k=k, method="fold").collect())
    index = build_ivf_index(emb, n_clusters=n_centers)
    pruned = _topk_sets(ivf_search(index, queries, k=k, probe_percent=25.0).collect())
    recalls = [len(pruned.get(q, set()) & exact[q]) / len(exact[q]) for q in exact]
    avg_recall = sum(recalls) / len(recalls)
    assert avg_recall >= 0.95, f"recall@{k} = {avg_recall:.3f}"


def test_ivf_partitioned_layout(spark, sf_smoke, tmp_path):
    """Saving the index produces one parquet partition per cluster, and
    reading it back prunes partitions on a cluster filter."""
    emb = load_table(spark, sf_smoke, "embeddings")
    index = build_ivf_index(emb, n_clusters=8)
    path = str(tmp_path / "ivf")
    index.save(path)

    back = spark.read.parquet(path)
    assert back.count() == emb.count()
    plan = back.filter(F.col("cluster_id").isin(1, 2))._jdf.queryExecution().executedPlan().toString()
    # partition filter must appear as a partition-pruning predicate, not a data filter
    assert "cluster_id" in plan
    assert back.filter(F.col("cluster_id").isin(1, 2)).select("cluster_id").distinct().count() <= 2


def _ranks(df):
    return sorted(
        (r[0], r[1], r[2])
        for r in df.select("query_id", "rank", "neighbor_id").collect()
    )


@pytest.mark.full
def test_ivf_methods_agree(spark, sf_smoke):
    """gemm / fold / gemm_join and the blocked wrapper produce identical
    rankings at the same probe setting."""
    from rag_vertex_ai_vector_search_spark.operators.ivf import ivf_search_blocked

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    index = build_ivf_index(emb, n_clusters=16)
    kw = dict(k=7, probe_percent=25.0)
    base = _ranks(ivf_search(index, queries, method="gemm", **kw))
    assert _ranks(ivf_search(index, queries, method="fold", **kw)) == base
    assert _ranks(ivf_search(index, queries, method="gemm_join", **kw)) == base
    assert _ranks(
        ivf_search_blocked(index, queries, max_queries_per_block=5, **kw)
    ) == base


def test_ivf_gemm_join_never_collects_queries(spark, sf_smoke, monkeypatch):
    """ivf_search(method='gemm_join') may collect only the distinct
    probed CLUSTER IDS (bounded by n_clusters), never query rows."""
    from pyspark.sql.classic.dataframe import DataFrame

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    index = build_ivf_index(emb, n_clusters=8)

    real_collect = DataFrame.collect
    seen = []

    def guarded(self, *a, **kw):
        rows = real_collect(self, *a, **kw)
        seen.append((len(self.columns), len(rows)))
        assert len(self.columns) == 1, "collected more than cluster ids"
        assert len(rows) <= 8, "collected more rows than n_clusters"
        return rows

    monkeypatch.setattr(DataFrame, "collect", guarded)
    out = ivf_search(index, queries, k=5, probe_percent=50.0, method="gemm_join")
    monkeypatch.setattr(DataFrame, "collect", real_collect)
    assert seen, "probe-union collect expected"
    assert len(out.collect()) > 0


def test_ivf_restrict_composes_with_full_probe(spark, sf_smoke):
    """Restrict filters compose with the approximate path: at 100%
    probe, restricted IVF search == restricted exact kNN (the
    reference's Q3+Q6 combination)."""
    from pyspark.sql import functions as F2

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    restrict = F2.col("label").isin(1, 2, 3) & (F2.col("vec_id") >= 50)
    k = 8
    exact = sorted(map(tuple, knn_search(
        emb, queries, k=k, restrict=restrict, method="fold"
    ).select("query_id", "rank", "neighbor_id").collect()))
    index = build_ivf_index(emb, n_clusters=8)
    approx = sorted(map(tuple, ivf_search(
        index, queries, k=k, probe_percent=100.0, restrict=restrict
    ).select("query_id", "rank", "neighbor_id").collect()))
    assert approx == exact
    # every returned neighbor satisfies the restrict
    got = ivf_search(index, queries, k=k, probe_percent=25.0, restrict=restrict)
    joined = got.join(emb, got.neighbor_id == emb.vec_id)
    assert joined.filter(~(F2.col("label").isin(1, 2, 3) & (F2.col("vec_id") >= 50))).count() == 0


def test_ivf_build_empty_input_raises_clearly(spark):
    """An empty (or fully filtered) corpus must fail with a clear
    ValueError from both trainers, not an opaque numpy crash."""
    import pytest as _pytest

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="empty input"):
        build_ivf_index(empty, n_clusters=4)

    from rag_vertex_ai_vector_search_spark.operators.pq import train_pq

    with _pytest.raises(ValueError, match="empty input"):
        train_pq(empty, m=8, ksub=16, iters=1, sample_rows=100)


def test_load_centroids_local_sidecar_is_job_free(spark, tmp_path):
    """A local ``_centroids`` sidecar reads back with pyarrow: no Spark
    job, and exactly the matrix ``save_centroids`` wrote, in cluster_id
    order (for a bare path and its ``file:`` spelling)."""
    import numpy as np

    from rag_vertex_ai_vector_search_spark.operators.ivf import (
        load_centroids,
        save_centroids,
    )

    cent = np.random.default_rng(5).standard_normal((12, 6))
    path = str(tmp_path / "index")
    save_centroids(spark, path, cent)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    got = load_centroids(spark, path)
    assert sched.nextJobId() == j0
    assert got.dtype == np.float64 and np.array_equal(got, cent)
    assert np.array_equal(load_centroids(spark, f"file:{path}"), cent)
