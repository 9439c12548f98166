"""IVF (inverted-file) approximate search: the tree-AH analog.

The reference's index is tree-AH with leaf_node_embedding_count=500 and
leaf_nodes_to_search_percent=10 (common/config.py:36-38): vectors live
in leaves, a query visits ~10% of leaves. The Spark-native equivalent
is a DATA LAYOUT, not an engine extension:

- build: MLlib KMeans assigns every vector a ``cluster_id``; the index
  table is written ``partitionBy("cluster_id")`` so each cluster is a
  parquet partition (== a leaf).
- search: score the query against the (tiny, driver-held) centroid
  matrix, take the top ``nprobe`` clusters, and push
  ``cluster_id IN (...)`` into the scan -- partition pruning means the
  10% of leaves actually read is 10% of bytes, not 10% of rows after a
  full scan. Then the exact kNN operator runs on the survivors.

recall@k vs the exact path is the quality gate (>= 0.95 on fixtures,
mirroring leaf_nodes_to_search_percent semantics) --
tests/test_ivf.py.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .knn import knn_search


@dataclass
class IVFIndex:
    """Clustered layout + centroid matrix (the index 'manifest')."""

    assigned: DataFrame          # input columns + cluster_id
    centroids: np.ndarray        # (n_clusters, dim) float64
    id_col: str
    vec_col: str

    def save(self, path: str) -> None:
        """Persist the layout AND the centroid matrix: the sidecar is
        what lets a later process (a ServingReplica, a resumed
        maintenance loop) rebuild probe state without retraining --
        the STREAM_UPDATE index's centroids are part of its durable
        state, not a per-process artifact (r14)."""
        self.assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(path)
        save_centroids(self.assigned.sparkSession, path, self.centroids)


CENTROIDS_SUBDIR = "_centroids"


def save_centroids(spark, index_path: str, centroids: np.ndarray) -> None:
    """Write the centroid matrix as a parquet sidecar dir under the
    layout (``<index>/_centroids``; the leading underscore hides it
    from data scans, like ``_index_manifest.json``). Written through a
    pandas LocalRelation -- one tiny single-file job, remote-scheme
    safe. Maintenance that changes centroids (``recluster_ivf_index``)
    rewrites it, so ``load_centroids`` is always the probe matrix the
    on-disk layout was assigned under."""
    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    df = spark.createDataFrame(
        pd.DataFrame({
            "cluster_id": list(range(cent.shape[0])),
            "centroid": [[float(x) for x in row] for row in cent],
        }),
        "cluster_id int, centroid array<double>",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        index_path.rstrip("/") + "/" + CENTROIDS_SUBDIR
    )


def load_centroids(spark, index_path: str) -> np.ndarray:
    """Read back ``save_centroids``'s sidecar as (n_clusters, dim)
    float64, ordered by cluster_id. A scheme-less or ``file:`` layout
    is read with pyarrow (no job, and no Spark listing of a hidden
    dir); a remote scheme through ``spark.read``."""
    from ..sources.txlog import _scheme_of, _strip_file_scheme

    path = index_path.rstrip("/") + "/" + CENTROIDS_SUBDIR
    if _scheme_of(path) in (None, "file"):
        import pyarrow.dataset as ds

        table = ds.dataset(
            _strip_file_scheme(path), format="parquet"
        ).to_table().sort_by("cluster_id")
        rows = table.column("centroid").to_pylist()
    else:
        rows = [
            r.centroid for r in spark.read.parquet(path)
            .orderBy("cluster_id").collect()
        ]
    return np.asarray(rows, dtype=np.float64)


def has_centroids(spark, index_path: str) -> bool:
    """True when the layout carries a ``_centroids`` sidecar."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(
        index_path.rstrip("/") + "/" + CENTROIDS_SUBDIR
    )
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _kmeans_numpy(
    x: np.ndarray, k: int, iters: int, seed: int
) -> np.ndarray:
    """Seeded Lloyd's on the driver-side sample (n, dim) -> (k, dim).
    Empty clusters re-seed from the points farthest from their
    centroid (same policy as the PQ subspace trainer)."""
    rng = np.random.default_rng(seed)
    n = x.shape[0]
    kk = min(k, n)
    cent = x[rng.choice(n, size=kk, replace=False)].copy()
    if kk < k:
        cent = np.vstack([cent, cent[rng.integers(0, kk, size=k - kk)]])
    for _ in range(iters):
        d2 = (
            (x ** 2).sum(axis=1, keepdims=True)
            - 2.0 * x @ cent.T
            + (cent ** 2).sum(axis=1)
        )
        assign = d2.argmin(axis=1)
        far = d2[np.arange(n), assign].argsort()[::-1]
        spill = 0
        for j in range(k):
            mask = assign == j
            if mask.any():
                cent[j] = x[mask].mean(axis=0)
            else:
                cent[j] = x[far[spill % n]]
                spill += 1
    return cent


def build_ivf_index(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    max_train_rows: int = 200_000,
    trainer: str = "numpy",
    centroids: np.ndarray | None = None,
) -> IVFIndex:
    """KMeans-cluster the corpus into ``n_clusters`` leaves.

    Sizing rule at scale: n_clusters ~ n_rows / leaf_node_embedding_count
    (500 in the reference) and never below sqrt(n_rows); centroids stay
    driver-side (n_clusters x dim doubles -- tiny even at 1e5 clusters).

    Training runs on a bounded SAMPLE (``max_train_rows``): k-means
    centroid quality converges long before the full corpus is seen, so
    at 100 TB the iterative phase touches ~1e5 rows while the single
    assignment pass streams everything once. ``max_iter`` defaults to
    8: measured training cost at 8 iterations is within 0.1% of 20 on
    the fixture corpus, and a partition layout only needs approximate
    centroids (probe ranking, not exact assignment, drives recall).

    ``trainer="numpy"`` (default) collects the bounded sample and runs
    seeded Lloyd's on the driver -- the SAME economics the PQ trainer
    proved (sample is a fixed ~100 MB regardless of corpus size), and
    the whole build is TWO Spark jobs (sample collect + assignment
    scan) instead of the ~15 that MLlib's k-means|| init + per-iter
    passes launch; on request-scale corpora the saved job overhead is
    most of the build wall-time. Assignment streams through an
    Arrow-vectorized pandas UDF. ``trainer="mllib"`` keeps the
    distributed trainer for samples too big to collect.

    ``centroids`` (an explicit (n, dim) float64 matrix) skips training
    entirely and clusters the corpus around the given points -- the
    pre-trained-quantizer pattern (FAISS ``IndexIVFFlat(quantizer,...)``):
    reuse a layout trained on last month's corpus, share one quantizer
    across shards, or pin centroids to chosen data rows so the whole
    pruned search is closed-form (the oracled ``ann_recall_ivf``
    configuration). Overrides ``n_clusters``/``trainer``.
    """
    if centroids is not None:
        centroids = np.ascontiguousarray(centroids, dtype=np.float64)
        assigned = df.withColumn(
            "cluster_id",
            _nearest_centroid_udf(centroids)(F.col(vec_col)),
        )
        return IVFIndex(
            assigned=assigned, centroids=centroids,
            id_col=id_col, vec_col=vec_col,
        )
    if trainer == "numpy":
        n_rows = df.count()
        sample_df = df.select(vec_col)
        if n_rows > max_train_rows:
            sample_df = sample_df.sample(
                fraction=min(1.0, max_train_rows / n_rows), seed=seed
            )
        sample = np.asarray(
            [r[0] for r in sample_df.limit(max_train_rows).collect()],
            dtype=np.float64,
        )
        if sample.shape[0] == 0:
            raise ValueError(
                "cannot train IVF on empty input: the corpus dataframe "
                "produced no sample rows (empty table or all rows filtered)"
            )
        centroids = _kmeans_numpy(sample, n_clusters, max_iter, seed)
        assigned = df.withColumn(
            "cluster_id",
            _nearest_centroid_udf(centroids)(F.col(vec_col)),
        )
        return IVFIndex(
            assigned=assigned, centroids=centroids,
            id_col=id_col, vec_col=vec_col,
        )

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("_features", array_to_vector(F.col(vec_col)))
    train = feat
    n_rows = feat.count()
    if n_rows > max_train_rows:
        train = feat.sample(
            fraction=min(1.0, max_train_rows / n_rows), seed=seed
        )
    model = KMeans(
        k=n_clusters, seed=seed, maxIter=max_iter, featuresCol="_features",
        predictionCol="cluster_id",
    ).fit(train)
    assigned = model.transform(feat).drop("_features")
    centroids = np.asarray(model.clusterCenters(), dtype=np.float64)
    return IVFIndex(assigned=assigned, centroids=centroids, id_col=id_col, vec_col=vec_col)


def _nearest_centroid_udf(centroids: np.ndarray):
    """pandas_udf: vector -> nearest centroid id (euclidean). The
    centroid matrix ships in the closure (tiny); assignment is one
    vectorized distance computation per Arrow batch."""
    from pyspark.sql import types as T

    def _assign(vecs: pd.Series) -> pd.Series:
        vmat = np.asarray(list(vecs), dtype=np.float64)
        d2 = (
            (vmat ** 2).sum(axis=1, keepdims=True)
            - 2.0 * vmat @ centroids.T
            + (centroids ** 2).sum(axis=1)
        )
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    return F.pandas_udf(_assign, T.IntegerType())


def _probe_assign_np(qmat: np.ndarray, centroids: np.ndarray,
                     nprobe: int) -> np.ndarray:
    """(nq, dim) query matrix -> (nq, nprobe) nearest-centroid ids
    (euclidean, KMeans geometry). Driver-side numpy twin of
    _probe_assign_udf for paths that already hold the query matrix."""
    d2 = (
        (qmat ** 2).sum(axis=1, keepdims=True)
        - 2.0 * qmat @ centroids.T
        + (centroids ** 2).sum(axis=1)
    )
    return np.argsort(d2, axis=1)[:, :nprobe]


def _probe_assign_udf(centroids: np.ndarray, nprobe: int):
    """pandas_udf: query vector -> array<int> of its ``nprobe`` nearest
    centroids (euclidean, KMeans geometry; for unit-norm vectors the
    dot-product ranking matches). The centroid matrix is tiny
    (n_clusters x dim doubles) and ships in the UDF closure, so probe
    assignment runs ON EXECUTORS -- the query set never touches the
    driver for the fold / gemm_join paths."""
    from pyspark.sql import types as T

    def _assign(vecs: pd.Series) -> pd.Series:
        qmat = np.asarray(list(vecs), dtype=np.float64)
        probes = _probe_assign_np(qmat, centroids, nprobe)
        return pd.Series([row.astype("int32").tolist() for row in probes])

    return F.pandas_udf(_assign, T.ArrayType(T.IntegerType()))


def ivf_search(
    index: IVFIndex,
    queries_df: DataFrame,
    k: int,
    *,
    nprobe: int | None = None,
    probe_percent: float = 10.0,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    method: str = "auto",
    restrict=None,
    per_crowding_k: int | None = None,
    crowding_col: str | None = None,
    auto_threshold: int | None = None,
    **knn_kwargs,
) -> DataFrame:
    """Pruned top-k: probe the best ``nprobe`` clusters per query.

    ``restrict`` (a boolean Column, same contract as knn_search) is
    applied to the index BEFORE scoring -- the reference's restrict
    filters compose with the approximate path exactly like the exact
    one (filter inside the ANN traversal, setup_vector_search.py:45-62),
    and Catalyst pushes it into the pruned partition scan.

    ``per_crowding_k`` / ``crowding_col`` compose the reference's
    crowding tag (Q5, setup_vector_search.py:65-67) over the pruned
    path: the gemm strategies run the exact crowd-capped local prune
    inside ``_score_block`` (locally exact, same argument as
    knn_search's gemm path) and every strategy finishes with the same
    two-window ``_ranked`` the exact path uses.

    ``probe_percent`` defaults to the reference's
    leaf_nodes_to_search_percent=10 (common/config.py:38).

    Probe assignment is a pandas UDF over the query DataFrame (the
    centroid matrix is the only driver-side state). The one collect is
    of DISTINCT PROBED CLUSTER IDS -- bounded by n_clusters ints, never
    by query count or data size -- which feeds a static ``isin`` filter
    so pruning on a saved ``partitionBy("cluster_id")`` layout is
    partition pruning of BYTES. Methods: "gemm" (mapInPandas, query
    matrix via SparkContext.broadcast), "gemm_join" (cogroup block
    GEMM, no driver materialization of queries at all), "fold"
    (declarative broadcast join + fold scoring, bit-exact vs DuckDB),
    "auto" (default: "gemm" at or under ``auto_threshold`` query rows,
    "gemm_join" above -- the scale-safe strategy without the caller
    having to know their scale).
    """
    from .knn import _ranked, _resolve_query_method, gemm_topk_cogroup

    method = _resolve_query_method(
        queries_df, method, small="gemm", large="gemm_join",
        threshold=auto_threshold,
    )

    n_clusters = index.centroids.shape[0]
    if nprobe is None:
        nprobe = max(1, int(round(n_clusters * probe_percent / 100.0)))

    if method == "gemm":
        # The gemm strategy materializes the query matrix on the driver
        # anyway (SparkContext.broadcast) -- so probe assignment runs
        # driver-side in numpy against the already-driver-held centroid
        # matrix. That folds what was three Spark jobs (probe-UDF pass,
        # distinct+collect of probed leaves, scoring scan) into ONE
        # scoring scan; at request scale the saved job-launch overhead
        # dominates the whole query (r2 bench regression), and at data
        # scale query sets this path is wrong anyway -- use gemm_join.
        rows = queries_df.select(query_id_col, query_vec_col).collect()
        if not rows:
            return knn_search(
                index.assigned.limit(0), queries_df, k,
                id_col=index.id_col, vec_col=index.vec_col,
                query_id_col=query_id_col, query_vec_col=query_vec_col,
                method="fold", **knn_kwargs,
            )
        qids = [r[0] for r in rows]
        qmat = np.asarray([r[1] for r in rows], dtype=np.float64)
        probes = _probe_assign_np(qmat, index.centroids, nprobe)
        probe_mask = np.zeros((len(qids), n_clusters), dtype=bool)
        probe_mask[np.arange(len(qids))[:, None], probes] = True
        all_probed = sorted(int(c) for c in np.unique(probes))
        candidates = index.assigned.filter(
            F.col("cluster_id").isin(all_probed)
        )
        if restrict is not None:
            candidates = candidates.filter(restrict)
        return _gemm_masked_topk_collected(
            candidates, qids, qmat, probe_mask, k,
            id_col=index.id_col, vec_col=index.vec_col,
            query_id_type=queries_df.schema[query_id_col].dataType,
            per_crowding_k=per_crowding_k, crowding_col=crowding_col,
        )

    pruned_q = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qvec"),
    ).withColumn(
        "_probe", _probe_assign_udf(index.centroids, nprobe)(F.col("_qvec"))
    )

    # Union of probed clusters: <= n_clusters ints regardless of scale.
    all_probed = sorted(
        r[0] for r in
        pruned_q.select(F.explode("_probe").alias("c")).distinct().collect()
    )
    if not all_probed:
        return knn_search(
            index.assigned.limit(0), queries_df, k,
            id_col=index.id_col, vec_col=index.vec_col,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
            method="fold", **knn_kwargs,
        )
    candidates = index.assigned.filter(F.col("cluster_id").isin(all_probed))
    if restrict is not None:
        candidates = candidates.filter(restrict)

    extra_cols = [crowding_col] if crowding_col else []
    if method == "gemm_join":
        scored = gemm_topk_cogroup(
            candidates, pruned_q, k,
            id_col=index.id_col, vec_col=index.vec_col,
            query_id_col="query_id", query_vec_col="_qvec",
            probe_col="_probe", cluster_col="cluster_id",
            n_clusters=n_clusters,
            per_crowding_k=per_crowding_k, crowding_col=crowding_col,
        )
        return _ranked(scored, k, per_crowding_k, crowding_col).select(
            "query_id", "rank", "neighbor_id", "score", *extra_cols
        )

    # Declarative fallback: per-pair probe filter + fold scoring.
    from ..functions.vector import dot_product

    scored = (
        candidates.crossJoin(F.broadcast(pruned_q))
        .filter(F.array_contains(F.col("_probe"), F.col("cluster_id")))
        .select(
            "query_id",
            F.col(index.id_col).alias("neighbor_id"),
            dot_product(F.col("_qvec"), F.col(index.vec_col)).alias("score"),
            *extra_cols,
        )
    )
    return _ranked(scored, k, per_crowding_k, crowding_col).select(
        "query_id", "rank", "neighbor_id", "score", *extra_cols
    )


def ivf_search_blocked(
    index: IVFIndex,
    queries_df: DataFrame,
    k: int,
    *,
    query_id_col: str = "query_id",
    max_queries_per_block: int = 4096,
    **kwargs,
) -> DataFrame:
    """IVF search for query sets too large for one broadcast matrix.

    Mirrors knn_search_blocked: hash queries into blocks of
    ``max_queries_per_block``, run ivf_search per block, union the
    plans -- peak per-task memory is bounded by one block's query
    matrix. (For query sets that should never touch the driver at all,
    call ivf_search(method="gemm_join") instead.)
    """
    import math

    n_rows = queries_df.count()
    n_blocks = max(1, math.ceil(n_rows / max_queries_per_block))
    if n_blocks == 1:
        return ivf_search(
            index, queries_df, k, query_id_col=query_id_col, **kwargs
        )
    blocked = queries_df.withColumn(
        "_qblock", F.pmod(F.hash(F.col(query_id_col)), F.lit(n_blocks))
    )
    parts = [
        ivf_search(
            index,
            blocked.filter(F.col("_qblock") == b).drop("_qblock"),
            k,
            query_id_col=query_id_col,
            **kwargs,
        )
        for b in range(n_blocks)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _gemm_masked_topk_collected(
    candidates: DataFrame,
    qids,
    qmat: np.ndarray,
    probe_mask: np.ndarray,
    k: int,
    *,
    id_col: str,
    vec_col: str,
    query_id_type,
    per_crowding_k: int | None = None,
    crowding_col: str | None = None,
) -> DataFrame:
    """One BLAS GEMM per Arrow batch + per-query probe MASK, then exact
    local top-k; global window finishes. Each query only keeps scores
    from ITS probed clusters, so multi-query batches share the GEMM
    without over-scanning. Query matrix + mask ship via
    SparkContext.broadcast (one fetch per executor, not per task).
    Crowding runs the exact crowd-capped local prune in _score_block
    (same exactness argument as knn_search's gemm path)."""
    from pyspark.sql import types as T

    from .knn import _ranked, _score_block

    out_schema = T.StructType([
        T.StructField("query_id", query_id_type),
        T.StructField("neighbor_id", candidates.schema[id_col].dataType),
        T.StructField("score", T.DoubleType()),
    ])
    if crowding_col:
        out_schema.add(crowding_col, candidates.schema[crowding_col].dataType)
    extra_cols = [crowding_col] if crowding_col else []

    bc = candidates.sparkSession.sparkContext.broadcast(
        (qids, qmat, probe_mask)
    )

    def score(batches):
        b_qids, b_qmat, b_mask = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            frames = _score_block(
                b_qids, b_qmat,
                pdf[id_col].to_numpy(),
                np.asarray(list(pdf[vec_col]), dtype=np.float64),
                k,
                crowd=pdf[crowding_col].to_numpy() if crowding_col else None,
                per_crowding_k=per_crowding_k, crowding_col=crowding_col,
                probe_mask=b_mask,
                clusters=pdf["cluster_id"].to_numpy(),
            )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = candidates.select(
        id_col, vec_col, "cluster_id", *extra_cols
    ).mapInPandas(score, out_schema)
    return _ranked(scored, k, per_crowding_k, crowding_col).select(
        "query_id", "rank", "neighbor_id", "score", *extra_cols
    )
