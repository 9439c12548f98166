"""STREAM_UPDATE maintenance of the IVF (tree-AH) layout.

The reference's index is BOTH stream-updatable (index_manager.py:53,
upsert at setup_vector_search.py:147-153) AND leaf-partitioned tree-AH
(common/config.py:36-38). This module keeps the two properties together
under continuous ingest, the way tree-AH stream update actually works:

- **One merge kernel.** ``merge_keys`` is an epoch's bucket surgery as
  one Arrow function over the update rows of any set of whole keys and
  the stored ``cluster_id``s of those already indexed: keep each key's
  latest update row (the last in the micro-batch's scan order -- when
  one micro-batch drains several files, Spark's file scan reads them
  largest first, so two rewrites of one key in one micro-batch are
  not ordered by file age), embed it, keep a key
  already in the index in its stored ``cluster_id``, give a new key its
  nearest EXISTING centroid (no retraining in the hot path), return
  the winners. Base rows of keys the epoch does not rewrite are copied
  as they are.
- **Updated vectors keep their original leaf** (sticky assignment):
  moving a key between cluster partitions under copy-on-write would
  require rewriting and tombstoning partitions the batch didn't write,
  so reassignment is deferred to the periodic re-cluster — the tree-AH
  rebalance analog. The cost is bounded, measurable recall drift, not
  correctness (search still finds the row via its stored vector).
- **Two executors, one kernel.** A tx epoch of a local (scheme-less or
  ``file:``) index whose micro-batch file bytes plus the index's live
  bytes (from the manifest) are under ``DRIVER_EPOCH_BUDGET_BYTES``
  runs on the driver: one Arrow collect of ``ingest_documents``' SQL
  half, the touched files read with pyarrow, the kernel in process,
  one parquet file per touched ``(_bucket, cluster_id)`` written with
  pyarrow, one commit -- one Spark job per epoch. Every other epoch
  (over the budget, a remote index, the legacy ``txlog=False`` layout)
  runs the same kernel in ``mapInArrow`` tasks over the update rows
  only, joined by key to the stored leaves and repartitioned and
  sorted by key, so a task holds a few keys at a time, never a whole
  bucket; the untouched keys' base rows stay in the JVM. Both write
  the same rows and the same file schema.
- **Drift is observable, not silent**: ``cluster_drift_report`` scans
  the index once and reports, per leaf, the row count and the fraction
  of rows whose nearest centroid is no longer their assigned leaf;
  ``needs_recluster`` turns that into the rebuild signal
  (leaf_node_embedding_count economics — oversized or drifted leaves
  are what degrade probe pruning).

The layout partitions by (_bucket, cluster_id): the merge prunes and
rewrites on hash buckets exactly like streaming/ingest.py (O(touched
buckets) per batch, untouched files byte-identical), while probe-time
partition pruning on cluster_id keeps working because sticky keys
never leave their (bucket, cluster) directory.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.hashing import hash_embedding_numpy, make_embed_batch
from ..operators.ingest import datapoint_sql
from .ingest import DEFAULT_MERGE_BUCKETS, _bucket_expr, _is_path_not_found

# A tx epoch runs on the driver when its micro-batch's file bytes (the
# optimizer's estimate) plus the index's live bytes (from the manifest)
# are under this; both are known without a job. Speed sets no bound
# here: on 4 cores the driver executor took a quarter to a fifth of the
# Spark executor's wall at every measured size, 4 to 107 MB of live
# files (scripts/epoch_crossover.py). Driver memory does: the touched
# rows take about 1.5x their file bytes in Arrow, and the filter and the
# sort before the write copy them twice more, so an epoch at this budget
# holds under about 300 MiB, inside a replica's RESIDENT_BUDGET_BYTES in
# the same driver.
DRIVER_EPOCH_BUDGET_BYTES = 64 * 1024 * 1024


def nearest_leaf(vecs: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Row of ``centroids`` nearest each row of ``vecs`` (euclidean, the
    KMeans assignment geometry), from the expanded squared distance."""
    d2 = (
        (vecs ** 2).sum(axis=1, keepdims=True)
        - 2.0 * vecs @ centroids.T
        + (centroids ** 2).sum(axis=1)
    )
    return d2.argmin(axis=1)


def nearest_cluster_udf(centroids: np.ndarray):
    """pandas_udf: vector -> id of its nearest centroid. Runs on
    executors; the centroid matrix ships in the closure (n_clusters x
    dim doubles — tiny)."""

    def _assign(vecs: pd.Series) -> pd.Series:
        vmat = np.asarray(list(vecs), dtype=np.float64)
        return pd.Series(nearest_leaf(vmat, centroids).astype(np.int32))

    return F.pandas_udf(_assign, T.IntegerType())


def merge_keys(
    updates: pa.Table, stored: pa.Table, centroids: np.ndarray, dim: int,
    schema: pa.Schema,
) -> pa.Table:
    """The merge kernel: the index row each key of ``updates`` has after
    one epoch. ``updates`` holds the update rows of whole keys in the
    micro-batch's scan order (the SQL half of ``ingest_documents`` plus
    ``_bucket``, with ``content`` in place of the vector); ``stored``
    maps the keys already in the index to their ``cluster_id``
    (``data_point_id``, ``cluster_id``; other keys and null ids may
    appear). Each key's last update row wins and is embedded with the
    function the ingest UDF wraps; a key in ``stored`` keeps its
    ``cluster_id``, a new key takes its nearest centroid. Returns the
    winners in the index ``schema``."""
    dup = pd.Series(
        updates["data_point_id"].to_numpy(zero_copy_only=False)
    ).duplicated(keep="last").to_numpy()
    latest = updates.filter(pa.array(~dup))
    embed = make_embed_batch(lambda t: hash_embedding_numpy(t, dim))
    vecs = np.asarray(
        embed(latest["content"].to_pylist()), dtype=np.float32
    ).reshape(latest.num_rows, dim)
    kept = stored["cluster_id"].take(
        pc.index_in(latest["data_point_id"], value_set=stored["data_point_id"])
    )
    nearest = pa.array(
        nearest_leaf(vecs.astype(np.float64), centroids), pa.int32()
    )
    return pa.table({
        "data_point_id": latest["data_point_id"],
        "feature_vector": pa.ListArray.from_arrays(
            pa.array(np.arange(0, vecs.size + 1, dim, dtype=np.int32)),
            pa.array(vecs.ravel()),
            type=schema.field("feature_vector").type,
        ),
        "restricts": latest["restricts"],
        "numeric_restricts": latest["numeric_restricts"],
        "crowding_attribute": latest["crowding_attribute"],
        "_bucket": latest["_bucket"],
        "cluster_id": pc.coalesce(kept, nearest),
    }).cast(schema)


def _index_schema(updates: T.StructType) -> T.StructType:
    """The index rows' Spark schema, from the updates' (the SQL half
    plus ``_bucket``): the ingest UDF's vector in place of
    ``content``, then the partition columns."""
    by = {f.name: f for f in updates.fields}
    return T.StructType([
        by["data_point_id"],
        T.StructField("feature_vector", T.ArrayType(T.FloatType()), True),
        by["restricts"],
        by["numeric_restricts"],
        by["crowding_attribute"],
        by["_bucket"],
        T.StructField("cluster_id", T.IntegerType(), True),
    ])


def _spark_merge(
    base: DataFrame | None, updates: DataFrame, centroids: np.ndarray,
    dim: int,
) -> DataFrame:
    """The Spark executor of ``merge_keys``. Python sees the update rows
    only: numbered in scan order, joined by key to the stored
    ``cluster_id``s, repartitioned and sorted by key, so each task feeds
    the kernel runs of whole keys batch by batch, carrying the last key
    of a batch into the next. The base rows of keys the epoch does not
    rewrite stay in the JVM (an anti join on the update keys) and are
    unioned with the kernel's winners."""
    key = "data_point_id"
    schema = _index_schema(updates.schema)
    arrow = to_arrow_schema(schema)
    cols = updates.columns

    def _kernel(rows: pa.Table) -> pa.Table:
        stored = pa.table({key: rows[key], "cluster_id": rows["_stored"]})
        return merge_keys(rows.select(cols), stored, centroids, dim, arrow)

    def _partition(batches):
        carry = None
        for batch in batches:
            rows = pa.Table.from_batches([batch])
            if carry is not None:
                rows = pa.concat_tables([carry, rows])
            if not rows.num_rows:
                continue
            cut = pc.index(rows[key], rows[key][-1]).as_py()
            if cut:
                yield from _kernel(rows.slice(0, cut)).to_batches()
            carry = rows.slice(cut)
        if carry is not None and carry.num_rows:
            yield from _kernel(carry).to_batches()

    rows = updates.withColumn("_seq", F.monotonically_increasing_id())
    rows = (
        rows.join(
            base.select(key, F.col("cluster_id").alias("_stored")), key, "left"
        )
        if base is not None
        else rows.withColumn("_stored", F.lit(None).cast(T.IntegerType()))
    )
    spark = updates.sparkSession
    par = spark.sparkContext.defaultParallelism
    winners = (
        rows.repartition(par, key)
        .sortWithinPartitions(key, "_seq")
        .mapInArrow(_partition, schema)
    )
    if base is None:
        return winners
    merged = base.join(updates.select(key), key, "left_anti").unionByName(
        winners
    ).select(*schema.names)
    # a file read makes every field nullable; restore the index schema
    # (its non-null maps), row by row in the JVM, so these files carry
    # the schema of the first epoch's and the driver's
    jspark = spark._jsparkSession
    return DataFrame(jspark.createDataFrame(
        merged._jdf.javaRDD(), jspark.parseDataType(schema.json())
    ), spark)


def _driver_merge(
    log, rows: pa.Table, inputs: list[dict], schema: T.StructType,
    centroids: np.ndarray, dim: int,
) -> list[dict]:
    """The driver executor of ``merge_keys``: read the touched files
    with pyarrow, merge, and write one file per ``(_bucket,
    cluster_id)`` straight into its final dir under a commit-unique
    ``tx-<uuid>-`` name -- invisible to snapshot readers until the
    caller commits them, and deleted here if a write fails. The files
    carry the schema Spark writes (no dictionary on the id and vector
    columns, no Arrow schema blob). Returns their manifest entries."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from ..sources.txlog import _delete_files, _strip_file_scheme

    parts = ("_bucket", "cluster_id")
    arrow = to_arrow_schema(schema)
    root = _strip_file_scheme(log.table)
    base = ds.dataset(
        [f"{root}/{f['path']}" for f in inputs], format="parquet",
        schema=arrow,
        partitioning=ds.partitioning(
            pa.schema([arrow.field(c) for c in parts]), flavor="hive"
        ),
        partition_base_dir=root,
    ).to_table() if inputs else arrow.empty_table()
    winners = merge_keys(
        rows, base.select(["data_point_id", "cluster_id"]), centroids, dim,
        arrow,
    )
    merged = pa.concat_tables([
        base.filter(pc.invert(pc.is_in(
            base["data_point_id"], value_set=winners["data_point_id"]
        ))),
        winners,
    ])
    merged = merged.take(pc.sort_indices(
        merged, sort_keys=[(c, "ascending") for c in parts]
    ))
    pairs = np.column_stack(
        [merged[c].to_numpy() for c in parts]
    ).astype(np.int64)
    starts = np.flatnonzero(
        np.r_[True, (pairs[1:] != pairs[:-1]).any(axis=1)]
    )
    ends = np.r_[starts[1:], len(pairs)]
    data = merged.drop_columns(list(parts))
    u = uuid.uuid4().hex[:12]
    written: list[dict] = []
    try:
        for i, (lo, hi) in enumerate(zip(starts, ends)):
            b, c = pairs[lo]
            rel = (
                f"_bucket={b}/cluster_id={c}/"
                f"tx-{u}-part-{i:05d}.snappy.parquet"
            )
            written.append({"path": rel, "size": 0})
            path = f"{root}/{rel}"
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(
                data.slice(lo, hi - lo), path, store_schema=False,
                # the low-cardinality leaves Spark's writer
                # dictionary-encodes; ids, vectors and the crowding tag
                # are near-unique and stay plain
                use_dictionary=[
                    "restricts.key_value.key",
                    "restricts.key_value.value.list.element",
                    "numeric_restricts.key_value.key",
                    "numeric_restricts.key_value.value",
                ],
            )
            written[-1]["size"] = os.path.getsize(path)
    except BaseException:
        _delete_files(log.table, written, log.spark)
        raise
    return written


def stream_merge_into_ivf_index(
    stream_df: DataFrame,
    index_path: str,
    centroids: np.ndarray,
    *,
    checkpoint_dir: str,
    dim: int = 64,
    id_source_col: str = "doc_id",
    text_col: str = "text",
    trigger_seconds: int | None = None,
    n_buckets: int = DEFAULT_MERGE_BUCKETS,
    txlog: bool = False,
):
    """Streaming upsert that maintains the clustered IVF layout.

    Same exactly-once contract as stream_merge_into_index (checkpoint +
    keyed idempotent merge); each batch merges through ``merge_keys``:
    the last row of a key in the micro-batch's scan order wins, new
    keys take a ``cluster_id`` from ``centroids`` and existing keys keep
    theirs (sticky — see module docstring). Documents over the ingest
    token gate are dropped.

    ``txlog=True`` (r15): each epoch's bucket surgery commits through
    the transactional log -- the touched buckets' live files are
    replaced in ONE manifest publish with optimistic conflict
    re-validation, so concurrent maintenance (tx compaction / z-order /
    recluster) no longer requires pausing the stream; a lost race
    raises, Structured Streaming retries the epoch, and the
    (checkpoint_dir, epoch_id) txn meta makes the retry exactly-once.
    Readers of a tx index must use ``sources.txlog.read_table_any``.
    A tx epoch of a local index whose micro-batch file bytes plus the
    index's live bytes are under ``DRIVER_EPOCH_BUDGET_BYTES`` runs on
    the driver in one collect and launches one job; any other epoch,
    and every ``txlog=False`` epoch, runs the kernel on Spark.

    Without ``trigger_seconds`` the query triggers as fast as it can,
    so an idle source is re-listed with no pause between polls. Drain
    a finite source with ``processAllAvailable()`` then ``stop()``, or
    give a long-lived stream a trigger interval.
    """

    def _merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # the tx branch needs no emptiness probe: its touched-bucket
        # set comes back empty for an empty epoch
        if not txlog and batch_df.isEmpty():
            return
        _, keyed, point_cols = datapoint_sql(
            batch_df, id_source_col=id_source_col, text_col=text_col,
            dim=dim,
        )
        updates = keyed.select("data_point_id", "content", *point_cols).withColumn(
            "_bucket", _bucket_expr("data_point_id", n_buckets)
        )
        if txlog:
            _tx_merge_batch(
                batch_df, updates, index_path, centroids, dim=dim,
                meta={
                    "txn_app": checkpoint_dir,
                    "txn_batch": int(epoch_id),
                },
            )
            return
        spark = batch_df.sparkSession
        par = spark.sparkContext.defaultParallelism
        parts = ("_bucket", "cluster_id")
        try:
            base = spark.read.parquet(index_path)
        except AnalysisException as e:
            if not _is_path_not_found(e):
                raise
            # repartition by the partition cols before every
            # partitionBy write (r17, guide §6): an N-task epoch
            # writing into bucket x leaf dirs otherwise leaves up to N
            # one-row files per dir, and every later epoch/read pays
            # the listing.
            _spark_merge(None, updates, centroids, dim).repartition(
                par, *parts
            ).write.mode(
                "errorifexists"
            ).partitionBy(*parts).parquet(index_path)
            return

        touched = sorted(
            r[0] for r in updates.select("_bucket").distinct().collect()
        )
        base_touched = base.filter(F.col("_bucket").isin(touched))
        _spark_merge(base_touched, updates, centroids, dim).repartition(
            par, *parts
        ).localCheckpoint(
            eager=True
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(*parts).parquet(index_path)

    writer = stream_df.writeStream.foreachBatch(_merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def _tx_merge_batch(
    batch_df: DataFrame, updates: DataFrame, index_path: str,
    centroids: np.ndarray, *, dim: int, meta: dict,
) -> int | None:
    """One epoch's IVF merge committed through the commit log: pick
    the executor, merge the touched buckets' live files with the
    updates, publish the replacement. The replay guard makes a retried
    epoch a no-op; a conflicting concurrent rewrite raises and lets the
    streaming engine retry the epoch on the fresh snapshot. An empty
    epoch touches no bucket and returns None before any log or version
    is created.

    The Spark executor reads the base files directly, with no
    checkpoint in between: they are immutable, and the commit only
    un-lists them."""
    from ..operators.serving import _plan_bytes
    from ..sources.txlog import (
        TxIdempotentReplay,
        TxLog,
        _delete_files,
        _scheme_of,
        _stage_and_move_in,
        _strip_file_scheme,
        read_files,
    )

    spark = batch_df.sparkSession
    log = TxLog(spark, index_path)
    live_bytes = 0
    if log.exists():
        done = log.find_txn(meta["txn_app"], meta["txn_batch"])
        if done is not None:
            return done
        live_bytes = log.table_stats()[1]
    elif os.path.isdir(_strip_file_scheme(index_path)):
        # a plain layout the log would adopt: its size is not known here
        live_bytes = DRIVER_EPOCH_BUDGET_BYTES
    rows = (
        updates.toArrow()
        if _scheme_of(index_path) in (None, "file")
        and log.schema_at() is None
        and _plan_bytes(batch_df) + live_bytes < DRIVER_EPOCH_BUDGET_BYTES
        else None
    )
    buckets = (
        pc.unique(rows["_bucket"]).to_pylist() if rows is not None
        else [r[0] for r in updates.select("_bucket").distinct().collect()]
    )
    touched = {f"_bucket={b}" for b in buckets}
    if not touched:
        return None
    v = log.ensure()
    live = log.snapshot(v)["files"]
    inputs = [f for f in live if f["path"].split("/", 1)[0] in touched]
    schema = _index_schema(updates.schema)
    parts = ("_bucket", "cluster_id")
    if rows is not None:
        new = _driver_merge(log, rows, inputs, schema, centroids, dim)
    else:
        # the base files were written from epochs of this same shape, so
        # the index schema reads them without a footer-inference job
        base = read_files(
            spark, log, [f["path"] for f in inputs],
            log.schema_at(v) or schema,
        ) if inputs else None
        new = _stage_and_move_in(
            spark,
            index_path,
            _spark_merge(base, updates, centroids, dim).repartition(
                spark.sparkContext.defaultParallelism, *parts
            ),
            partition_cols=parts,
        )
    try:
        if not live:
            return log.append_files(new, action="merge-init", meta=meta)
        return log.replace_files(
            [f["path"] for f in inputs], new, action="merge", meta=meta
        )
    except TxIdempotentReplay as r:
        # a concurrent replay of this epoch won: reap our staged files
        # and report the winner's version (r17)
        _delete_files(index_path, new)
        return r.version
    except BaseException:
        _delete_files(index_path, new)
        raise


def cluster_drift_report(
    index_df: DataFrame,
    centroids: np.ndarray,
    *,
    vec_col: str = "feature_vector",
) -> DataFrame:
    """Per-leaf health: (cluster_id, n_rows, n_drifted, drift_fraction)
    where a row is drifted if its nearest centroid today is not its
    assigned leaf. One streaming pass, map-side partial aggregation."""
    assign = nearest_cluster_udf(centroids)
    return (
        index_df.withColumn("_nearest", assign(F.col(vec_col)))
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                (F.col("_nearest") != F.col("cluster_id")).cast("long")
            ).alias("n_drifted"),
        )
        .withColumn(
            "drift_fraction", F.col("n_drifted") / F.col("n_rows")
        )
    )


RECLUSTER_PENDING_FILE = "_recluster_pending.json"


def _delete_index_subdirs(spark, index_path: str, subdirs) -> None:
    """Delete partition sub-directories through the Hadoop FS (any
    scheme). Factored out so tests can monkeypatch it to simulate a
    crash between the overwrite commit and the stale-dir cleanup."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for sub in subdirs:
        p = jvm.org.apache.hadoop.fs.Path(f"{index_path}/{sub}")
        fs = p.getFileSystem(conf)
        if fs.exists(p):
            fs.delete(p, True)


def _resume_pending_cleanup(spark, index_path: str) -> None:
    """Repair a recluster interrupted between its dynamic-partition
    overwrite and its stale-dir cleanup.

    The marker written before the overwrite records (a) the dirs that
    must be deleted once the overwrite commits and (b) a WITNESS: one
    rewritten partition dir plus the part-file names it held BEFORE the
    overwrite. On entry:

    - witness dir absent, or still holding a pre-overwrite file -> the
      overwrite never committed (dynamic overwrite replaces a written
      partition's files atomically at job commit); the pending dirs are
      still the only copy of their rows -> keep them, drop the marker.
    - witness files replaced (or a brand-new witness dir exists) -> the
      overwrite committed and the pending dirs duplicate rewritten
      rows -> delete them, then drop the marker.

    Corrupt/unreadable marker JSON can only mean a crash DURING the
    marker write, i.e. before the overwrite started: safe to drop.
    """
    from ..operators.upsert import (
        _hadoop_path,
        delete_sidecar,
        read_json_sidecar,
    )

    try:
        marker = read_json_sidecar(spark, index_path, RECLUSTER_PENDING_FILE)
    except ValueError:
        delete_sidecar(spark, index_path, RECLUSTER_PENDING_FILE)
        return
    if marker is None:
        return
    witness_dir = marker["witness_dir"]
    old_files = set(marker["witness_old_files"])
    p, fs = _hadoop_path(spark, f"{index_path}/{witness_dir}")
    committed = False
    if fs.exists(p):
        current = {
            st.getPath().getName() for st in fs.listStatus(p)
        }
        data_now = {f for f in current if not f.startswith(("_", "."))}
        if old_files:
            committed = not (old_files & data_now)
        else:
            committed = bool(data_now)
    if committed:
        _delete_index_subdirs(spark, index_path, marker["pending_delete"])
    delete_sidecar(spark, index_path, RECLUSTER_PENDING_FILE)


def recluster_ivf_index(
    spark,
    index_path: str,
    centroids: np.ndarray,
    *,
    vec_col: str = "feature_vector",
    id_col: str = "data_point_id",
    max_leaf_rows: int = 500,
    max_drift_fraction: float = 0.2,
    target_leaf_rows: int | None = None,
    per_leaf_sample: int = 50_000,
    max_sample_rows: int = 1_000_000,
    max_iter: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """The tree-AH REBALANCE: act on ``needs_recluster``'s signal by
    splitting/retraining ONLY the flagged leaves, copy-on-write.

    The reference's STREAM_UPDATE index (index_manager.py:53) implies
    rebalancing as part of the live-index contract: sticky assignment
    plus the leaf cap (leaf_node_embedding_count=500, common/
    config.py:37) means a long-running ingest stream accumulates
    oversized leaves and drifted rows, degrading probe pruning and
    recall until someone re-clusters. A full rebuild rewrites the
    whole 100 TB layout; this action is the bounded alternative:

    - Each flagged leaf (over ``max_leaf_rows`` or past
      ``max_drift_fraction``) is retrained LOCALLY: seeded Lloyd's on
      a bounded per-leaf sample yields ``ceil(n_rows/target)`` (at
      least 2 when drift-flagged) sub-centroids; sub-centroid 0
      replaces the old centroid IN PLACE so untouched leaves' ids --
      and therefore their partition dirs -- never move; the rest
      append at the end of the matrix.
    - Rows of flagged leaves are reassigned among their OWN leaf's
      sub-centroids only (an Arrow-vectorized pandas UDF carrying the
      tiny per-leaf sub-matrices). Rows never migrate into healthy
      leaves, so healthy partitions stay byte-identical -- the same
      O(touched dirs) contract as ``stream_merge``.
    - The rewrite is a dynamic partition overwrite of the touched
      (_bucket, cluster_id) dirs, followed by explicit deletion of
      flagged-leaf dirs that received no rows under the new
      assignment (dynamic overwrite alone would leave them stale and
      duplicate their rows). A crash between the overwrite commit and
      that cleanup is REPAIRABLE: the pending-delete set is recorded
      in a ``_recluster_pending.json`` sidecar (with a witness that
      distinguishes committed-from-uncommitted overwrites) before the
      overwrite starts, and the next recluster call -- or an explicit
      ``_resume_pending_cleanup`` -- finishes or discards the cleanup
      before reading the index.
    - The total driver-side training sample is bounded by
      ``max_sample_rows`` PER INVOCATION, independent of how many
      leaves are flagged: leaves are processed worst-first (severity =
      overfill + drift, normalized) and leaves past the budget are
      DEFERRED -- ``needs_recluster`` keeps signalling, so the caller's
      maintenance loop converges over a few invocations with flat
      driver memory instead of one multi-GB collect.
    - ``_index_manifest.json`` next to the layout is preserved, with
      ``n_clusters`` updated to the grown centroid count (read and
      written through the Hadoop FS, so remote schemes update too).

    Returns the new centroid matrix (callers hand it to subsequent
    ``stream_merge_into_ivf_index`` / ``ivf_search`` calls); returns
    ``centroids`` unchanged -- and writes NOTHING -- when no leaf is
    flagged. Search equivalence: a full-probe search returns identical
    results pre/post (the row set is unchanged; only the partition
    map refines), while low-probe recall on drifted regions improves
    because the new sub-centroids sit where the rows actually are
    (tests/test_recluster.py pins both properties).
    """
    from ..operators.ivf import _kmeans_numpy
    from ..operators.upsert import read_json_sidecar, write_json_sidecar

    _resume_pending_cleanup(spark, index_path)

    from ..sources.txlog import TxLog
    from ..sources.txlog import read_table as _tx_read

    txlog = TxLog(spark, index_path)
    is_tx = txlog.exists()
    read_version = txlog.current_version() if is_tx else None

    centroids = np.ascontiguousarray(centroids, dtype=np.float64)
    index = (
        _tx_read(spark, index_path, version=read_version)
        if is_tx
        else spark.read.parquet(index_path)
    )
    report = cluster_drift_report(index, centroids, vec_col=vec_col).collect()
    target = target_leaf_rows or max(1, max_leaf_rows // 2)
    flagged: dict[int, int] = {}
    severity: dict[int, float] = {}
    leaf_rows: dict[int, int] = {}
    for r in report:
        over = r.n_rows > max_leaf_rows
        drifted = r.drift_fraction > max_drift_fraction
        if over or drifted:
            k = max(-(-int(r.n_rows) // target), 2 if drifted else 1)
            leaf = int(r.cluster_id)
            flagged[leaf] = min(k, int(r.n_rows))
            leaf_rows[leaf] = int(r.n_rows)
            severity[leaf] = (
                r.n_rows / max_leaf_rows
                + (r.drift_fraction / max_drift_fraction
                   if max_drift_fraction > 0 else float(r.drift_fraction > 0))
            )
    if not flagged:
        return centroids

    # Driver-memory bound: worst leaves first, total sample rows per
    # invocation capped at max_sample_rows. Deferred leaves stay
    # flagged for the next invocation (the maintenance loop iterates).
    ordered = sorted(flagged, key=lambda c: (-severity[c], c))
    sample_caps: dict[int, int] = {}
    budget = max(int(max_sample_rows), 1)
    for leaf in ordered:
        need = min(leaf_rows[leaf], per_leaf_sample)
        if not sample_caps:
            take = min(need, budget)
            # never sample fewer rows than sub-centroids to train
            sample_caps[leaf] = max(take, min(flagged[leaf], need))
            budget -= sample_caps[leaf]
        elif need <= budget:
            sample_caps[leaf] = need
            budget -= need
        else:
            # strict worst-first prefix: once a leaf's need exceeds the
            # remaining budget, DEFER it and everything less severe --
            # never let a small low-severity leaf jump a big hot one.
            break
    flagged = {c: flagged[c] for c in sample_caps}
    flagged_ids = sorted(flagged)
    rows_df = index.filter(F.col("cluster_id").isin(flagged_ids))

    # Bounded per-leaf training sample, ONE Spark job: deterministic
    # hash-ordered row_number cap per leaf, then a single collect of
    # <= max_sample_rows vectors.
    from pyspark.sql import Window

    cap_map = F.create_map(
        *[F.lit(x) for c in flagged_ids for x in (c, sample_caps[c])]
    )
    w = Window.partitionBy("cluster_id").orderBy(F.xxhash64(F.col(id_col)))
    sample_rows = (
        rows_df.select("cluster_id", id_col, F.col(vec_col).alias("_v"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap_map[F.col("cluster_id")])
        .collect()
    )
    by_leaf: dict[int, list] = {}
    for r in sample_rows:
        by_leaf.setdefault(int(r.cluster_id), []).append(r._v)

    new_cent = centroids.copy()
    extra: list[np.ndarray] = []
    next_id = centroids.shape[0]
    sub_map: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for leaf in flagged_ids:
        x = np.asarray(by_leaf[leaf], dtype=np.float64)
        k = min(flagged[leaf], x.shape[0])
        sub = _kmeans_numpy(x, k, max_iter, seed)
        ids = [leaf]
        new_cent[leaf] = sub[0]
        for j in range(1, k):
            ids.append(next_id)
            extra.append(sub[j])
            next_id += 1
        sub_map[leaf] = (np.asarray(ids, dtype=np.int64), sub)
    if extra:
        new_cent = np.vstack([new_cent, np.asarray(extra)])
    def _reassign(vecs: pd.Series, cids: pd.Series) -> pd.Series:
        vmat = np.asarray(list(vecs), dtype=np.float64)
        cid_arr = cids.to_numpy()
        out = np.empty(len(cids), dtype=np.int32)
        for leaf in np.unique(cid_arr):
            ids, sub = sub_map[int(leaf)]
            mask = cid_arr == leaf
            out[mask] = ids[nearest_leaf(vmat[mask], sub)].astype(np.int32)
        return pd.Series(out)

    reassign_udf = F.pandas_udf(_reassign, T.IntegerType())
    parts = (
        ["_bucket", "cluster_id"]
        if "_bucket" in index.columns
        else ["cluster_id"]
    )
    old_pairs = {
        tuple(r) for r in rows_df.select(*parts).distinct().collect()
    }
    reassigned = rows_df.withColumn(
        "cluster_id", reassign_udf(F.col(vec_col), F.col("cluster_id"))
    ).localCheckpoint(eager=True)
    # One file per (bucket, leaf) dir instead of one per task per dir
    # (r17, guide §6): a split grows the leaf count ~n_rows/target, so
    # an unrebalanced write fans N tasks x hundreds of dirs into
    # thousands of one-row files -- the read-back, drift scans and
    # every later maintenance pass pay that listing. The repartition
    # shuffles only the flagged leaves' rows (bounded by the sample
    # budget's leaf set), after the UDF has run.
    new_pairs = {
        tuple(r) for r in reassigned.select(*parts).distinct().collect()
    }
    def _subdir(pair) -> str:
        return "/".join(f"{c}={v}" for c, v in zip(parts, pair))

    if is_tx:
        # Transactional rewrite (r15): the flagged leaves' live files
        # are replaced in ONE manifest publish -- the stale-dir /
        # witness protocol below becomes unnecessary (an emptied leaf
        # simply has no files in the new manifest), and a concurrent
        # tx append to a touched leaf aborts this rewrite instead of
        # being silently undone, closing the "recluster is deferred
        # while a writer is active" restriction by protocol.
        from ..sources.txlog import _delete_files, _stage_and_move_in

        touched_dirs = {_subdir(p) for p in old_pairs}
        inputs = [
            rel
            for rel in txlog.live_files(read_version)
            if rel.rsplit("/", 1)[0] in touched_dirs
        ]
        new_files = _stage_and_move_in(
            spark, index_path,
            reassigned.repartition(
                spark.sparkContext.defaultParallelism, *parts
            ),
            partition_cols=tuple(parts),
        )
        try:
            txlog.replace_files(inputs, new_files, action="recluster")
        except BaseException:
            _delete_files(index_path, new_files)
            raise
        _finish_recluster_metadata(spark, index_path, new_cent, centroids, flagged_ids)
        return new_cent

    # Stale flagged-leaf dirs (no rows landed back under the new
    # assignment) would duplicate their rows against the rewritten
    # partitions. Record them BEFORE the overwrite, with a witness
    # that lets a resumed run tell whether the overwrite committed
    # (see _resume_pending_cleanup); then overwrite, delete, unmark.
    pending = sorted(_subdir(p) for p in old_pairs - new_pairs)
    if pending:
        from ..operators.upsert import _hadoop_path

        witness_pair = min(new_pairs)
        witness_dir = _subdir(witness_pair)
        wp, wfs = _hadoop_path(spark, f"{index_path}/{witness_dir}")
        witness_old = (
            sorted(
                st.getPath().getName()
                for st in wfs.listStatus(wp)
                if not st.getPath().getName().startswith(("_", "."))
            )
            if wfs.exists(wp)
            else []
        )
        write_json_sidecar(
            spark, index_path, RECLUSTER_PENDING_FILE,
            {
                "pending_delete": pending,
                "witness_dir": witness_dir,
                "witness_old_files": witness_old,
            },
        )
    reassigned.repartition(
        spark.sparkContext.defaultParallelism, *parts
    ).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(*parts).parquet(index_path)

    if pending:
        from ..operators.upsert import delete_sidecar

        _delete_index_subdirs(spark, index_path, pending)
        delete_sidecar(spark, index_path, RECLUSTER_PENDING_FILE)

    _finish_recluster_metadata(
        spark, index_path, new_cent, centroids, flagged_ids
    )
    return new_cent


def _finish_recluster_metadata(
    spark, index_path: str, new_cent, old_cent, flagged_ids
) -> None:
    """Post-rewrite sidecar maintenance shared by the legacy and tx
    recluster commits.

    Manifest through the Hadoop FS: os.path checks are always false
    for hdfs:// / s3a:// schemes, silently leaving n_clusters stale.
    Layouts that persist their centroid matrix (``_centroids`` sidecar,
    operators/ivf.py::save_centroids) get it rewritten to the grown
    matrix: a ServingReplica.refresh() -- or any later process --
    must probe with the centroids the on-disk assignment was made
    under, not the pre-recluster matrix it started with (r14)."""
    from ..operators.ivf import has_centroids, save_centroids
    from ..operators.upsert import read_json_sidecar, write_json_sidecar

    man = read_json_sidecar(spark, index_path, "_index_manifest.json")
    if man is not None:
        man["n_clusters"] = int(new_cent.shape[0])
        man["extra"] = dict(
            man.get("extra") or {},
            last_recluster={
                "flagged_leaves": [int(x) for x in flagged_ids],
                "n_clusters_before": int(old_cent.shape[0]),
            },
        )
        write_json_sidecar(spark, index_path, "_index_manifest.json", man)
    if has_centroids(spark, index_path):
        save_centroids(spark, index_path, new_cent)


def needs_recluster(
    report_df: DataFrame,
    *,
    max_leaf_rows: int = 500,
    max_drift_fraction: float = 0.2,
) -> bool:
    """The tree-AH rebalance trigger: any leaf over the reference's
    leaf_node_embedding_count (500, common/config.py:37) or past the
    drift tolerance. The report is n_clusters rows — driver-safe."""
    return (
        report_df.filter(
            (F.col("n_rows") > max_leaf_rows)
            | (F.col("drift_fraction") > max_drift_fraction)
        ).limit(1).count()
        > 0
    )
