"""The r16 remote-scheme branch of the commit log (VERDICT r15 #1):
any ``scheme:`` path routes every manifest read/write, listing,
staging move and vacuum walk through the Hadoop FileSystem API
(``txlog._HadoopTxFs``); only the publish claim is scheme-dispatched
(POSIX hard link for ``file:``, ``fs.rename`` for HDFS-family,
LogStore seam -- loud -- for object stores).

This module re-runs the crash-kill / two-writer / thread-race matrix
through ``file:``-scheme paths, which exercises the full Hadoop branch
in-sandbox (RawLocalFileSystem through the same java interface a
remote deployment uses). The LOCAL branch's identical matrix lives in
tests/test_txlog.py.
"""

import json
import os
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from rag_vertex_ai_vector_search_spark.sources import txlog as tx
from rag_vertex_ai_vector_search_spark.sources.txlog import (
    TxConflict,
    TxLog,
    TxRewriteAborted,
    read_table,
    read_table_any,
    tx_append,
    tx_compact,
    tx_merge,
    tx_vacuum,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _range_df(spark, lo, hi, parts=4):
    return (
        spark.range(lo, hi)
        .withColumn("v", F.col("id") * 2)
        .repartition(parts)
    )


def _uri(tmp_path, name="t") -> str:
    return f"file:{tmp_path}/{name}"


def test_scheme_routing_selects_hadoop_fs(spark, tmp_path):
    log_local = TxLog(spark, str(tmp_path / "a"))
    assert isinstance(log_local.fs, tx._LocalTxFs)
    log_uri = TxLog(spark, _uri(tmp_path, "b"))
    assert isinstance(log_uri.fs, tx._HadoopTxFs)
    assert log_uri.fs.scheme == "file"
    assert log_uri.table.startswith("file:")


def test_append_read_roundtrip_time_travel_and_stats(spark, tmp_path):
    path = _uri(tmp_path)
    v1 = tx_append(spark, path, _range_df(spark, 0, 100))
    v2 = tx_append(spark, path, _range_df(spark, 100, 150))
    assert (v1, v2) == (1, 2)
    assert read_table(spark, path).count() == 150
    assert read_table(spark, path, version=1).count() == 100
    log = TxLog(spark, path)
    n_files, total = log.table_stats()
    assert n_files == len(log.live_files()) and total > 0
    # the manifest JSONs really live under the scheme path
    assert os.path.isdir(str(tmp_path / "t" / tx.TXLOG_DIR))


def test_scheme_and_bare_paths_resolve_the_same_table(spark, tmp_path):
    """``file:/x`` and ``/x`` are the same bytes on disk: a log written
    through one branch must be fully readable through the other (the
    manifest format is path-representation independent)."""
    bare = str(tmp_path / "t")
    tx_append(spark, bare, _range_df(spark, 0, 40))
    via_uri = read_table(spark, _uri(tmp_path))
    assert via_uri.count() == 40
    tx_append(spark, _uri(tmp_path), _range_df(spark, 40, 70))
    assert read_table(spark, bare).count() == 70
    assert TxLog(spark, bare).current_version() == TxLog(
        spark, _uri(tmp_path)
    ).current_version()


def test_publish_is_atomic_one_winner(spark, tmp_path):
    path = _uri(tmp_path)
    tx_append(spark, path, _range_df(spark, 0, 10))
    log = TxLog(spark, path)
    v = log.current_version()
    doc = log.snapshot(v)
    log._publish(v + 1, doc)
    with pytest.raises(TxConflict):
        log._publish(v + 1, doc)
    # no torn tmp left behind by either attempt
    leftovers = [
        n for n in os.listdir(str(tmp_path / "t" / tx.TXLOG_DIR))
        if n.startswith(".tmp-")
    ]
    assert leftovers == []


def test_partitioned_append_keeps_partition_columns(spark, tmp_path):
    path = _uri(tmp_path)
    df = spark.range(0, 90).select(
        "id", (F.col("id") % 3).alias("part")
    )
    tx_append(spark, path, df, partition_cols=("part",))
    got = read_table(spark, path)
    assert "part" in got.columns
    assert got.filter(F.col("part") == 1).count() == 30


def test_concurrent_append_survives_compaction(spark, tmp_path, monkeypatch):
    path = _uri(tmp_path)
    tx_append(spark, path, _range_df(spark, 0, 1000, parts=8))
    late = _range_df(spark, 1000, 1040, parts=1)
    real_replace = TxLog.replace_files

    def inject_then_commit(self, inputs, outputs, **k):
        monkeypatch.undo()
        tx_append(spark, path, late)
        return real_replace(self, inputs, outputs, **k)

    monkeypatch.setattr(TxLog, "replace_files", inject_then_commit)
    tx_compact(
        spark, path, target_file_bytes=1 << 30, min_files_to_compact=2
    )
    got = _rows(read_table(spark, path))
    assert len(got) == 1040


def test_conflicting_rewrites_one_winner(spark, tmp_path):
    path = _uri(tmp_path)
    tx_append(spark, path, _range_df(spark, 0, 500, parts=6))
    log = TxLog(spark, path)
    v = log.current_version()
    inputs = log.live_files(v)
    df = read_table(spark, path, version=v)
    out_a = tx._stage_and_move_in(spark, path, df.coalesce(1))
    out_b = tx._stage_and_move_in(spark, path, df.coalesce(2))
    log.replace_files(inputs, out_a, action="compact")
    with pytest.raises(TxRewriteAborted):
        log.replace_files(inputs, out_b, action="compact")
    tx._delete_files(path, out_b, spark)
    assert read_table(spark, path).count() == 500
    assert len(log.live_files()) == 1


def test_crash_matrix_reader_never_corrupted(spark, tmp_path, monkeypatch):
    """Kill the writer at each protocol step ON THE HADOOP BRANCH; the
    table must read exactly the pre-crash content every time, and
    vacuum (walking through the Hadoop FS) must reap the garbage."""
    path = _uri(tmp_path)
    tx_append(spark, path, _range_df(spark, 0, 100))
    want = _rows(read_table(spark, path))
    log = TxLog(spark, path)

    # (a) crash after the scratch write, before any move-in
    real_walk = tx._HadoopTxFs.walk_files

    def boom_walk(self, root, **k):
        if tx._STAGE_PREFIX in str(root):
            raise RuntimeError("killed before move-in")
        return real_walk(self, root, **k)

    monkeypatch.setattr(tx._HadoopTxFs, "walk_files", boom_walk)
    with pytest.raises(RuntimeError, match="before move-in"):
        tx_append(spark, path, _range_df(spark, 100, 120))
    monkeypatch.undo()
    assert _rows(read_table(spark, path)) == want

    # (b) crash after move-in, before the manifest commit
    def boom_append(self, new, **k):
        raise RuntimeError("killed before commit")

    monkeypatch.setattr(TxLog, "append_files", boom_append)
    with pytest.raises(RuntimeError, match="before commit"):
        new = tx._stage_and_move_in(
            spark, path, _range_df(spark, 100, 120)
        )
        TxLog(spark, path).append_files(new)
    monkeypatch.undo()
    assert _rows(read_table(spark, path)) == want
    n_live = len(log.live_files())
    local_root = str(tmp_path / "t")
    phys = sum(
        1
        for r, d, fs_ in os.walk(local_root)
        if "_txlog" not in r and tx._STAGE_PREFIX not in r
        for f in fs_
        if not f.startswith(("_", "."))
    )
    assert phys > n_live

    # (c) vacuum (Hadoop walk) reaps exactly the orphans
    rep = tx_vacuum(spark, path, retain_versions=100, min_age_seconds=0)
    assert rep["deleted_files"] == phys - n_live
    assert _rows(read_table(spark, path)) == want

    # (d) aged scratch dirs go too
    stage = os.path.join(local_root, tx._STAGE_PREFIX + "deadbeef")
    os.makedirs(stage)
    with open(os.path.join(stage, "part-0.parquet"), "wb") as f:
        f.write(b"junk")
    rep = tx_vacuum(spark, path, retain_versions=100, min_age_seconds=0)
    assert rep["deleted_dirs"] == 1 and not os.path.exists(stage)


def test_many_threads_append_all_commits_land(spark, tmp_path):
    """The thread-race stress through the Hadoop branch: the ``file:``
    claim is the POSIX hard link, so exactly one writer wins each slot
    and versions stay contiguous."""
    path = _uri(tmp_path)
    TxLog(spark, path).ensure()

    def writer(w):
        for b in range(6):
            lo = (w * 6 + b) * 10
            tx_append(spark, path, _range_df(spark, lo, lo + 10, parts=1))
        return w

    with ThreadPoolExecutor(max_workers=4) as ex:
        assert sorted(ex.map(writer, range(4))) == [0, 1, 2, 3]

    log = TxLog(spark, path)
    assert log.current_version() == 24
    got = read_table(spark, path)
    assert got.count() == 240
    assert got.select("id").distinct().count() == 240


def test_merge_vacuum_and_prune_through_hadoop_branch(spark, tmp_path):
    path = _uri(tmp_path)
    base = spark.range(0, 200).select(
        F.col("id").alias("data_point_id"), F.lit("old").alias("payload")
    )
    tx_merge(spark, path, base, n_buckets=8)
    updates = spark.range(150, 260).select(
        F.col("id").alias("data_point_id"), F.lit("new").alias("payload")
    )
    tx_merge(spark, path, updates, n_buckets=8)
    got = read_table_any(spark, path)
    assert got.count() == 260
    assert got.filter(
        (F.col("data_point_id") >= 150) & (F.col("payload") != "new")
    ).count() == 0
    rep = tx_vacuum(
        spark, path, retain_versions=1, min_age_seconds=0, prune_log=True
    )
    assert rep["deleted_files"] > 0
    assert read_table(spark, path).count() == 260


def test_object_store_claim_is_loud(spark, tmp_path, monkeypatch):
    """The LogStore seam: on a scheme with no atomic put-if-absent the
    COMMIT raises loudly (NotImplementedError) instead of silently
    publishing through an overwriting rename -- and it raises at claim
    time, so reads/listing/staging on such schemes still work."""
    path = _uri(tmp_path)
    log = TxLog(spark, path)
    monkeypatch.setattr(log.fs, "scheme", "s3a")
    with pytest.raises(NotImplementedError, match="LogStore"):
        log.init()
    # nothing half-committed: the version dir holds no v*.json
    assert log.current_version() == -1


def test_hdfs_rename_claim_path_executes(spark, tmp_path, monkeypatch):
    """The HDFS-family claim (tmp write + fs.rename onto the version
    slot) drives the same code a real namenode would see; on the raw
    local FS the rename succeeds for a fresh slot and the committed
    JSON round-trips. (rename-fails-if-destination-exists is an HDFS
    namenode guarantee, not reproducible on POSIX rename -- the
    conflict branch is covered by unit dispatch, the success branch
    here.)"""
    path = _uri(tmp_path)
    log = TxLog(spark, path)
    monkeypatch.setattr(log.fs, "scheme", "hdfs")
    v = log.init(adopt_listing=False)
    assert v == 0
    raw = json.loads(
        open(str(tmp_path / "t" / tx.TXLOG_DIR / f"v{0:020d}.json")).read()
    )
    assert raw["action"] == "init"
    # v0 is a checkpoint: parquet sidecar (r16) or embedded empty list
    assert raw.get("checkpoint_file") or raw["files"] == []
    assert log.live_files(0) == []


def test_read_table_any_never_silently_downgrades(spark, tmp_path):
    """r16: a tx table read through ``read_table_any`` on a scheme path
    resolves the manifest (no listing double-count of unvacuumed
    replaced files)."""
    path = _uri(tmp_path)
    tx_append(spark, path, _range_df(spark, 0, 100, parts=4))
    tx_compact(spark, path, target_file_bytes=1 << 30)
    # the dir physically holds pre-compaction + compacted files
    local_root = str(tmp_path / "t")
    phys = sum(
        1
        for r, d, fs_ in os.walk(local_root)
        if "_txlog" not in r
        for f in fs_
        if not f.startswith(("_", "."))
    )
    assert phys > 1
    # a listing read double-counts; the tx-aware read does not
    assert spark.read.parquet(path).count() > 100
    assert read_table_any(spark, path).count() == 100


def test_file_uri_spellings_walk_the_same_files(spark, tmp_path):
    """``file:/x`` and ``file:///x`` list the same files through the
    pyarrow fast path; ``file://host/x`` names no local path and fails
    loudly instead of listing nothing (an adopt over an empty listing
    would commit an empty manifest)."""
    root = str(tmp_path / "t")
    os.makedirs(f"{root}/cluster_id=1")
    with open(f"{root}/cluster_id=1/f.parquet", "wb") as fh:
        fh.write(b"x")
    for uri in (f"file:{root}", f"file://{root}"):
        got = [p for p, *_ in tx._fs_for(spark, uri).walk_files(uri)]
        assert got == [f"file:{root}/cluster_id=1/f.parquet"]
    bad = f"file://host{root}"
    with pytest.raises(ValueError, match="authority"):
        list(tx._fs_for(spark, bad).walk_files(bad))
