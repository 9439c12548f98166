"""Small-file compaction (sources/compact.py): fewer files, identical
contents, partition layout preserved."""

import glob

from pyspark.sql import functions as F

from rag_vertex_ai_vector_search_spark.sources import (
    compact_parquet,
    table_file_stats,
)


def _assert_same(a, b):
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_compact_reduces_files_keeps_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(path)
    before_files, before_bytes = table_file_stats(spark, path)
    assert before_files == 40

    after = compact_parquet(spark, path, target_file_bytes=before_bytes)
    assert after <= 2
    assert table_file_stats(spark, path)[0] == after
    _assert_same(spark.read.parquet(path), df)


def test_compact_noop_below_threshold(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(0, 10).coalesce(1).write.parquet(path)
    assert compact_parquet(spark, path) == 1
    assert spark.read.parquet(path).count() == 10


def test_compact_partitioned_table(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 3_000).select(
        F.col("id"), (F.col("id") % 3).alias("part")
    )
    # 10 fragment files per partition dir, as a streaming sink leaves
    df.repartition(10).write.partitionBy("part").parquet(path)
    before, total = table_file_stats(spark, path)
    assert before == 30

    compact_parquet(
        spark, path, target_file_bytes=total, partition_cols=("part",)
    )
    after, _ = table_file_stats(spark, path)
    assert after < before
    # partition dirs survive (partition pruning still works)
    assert sorted(
        p.rsplit("part=", 1)[1] for p in glob.glob(path + "/part=*")
    ) == ["0", "1", "2"]
    got = spark.read.parquet(path).select("id", F.col("part").cast("long"))
    _assert_same(got, df)


# --- r10: crash-safe swap protocol + orphan GC ----------------------

import os
import shutil

import pytest

from rag_vertex_ai_vector_search_spark.sources import (
    gc_table_path,
    resume_pending_compact,
)
from rag_vertex_ai_vector_search_spark.sources import compact as compactmod


def _mk_table(spark, tmp_path, n_files=6):
    path = str(tmp_path / "t")
    df = spark.range(0, 1_000).withColumn("v", F.col("id") * 3)
    df.repartition(n_files).write.parquet(path)
    return path, df


class _CrashFS:
    """Delegating proxy over the Hadoop FS that raises on the Nth
    rename -- simulates a writer dying mid-swap."""

    def __init__(self, real, state, crash_at):
        self._real = real
        self._state = state
        self._crash_at = crash_at

    def rename(self, a, b):
        self._state["renames"] += 1
        if self._state["renames"] == self._crash_at:
            raise RuntimeError("simulated crash mid-swap")
        return self._real.rename(a, b)

    def __getattr__(self, name):
        return getattr(self._real, name)


def _patch_crash(monkeypatch, crash_at):
    state = {"renames": 0}
    real = compactmod._fs_and_path

    def fake(spark, p):
        fs, jp = real(spark, p)
        return _CrashFS(fs, state, crash_at), jp

    monkeypatch.setattr(compactmod, "_fs_and_path", fake)


@pytest.mark.full
@pytest.mark.parametrize(
    "crash_at,outcome", [(1, "discarded"), (2, "completed")]
)
def test_compact_crash_mid_swap_is_healed(
    spark, tmp_path, monkeypatch, crash_at, outcome
):
    """Kill the swap (a) before any rename and (b) between the two
    renames; resume must recover the full row set either way, and the
    marker/side dirs must be gone."""
    path, df = _mk_table(spark, tmp_path)
    _, total = table_file_stats(spark, path)
    _patch_crash(monkeypatch, crash_at)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_parquet(spark, path, target_file_bytes=total)
    monkeypatch.undo()

    assert resume_pending_compact(spark, path) == outcome
    assert resume_pending_compact(spark, path) == "none"
    _assert_same(spark.read.parquet(path), df)
    for suffix in (
        compactmod.TMP_SUFFIX,
        compactmod.OLD_SUFFIX,
        compactmod.PENDING_MARKER_SUFFIX,
    ):
        assert not os.path.exists(path + suffix)
    # crash-before-swap keeps the fragments; crash-mid-swap rolls the
    # compacted rewrite forward
    n_now = table_file_stats(spark, path)[0]
    assert n_now == (6 if outcome == "discarded" else 1)


def test_compact_heals_pending_on_entry(spark, tmp_path):
    """A later compact_parquet call self-heals an interrupted swap
    before compacting (no operator intervention needed)."""
    path, df = _mk_table(spark, tmp_path)
    # fabricate the between-renames state: table dir moved aside,
    # rewrite staged in tmp, marker present
    tmp = path + compactmod.TMP_SUFFIX
    old = path + compactmod.OLD_SUFFIX
    spark.read.parquet(path).coalesce(1).write.parquet(tmp)
    os.rename(path, old)
    with open(path + compactmod.PENDING_MARKER_SUFFIX, "w") as f:
        f.write("{}")

    _, total = table_file_stats(spark, tmp)
    after = compact_parquet(spark, path, target_file_bytes=total)
    assert after == 1
    _assert_same(spark.read.parquet(path), df)
    assert not os.path.exists(old) and not os.path.exists(tmp)


def test_resume_raises_when_no_data_survives(spark, tmp_path):
    path = str(tmp_path / "t")
    with open(path + compactmod.PENDING_MARKER_SUFFIX, "w") as f:
        f.write("{}")
    with pytest.raises(RuntimeError, match="no data found"):
        resume_pending_compact(spark, path)


def test_gc_removes_aged_remnants_keeps_live(spark, tmp_path):
    path, df = _mk_table(spark, tmp_path)
    true_files, true_bytes = table_file_stats(spark, path)

    # crashed-job remnants: an uncommitted attempt dir inside the
    # table (inflates table_file_stats!) and an orphan compact tmp
    # sibling with no marker
    attempt = os.path.join(path, "_temporary", "0", "task_000")
    os.makedirs(attempt)
    with open(os.path.join(attempt, "part-0.parquet"), "wb") as f:
        f.write(b"x" * 4096)
    orphan = path + compactmod.TMP_SUFFIX
    spark.read.parquet(path).coalesce(1).write.parquet(orphan)
    assert table_file_stats(spark, path)[0] == true_files + 1

    # a young remnant is never raced
    res = gc_table_path(spark, path, min_age_seconds=3600)
    assert res == {
        "resumed": "none", "deleted_dirs": 0, "reclaimed_bytes": 0,
    }
    assert os.path.exists(attempt) and os.path.exists(orphan)

    res = gc_table_path(spark, path, min_age_seconds=0)
    assert res["deleted_dirs"] == 2
    assert res["reclaimed_bytes"] >= 4096
    assert not os.path.exists(os.path.join(path, "_temporary"))
    assert not os.path.exists(orphan)
    assert table_file_stats(spark, path) == (true_files, true_bytes)
    _assert_same(spark.read.parquet(path), df)


def test_gc_never_touches_marked_swap_dirs(spark, tmp_path):
    """Sibling dirs that belong to a PENDING swap are healed through
    the protocol (here: rolled forward), never blind-deleted."""
    path, df = _mk_table(spark, tmp_path)
    tmp = path + compactmod.TMP_SUFFIX
    spark.read.parquet(path).coalesce(1).write.parquet(tmp)
    os.rename(path, path + compactmod.OLD_SUFFIX)
    with open(path + compactmod.PENDING_MARKER_SUFFIX, "w") as f:
        f.write("{}")

    res = gc_table_path(spark, path, min_age_seconds=0)
    assert res["resumed"] == "completed"
    assert res["deleted_dirs"] == 0
    _assert_same(spark.read.parquet(path), df)


def test_swap_rescues_late_commit(spark, tmp_path, monkeypatch):
    """commit_staged_rewrite (r13 append-safety): a file another
    session committed AFTER the pre-swap listing rides base into the
    renamed old dir -- it must be MOVED back into the live table, not
    deleted with old."""
    path, df = _mk_table(spark, tmp_path)
    baseline = compactmod._listing_snapshot(spark, path)
    # the "late" commit: lands after the baseline listing
    late = spark.range(5000, 5010).withColumn("v", F.col("id") * 3)
    late.coalesce(1).write.mode("append").parquet(path)
    # the rewrite's tmp (built from the ORIGINAL rows, as a real
    # rewrite racing the late commit would have)
    spark.read.parquet(path).filter(F.col("id") < 5000).coalesce(
        1
    ).write.parquet(path + compactmod.TMP_SUFFIX)
    monkeypatch.setattr(
        compactmod, "_pre_swap_check", lambda s, p: baseline
    )
    assert compactmod.commit_staged_rewrite(spark, path)
    monkeypatch.undo()
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == sorted([*range(0, 1000), *range(5000, 5010)])
    for suffix in (compactmod.TMP_SUFFIX, compactmod.OLD_SUFFIX,
                   compactmod.PENDING_MARKER_SUFFIX):
        assert not os.path.exists(path + suffix)


def test_local_listing_snapshot_retries_a_vanishing_dir(
    spark, tmp_path, monkeypatch
):
    """A local table is listed by one pyarrow walk, never the Hadoop
    FileSystem, under the same retry as the Hadoop listing: a writer's
    attempt dir gone before the walk reaches it (pyarrow's own
    FileNotFoundError) makes the walk start over, not raise."""
    from pyarrow import fs as pafs

    from rag_vertex_ai_vector_search_spark.sources import txlog

    path, _df = _mk_table(spark, tmp_path)
    n_files, n_bytes = compactmod.table_file_stats(spark, path)
    real = txlog._pyarrow_walk_local
    calls = []

    def racing(root, *, prune_hidden):
        calls.append(root)
        if len(calls) == 1:
            gone = os.path.join(root, "_temporary", "0", "task_0")
            pafs.LocalFileSystem().get_file_info(
                pafs.FileSelector(gone, recursive=True)
            )
        return real(root, prune_hidden=prune_hidden)

    def no_hadoop_fs(*_a, **_k):
        raise AssertionError("a local path took the Hadoop listing")

    monkeypatch.setattr(txlog, "_pyarrow_walk_local", racing)
    monkeypatch.setattr(compactmod, "_fs_and_path", no_hadoop_fs)
    snap = compactmod._listing_snapshot(spark, path)
    assert len(calls) == 2
    assert len(snap) == n_files
    assert sum(size for _rel, size, _mtime in snap) == n_bytes


def test_resume_rescues_late_commit_from_marker(spark, tmp_path):
    """A crash AFTER the renames but BEFORE cleanup leaves the late
    commit stranded in old; the marker carries the pre-swap listing,
    so resume_pending_compact must rescue it too."""
    import json as _json

    path, df = _mk_table(spark, tmp_path, n_files=2)
    baseline = compactmod._listing_snapshot(spark, path)
    late = spark.range(7000, 7008).withColumn("v", F.col("id") * 3)
    late.coalesce(1).write.mode("append").parquet(path)
    # simulate the post-rename crash state: table := rewrite of the
    # original rows; old := original table incl. the late file
    os.rename(path, path + compactmod.OLD_SUFFIX)
    spark.read.parquet(path + compactmod.OLD_SUFFIX).filter(
        F.col("id") < 7000
    ).coalesce(1).write.parquet(path)
    with open(path + compactmod.PENDING_MARKER_SUFFIX, "w") as fh:
        fh.write(_json.dumps(
            {"baseline": sorted(r for r, _, _ in baseline)}
        ))
    assert resume_pending_compact(spark, path) == "completed"
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == sorted([*range(0, 1000), *range(7000, 7008)])


def test_swap_rescues_late_commit_under_bucket_partition(
    spark, tmp_path, monkeypatch
):
    """The rescue must move late commits that live under partition
    dirs whose NAMES start with an underscore (the streaming index
    layout's `_bucket=N`): only metadata file basenames and staging
    ancestor dirs disqualify a path, never partition segments."""
    path = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 4).alias("_bucket")
    )
    df.write.partitionBy("_bucket").parquet(path)
    baseline = compactmod._listing_snapshot(spark, path)
    late = spark.range(9000, 9010).select(
        F.col("id"), (F.col("id") % 4).alias("_bucket")
    )
    late.coalesce(1).write.mode("append").partitionBy(
        "_bucket"
    ).parquet(path)
    spark.catalog.refreshByPath(path)
    spark.read.parquet(path).filter(F.col("id") < 9000).write.partitionBy(
        "_bucket"
    ).parquet(path + compactmod.TMP_SUFFIX)
    monkeypatch.setattr(
        compactmod, "_pre_swap_check", lambda s, p: baseline
    )
    assert compactmod.commit_staged_rewrite(spark, path)
    monkeypatch.undo()
    spark.catalog.refreshByPath(path)
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == sorted([*range(0, 400), *range(9000, 9010)])


# ---- r16: fragmentation-scoped compaction (VERDICT r15 #3) ------------------


def _hot_cold_layout(spark, path, n_parts=3, hot_part=0, rows=900):
    from pyspark.sql import functions as F

    df = spark.range(0, rows).select(
        "id", (F.col("id") % n_parts).alias("part")
    )
    hot = df.filter(F.col("part") == hot_part)
    cold = df.filter(F.col("part") != hot_part)
    hot.repartition(8).write.partitionBy("part").parquet(path)
    cold.repartition(1).write.mode("append").partitionBy("part").parquet(
        path
    )
    return df


def test_compact_fragmented_rewrites_only_hot_partitions(spark, tmp_path):
    """Only the partition past the fragment threshold is rewritten;
    every cold partition's files survive byte-identically (path, size
    AND mtime), and the row set is unchanged."""
    from pyspark.sql import functions as F

    from rag_vertex_ai_vector_search_spark.sources.compact import (
        _listing_snapshot,
        compact_fragmented,
        fragmented_partitions,
        partition_file_stats,
    )

    path = str(tmp_path / "t")
    df = _hot_cold_layout(spark, path)
    stats = partition_file_stats(spark, path)
    assert fragmented_partitions(
        stats, target_file_bytes=1 << 30
    ) == ["part=0"]
    snap_before = _listing_snapshot(spark, path)
    rep = compact_fragmented(spark, path, target_file_bytes=1 << 30)
    assert rep["partitions_total"] == 3
    assert rep["partitions_fragmented"] == 1
    assert rep["files_after"] == rep["files_before"] - 8 + 1
    cold_before = {
        e for e in snap_before
        if not e[0].lstrip("/").startswith("part=0/")
    }
    assert cold_before <= _listing_snapshot(spark, path)
    spark.catalog.refreshByPath(path)
    got = spark.read.parquet(path)
    assert sorted(
        (r["id"], r["part"]) for r in got.collect()
    ) == sorted((r["id"], r["part"]) for r in df.collect())
    # idempotent: a healthy layout is a no-op
    rep2 = compact_fragmented(spark, path, target_file_bytes=1 << 30)
    assert rep2["partitions_fragmented"] == 0
    assert rep2["files_after"] == rep2["files_before"]


def test_compact_fragmented_tx_route(spark, tmp_path):
    """On a tx table the scoped pass replaces exactly the fragmented
    partitions' manifest entries in ONE commit; untouched partitions'
    file paths ride the manifest, and the snapshot read agrees."""
    from pyspark.sql import functions as F

    from rag_vertex_ai_vector_search_spark.sources.compact import (
        compact_fragmented,
    )
    from rag_vertex_ai_vector_search_spark.sources.txlog import (
        TxLog,
        read_table,
        tx_append,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 600).select(
        "id", (F.col("id") % 3).alias("part")
    )
    hot = df.filter(F.col("part") == 1)
    cold = df.filter(F.col("part") != 1)
    tx_append(spark, path, hot.repartition(6), partition_cols=("part",))
    tx_append(spark, path, cold.repartition(1), partition_cols=("part",))
    log = TxLog(spark, path)
    v_before = log.current_version()
    cold_files = {
        r for r in log.live_files() if not r.startswith("part=1/")
    }
    rep = compact_fragmented(spark, path, target_file_bytes=1 << 30)
    assert rep["partitions_fragmented"] == 1
    assert log.current_version() == v_before + 1
    live = set(log.live_files())
    assert cold_files <= live  # untouched partitions ride the manifest
    assert len(live) == len(cold_files) + 1  # hot folded to one file
    got = read_table(spark, path)
    assert sorted(
        (r["id"], int(r["part"])) for r in got.collect()
    ) == sorted((r["id"], r["part"]) for r in df.collect())


def test_maintain_index_uses_scoped_compaction(spark, tmp_path):
    """The nightly pass reports the scoped-compaction split for a
    partitioned layout and leaves the row set intact."""
    from pyspark.sql import functions as F

    from rag_vertex_ai_vector_search_spark.streaming.maintenance import (
        maintain_index,
    )

    path = str(tmp_path / "idx")
    df = spark.range(0, 400).select(
        F.col("id").alias("data_point_id"),
        (F.col("id") % 4).alias("cluster_id"),
    )
    hot = df.filter(F.col("cluster_id") == 2)
    cold = df.filter(F.col("cluster_id") != 2)
    hot.repartition(8).write.partitionBy("cluster_id").parquet(path)
    cold.repartition(1).write.mode("append").partitionBy(
        "cluster_id"
    ).parquet(path)
    rep = maintain_index(
        spark, path, None, writer_active=False, min_age_seconds=0.0
    )
    assert rep["compact_scope"] is not None
    assert rep["compact_scope"]["partitions_fragmented"] == 1
    assert rep["compacted"] and rep["files_after"] < rep["files_before"]
    spark.catalog.refreshByPath(path)
    assert spark.read.parquet(path).count() == 400


def test_compact_fragmented_handles_bucket_layout(spark, tmp_path):
    """Regression (r16): `_bucket=N` partition dirs start with an
    underscore but are HIVE DIRS, not hidden metadata -- the scoped
    pass must see them (a filter that treated them as hidden silently
    no-op'd scoped compaction on every plain merge-bucketed table)."""
    from pyspark.sql import functions as F

    from rag_vertex_ai_vector_search_spark.sources.compact import (
        compact_fragmented,
        partition_file_stats,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        "id", (F.col("id") % 4).alias("_bucket")
    )
    hot = df.filter(F.col("_bucket") == 1)
    cold = df.filter(F.col("_bucket") != 1)
    hot.repartition(8).write.partitionBy("_bucket").parquet(path)
    cold.repartition(1).write.mode("append").partitionBy(
        "_bucket"
    ).parquet(path)
    stats = partition_file_stats(spark, path)
    assert set(stats) == {f"_bucket={b}" for b in range(4)}
    rep = compact_fragmented(spark, path, target_file_bytes=1 << 30)
    assert rep["partitions_fragmented"] == 1
    assert rep["files_after"] < rep["files_before"]
    spark.catalog.refreshByPath(path)
    got = spark.read.parquet(path)
    assert got.count() == 400
    assert sorted(
        (r["id"], int(r["_bucket"])) for r in got.collect()
    ) == sorted((r["id"], r["_bucket"]) for r in df.collect())
