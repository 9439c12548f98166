"""Transactional commit log (sources/txlog.py): snapshot-isolation
readers, optimistic writers, and the crash/race matrix -- the listing
race that the staged-swap protocol only DOCUMENTED is closed here by
protocol (VERDICT r14 #1).

The key invariants, each pinned below:
- readers resolve the manifest, never a listing: uncommitted /
  mid-move / logically-deleted files are invisible at every instant;
- the version slot is claimed atomically (hard-link publish), so two
  writers can never both commit the same version;
- a rewrite re-validates its inputs at commit time: concurrent appends
  always survive a concurrent compaction (no lost update, no abort),
  and two overlapping rewrites resolve to one winner;
- a crash at ANY step of a write leaves a readable table and garbage
  that vacuum reaps.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from rag_vertex_ai_vector_search_spark.sources import txlog as tx
from rag_vertex_ai_vector_search_spark.sources.txlog import (
    TxConflict,
    TxLog,
    TxRewriteAborted,
    read_table,
    tx_append,
    tx_compact,
    tx_merge,
    tx_overwrite,
    tx_vacuum,
    tx_zorder,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _range_df(spark, lo, hi, parts=4):
    return (
        spark.range(lo, hi)
        .withColumn("v", F.col("id") * 2)
        .repartition(parts)
    )


def test_append_read_roundtrip_and_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    v1 = tx_append(spark, path, _range_df(spark, 0, 100))
    v2 = tx_append(spark, path, _range_df(spark, 100, 150))
    assert (v1, v2) == (1, 2)  # v0 = init
    assert read_table(spark, path).count() == 150
    # time travel: the v1 snapshot still reads exactly the first batch
    assert read_table(spark, path, version=1).count() == 100
    log = TxLog(spark, path)
    n_files, total = log.table_stats()
    assert n_files == len(log.live_files()) and total > 0


def test_adopts_existing_plain_table(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _range_df(spark, 0, 60)
    df.write.parquet(path)
    tx_append(spark, path, _range_df(spark, 60, 90))
    got = read_table(spark, path)
    assert got.count() == 90
    # plain (listing) readers still see a superset-consistent dir
    assert spark.read.parquet(path).count() == 90


def test_partitioned_append_keeps_partition_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 90).select(
        "id", (F.col("id") % 3).alias("part")
    )
    tx_append(spark, path, df, partition_cols=("part",))
    got = read_table(spark, path)
    assert "part" in got.columns
    assert _rows(got.select("id", F.col("part").cast("long"))) == _rows(df)
    # partition pruning still prunes: only part=1 files are read
    pruned = got.filter(F.col("part") == 1)
    assert pruned.count() == 30


def test_snapshot_reader_pinned_across_commits(spark, tmp_path):
    path = str(tmp_path / "t")
    tx_append(spark, path, _range_df(spark, 0, 50))
    pinned = read_table(spark, path)  # plan resolves v1's file list
    tx_append(spark, path, _range_df(spark, 50, 80))
    assert pinned.count() == 50  # later commits never shift a plan
    assert read_table(spark, path).count() == 80


def test_publish_is_atomic_one_winner(spark, tmp_path):
    path = str(tmp_path / "t")
    tx_append(spark, path, _range_df(spark, 0, 10))
    log = TxLog(spark, path)
    v = log.current_version()
    doc = log.snapshot(v)
    log._publish(v + 1, doc)
    with pytest.raises(TxConflict):
        log._publish(v + 1, doc)


def test_concurrent_append_survives_compaction(spark, tmp_path, monkeypatch):
    """THE race the staged-swap protocol documented: a foreign append
    lands inside the compactor's commit window. Under the log the
    append's files are not among the rewrite's inputs, so the rebase
    keeps them -- zero rows lost, no abort, by construction."""
    path = str(tmp_path / "t")
    tx_append(spark, path, _range_df(spark, 0, 1000, parts=8))
    base_rows = _rows(read_table(spark, path))

    late = _range_df(spark, 1000, 1040, parts=1)
    real_replace = TxLog.replace_files

    def inject_then_commit(self, inputs, outputs, **k):
        # the foreign append commits AFTER the compactor read its
        # snapshot and staged its rewrite, RIGHT BEFORE its commit --
        # the exact window the staged-swap protocol could only rescue
        monkeypatch.undo()
        tx_append(spark, path, late)
        return real_replace(self, inputs, outputs, **k)

    monkeypatch.setattr(TxLog, "replace_files", inject_then_commit)
    n_after = tx_compact(
        spark, path, target_file_bytes=1 << 30, min_files_to_compact=2
    )
    got = _rows(read_table(spark, path))
    assert len(got) == 1040  # compacted rows + the late append, both live
    assert set(_rows(late.select("id", "v"))) <= set(got)
    assert set(base_rows) <= set(got)
    assert n_after < 8 + 1  # the rewrite landed too


def test_conflicting_rewrites_one_winner(spark, tmp_path):
    path = str(tmp_path / "t")
    tx_append(spark, path, _range_df(spark, 0, 500, parts=6))
    log = TxLog(spark, path)
    v = log.current_version()
    inputs = log.live_files(v)
    df = read_table(spark, path, version=v)

    # two rewrites race over the same inputs: stage both, commit both
    out_a = tx._stage_and_move_in(spark, path, df.coalesce(1))
    out_b = tx._stage_and_move_in(spark, path, df.coalesce(2))
    log.replace_files(inputs, out_a, action="compact")
    with pytest.raises(TxRewriteAborted):
        log.replace_files(inputs, out_b, action="compact")
    tx._delete_files(path, out_b)  # the loser reaps its outputs
    assert read_table(spark, path).count() == 500
    assert len(log.live_files()) == 1


def test_crash_matrix_reader_never_corrupted(spark, tmp_path, monkeypatch):
    """Kill the writer at each protocol step; the table must read
    exactly the pre-crash content every time, and vacuum must reap the
    garbage the crash left."""
    path = str(tmp_path / "t")
    tx_append(spark, path, _range_df(spark, 0, 100))
    want = _rows(read_table(spark, path))
    log = TxLog(spark, path)

    # (a) crash after the scratch write, before any move-in
    # (r18: the kill hooks the adapter's walk seam -- the first thing
    # _stage_and_move_in does after the scratch write, whichever
    # listing implementation is active)
    real_walk = tx._LocalTxFs.walk_files

    def boom_walk(self, root, **k):
        if tx._STAGE_PREFIX in str(root):
            raise RuntimeError("killed before move-in")
        return real_walk(self, root, **k)

    monkeypatch.setattr(tx._LocalTxFs, "walk_files", boom_walk)
    with pytest.raises(RuntimeError, match="before move-in"):
        tx_append(spark, path, _range_df(spark, 100, 120))
    monkeypatch.undo()
    assert _rows(read_table(spark, path)) == want

    # (b) crash after move-in, before the manifest commit
    def boom_append(self, new, **k):
        raise RuntimeError("killed before commit")

    monkeypatch.setattr(TxLog, "append_files", boom_append)
    with pytest.raises(RuntimeError, match="before commit"):
        # bypass tx_append's own cleanup by driving the layers directly
        new = tx._stage_and_move_in(
            spark, path, _range_df(spark, 100, 120)
        )
        TxLog(spark, path).append_files(new)
    monkeypatch.undo()
    assert _rows(read_table(spark, path)) == want  # files invisible
    n_live = len(log.live_files())

    # the uncommitted files exist physically but are manifest-invisible
    phys = sum(
        1
        for r, d, fs_ in os.walk(log.table)
        if "_txlog" not in r and tx._STAGE_PREFIX not in r
        for f in fs_
        if not f.startswith(("_", "."))
    )
    assert phys > n_live

    # (c) vacuum reaps exactly the orphans (age gate dropped: writers
    # in this test are known stopped)
    rep = tx_vacuum(spark, path, retain_versions=100, min_age_seconds=0)
    assert rep["deleted_files"] == phys - n_live
    assert _rows(read_table(spark, path)) == want

    # (d) crash between commit and scratch cleanup is a non-event: the
    # commit already landed, scratch is dot-prefixed and aged out
    stage = os.path.join(log.table, tx._STAGE_PREFIX + "deadbeef")
    os.makedirs(stage)
    with open(os.path.join(stage, "part-0.parquet"), "wb") as f:
        f.write(b"junk")
    assert _rows(read_table(spark, path)) == want
    rep = tx_vacuum(spark, path, retain_versions=100, min_age_seconds=0)
    assert rep["deleted_dirs"] == 1 and not os.path.exists(stage)

    # (e) a torn commit file can never be observed: the publish links a
    # fully-fsynced tmp, and a LOSING publish leaves no tmp behind
    leftovers = [
        n for n in os.listdir(log.log_dir) if n.startswith(".tmp-")
    ]
    assert leftovers == []


def test_vacuum_respects_retention_and_age(spark, tmp_path):
    path = str(tmp_path / "t")
    tx_append(spark, path, _range_df(spark, 0, 100, parts=4))
    tx_compact(spark, path, target_file_bytes=1 << 30)
    log = TxLog(spark, path)
    # retain both versions: the pre-compaction files stay readable
    rep = tx_vacuum(spark, path, retain_versions=10, min_age_seconds=0)
    assert rep["deleted_files"] == 0
    assert read_table(spark, path, version=1).count() == 100
    # age gate: fresh garbage is never raced
    orphan = os.path.join(log.table, "tx-orphan-part-9.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    rep = tx_vacuum(spark, path, retain_versions=1, min_age_seconds=3600)
    assert os.path.exists(orphan)
    # retain only the head: older version's replaced files go
    rep = tx_vacuum(spark, path, retain_versions=1, min_age_seconds=0)
    assert rep["deleted_files"] > 0 and not os.path.exists(orphan)
    assert read_table(spark, path).count() == 100
    with pytest.raises(Exception):
        read_table(spark, path, version=1).count()  # vacuumed away


def test_idempotent_streaming_txn_replay(spark, tmp_path):
    """The foreachBatch replay guard: committing the same
    (txn_app, txn_batch) twice lands the rows exactly once."""
    path = str(tmp_path / "t")
    df = _range_df(spark, 0, 40, parts=2)
    meta = {"txn_app": "q-123", "txn_batch": 7}
    v1 = tx_append(spark, path, df, meta=meta)
    v2 = tx_append(spark, path, df, meta=meta)  # sink retry
    assert v1 == v2
    assert read_table(spark, path).count() == 40
    v3 = tx_append(spark, path, df, meta={"txn_app": "q-123", "txn_batch": 8})
    assert v3 > v2
    assert read_table(spark, path).count() == 80


def test_tx_merge_upsert_semantics_and_bucket_surgery(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.range(0, 200).select(
        F.col("id").alias("data_point_id"),
        F.lit("old").alias("payload"),
    )
    tx_merge(spark, path, base, n_buckets=8)
    log = TxLog(spark, path)
    files_v1 = set(log.live_files())

    updates = spark.range(150, 260).select(
        F.col("id").alias("data_point_id"),
        F.lit("new").alias("payload"),
    )
    tx_merge(spark, path, updates, n_buckets=8)
    got = read_table(spark, path)
    assert got.count() == 260  # 200 base + 60 inserts, 50 replaced
    assert got.filter(
        (F.col("data_point_id") >= 150) & (F.col("payload") != "new")
    ).count() == 0
    assert got.filter(
        (F.col("data_point_id") < 150) & (F.col("payload") != "old")
    ).count() == 0
    # bucket surgery: untouched buckets' files survive IDENTICALLY
    doc = log.snapshot()
    untouched_kept = files_v1 & {f["path"] for f in doc["files"]}
    touched_buckets = {p.split("/")[0] for p in doc["removed"]}
    assert all(
        f.split("/")[0] not in touched_buckets for f in untouched_kept
    )
    # merge is idempotent: replaying the same updates changes nothing
    tx_merge(spark, path, updates, n_buckets=8)
    assert _rows(read_table(spark, path)) == _rows(got)


def test_tx_overwrite_and_zorder(spark, tmp_path):
    path = str(tmp_path / "t")
    tx_append(spark, path, _range_df(spark, 0, 100))
    tx_overwrite(spark, path, _range_df(spark, 500, 550))
    assert read_table(spark, path).count() == 50
    df = spark.range(0, 4000).select(
        "id",
        (F.col("id") % 97).alias("a"),
        (F.col("id") % 89).alias("b"),
    )
    zpath = str(tmp_path / "z")
    tx_append(spark, zpath, df)
    assert tx_zorder(spark, zpath, ["a", "b"], n_files=4)
    got = read_table(spark, zpath)
    assert _rows(got.select("id", "a", "b")) == _rows(df)
    assert len(TxLog(spark, zpath).live_files()) <= 4


def test_commit_log_contents_are_auditable(spark, tmp_path):
    path = str(tmp_path / "t")
    tx_append(spark, path, _range_df(spark, 0, 10, parts=4))
    tx_compact(spark, path, target_file_bytes=1 << 30)
    log = TxLog(spark, path)
    with open(
        os.path.join(log.log_dir, f"v{log.current_version():020d}.json")
    ) as f:
        doc = json.load(f)
    assert doc["action"] == "compact"
    assert doc["base_version"] == doc["version"] - 1
    # non-checkpoint commits persist only their delta (O(delta) JSON)
    assert doc["files"] is None
    assert all({"path", "size"} <= set(e) for e in doc["added"])
    assert doc["removed"]  # the compacted inputs
    # snapshot() reconstructs the full list from the v0 checkpoint
    assert all(
        {"path", "size"} <= set(e)
        for e in log.snapshot()["files"]
    )


def test_checkpoint_interval_and_delta_replay(spark, tmp_path):
    """Commits between checkpoints are O(delta); snapshot() replays
    deltas forward from the nearest checkpoint and must agree with
    physical truth at EVERY version across appends, a mid-chain
    rewrite, and vacuum."""
    import os as _os

    from rag_vertex_ai_vector_search_spark.sources import txlog as _tx

    path = str(tmp_path / "t")
    # 23 single-file appends -> versions 1..23 over checkpoints 0/10/20
    for i in range(23):
        tx_append(spark, path, _range_df(spark, i * 10, i * 10 + 10, parts=1))
    log = TxLog(spark, path)
    assert log.current_version() == 23
    for v in range(24):
        raw = json.load(
            open(_os.path.join(log.log_dir, f"v{v:020d}.json"))
        )
        if v % _tx.CHECKPOINT_INTERVAL == 0:
            # r16: checkpoints are parquet sidecars named in the JSON
            assert raw.get("checkpoint_file") or raw["files"] is not None
            if raw.get("checkpoint_file"):
                assert _os.path.exists(
                    _os.path.join(log.log_dir, raw["checkpoint_file"])
                )
        else:
            assert raw["files"] is None and "checkpoint_file" not in raw
    # reconstruction correct at an arbitrary mid-chain version
    assert len(log.live_files(17)) == 17
    assert read_table(spark, path, version=17).count() == 170
    assert read_table(spark, path).count() == 230
    # rewrite on a delta version: conflict validation + replay both
    # run over reconstructed snapshots
    n = tx_compact(spark, path, target_file_bytes=1 << 30)
    assert n == 1 and log.current_version() == 24
    assert read_table(spark, path).count() == 230
    assert log.table_stats() == (
        1,
        sum(f["size"] for f in log.snapshot()["files"]),
    )
    rep = tx_vacuum(spark, path, retain_versions=1, min_age_seconds=0)
    assert rep["deleted_files"] == 23
    assert read_table(spark, path).count() == 230


def test_vacuum_prunes_commit_log_keeping_replay_chains(spark, tmp_path):
    """prune_log=True bounds the log dir by table RETENTION instead of
    table age: commits below the newest checkpoint at-or-below the
    oldest retained version go; every retained version must still
    snapshot() (its checkpoint + delta chain survives)."""
    import os as _os

    path = str(tmp_path / "t")
    for i in range(25):  # versions 1..25, checkpoints at 0/10/20
        tx_append(spark, path, _range_df(spark, i * 10, i * 10 + 10, parts=1))
    log = TxLog(spark, path)
    rep = tx_vacuum(
        spark, path, retain_versions=4, min_age_seconds=0, prune_log=True
    )
    # oldest retained = 22 -> cutoff checkpoint 20 -> v1..v19 pruned
    # (v0 is retained forever as the table's identity anchor, r17)
    assert rep["pruned_commits"] == 19
    remaining = [v for v, _ in log._version_files()]
    assert remaining == [0] + list(range(20, 26))
    assert log.current_version() == 25
    for v in range(22, 26):  # every retained version still resolves
        assert len(log.live_files(v)) == v
    assert read_table(spark, path).count() == 250
    with pytest.raises(Exception):
        log.snapshot(5)  # pruned history fails loudly


def test_tx_snapshot_read_keeps_pruning_and_pushdown(spark, tmp_path):
    """The explicit-file-list snapshot read must not cost Catalyst
    anything: hive partition columns survive (basePath), partition
    filters prune to the matching files, and data predicates still
    push to the parquet scan."""
    path = str(tmp_path / "t")
    df = spark.range(0, 9000).select(
        "id", (F.col("id") % 3).alias("part"), (F.col("id") * 2).alias("v")
    )
    tx_append(spark, path, df.repartition(6), partition_cols=("part",))
    got = read_table(spark, path).filter(
        (F.col("part") == 1) & (F.col("v") > 100)
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "part" in plan.split(
        "PartitionFilters:"
    )[1][:80]
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1][:120]
    assert "GreaterThan(v,100" in pushed
    assert got.count() == df.filter(
        (F.col("part") == 1) & (F.col("v") > 100)
    ).count()
    # (inputFiles() reports the PRE-pruning index, so the pruning
    # evidence is the PartitionFilters entry above plus the count)


def test_many_threads_append_all_commits_land(spark, tmp_path):
    """In-process hard-race stress: 4 threads x 6 tx appends against
    one table. Every commit must land (the publish loop rebases
    losers), versions must be CONTIGUOUS (the atomic hard-link claims
    exactly one slot each), and the final snapshot must hold every
    row exactly once."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    TxLog(spark, path).ensure()

    def writer(w):
        for b in range(6):
            lo = (w * 6 + b) * 10
            tx_append(spark, path, _range_df(spark, lo, lo + 10, parts=1))
        return w

    with ThreadPoolExecutor(max_workers=4) as ex:
        assert sorted(ex.map(writer, range(4))) == [0, 1, 2, 3]

    log = TxLog(spark, path)
    assert log.current_version() == 24  # v0 init + 24 appends, no gaps
    got = read_table(spark, path)
    assert got.count() == 240
    assert got.select("id").distinct().count() == 240


# ---- r16 ADVICE closures ---------------------------------------------------


def test_merge_aborts_on_concurrent_append_to_touched_bucket(
    spark, tmp_path, monkeypatch
):
    """ADVICE r15 #1 (medium): an append landing in a TOUCHED bucket
    between the merge's read and its commit used to commute through
    the rebase and bypass keep-latest. Now the guarded prefixes abort
    the commit and the merge retries on the fresh snapshot -- the
    appended row becomes base, the update wins, exactly one row per
    key."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    base = spark.range(0, 100).select(
        F.col("id").alias("data_point_id"), F.lit("old").alias("payload")
    )
    tx_merge(spark, path, base, n_buckets=4)

    updates = spark.range(0, 50).select(
        F.col("id").alias("data_point_id"), F.lit("new").alias("payload")
    )
    # a foreign append that targets keys the merge is updating -- with
    # n_buckets=4 its bucket is certainly among the touched prefixes
    foreign = spark.range(0, 50).select(
        F.col("id").alias("data_point_id"),
        F.lit("foreign").alias("payload"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(4))
        .cast("int").alias("_bucket"),
    )

    real_replace = TxLog.replace_files
    state = {"injected": False, "aborts": 0}

    def inject_then_commit(self, inputs, outputs, **k):
        if not state["injected"]:
            state["injected"] = True
            tx_append(
                spark, path, foreign, partition_cols=("_bucket",)
            )
        try:
            return real_replace(self, inputs, outputs, **k)
        except TxRewriteAborted:
            state["aborts"] += 1
            raise

    monkeypatch.setattr(TxLog, "replace_files", inject_then_commit)
    tx_merge(spark, path, updates, n_buckets=4)
    monkeypatch.undo()

    got = read_table(spark, path)
    assert state["aborts"] >= 1  # the stale commit really aborted
    assert got.count() == 100  # one row per key, no duplicates
    assert got.groupBy("data_point_id").count().filter(
        "count > 1"
    ).count() == 0
    # the merge retried on the snapshot INCLUDING the foreign append,
    # so updates still won keep-latest over it
    assert got.filter(
        (F.col("data_point_id") < 50) & (F.col("payload") != "new")
    ).count() == 0


def test_zombie_replay_after_lost_race_not_double_applied(
    spark, tmp_path, monkeypatch
):
    """ADVICE r15 #2 (medium): two concurrent replays of the same
    (txn_app, txn_batch) -- the loser passes the pre-check, stages,
    loses the slot race, and must then OBSERVE the winner's txn record
    instead of committing again."""
    path = str(tmp_path / "t")
    meta = {"txn_app": "q-zombie", "txn_batch": 3}
    TxLog(spark, path).ensure()
    df = _range_df(spark, 0, 20, parts=1)

    # replay A stages its files and passes the pre-check (table has no
    # txn record yet) ...
    new_a = tx._stage_and_move_in(spark, path, df)
    log = TxLog(spark, path)
    real_commit = TxLog.commit
    state = {"winner": None, "fired": False}

    def winner_lands_first(self, **k):
        if not state["fired"]:
            state["fired"] = True
            state["winner"] = tx_append(spark, path, df, meta=meta)
        return real_commit(self, **k)

    monkeypatch.setattr(TxLog, "commit", winner_lands_first)
    with pytest.raises(tx.TxIdempotentReplay) as ei:
        log.append_files(new_a, meta=meta)
    monkeypatch.undo()
    assert ei.value.version == state["winner"]
    tx._delete_files(path, new_a, spark)
    # exactly one application of the epoch
    assert read_table(spark, path).count() == 20
    # and the public wrapper does the reap-and-return dance itself
    v = tx_append(spark, path, df, meta=meta)
    assert v == state["winner"]
    assert read_table(spark, path).count() == 20


def test_pruned_epoch_replay_still_skipped(spark, tmp_path):
    """ADVICE r15 #3 (low): prune_log folds the pruned commits'
    (txn_app, txn_batch) records into _txn_index.json, so a
    long-delayed replay of a pruned epoch is recognized and skipped."""
    path = str(tmp_path / "t")
    df = _range_df(spark, 0, 30, parts=1)
    meta = {"txn_app": "sink-ckpt", "txn_batch": 0}
    v_epoch = tx_append(spark, path, df, meta=meta)
    for i in range(1, 25):  # push checkpoints past the epoch's commit
        tx_append(spark, path, _range_df(spark, i * 30, i * 30 + 30, parts=1))
    rep = tx_vacuum(
        spark, path, retain_versions=2, min_age_seconds=0, prune_log=True
    )
    assert rep["pruned_commits"] > v_epoch  # the epoch's commit is gone
    log = TxLog(spark, path)
    assert log.find_txn("sink-ckpt", 0) == v_epoch  # via the index
    n_before = read_table(spark, path).count()
    got = tx_append(spark, path, df, meta=meta)  # the delayed replay
    assert got == v_epoch
    assert read_table(spark, path).count() == n_before  # not re-applied


def test_tx_merge_pins_bucket_layout(spark, tmp_path):
    """ADVICE r15 #4 (low): the first tx_merge writes the same
    _merge_meta.json sidecar merge_into_table uses (streaming sinks
    included, they call tx_merge directly); a later merge with a
    different bucket map raises instead of scattering keys."""
    from pyspark.sql import functions as F

    from rag_vertex_ai_vector_search_spark.operators.upsert import (
        _read_merge_meta,
    )

    path = str(tmp_path / "t")
    base = spark.range(0, 50).select(
        F.col("id").alias("data_point_id"), F.lit("x").alias("payload")
    )
    tx_merge(spark, path, base, n_buckets=8)
    meta = _read_merge_meta(spark, path)
    assert meta == {"key": "data_point_id", "n_buckets": 8}
    with pytest.raises(ValueError, match="layout mismatch"):
        tx_merge(spark, path, base, n_buckets=16)
    with pytest.raises(ValueError, match="layout mismatch"):
        tx_merge(spark, path, base, key="payload", n_buckets=8)


def test_tx_merge_full_merges_non_bucket_files(spark, tmp_path):
    """ADVICE r15 #5 (low): live files OUTSIDE the _bucket= layout (an
    adopted plain table) used to be invisible to every merge -- their
    stale key rows survived forever. Now they trigger a full-table
    re-bucketing merge."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    plain = spark.range(0, 80).select(
        F.col("id").alias("data_point_id"), F.lit("stale").alias("payload")
    )
    tx_append(spark, path, plain)  # root-level (non-bucket) files
    updates = spark.range(0, 40).select(
        F.col("id").alias("data_point_id"), F.lit("fresh").alias("payload")
    )
    tx_merge(spark, path, updates, n_buckets=4)
    got = read_table(spark, path)
    assert got.count() == 80  # 40 replaced + 40 untouched, no dupes
    assert got.filter(
        (F.col("data_point_id") < 40) & (F.col("payload") != "fresh")
    ).count() == 0
    assert got.groupBy("data_point_id").count().filter(
        "count > 1"
    ).count() == 0
    # the whole table is re-bucketed: nothing lives at root level
    log = TxLog(spark, path)
    assert all(r.startswith("_bucket=") for r in log.live_files())
    # and a second merge takes the pruned (bucket-surgery) path again
    tx_merge(spark, path, updates, n_buckets=4)
    assert read_table(spark, path).count() == 80


def test_tx_compact_rederives_partition_layout(spark, tmp_path):
    """ADVICE r15 #5 (low), compaction half: a default-partition_cols
    tx_compact on a hive-partitioned snapshot re-derives the layout
    from the live paths instead of flattening it into root files
    (which would break every later bucket-pruned merge)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    base = spark.range(0, 200).select(
        F.col("id").alias("data_point_id"), F.lit("a").alias("payload")
    )
    tx_merge(spark, path, base, n_buckets=4)
    # fragment the buckets with two layout-correct appends of NEW keys
    # (new keys cannot duplicate, so appending is merge-safe here)
    for lo in (200, 250):
        extra = spark.range(lo, lo + 50).select(
            F.col("id").alias("data_point_id"),
            F.lit("b").alias("payload"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(4))
            .cast("int").alias("_bucket"),
        )
        tx_append(spark, path, extra, partition_cols=("_bucket",))
    log = TxLog(spark, path)
    assert len(log.live_files()) > 4
    tx_compact(spark, path, target_file_bytes=1 << 30)
    # layout preserved: every live file still under _bucket=
    assert all(r.startswith("_bucket=") for r in log.live_files())
    assert len(log.live_files()) == 4  # one file per bucket
    # and merges keep working with bucket surgery afterwards
    upd = spark.range(0, 10).select(
        F.col("id").alias("data_point_id"), F.lit("c").alias("payload")
    )
    tx_merge(spark, path, upd, n_buckets=4)
    got = read_table(spark, path)
    assert got.count() == 300
    assert got.filter(
        (F.col("data_point_id") < 10) & (F.col("payload") != "c")
    ).count() == 0


def test_zombie_merge_replay_not_double_committed(
    spark, tmp_path, monkeypatch
):
    """r16 hardening: two concurrent tx_merge replays of the same
    (txn_app, txn_batch). The loser's rewrite aborts (the winner
    replaced its input files); its retry must OBSERVE the winner's txn
    record and return that version instead of committing the epoch a
    second time."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    base = spark.range(0, 80).select(
        F.col("id").alias("data_point_id"), F.lit("old").alias("payload")
    )
    tx_merge(spark, path, base, n_buckets=4)
    updates = spark.range(0, 40).select(
        F.col("id").alias("data_point_id"), F.lit("new").alias("payload")
    )
    meta = {"txn_app": "merge-q", "txn_batch": 5}
    real_replace = TxLog.replace_files
    state = {"fired": False, "winner": None}

    def winner_lands_first(self, inputs, outputs, **k):
        if not state["fired"]:
            state["fired"] = True
            state["winner"] = tx_merge(
                spark, path, updates, n_buckets=4, meta=meta
            )
        return real_replace(self, inputs, outputs, **k)

    monkeypatch.setattr(TxLog, "replace_files", winner_lands_first)
    got = tx_merge(spark, path, updates, n_buckets=4, meta=meta)
    monkeypatch.undo()
    assert got == state["winner"]
    log = TxLog(spark, path)
    assert log.current_version() == state["winner"]  # no second commit
    table = read_table(spark, path)
    assert table.count() == 80
    assert table.filter(
        (F.col("data_point_id") < 40) & (F.col("payload") != "new")
    ).count() == 0


def test_parquet_checkpoints_roundtrip_fallback_and_vacuum(
    spark, tmp_path, monkeypatch
):
    """r16: checkpoints are parquet sidecars (the 10^6-file knee --
    67x smaller than the JSON embed, the object-store transfer cost).
    The sidecar is commit-unique and named in the JSON; a pyarrow-less
    writer falls back to embedding; an orphan sidecar (lost slot race)
    is reaped age-gated; prune_log removes pruned checkpoints'
    sidecars while every retained replay chain keeps resolving."""
    path = str(tmp_path / "t")
    for i in range(12):  # checkpoints at v0 and v10
        tx_append(spark, path, _range_df(spark, i * 10, i * 10 + 10, parts=1))
    log = TxLog(spark, path)
    doc10 = json.loads(
        open(os.path.join(log.log_dir, f"v{10:020d}.json")).read()
    )
    assert doc10["files"] is None and doc10["checkpoint_file"]
    side = os.path.join(log.log_dir, doc10["checkpoint_file"])
    assert os.path.exists(side)
    assert len(log.live_files(10)) == 10  # resolves through the sidecar
    assert read_table(spark, path).count() == 120

    # pyarrow-less fallback: the next checkpoint embeds the list
    import rag_vertex_ai_vector_search_spark.sources.txlog as txmod

    def no_pyarrow(files):
        raise ImportError("no pyarrow")

    monkeypatch.setattr(txmod, "_files_to_parquet_bytes", no_pyarrow)
    for i in range(12, 21):
        tx_append(spark, path, _range_df(spark, i * 10, i * 10 + 10, parts=1))
    monkeypatch.undo()
    doc20 = json.loads(
        open(os.path.join(log.log_dir, f"v{20:020d}.json")).read()
    )
    assert doc20["files"] is not None and "checkpoint_file" not in doc20
    assert read_table(spark, path).count() == 210  # mixed formats resolve

    # orphan sidecar (a loser's leftover): inert, reaped age-gated
    orphan = os.path.join(
        log.log_dir, f"v{20:020d}.deadbeef.checkpoint.parquet"
    )
    with open(orphan, "wb") as f:
        f.write(b"junk")
    assert read_table(spark, path).count() == 210  # never read
    rep = tx_vacuum(spark, path, retain_versions=100, min_age_seconds=0)
    assert not os.path.exists(orphan)
    assert os.path.exists(side)  # the live v10 sidecar stays

    # prune: v0/v10 checkpoints (and sidecars) below the cutoff go
    tx_vacuum(
        spark, path, retain_versions=2, min_age_seconds=0, prune_log=True
    )
    assert not os.path.exists(side)
    assert read_table(spark, path).count() == 210
    for v in (20, 21):  # retained versions keep resolving
        assert len(log.live_files(v)) == v


def test_parallel_walk_matches_serial_walk(tmp_path):
    """walk_files_parallel (r18, the vacuum/adopt listing path) must
    see EXACTLY the serial walk's file set under both hidden-dir
    rules -- hive dirs kept, underscore/dot dirs pruned -- and return
    [] for a missing root."""
    base = str(tmp_path / "t")
    want = []
    for b in range(3):
        for c in range(5):
            d = f"{base}/_bucket={b}/cluster_id={c}"
            os.makedirs(d)
            for i in range(2):
                p = f"{d}/f{i}.parquet"
                with open(p, "wb") as fh:
                    fh.write(b"x" * (i + 1))
                want.append(p)
    os.makedirs(f"{base}/_txlog")
    with open(f"{base}/_txlog/v0.json", "w") as fh:
        fh.write("{}")
    os.makedirs(f"{base}/.tx-stage-x")
    with open(f"{base}/.tx-stage-x/s.parquet", "wb") as fh:
        fh.write(b"y")
    fs = tx._LocalTxFs()
    # force the POOLED path (the local adapter dispatches to the serial
    # walk by default -- measured GIL-bound; see walk_files_parallel)
    fs.parallel_listing = True
    serial = sorted(
        (p, s) for p, s, _m in fs.walk_files(base, prune_hidden=True)
    )
    par = sorted(
        (p, s)
        for p, s, _m in tx.walk_files_parallel(fs, base, prune_hidden=True)
    )
    assert serial == par
    assert [p for p, _s in par] == sorted(want)
    s2 = sorted(p for p, *_ in fs.walk_files(base, prune_hidden=False))
    p2 = sorted(
        p for p, *_ in tx.walk_files_parallel(fs, base, prune_hidden=False)
    )
    assert s2 == p2 and len(p2) == len(want) + 2
    assert tx.walk_files_parallel(fs, base + "/nope") == []


def test_parallel_walk_propagates_errors(tmp_path, monkeypatch):
    """A scan failure inside a pool worker must surface, never return
    a silently truncated listing (a vacuum diffing against a partial
    walk would treat unlisted live files as... nothing -- but an
    ADOPT would commit a partial manifest)."""
    base = str(tmp_path / "t")
    os.makedirs(f"{base}/sub")
    with open(f"{base}/sub/f.parquet", "wb") as fh:
        fh.write(b"x")
    fs = tx._LocalTxFs()
    fs.parallel_listing = True
    orig = fs.scan_dir

    def boom(p, *, prune_hidden=True):
        if p.endswith("/sub"):
            raise OSError("simulated listing failure")
        return orig(p, prune_hidden=prune_hidden)

    monkeypatch.setattr(fs, "scan_dir", boom)
    with pytest.raises(OSError, match="simulated"):
        tx.walk_files_parallel(fs, base)


def test_pyarrow_walk_matches_scandir_walk(tmp_path, monkeypatch):
    """The pyarrow C++ fast path (r18) must see EXACTLY the scandir
    fallback's file set under both hidden-dir rules -- the fallback is
    the semantics anchor. Symlinked dirs, inside or outside the tree,
    are listed by neither (pyarrow follows them unless told not to)."""
    base = str(tmp_path / "t")
    want = []
    for b in range(3):
        d = f"{base}/_bucket={b}/cluster_id=7"
        os.makedirs(d)
        for i in range(4):
            p = f"{d}/f{i}.parquet"
            with open(p, "wb") as fh:
                fh.write(b"x" * (i + 1))
            want.append(p)
    os.symlink(
        f"{base}/_bucket=0/cluster_id=7", f"{base}/_bucket=0/cluster_id=8"
    )
    os.makedirs(str(tmp_path / "outside"))
    with open(str(tmp_path / "outside" / "o.parquet"), "wb") as fh:
        fh.write(b"o")
    os.symlink(str(tmp_path / "outside"), f"{base}/linked")
    os.makedirs(f"{base}/_txlog")
    with open(f"{base}/_txlog/v0.json", "w") as fh:
        fh.write("{}")
    os.makedirs(f"{base}/.tx-stage-q")
    with open(f"{base}/.tx-stage-q/s.parquet", "wb") as fh:
        fh.write(b"z")
    fs = tx._LocalTxFs()
    fast = sorted((p, s) for p, s, _m in fs.walk_files(base))
    monkeypatch.setattr(tx, "_pyarrow_walk_local", lambda *a, **k: None)
    slow = sorted((p, s) for p, s, _m in fs.walk_files(base))
    monkeypatch.undo()
    assert fast == slow
    assert [p for p, _s in fast] == sorted(want)
    f2 = sorted(p for p, *_ in fs.walk_files(base, prune_hidden=False))
    monkeypatch.setattr(tx, "_pyarrow_walk_local", lambda *a, **k: None)
    s2 = sorted(p for p, *_ in fs.walk_files(base, prune_hidden=False))
    assert f2 == s2 and len(f2) == len(want) + 2
    assert list(fs.walk_files(base + "/nope")) == []
