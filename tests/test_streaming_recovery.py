"""Checkpoint-restart recovery for the streaming family (VERDICT r10 #1).

Every maintenance gate so far ran its micro-batches in ONE query
lifetime; these tests exercise the actual production restart path of a
STREAM_UPDATE ingest (reference vector_store/utils/index_manager.py:53
-- a long-lived, restartable process): stop a query after a committed
batch (and separately: kill it mid-epoch after the sink wrote but
before the checkpoint committed), restart from the SAME
checkpointLocation, drain, and assert the maintained table / emitted
set bit-equals an uninterrupted run.

Two representative queries, per the two streaming execution styles:

- foreachBatch maintenance sink (streaming/epoch_fold.py, driven by
  the vocab fold): recovery comes from epoch-partitioned dynamic
  overwrite -- a replayed epoch overwrites only its own partition, so
  at-least-once delivery still yields exactly-once table contents.
- state-store query (streaming/dedup.py::stream_dedup_exact): recovery
  comes from the HDFS-backed state store -- dedup state committed
  before the stop must survive the restart and keep suppressing
  duplicates that arrive after it.
"""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from rag_vertex_ai_vector_search_spark.streaming import epoch_fold
from rag_vertex_ai_vector_search_spark.streaming.dedup import (
    stream_dedup_exact,
)
from rag_vertex_ai_vector_search_spark.streaming.vocab import vocab_fold

# Slow tier: real micro-batched lifecycles with restarts.
pytestmark = pytest.mark.full

DOC_SCHEMA = "doc_id long, text string"
TS_SCHEMA = "doc_id long, ts timestamp, text string"
VOCAB = vocab_fold()


def _ts(s):
    return datetime.fromisoformat(s)


_VOCAB_BATCHES = [
    [(1, "alpha beta gamma"), (2, "beta gamma delta")],
    [(3, "gamma delta epsilon"), (4, "alpha alpha beta")],
    [(5, "zeta eta theta alpha"), (6, "beta beta gamma gamma")],
]


def _write_batch(spark, rows, schema, src):
    # coalesce(1): mid-run appends to a running file-source stream must
    # be single-file atomic (CLAUDE.md streaming-append rule).
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)


def _vocab_uninterrupted(spark, tmp_path, tag):
    """Reference run: all three batches in one query lifetime."""
    src = str(tmp_path / f"src_{tag}")
    table = str(tmp_path / f"table_{tag}")
    ckpt = str(tmp_path / f"ckpt_{tag}")
    _write_batch(spark, _VOCAB_BATCHES[0], DOC_SCHEMA, src)
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(src)
    q = VOCAB.stream(stream, table, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
        for rows in _VOCAB_BATCHES[1:]:
            _write_batch(spark, rows, DOC_SCHEMA, src)
            q.processAllAvailable()
    finally:
        q.stop()
    return sorted(
        (r.word, r.n) for r in VOCAB.read(spark, table).collect()
    )


def test_vocab_restart_after_committed_batch_equals_uninterrupted(
    spark, tmp_path
):
    """Stop after each committed batch; restart from the same
    checkpointLocation; the maintained table bit-equals one lifetime."""
    src = str(tmp_path / "src_r")
    table = str(tmp_path / "table_r")
    ckpt = str(tmp_path / "ckpt_r")

    _write_batch(spark, _VOCAB_BATCHES[0], DOC_SCHEMA, src)
    for i in range(3):  # three separate query lifetimes, one per batch
        stream = spark.readStream.schema(DOC_SCHEMA).parquet(src)
        q = VOCAB.stream(stream, table, checkpoint_dir=ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        if i < 2:
            _write_batch(spark, _VOCAB_BATCHES[i + 1], DOC_SCHEMA, src)

    got = sorted((r.word, r.n) for r in VOCAB.read(spark, table).collect())
    want = _vocab_uninterrupted(spark, tmp_path, "uvocab")
    assert got == want
    # each batch committed as its own epoch partition across restarts
    epochs = {
        r._epoch for r in spark.read.parquet(table).select("_epoch").collect()
    }
    assert len(epochs) == 3


def test_vocab_killed_epoch_is_replayed_and_overwritten(
    spark, tmp_path, monkeypatch
):
    """Kill the query mid-epoch AFTER the sink wrote its partition but
    BEFORE the checkpoint committed: the restart must replay the epoch
    and dynamic-overwrite must wholesale-replace the poisoned partial,
    so the final table still bit-equals an uninterrupted run."""
    src = str(tmp_path / "src_k")
    table = str(tmp_path / "table_k")
    ckpt = str(tmp_path / "ckpt_k")

    _write_batch(spark, _VOCAB_BATCHES[0], DOC_SCHEMA, src)
    q = VOCAB.stream(
        spark.readStream.schema(DOC_SCHEMA).parquet(src),
        table,
        checkpoint_dir=ckpt,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # Lifetime 2 crashes mid-epoch: the shared sink writes a POISONED
    # partial (counts x100) under the epoch partition, then dies before
    # foreachBatch returns -- data files landed, checkpoint did not
    # commit. This is the worst-ordered crash for the maintenance sink.
    real_write = epoch_fold.write_epoch

    def _poison_then_crash(partial, epoch_id, path):
        real_write(partial.withColumn("n", F.col("n") * 100), epoch_id, path)
        raise RuntimeError("simulated crash after sink write")

    monkeypatch.setattr(epoch_fold, "write_epoch", _poison_then_crash)
    _write_batch(spark, _VOCAB_BATCHES[1], DOC_SCHEMA, src)
    q = VOCAB.stream(
        spark.readStream.schema(DOC_SCHEMA).parquet(src),
        table,
        checkpoint_dir=ckpt,
    )
    with pytest.raises(Exception, match="simulated crash"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    monkeypatch.undo()

    # the poisoned partial IS on disk at this point (the crash window)
    poisoned = {
        r.word: r.n for r in VOCAB.read(spark, table).collect()
    }
    assert any(n >= 100 for n in poisoned.values())

    # Lifetime 3: restart with the real sink; Spark replays the
    # uncommitted epoch; dynamic overwrite replaces the poisoned
    # partition; then the final batch streams through normally.
    q = VOCAB.stream(
        spark.readStream.schema(DOC_SCHEMA).parquet(src),
        table,
        checkpoint_dir=ckpt,
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, _VOCAB_BATCHES[2], DOC_SCHEMA, src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted((r.word, r.n) for r in VOCAB.read(spark, table).collect())
    want = _vocab_uninterrupted(spark, tmp_path, "uvocab_k")
    assert got == want


_DEDUP_BATCHES = [
    # batch contents are internally unique; duplicates only occur
    # ACROSS batches, so the surviving doc_id per fingerprint is
    # deterministic (first arrival) and the emitted set is comparable
    # bit-for-bit between the restarted and uninterrupted runs.
    [
        (1, _ts("2024-01-01 10:00:00"), "alpha beta gamma"),
        (2, _ts("2024-01-01 10:00:30"), "something else"),
    ],
    [
        (3, _ts("2024-01-01 10:01:00"), "alpha beta gamma"),  # dup of 1
        (4, _ts("2024-01-01 10:01:30"), "fresh content one"),
    ],
    [
        (5, _ts("2024-01-01 10:02:00"), "Something   ELSE"),  # dup of 2
        (6, _ts("2024-01-01 10:02:30"), "fresh content two"),
    ],
]


def _start_dedup(spark, src, out, ckpt):
    stream = spark.readStream.schema(TS_SCHEMA).parquet(src)
    return (
        stream_dedup_exact(stream, horizon="10 minutes")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )


def _dedup_emitted(spark, out):
    return sorted(
        (r.doc_id, r.fingerprint)
        for r in spark.read.parquet(out)
        .select("doc_id", "fingerprint")
        .collect()
    )


def test_dedup_state_survives_restart(spark, tmp_path):
    """The dedup state store must be restored across restarts: a
    duplicate arriving AFTER the stop, within the watermark horizon,
    is still suppressed, and the emitted set bit-equals an
    uninterrupted run (no duplicates, no losses)."""
    src = str(tmp_path / "dsrc")
    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")

    _write_batch(spark, _DEDUP_BATCHES[0], TS_SCHEMA, src)
    for i in range(3):  # one query lifetime per batch
        q = _start_dedup(spark, src, out, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        if i < 2:
            _write_batch(spark, _DEDUP_BATCHES[i + 1], TS_SCHEMA, src)

    # uninterrupted reference run
    usrc = str(tmp_path / "usrc")
    uout = str(tmp_path / "uout")
    uckpt = str(tmp_path / "uckpt")
    _write_batch(spark, _DEDUP_BATCHES[0], TS_SCHEMA, usrc)
    q = _start_dedup(spark, usrc, uout, uckpt)
    try:
        q.processAllAvailable()
        for rows in _DEDUP_BATCHES[1:]:
            _write_batch(spark, rows, TS_SCHEMA, usrc)
            q.processAllAvailable()
    finally:
        q.stop()

    got = _dedup_emitted(spark, out)
    want = _dedup_emitted(spark, uout)
    assert got == want
    # and the semantics themselves: 3 and 5 (cross-lifetime duplicates
    # of 1 and 2) were suppressed BY RESTORED STATE; 4 and 6 passed.
    ids = [d for d, _ in got]
    assert sorted(ids) == [1, 2, 4, 6]


# ---- r12: the remaining two state-store execution styles (VERDICT
# r11 #4) -- the applyInPandasWithState sessionizer and the
# stream-stream interval join keep their state in the same HDFS-backed
# store, but their restart path was untested until now.

_EV_SCHEMA = "user_id bigint, ts timestamp"

_SESSION_BATCHES = [
    # u1 burst (3 events), u2 single event
    [
        (1, _ts("2024-01-01 10:00:00")),
        (1, _ts("2024-01-01 10:05:00")),
        (1, _ts("2024-01-01 10:10:00")),
        (2, _ts("2024-01-01 10:00:00")),
    ],
    # 3h-later u1 event closes u1's first session INLINE and advances
    # the watermark past u2's event-time timeout (10:30)
    [(1, _ts("2024-01-01 13:00:00"))],
    # far-future flush closes u1's 13:00 session inline; whatever it
    # opens stays pending identically in both runs
    [
        (1, _ts("2024-01-01 16:00:00")),
        (2, _ts("2024-01-01 16:00:00")),
    ],
]


def _session_emitted(spark, out):
    return sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
    )


def test_sessionizer_state_survives_restart(spark, tmp_path):
    """The applyInPandasWithState per-user state (open session start /
    last-seen / count) must be restored across restarts: u1's burst is
    committed in lifetime 1, the query stops, and the 3h-later event in
    lifetime 2 must close the PRE-RESTART session with the pre-restart
    start/count; emitted set bit-equals one uninterrupted lifetime."""
    from rag_vertex_ai_vector_search_spark.streaming.stateful import (
        stream_sessionize_to_parquet,
    )

    src = str(tmp_path / "ssrc")
    out = str(tmp_path / "sout")
    ckpt = str(tmp_path / "sckpt")
    _write_batch(spark, _SESSION_BATCHES[0], _EV_SCHEMA, src)
    for i in range(3):  # one query lifetime per batch
        q = stream_sessionize_to_parquet(
            spark.readStream.schema(_EV_SCHEMA).parquet(src), out, ckpt
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        if i < 2:
            _write_batch(spark, _SESSION_BATCHES[i + 1], _EV_SCHEMA, src)

    usrc = str(tmp_path / "susrc")
    uout = str(tmp_path / "suout")
    uckpt = str(tmp_path / "suckpt")
    _write_batch(spark, _SESSION_BATCHES[0], _EV_SCHEMA, usrc)
    q = stream_sessionize_to_parquet(
        spark.readStream.schema(_EV_SCHEMA).parquet(usrc), uout, uckpt
    )
    try:
        q.processAllAvailable()
        for rows in _SESSION_BATCHES[1:]:
            _write_batch(spark, rows, _EV_SCHEMA, usrc)
            q.processAllAvailable()
    finally:
        q.stop()

    got = _session_emitted(spark, out)
    want = _session_emitted(spark, uout)
    assert got == want
    # the cross-restart closure itself: u1's first session (opened
    # lifetime 1, closed lifetime 2) carries the PRE-RESTART start and
    # count -- the state-store payload, not something re-derivable from
    # lifetime 2's input
    assert (
        1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 10:10:00"), 3
    ) in got


_ATTRIB_SCHEMA = "event_id bigint, user_id bigint, ts timestamp"

_VIEW_BATCHES = [
    [
        (10, 1, _ts("2024-01-01 10:00:00")),
        (11, 2, _ts("2024-01-01 10:00:00")),
    ],
    [(12, 1, _ts("2024-01-01 10:15:00"))],
    [(13, 2, _ts("2024-01-01 10:20:00"))],
]
_CLICK_BATCHES = [
    [(20, 1, _ts("2024-01-01 10:10:00"))],        # matches view 10
    # arrives AFTER the restart; matches BOTH pre-restart view 10 and
    # same-lifetime view 12 -- proves the left-side buffered state
    # (view 10) survived the stop
    [(21, 1, _ts("2024-01-01 10:25:00"))],
    [
        (22, 2, _ts("2024-01-01 10:25:00")),      # matches views 11, 13
        (23, 1, _ts("2024-01-01 10:44:00")),      # matches 12 (10 expired horizon)
    ],
]


def _start_attrib(spark, vsrc, csrc, out, ckpt):
    from rag_vertex_ai_vector_search_spark.streaming.join import (
        stream_interval_join,
    )

    vs = spark.readStream.schema(_ATTRIB_SCHEMA).parquet(vsrc)
    cs = spark.readStream.schema(_ATTRIB_SCHEMA).parquet(csrc)
    return (
        stream_interval_join(vs, cs, horizon="30 minutes")
        .select("l_event_id", "r_event_id")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )


def _attrib_emitted(spark, out):
    return sorted(
        (r.l_event_id, r.r_event_id)
        for r in spark.read.parquet(out).collect()
    )


def test_interval_join_state_survives_restart(spark, tmp_path):
    """Both buffered sides of the stream-stream interval join must be
    restored across restarts: a click arriving in lifetime 2 still
    joins a view buffered (and committed) in lifetime 1, and the
    emitted pair set bit-equals an uninterrupted run."""
    vsrc, csrc = str(tmp_path / "jv"), str(tmp_path / "jc")
    out, ckpt = str(tmp_path / "jout"), str(tmp_path / "jckpt")
    _write_batch(spark, _VIEW_BATCHES[0], _ATTRIB_SCHEMA, vsrc)
    _write_batch(spark, _CLICK_BATCHES[0], _ATTRIB_SCHEMA, csrc)
    for i in range(3):  # one query lifetime per batch pair
        q = _start_attrib(spark, vsrc, csrc, out, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        if i < 2:
            _write_batch(spark, _VIEW_BATCHES[i + 1], _ATTRIB_SCHEMA, vsrc)
            _write_batch(spark, _CLICK_BATCHES[i + 1], _ATTRIB_SCHEMA, csrc)

    uvsrc, ucsrc = str(tmp_path / "ujv"), str(tmp_path / "ujc")
    uout, uckpt = str(tmp_path / "ujout"), str(tmp_path / "ujckpt")
    _write_batch(spark, _VIEW_BATCHES[0], _ATTRIB_SCHEMA, uvsrc)
    _write_batch(spark, _CLICK_BATCHES[0], _ATTRIB_SCHEMA, ucsrc)
    q = _start_attrib(spark, uvsrc, ucsrc, uout, uckpt)
    try:
        q.processAllAvailable()
        for i in range(1, 3):
            _write_batch(spark, _VIEW_BATCHES[i], _ATTRIB_SCHEMA, uvsrc)
            _write_batch(spark, _CLICK_BATCHES[i], _ATTRIB_SCHEMA, ucsrc)
            q.processAllAvailable()
    finally:
        q.stop()

    got = _attrib_emitted(spark, out)
    want = _attrib_emitted(spark, uout)
    assert got == want
    # the cross-restart match itself: click 21 (lifetime 2) joined
    # view 10 (buffered in lifetime 1) -- restored left-side state
    assert (10, 21) in got
    assert (12, 21) in got


def test_file_sink_metadata_log_hides_killed_epoch_orphans(
    spark, tmp_path
):
    """A query killed between the sink's data-file write and the
    checkpoint commit leaves ORPHAN parquet files in the output dir.
    The file sink's _spark_metadata log is what makes that safe:
    readers go through the log, so the orphan's rows are invisible,
    and the replayed epoch's (new) files are the only committed copy.
    Simulated deterministically: plant an orphan parquet (poisoned
    rows) in the out dir after a committed batch, assert readers skip
    it, then resume from the checkpoint and assert the final emitted
    set still bit-equals an uninterrupted run."""
    src = str(tmp_path / "osrc")
    out = str(tmp_path / "oout")
    ckpt = str(tmp_path / "ockpt")

    _write_batch(spark, _DEDUP_BATCHES[0], TS_SCHEMA, src)
    q = _start_dedup(spark, src, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # the killed-epoch orphan: data landed, no metadata commit
    poison = [(666, _ts("2024-01-01 10:00:10"), "poisoned partial")]
    spark.createDataFrame(poison, TS_SCHEMA).select(
        "doc_id", F.sha2(F.lower("text"), 256).alias("fingerprint")
    ).coalesce(1).write.mode("append").parquet(out)
    # raw listing sees it; the sink-aware reader must NOT
    raw = {
        r.doc_id
        for r in spark.read.option(
            "ignoreMissingFiles", "true"
        ).format("parquet").load(out + "/*.parquet").collect()
    }
    assert 666 in raw
    assert 666 not in {r.doc_id for r in spark.read.parquet(out).collect()}

    # resume and drain the remaining batches from the same checkpoint
    for rows in _DEDUP_BATCHES[1:]:
        _write_batch(spark, rows, TS_SCHEMA, src)
    q = _start_dedup(spark, src, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = _dedup_emitted(spark, out)
    assert [d for d, _ in got] == [1, 2, 4, 6]  # orphan invisible, no dups
