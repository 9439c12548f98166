"""Every epoch-fold family (streaming/epoch_fold.py) on one tiny
in-memory frame: two epochs, a poisoned write of epoch 1 that is then
replayed, an empty epoch, and a compaction run under a SESSION-level
dynamic ``partitionOverwriteMode`` -- the fold equals the batch
computation over all rows throughout, and compaction leaves only the
``_epoch=-1`` base."""

import glob
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from rag_vertex_ai_vector_search_spark.streaming import (
    bloom_fold,
    cms_fold,
    doremi_fold,
    dsir_fold,
    histogram_fold,
    hll_fold,
    line_df_fold,
    ngram_fold,
    rollup_fold,
    vocab_fold,
)
from rag_vertex_ai_vector_search_spark.streaming.epoch_fold import (
    write_epoch,
)

COLS = (
    ("doc_id", "long"), ("text", "string"), ("source", "string"),
    ("lang", "string"), ("ts", "timestamp"), ("event_type", "string"),
    ("user_id", "long"), ("value", "double"),
)
_TEXTS = [
    "alpha beta gamma\nshared footer line",
    "beta gamma delta\nshared footer line",
    "Gamma  delta epsilon alpha\nunique tail one",
    "alpha alpha beta\nshared footer line",
    "zeta eta theta\nunique tail two",
    "beta beta gamma gamma\nshared footer line",
]


SPECS = {
    "vocab": vocab_fold(),
    "ngram": ngram_fold(),
    "line_df": line_df_fold(),
    "rollup": rollup_fold(),
    "dsir": dsir_fold(n_buckets=64),
    "doremi": doremi_fold(n_rounds=2),
    "hll": hll_fold(col="text", group_cols=("lang",), p=4),
    "cms": cms_fold(col="text", depth=2, width=16),
    "bloom": bloom_fold(col="text", n_bits=256, k=2),
    "histogram": histogram_fold(
        col="user_id", group_cols=("source",), lo=0, hi=4, n_bins=4
    ),
}


def _rows_of(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _frame(spark, ids, texts):
    """A one-partition frame of literal rows, built on the JVM: no
    Python worker deserializes it in every job."""
    rows = (
        (
            i, text, ("web", "books")[i % 2], ("en", "de", "fr")[i % 3],
            datetime(2024, 1, 1, 10 + i % 2, 7 * i % 60),
            ("view", "click")[i % 2], i % 3, 1.25 * i + 0.1,
        )
        for i, text in zip(ids, texts)
    )
    return spark.range(1, numPartitions=1).select(F.inline(F.array(*(
        F.struct(*(
            F.lit(v).cast(t).alias(c) for v, (c, t) in zip(row, COLS)
        ))
        for row in rows
    ))))


@pytest.mark.parametrize("name", sorted(SPECS))
def test_epoch_fold_replay_empty_epoch_and_compaction(spark, tmp_path, name):
    spec = SPECS[name]
    docs = _frame(spark, range(6), _TEXTS)
    poison = _frame(
        spark, range(100, 103), ["omega psi", "chi phi\nomega", "upsilon"]
    )
    batch = spec.partial(docs)
    want = batch if spec.finalize is None else spec.finalize(batch)
    want_rows = _rows_of(want)
    table = str(tmp_path / name)

    # a session-level dynamic overwrite must not leak into compaction,
    # which has to replace the whole table; one shuffle partition keeps
    # each tiny epoch to one file
    confs = {
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.sql.shuffle.partitions": "1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        spec.apply(docs.filter(F.col("doc_id") % 2 == 0), 0, table)
        # a crashed attempt at epoch 1 left a wrong partial on disk...
        write_epoch(spec.partial(poison), 1, table)
        assert _rows_of(spec.read(spark, table)) != want_rows
        # ...which the replay of epoch 1 replaces wholesale
        spec.apply(docs.filter(F.col("doc_id") % 2 == 1), 1, table)
        spec.apply(docs.limit(0), 2, table)  # empty epoch: no partition
        assert sorted(glob.glob(f"{table}/_epoch=*")) == [
            f"{table}/_epoch=0", f"{table}/_epoch=1"
        ]
        got = spec.read(spark, table)
        assert got.dtypes == want.dtypes
        assert _rows_of(got) == want_rows

        spec.compact(spark, table)
        assert glob.glob(f"{table}/_epoch=*") == [f"{table}/_epoch=-1"]
        got = spec.read(spark, table)
        assert got.dtypes == want.dtypes
        assert _rows_of(got) == want_rows
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
