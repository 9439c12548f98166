"""Streaming DSIR model maintenance: hashed n-gram bucket counts kept
fresh per micro-batch (an ``EpochFold``, see streaming/epoch_fold.py),
so importance scoring (operators/importance.py) reads a maintained
raw-corpus model instead of rescanning the corpus.

Fold algebra: bucket counts are purely additive (each document arrives
in exactly one batch), so the fold is one sum per bucket and
``dsir_log_importance(raw_counts=dsir_fold(...).read(...))`` scores
BIT-EQUAL to batch self-modeling. The per-batch partial is AT MOST
``n_buckets`` rows (default 8192) whatever the batch size, so this is
the cheapest maintained table in the streaming family. The TARGET
model is typically static (a curated corpus); maintain one of these
per corpus if the target also streams.
"""

from __future__ import annotations

from ..operators.importance import hashed_gram_bucket_counts
from .epoch_fold import EpochFold


def dsir_fold(
    *, text_col: str = "text", n_buckets: int = 8192,
    base_hash: str = "sha60",
) -> EpochFold:
    """The maintained (bucket, n) raw model."""
    return EpochFold(
        lambda df: hashed_gram_bucket_counts(
            df, text_col=text_col, n_buckets=n_buckets, base_hash=base_hash
        ),
        keys=("bucket",),
        folds=(("n", "sum"),),
    )
