"""Streaming vocabulary maintenance: (word, n) counts kept fresh per
micro-batch (an ``EpochFold``, see streaming/epoch_fold.py), so
tokenizer corpus-prep (vocab coverage, BPE pair stats) reads a
maintained table instead of rescanning the corpus.

Fold algebra: word counts are purely additive, so the fold is one sum
per word. At 100 TB the partial per batch is bounded by the batch's
distinct words, with map-side combine doing the heavy lifting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalized_text
from .epoch_fold import EpochFold


def vocab_partial(batch_df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """One micro-batch -> (word, n) partial counts."""
    return (
        batch_df.select(
            F.explode(
                F.split(normalized_text(F.col(text_col)), " ")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def vocab_fold(*, text_col: str = "text") -> EpochFold:
    """The maintained (word, n) table."""
    return EpochFold(
        lambda df: vocab_partial(df, text_col=text_col),
        keys=("word",),
        folds=(("n", "sum"),),
    )
