"""Streaming n-gram count maintenance: the LM-quality ladder's count
table kept fresh per micro-batch (an ``EpochFold``, see
streaming/epoch_fold.py), so surprisal scoring reads a maintained
model instead of rescanning the corpus.

ONE table is the sufficient statistic for the whole interpolated
ladder: trigram POSITION counts (prev2, prev, word, n) over the
BOS-padded position stream. Every lower-order table the scorer needs
derives from it by exact integer sums (bigram counts sum over prev2,
context counts over word, unigram counts over contexts), so
maintaining the highest order maintains them all.

Fold algebra: additive, one sum per trigram (pure bigint arithmetic,
no floats anywhere). At 100 TB the per-batch partial is bounded by
the batch's distinct trigrams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .epoch_fold import EpochFold


def ngram_partial(
    batch_df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One micro-batch -> (prev2, prev, word, n) partial counts."""
    from ..operators.lm_quality import trigram_position_counts

    return trigram_position_counts(
        batch_df, id_col=id_col, text_col=text_col
    )


def ngram_fold(*, id_col: str = "doc_id", text_col: str = "text") -> EpochFold:
    """The maintained (prev2, prev, word, n) table -- the ``counts=``
    input of trigram_surprisal."""
    return EpochFold(
        lambda df: ngram_partial(df, id_col=id_col, text_col=text_col),
        keys=("prev2", "prev", "word"),
        folds=(("n", "sum"),),
    )
