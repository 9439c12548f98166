"""Streaming line document-frequency maintenance: the boilerplate
detector's count table kept fresh per micro-batch (an ``EpochFold``,
see streaming/epoch_fold.py), so line-level dedup
(operators/dedup.py::dedup_boilerplate_lines) can clean any slice of
the corpus against CORPUS-GLOBAL frequencies without a rescan.

Fold algebra (why a distinct-count is streamable here): the per-batch
partial is (line, n_docs) with n_docs counted DISTINCT WITHIN the
batch, and a document arrives in exactly one micro-batch, so the sum
of partials over epochs is the corpus-wide distinct-document count.
At 100 TB the heavy keys are exactly the boilerplate lines, which
map-side combine collapses to one row per (line, batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .epoch_fold import EpochFold


def line_df_partial(
    batch_df: DataFrame, *, id_col: str = "doc_id",
    text_col: str = "text", sep: str = "\n",
) -> DataFrame:
    """One micro-batch -> (line, n_docs) partial document frequencies."""
    return (
        batch_df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), sep)).alias("line"),
        )
        .groupBy("line")
        .agg(F.countDistinct(id_col).alias("n_docs"))
    )


def line_df_fold(
    *, id_col: str = "doc_id", text_col: str = "text", sep: str = "\n",
) -> EpochFold:
    """The maintained (line, n_docs) table -- the ``line_counts=``
    input of dedup_boilerplate_lines."""
    return EpochFold(
        lambda df: line_df_partial(
            df, id_col=id_col, text_col=text_col, sep=sep
        ),
        keys=("line",),
        folds=(("n_docs", "sum"),),
    )
