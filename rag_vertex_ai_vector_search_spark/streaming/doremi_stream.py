"""Streaming DoReMi maintenance: the Group-DRO mixture's sufficient
statistic kept fresh per micro-batch (an ``EpochFold``, see
streaming/epoch_fold.py), so domain weights re-derive from a
maintained table instead of rescanning the corpus.

The batch operator (operators/doremi.py) reduces the corpus to ONE
bounded table -- (domain, round, word) -> count -- and derives
everything (reference model, per-domain models, per-round excess,
log-weights) from it. Fold algebra: that table is purely ADDITIVE, so
the fold is one sum per key, and
``doremi_weights_from_base(doremi_fold().read(...))`` routes the
folded table through the SAME weight math the batch operator uses --
maintained == batch is structural, and the driver gate
(streaming_doremi_maintained) hash-checks it against the batch SQL
mirror.

At 100 TB the per-batch partial is (domains x rounds x batch vocab)
sized with map-side combine, the maintained table is vocabulary-sized,
and weight refresh is a read of THAT table -- never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalized_text, sha60_hash
from .epoch_fold import EpochFold


def doremi_partial(
    batch_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    n_rounds: int = 4,
    salt: str = "doremi",
) -> DataFrame:
    """One micro-batch -> (_domain, _round, word, _c) partial counts:
    the same sufficient statistic the batch operator's one corpus pass
    produces (round assignment is per-DOCUMENT hash, so a document's
    words land in the same round whichever micro-batch carries it)."""
    return (
        batch_df.select(
            F.col(domain_col).alias("_domain"),
            F.pmod(
                sha60_hash(
                    F.concat(
                        F.lit(salt), F.lit(":"),
                        F.col(id_col).cast("string"),
                    )
                ),
                F.lit(n_rounds),
            ).cast("int").alias("_round"),
            F.explode(
                F.split(normalized_text(F.col(text_col)), " ")
            ).alias("word"),
        )
        .groupBy("_domain", "_round", "word")
        .agg(F.count(F.lit(1)).alias("_c"))
    )


def doremi_fold(**kwargs) -> EpochFold:
    """The maintained (_domain, _round, word, _c) statistic;
    ``kwargs`` are ``doremi_partial``'s."""
    return EpochFold(
        lambda df: doremi_partial(df, **kwargs),
        keys=("_domain", "_round", "word"),
        folds=(("_c", "sum"),),
    )
