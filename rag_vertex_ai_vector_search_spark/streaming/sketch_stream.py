"""Streaming sketch maintenance: HLL register, Count-Min counter,
Bloom word and histogram bin tables kept fresh per micro-batch (each
an ``EpochFold``, see streaming/epoch_fold.py).

The sketch DataFrames of ``operators/sketch.py`` are DESIGNED for
this. Fold algebra, all integer-exact and order-independent:

- HLL: register-wise MAX (commutative and idempotent);
- CMS and histogram: counter-wise SUM (additive; each row arrives in
  exactly one epoch);
- Bloom: word-wise BIT_OR (commutative and idempotent).

So the fold over epochs is bit-equal to the batch sketch of the full
stream: ``hll_fold(...).read(...)`` == ``hll_sketch(all_rows)`` and
likewise for the others. State is bounded per epoch: <= 2^p register
rows, depth x width counters, n_bits / 32 words or n_bins bins PER
GROUP whatever the batch size -- like the DSIR model, among the
cheapest maintained tables here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.sketch import (
    bloom_sketch,
    cms_sketch,
    histogram_sketch,
    hll_sketch,
)
from .epoch_fold import EpochFold


def hll_fold(
    *, col: str, group_cols: tuple[str, ...] = (),
    p: int = 12, base_hash: str = "sha60",
) -> EpochFold:
    """The maintained HLL register table (max)."""
    return EpochFold(
        lambda df: hll_sketch(
            df, col, group_cols=group_cols, p=p, base_hash=base_hash
        ),
        keys=(*group_cols, "bucket"),
        folds=(("max_rho", "max"),),
    )


def cms_fold(
    *, col: str, group_cols: tuple[str, ...] = (),
    depth: int = 4, width: int = 1 << 12, base_hash: str = "sha60",
    weight_col: str | None = None,
) -> EpochFold:
    """The maintained CMS counter table (sum). ``weight_col`` names an
    integer column to count by (weighted CMS: token counts etc.)."""
    return EpochFold(
        lambda df: cms_sketch(
            df, col, group_cols=group_cols, depth=depth, width=width,
            base_hash=base_hash,
            weight=None if weight_col is None else F.col(weight_col),
        ),
        keys=(*group_cols, "row", "bucket"),
        folds=(("cnt", "sum"),),
    )


def bloom_fold(
    *, col: str, group_cols: tuple[str, ...] = (),
    n_bits: int = 1 << 20, k: int = 3, base_hash: str = "sha60",
) -> EpochFold:
    """The maintained Bloom word table (bit_or) -- the streaming half
    of membership tracking ("have we already ingested this URL /
    document fingerprint")."""
    return EpochFold(
        lambda df: bloom_sketch(
            df, col, group_cols=group_cols, n_bits=n_bits, k=k,
            base_hash=base_hash,
        ),
        keys=(*group_cols, "word"),
        folds=(("bits", "bit_or"),),
    )


def histogram_fold(
    *, col: str | Column, group_cols: tuple[str, ...] = (),
    lo: int, hi: int, n_bins: int = 128,
) -> EpochFold:
    """The maintained equi-width histogram bin table (sum) -- live
    distribution monitoring (latency / score / price curves)."""
    return EpochFold(
        lambda df: histogram_sketch(
            df, col, group_cols=group_cols, lo=lo, hi=hi, n_bins=n_bins
        ),
        keys=(*group_cols, "bin"),
        folds=(("cnt", "sum"),),
    )
