from .ingest import stream_merge_into_index
from .dedup import stream_dedup_exact
from .epoch_fold import EpochFold, write_epoch
from .rollup import rollup_fold
from .vocab import vocab_fold
from .doremi_stream import doremi_fold
from .ngram import ngram_fold
from .linestats import line_df_fold
from .join import stream_interval_join
from .dsir_stream import dsir_fold
from .sketch_stream import bloom_fold, cms_fold, histogram_fold, hll_fold
from .dedup_minhash import (
    apply_minhash_dedup_batch,
    read_deduped,
    stream_dedup_minhash,
)
from .maintenance import maintain_index

__all__ = [
    "stream_merge_into_index",
    "stream_dedup_exact",
    "EpochFold",
    "write_epoch",
    "rollup_fold",
    "vocab_fold",
    "doremi_fold",
    "ngram_fold",
    "line_df_fold",
    "dsir_fold",
    "hll_fold",
    "cms_fold",
    "bloom_fold",
    "histogram_fold",
    "stream_interval_join",
    "apply_minhash_dedup_batch",
    "read_deduped",
    "stream_dedup_minhash",
    "maintain_index",
]
