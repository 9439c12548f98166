"""Seeded input generators. The same seed always yields the same
documents, queries and update batches; the engine only ever sees the
generated rows."""

from __future__ import annotations

import numpy as np
import pandas as pd

LANGS = ("en", "de", "fr", "es")
SOURCES = ("web", "wiki", "code", "forum")
OVER_LIMIT_WORDS = 2100  # above the engine's 2042-token ingest gate


class Corpus:
    """A document generator bound to one seed and one stream of ids.

    Texts are space-joined lowercase words (one token each under the
    engine's regex token count) drawn Zipf-like from a seeded
    vocabulary; lengths are log-normal (median ~60 words, 8..600).
    ``dup_share`` of each fresh batch copies the text of an earlier doc
    of the same batch, so ingest sees exact-duplicate content.
    """

    def __init__(self, seed: int, *, vocab_size: int = 4000):
        self.rng = np.random.default_rng(seed)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = self.rng.integers(3, 10, size=vocab_size)
        self.vocab = np.array(
            ["".join(self.rng.choice(letters, size=n)) for n in lens]
        )
        ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
        self.p = (1.0 / ranks) / (1.0 / ranks).sum()
        self.next_id = 1

    def text(self, n_words: int | None = None) -> str:
        if n_words is None:
            n_words = int(np.clip(self.rng.lognormal(4.1, 0.6), 8, 600))
        return " ".join(self.rng.choice(self.vocab, size=n_words, p=self.p))

    def fresh(self, n: int, *, dup_share: float = 0.1,
              over_limit: int = 0) -> pd.DataFrame:
        """``n`` new docs with new ids; the last ``over_limit`` of them
        exceed the token gate and must come back as rejects."""
        texts = [self.text() for _ in range(n - over_limit)]
        n_dup = int(round(dup_share * len(texts)))
        for i in self.rng.choice(
            np.arange(1, len(texts)), size=n_dup, replace=False
        ):
            texts[i] = texts[int(self.rng.integers(0, i))]
        texts += [self.text(OVER_LIMIT_WORDS + i) for i in range(over_limit)]
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return self.frame(ids, texts)

    def frame(self, ids, texts) -> pd.DataFrame:
        return pd.DataFrame({
            "doc_id": np.asarray(ids, dtype=np.int64),
            "text": list(texts),
            "lang": [LANGS[i % len(LANGS)] for i in ids],
            "source": [SOURCES[(i // 7) % len(SOURCES)] for i in ids],
        })

    def edit(self, docs: pd.DataFrame, share: float) -> pd.DataFrame:
        """A copy of ``docs`` with ``share`` of the texts rewritten."""
        out = docs.copy()
        n = int(round(share * len(out)))
        for i in self.rng.choice(len(out), size=n, replace=False):
            out.iat[i, out.columns.get_loc("text")] = self.text()
        return out

    def queries(self, stored: pd.DataFrame, n: int) -> list[tuple[int, str]]:
        """Half the queries repeat a stored doc's text verbatim (that
        doc must come back at rank 1), half are new texts. Request ids
        are unique and disjoint from document ids."""
        out = []
        for j in range(n):
            if j % 2 == 0:
                text = stored.text.iat[int(self.rng.integers(len(stored)))]
            else:
                text = self.text(int(self.rng.integers(5, 30)))
            out.append((10**12 + self.next_id + j, text))
        self.next_id += n
        return out
