"""Language identification stage.

The reference's LI contract (corpusama/util/langid.py): per cleaned line,
predict (lang, score); lines shorter than ``min_len`` chars are labeled
``short`` with score 1 (:196-216); scores not above ``threshold`` (default
0.6) relabel to ``unknown`` (:315-319); per-document byte shares are
aggregated, rounded to 2, cut at ``1/(min(n_langs, max_langs)+1)`` and sorted
descending (:290-339) — that dict is the ``lid`` column, from which ``l1``,
``l1_size`` and ``multiling`` derive (:401-433).

Model: the north_rule mandates the fastText slot (lid.176.bin). This sandbox
has no fasttext wheel and no model file, so the default model is a
deterministic character-trigram naive-Bayes classifier trained at import time
on the embedded seed corpus — same surface (labels + confidence in (0,1]),
swappable for real fastText via $CORPUSAMA_FASTTEXT_MODEL without touching the
plan. The UDF is SCALAR_ITER so the model loads once per Python worker, not
per batch (the reference's model-per-process pattern, util/parallel.py:53-72).

Two aggregation surfaces, proven value-identical (tests/test_pipeline.py):
the distributed plan (``explode_lines`` → ``label_lines`` → groupBy
``aggregate_lid`` → join, 100% JVM-side aggregation), and ``lid_batch``,
the kernel the filter job's UDF (``fused._text_batch``) calls on each
Arrow batch: one ``predict`` over the batch's unique lines, then
``analyze_lines`` per caption — zero shuffles, since shares need no
cross-row state.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from corpusama_spark.functions.seedtext import SEED_SENTENCES
from corpusama_spark.functions.textrules import clean_line

DEFAULT_THRESHOLD = 0.6
DEFAULT_MIN_LEN = 10
DEFAULT_MAX_LANGS = 4

PREDICT_SCHEMA = StructType(
    [
        StructField("lang", StringType(), True),
        StructField("score", DoubleType(), True),
    ]
)


class TrigramModel:
    """Char-trigram naive Bayes with add-one smoothing.

    predict() mirrors the fastText API shape used by the reference
    (util/langid.py:281-287): parallel label/score lists, scores in (0, 1].
    Confidence is the length-normalized posterior, so out-of-domain text
    lands near uniform (≈1/n_langs) and falls under the 0.6 threshold.

    Scoring is numpy-vectorized across a whole batch: trigram→id lookup into
    a (n_langs, vocab+1) log-prob matrix (last column = per-lang unseen
    floor), per-line sums via one `add.reduceat` over the concatenated gram
    stream — no per-gram Python in the hot loop.
    """

    PAD = " "

    def __init__(self, labels: list[str], vocab: dict[str, int], matrix):
        import numpy as np

        self.labels = labels
        self.vocab = vocab
        self.matrix = np.asarray(matrix, dtype=np.float64)  # (n_langs, V+1)
        # row-major transpose for the per-gram gather: fancy-indexing rows
        # of a C-contiguous (V+1, n_langs) array is ~4x faster than columns
        self._matrix_t = np.ascontiguousarray(self.matrix.T)
        self.oov = self.matrix.shape[1] - 1
        # numeric gram pipeline: codepoint → small alphabet id (OOV = K-1),
        # then dense a*K²+b*K+c key → vocab id table. Lets predict() run
        # with zero per-gram Python.
        charset = sorted({c for t in vocab for c in t})
        self._K = len(charset) + 1
        self._char_lut = np.full(0x110000, self._K - 1, dtype=np.uint32)
        for i, c in enumerate(charset):
            self._char_lut[ord(c)] = i
        k = self._K
        self._gram_table = np.full(k * k * k, self.oov, dtype=np.intp)
        for t, idx in vocab.items():
            a, b, c = (self._char_lut[ord(ch)] for ch in t)
            self._gram_table[(int(a) * k + int(b)) * k + int(c)] = idx

    @staticmethod
    def _trigrams(line: str) -> list[str]:
        s = f" {line} "
        return [s[i : i + 3] for i in range(len(s) - 2)]

    @classmethod
    def train(cls, corpus: dict[str, list[str]]) -> "TrigramModel":
        import numpy as np

        counts: dict[str, dict[str, int]] = {}
        vocab_set: set[str] = set()
        for lang, sents in sorted(corpus.items()):
            c: dict[str, int] = {}
            for sent in sents:
                cleaned = clean_line(sent)
                if not cleaned:
                    continue
                for t in cls._trigrams(cleaned.lower()):
                    c[t] = c.get(t, 0) + 1
                    vocab_set.add(t)
            counts[lang] = c
        labels = sorted(counts)
        vocab = {t: i for i, t in enumerate(sorted(vocab_set))}
        v = len(vocab) + 1
        matrix = np.empty((len(labels), len(vocab) + 1), dtype=np.float64)
        for li, lang in enumerate(labels):
            c = counts[lang]
            total = sum(c.values()) + v
            floor = math.log(1 / total)
            matrix[li, :] = floor
            for t, n in c.items():
                matrix[li, vocab[t]] = math.log((n + 1) / total)
        return cls(labels, vocab, matrix)

    def predict_one(self, line: str) -> tuple[str, float]:
        langs, scores = self.predict([line])
        return langs[0], scores[0]

    def predict(self, lines: list[str]) -> tuple[list[str], list[float]]:
        import numpy as np

        n = len(lines)
        if n == 0:
            return [], []
        langs = ["unknown"] * n
        scores = [0.0] * n
        # one UTF-32 decode per line (C-speed), concatenated into a single
        # codepoint stream; everything after is whole-batch numpy
        bufs = [f" {line} ".lower().encode("utf-32-le") for line in lines]
        line_lens = np.array([len(b) >> 2 for b in bufs])
        gram_counts = np.maximum(line_lens - 2, 0)
        total_grams = int(gram_counts.sum())
        if total_grams == 0:
            return langs, scores
        cps = np.frombuffer(b"".join(bufs), dtype=np.uint32)
        cids = self._char_lut[np.minimum(cps, 0x10FFFF)]
        k = self._K
        keys = (cids[:-2].astype(np.int64) * k + cids[1:-1]) * k + cids[2:]
        # ragged windows: line i's grams start at concat offset start_i and
        # span gram_counts[i] positions (windows crossing line boundaries
        # are never selected)
        line_starts = np.concatenate(([0], np.cumsum(line_lens)[:-1]))
        rep_starts = np.repeat(line_starts, gram_counts)
        out_offsets = np.concatenate(([0], np.cumsum(gram_counts)[:-1]))
        inc = np.arange(total_grams) - np.repeat(out_offsets, gram_counts)
        gram_ids = self._gram_table[keys[rep_starts + inc]]
        per_gram = self._matrix_t[gram_ids]  # (total_grams, n_langs)
        nonempty = np.flatnonzero(gram_counts > 0)
        # reduceat over NON-EMPTY segment starts only: consecutive non-empty
        # starts bound exactly one line's grams, and an empty index pair
        # would corrupt neighbouring sums
        lls = np.add.reduceat(per_gram, out_offsets[nonempty], axis=0).T
        m = len(nonempty)
        best_idx = lls.argmax(axis=0)
        best_ll = lls[best_idx, np.arange(m)]
        z = np.exp(lls - best_ll).sum(axis=0)
        conf = 1.0 / z
        for j, i in enumerate(nonempty):
            langs[i] = self.labels[best_idx[j]]
            scores[i] = float(conf[j])
        return langs, scores


class FastTextAdapter:
    """Wraps a fasttext model handle into this module's model contract
    (``predict(lines) -> (langs, scores)``). fastText returns
    ``([['__label__xx'], ...], [array([p]), ...])`` for list input; the
    adapter strips the label prefix and takes the top probability."""

    def __init__(self, ft: object) -> None:
        self._ft = ft

    def predict(self, lines: list[str]) -> tuple[list[str], list[float]]:
        labels, scores = self._ft.predict(lines)
        return (
            [x[0].replace("__label__", "") for x in labels],
            [float(x[0]) for x in scores],
        )


def load_model() -> object:
    """Model loader run once per executor Python worker (SCALAR_ITER).

    With ``$CORPUSAMA_FASTTEXT_MODEL`` set, loads the real fastText model
    (the production path; the wheel is absent in this sandbox, so tests
    exercise FastTextAdapter against a stub handle); otherwise the
    deterministic trigram NB stand-in trained on seed text.
    """
    path = os.environ.get("CORPUSAMA_FASTTEXT_MODEL")
    if path:  # pragma: no cover - real wheel absent in sandbox
        import fasttext

        return FastTextAdapter(fasttext.load_model(path))
    return TrigramModel.train(SEED_SENTENCES)


def _predict_batches(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    model = load_model()
    for lines in batches:
        vals = lines.fillna("")
        langs, scores = model.predict(vals.tolist())
        yield pd.DataFrame({"lang": langs, "score": scores})


def predict_line(col: Column | str) -> Column:
    """cleaned line → struct(lang, score); model cached per worker. The
    UDF is built per call so it never outlives its SparkContext."""
    udf = F.pandas_udf(_predict_batches, PREDICT_SCHEMA)
    return udf(F.col(col) if isinstance(col, str) else col)


def explode_lines(df: DataFrame, id_col: str = "image_id", lines_col: str = "lines") -> DataFrame:
    """captions-with-lines → one row per cleaned line (narrow, no shuffle)."""
    return df.select(
        F.col(id_col), F.posexplode(F.col(lines_col)).alias("line_no", "line")
    )


def label_lines(
    lines_df: DataFrame,
    min_len: int = DEFAULT_MIN_LEN,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Per line: short-circuit `short` label, else model + threshold rule.

    Short lines never reach the model (util/langid.py:196-216), which also
    keeps model batches dense. `score > threshold` keeps the label — the
    reference keeps only strictly-greater scores (:317).
    """
    is_short = F.length("line") < F.lit(min_len)
    pred = predict_line(F.when(~is_short, F.col("line")))
    df = lines_df.withColumn("_pred", pred)
    return df.select(
        "*",
        F.when(is_short, F.lit("short"))
        .when(F.col("_pred.score") > F.lit(threshold), F.col("_pred.lang"))
        .otherwise(F.lit("unknown"))
        .alias("lang"),
        F.when(is_short, F.lit(1.0)).otherwise(F.col("_pred.score")).alias("score"),
        F.octet_length("line").alias("line_bytes"),
    ).drop("_pred")


def aggregate_lid(
    labeled: DataFrame,
    id_col: str = "image_id",
    max_langs: int = DEFAULT_MAX_LANGS,
) -> DataFrame:
    """analyze() semantics as two-level hash aggregation (util/langid.py:290-339).

    Returns (image_id, lid map<string,double>, lid_arr, l1, l1_size,
    multiling). Shares are bround()ed to 2 (HALF_EVEN — Python round parity)
    BEFORE the multilingual-threshold compare; num_langs counts distinct
    labels INCLUDING unknown/short, capped at max_langs BEFORE computing
    1/(n+1); ties sort lang-ascending (the reference's tie order is
    set-iteration-dependent, i.e. unspecified).
    """
    per_lang = labeled.groupBy(id_col, "lang").agg(
        F.sum("line_bytes").alias("lang_bytes")
    )
    per_doc = per_lang.groupBy(id_col).agg(
        F.sum("lang_bytes").alias("filesize"),
        F.count("*").alias("n_langs"),
        F.collect_list(F.struct("lang", "lang_bytes")).alias("entries"),
    )
    # share rounded BEFORE the threshold compare; threshold uses the capped
    # language count; result sorted share desc / lang asc
    sorted_arr = F.expr(
        "array_sort(filter(transform(entries, e -> struct(e.lang as lang,"
        " bround(e.lang_bytes / filesize, 2) as share)),"
        f" e -> e.share >= 1.0 / (least(n_langs, {max_langs}) + 1)),"
        " (a, b) -> case when a.share > b.share then -1"
        " when a.share < b.share then 1"
        " when a.lang < b.lang then -1 when a.lang > b.lang then 1 else 0 end)"
    )
    empty = F.size("lid_arr") == 0
    # try_element_at: under ANSI mode element_at raises on an empty array
    first = F.try_element_at("lid_arr", F.lit(1))
    return (
        per_doc.select(id_col, sorted_arr.alias("lid_arr"))
        .select(
            id_col,
            "lid_arr",
            F.when(~empty, F.map_from_entries("lid_arr")).alias("lid"),
            first["lang"].alias("l1"),
            first["share"].alias("l1_size"),
            F.when(
                ~empty,
                F.size(
                    F.filter(
                        F.col("lid_arr"),
                        lambda e: ~e["lang"].isin("unknown", "short"),
                    )
                )
                > 1,
            ).alias("multiling"),
        )
    )


def analyze_lines(
    lines: list[str],
    model,
    min_len: int = DEFAULT_MIN_LEN,
    threshold: float = DEFAULT_THRESHOLD,
    max_langs: int = DEFAULT_MAX_LANGS,
    preds: dict | None = None,
):
    """Pure-Python analyze() (util/langid.py:290-339,401-433) over one
    caption's cleaned lines — MUST stay value-identical to the distributed
    label_lines → aggregate_lid plan (tested in test_pipeline):
    Python round() is round-half-even on the exact binary double, matching
    F.bround; threshold uses the capped distinct-label count INCLUDING
    unknown/short; sort share desc then lang asc.

    ``preds`` may carry precomputed line → (lang, score) predictions
    (``lid_batch`` predicts once across all captions of an Arrow batch).
    """
    if not lines:
        return None
    if preds is None:
        to_predict = [ln for ln in lines if len(ln) >= min_len]
        preds = {}
        if to_predict:
            langs, scores = model.predict(to_predict)
            preds = dict(zip(to_predict, zip(langs, scores)))
    byte_sums: dict[str, int] = {}
    for ln in lines:
        if len(ln) < min_len:
            lang = "short"
        else:
            lang, score = preds[ln]
            if not score > threshold:
                lang = "unknown"
        byte_sums[lang] = byte_sums.get(lang, 0) + len(ln.encode("utf8"))
    total = sum(byte_sums.values())
    n_langs = len(byte_sums)
    cut = 1.0 / (min(n_langs, max_langs) + 1)
    entries = [
        (lang, round(b / total, 2))
        for lang, b in byte_sums.items()
        if round(b / total, 2) >= cut
    ]
    entries.sort(key=lambda e: (-e[1], e[0]))
    if not entries:
        return ([], None, None, None)
    multiling = sum(1 for lang, _ in entries if lang not in ("unknown", "short")) > 1
    return (entries, entries[0][0], entries[0][1], multiling)


def lid_batch(
    lines_col: pd.Series,
    model,
    min_len: int = DEFAULT_MIN_LEN,
    threshold: float = DEFAULT_THRESHOLD,
    max_langs: int = DEFAULT_MAX_LANGS,
) -> pd.DataFrame:
    """One Arrow batch of cleaned-line lists → (lid_arr, l1, l1_size,
    multiling) per caption, with ONE ``model.predict`` call: the unique
    model-eligible lines of every caption, predictions scattered back to
    ``analyze_lines``. A NULL or empty line list yields the all-NULL row
    — the missed-key rows of the distributed plan's left join."""
    unique = sorted(
        {
            ln
            for lines in lines_col
            if lines
            for ln in lines
            if len(ln) >= min_len
        }
    )
    langs, scores = model.predict(unique)
    preds = dict(zip(unique, zip(langs, scores)))
    none_row = (None, None, None, None)
    rows = [
        analyze_lines(lines, model, min_len, threshold, max_langs, preds)
        if lines
        else none_row
        for lines in lines_col
    ]
    return pd.DataFrame(rows, columns=["lid_arr", "l1", "l1_size", "multiling"])


def lid_share(lid_col: Column | str, lang: str) -> Column:
    """element_at(lid, lang) — the reference's json_extract($.lang)
    (export.py:108, P3)."""
    col = F.col(lid_col) if isinstance(lid_col, str) else lid_col
    return F.element_at(col, F.lit(lang))
