"""The fused filter UDFs: normalize + clean + language-ID + perplexity
in ONE Arrow exchange (``text_stage``), and that text stage plus image
verify in one exchange (``filter_stage``, the UDF of
``pipeline.run_pipeline``).

Why one exchange instead of three chained pandas UDFs (prep → lid → ppl):
each ArrowEvalPython node owns its own Python worker per task, so a chain of
three triples the live Python processes (3 workers × tasks) and serializes
every intermediate (including the cleaned-lines arrays) through Arrow twice.
Measured on a 4-core host at 640k rows, the chained plan stopped scaling
past ~4 cores (worker oversubscription); the fused plan keeps one worker
per task and the `lines` arrays never leave Python.

This module owns no text kernel; ``_text_batch`` only calls them, per Arrow
batch: ``textrules._prep_batch`` (normalize + clean), ``langid.lid_batch``
(one ``predict``, then ``analyze_lines`` per caption) and
``perplexity.BigramLM.perplexity_batch``; ``filter_stage`` adds
``images._verify_batch``. The equivalence tests in tests/test_pipeline.py
pin ``run_pipeline``'s language-ID columns to the distributed operators.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from corpusama_spark.functions.images import VERIFY_SCHEMA, _verify_batch
from corpusama_spark.functions.langid import (
    DEFAULT_MAX_LANGS,
    DEFAULT_MIN_LEN,
    DEFAULT_THRESHOLD,
    lid_batch,
    load_model,
)
from corpusama_spark.functions.perplexity import get_model
from corpusama_spark.functions.textrules import _prep_batch

TEXT_STAGE_SCHEMA = StructType(
    [
        StructField("caption_norm", StringType(), True),
        StructField(
            "lid_arr",
            ArrayType(
                StructType(
                    [
                        StructField("lang", StringType(), True),
                        StructField("share", DoubleType(), True),
                    ]
                )
            ),
            True,
        ),
        StructField("l1", StringType(), True),
        StructField("l1_size", DoubleType(), True),
        StructField("multiling", BooleanType(), True),
        StructField("ppl", DoubleType(), True),
    ]
)

FILTER_STAGE_SCHEMA = StructType(VERIFY_SCHEMA.fields + TEXT_STAGE_SCHEMA.fields)


def _text_batch(
    captions: pd.Series,
    lid_model,
    ppl_model,
    min_len: int,
    threshold: float,
    max_langs: int,
) -> pd.DataFrame:
    """One Arrow batch of captions → the TEXT_STAGE_SCHEMA columns."""
    prep = _prep_batch(captions)
    out = lid_batch(prep["lines"], lid_model, min_len, threshold, max_langs)
    out.insert(0, "caption_norm", prep["caption_norm"])
    out["ppl"] = ppl_model.perplexity_batch(prep["caption_norm"])
    return out


def text_stage(
    caption_col: Column | str,
    min_len: int = DEFAULT_MIN_LEN,
    threshold: float = DEFAULT_THRESHOLD,
    max_langs: int = DEFAULT_MAX_LANGS,
) -> Column:
    """caption → struct(caption_norm, lid_arr, l1, l1_size, multiling, ppl)."""

    @F.pandas_udf(TEXT_STAGE_SCHEMA)
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        lid_model, ppl_model = load_model(), get_model()
        for captions in batches:
            yield _text_batch(
                captions, lid_model, ppl_model, min_len, threshold, max_langs
            )

    return _udf(F.col(caption_col) if isinstance(caption_col, str) else caption_col)


def filter_stage(
    min_len: int = DEFAULT_MIN_LEN,
    threshold: float = DEFAULT_THRESHOLD,
    max_langs: int = DEFAULT_MAX_LANGS,
) -> Column:
    """(bytes, fmt, w, h, caption) → struct of FILTER_STAGE_SCHEMA: image
    verify (images._verify_batch) and the text stage in ONE Arrow UDF.

    Two UDF nodes in one stage would run two Python workers per task
    slot, each holding its own copy of the batch; one node runs one
    worker, and the models load once per worker. Built per call, like
    every UDF here: a UDF object binds the accumulator of the first
    SparkContext that runs it."""

    @F.pandas_udf(FILTER_STAGE_SCHEMA)
    def _udf(
        batches: Iterator[tuple[pd.Series, ...]],
    ) -> Iterator[pd.DataFrame]:
        lid_model, ppl_model = load_model(), get_model()
        for data, fmt, w, h, captions in batches:
            yield pd.concat(
                [
                    _verify_batch(data, fmt, w, h),
                    _text_batch(
                        captions, lid_model, ppl_model, min_len, threshold,
                        max_langs,
                    ),
                ],
                axis=1,
            )

    return _udf(*(F.col(c) for c in ("bytes", "fmt", "w", "h", "caption")))
