"""Deterministic distributed generator for the captions input table.

Authoritative shape (BASELINE.json input_hint / FIXTURES.md §1):

    captions(image_id string, bytes binary, w int, h int, fmt string,
             caption string, phash bigint)

Generation is ``spark.range(n)`` → ``mapInPandas`` so it scales with the
cluster: every row is derived purely from its global index (seed 42 folded
in), making output identical regardless of partitioning, executor count, or
retries. No driver-side loops, no collected data.

Noise classes injected per FIXTURES.md §1 (citations into /root/reference):
short lines (corpusama/corpus/langid.py:105-111), <4 / >=500 token sentences
(pipeline/stanza/secondary_pipeline.py:226-239), ALL-CAPS (util/langid.py:102),
digit/punct pollution (util/langid.py:73-77), HTML entities + fancy
quotes/dashes (pipeline/ske_fr/uninorm_4.py:14-16,49-74), HTML fragments
(util/convert.py:127-141), #/* line floods (error_corrections.md:9-24),
hyphen line-wraps, PII + toxicity strings, NULL/""/"none"/"NULL"/"nan"
captions (util/convert.py:53-70).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from corpusama_spark.functions.seedtext import (
    LANGS,
    PII_SAMPLES,
    SEED_SENTENCES,
    TOXIC_TERMS,
)
from corpusama_spark.io.imagecodec import encode_png, encode_qimg

CAPTIONS_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), True),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),
        StructField("caption", StringType(), True),
        StructField("phash", LongType(), False),
    ]
)

GLOBAL_SEED = 42
FMTS = ["png", "jpeg", "webp"]
BAD_CAPTIONS = [None, "", "   ", "none", "NULL", "nan", "None"]
FANCY = [
    ("“quoted” report — final", "en"),
    ("l’accès à l’eau – résumé", "fr"),
    ("&amp; annex &#233;té 2023 &copy;", "fr"),
    ("<p>update <b>two</b> published</p>", "en"),
]


def _rng(idx: int) -> np.random.Generator:
    # stable per-row stream: Philox keyed by (GLOBAL_SEED, idx)
    return np.random.Generator(np.random.Philox(key=[GLOBAL_SEED, idx]))


def _make_caption(idx: int, rng: np.random.Generator) -> str | None:
    roll = rng.integers(0, 100)
    lang = LANGS[int(rng.integers(0, len(LANGS)))]
    sents = SEED_SENTENCES[lang]
    pick = lambda: sents[int(rng.integers(0, len(sents)))]  # noqa: E731
    if roll < 4:  # null-ish captions
        return BAD_CAPTIONS[int(rng.integers(0, len(BAD_CAPTIONS)))]
    if roll < 8:  # too short
        return "ok" if roll < 6 else "tiny cap"
    if roll < 12:  # ALL CAPS
        return pick().upper()
    if roll < 16:  # digit/punct pollution
        return f"### {int(rng.integers(10, 99))} *** {pick()} +++ 12345 !!!"
    if roll < 20:  # fancy unicode / entities / html
        extra, _ = FANCY[int(rng.integers(0, len(FANCY)))]
        return f"{pick()} {extra}"
    if roll < 24:  # PII / toxicity for the scrub stage
        noise = PII_SAMPLES[int(rng.integers(0, len(PII_SAMPLES)))]
        if rng.integers(0, 2) == 1:
            noise = f"that {TOXIC_TERMS[int(rng.integers(0, len(TOXIC_TERMS)))]} driver"
        return f"{pick()} {noise}"
    if roll < 27:  # multiline with short lines + # flood
        return "\n".join([pick(), "##", pick(), "x", "*****"])
    if roll < 30:  # multilingual mix
        l2 = LANGS[int(rng.integers(0, len(LANGS)))]
        return " ".join(
            [pick(), SEED_SENTENCES[l2][int(rng.integers(0, len(SEED_SENTENCES[l2])))]]
        )
    if roll < 32:  # very long (>=500 tokens)
        return " ".join(pick() for _ in range(60))
    if roll < 34:  # hyphen line-wrap
        s = pick()
        cut = len(s) // 2
        return s[:cut] + "-\n" + s[cut:]
    # plain 1-3 sentence caption
    return " ".join(pick() for _ in range(int(rng.integers(1, 4))))


def _make_image(idx: int, rng: np.random.Generator) -> tuple[bytes | None, int, int, str]:
    size = int(rng.choice([16, 24, 32, 48, 64]))
    fmt = FMTS[int(rng.integers(0, len(FMTS)))]
    # gradient + per-image offset: cheap, deterministic, nonuniform
    base = np.add.outer(
        np.arange(size, dtype=np.uint16), np.arange(size, dtype=np.uint16)
    )
    rgb = np.stack(
        [((base * (k + 1) + int(rng.integers(0, 251))) % 256) for k in range(3)],
        axis=-1,
    ).astype(np.uint8)
    if fmt == "png":
        data = encode_png(rgb)
    else:
        data = encode_qimg(rgb, fmt)
    if rng.integers(0, 100) == 0:  # ~1% corrupt streams
        data = data[: max(8, len(data) // 2)]
    return data, size, size, fmt


def _gen_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for idx in pdf["id"].astype(int):
        rng = _rng(idx)
        caption = _make_caption(idx, rng)
        data, w, h, fmt = _make_image(idx, rng)
        image_id = hashlib.sha1(f"img-{GLOBAL_SEED}-{idx}".encode()).hexdigest()[:16]
        # phash: deterministic 64-bit from pixels-domain seed; heavy-tailed
        # caption lengths make phash buckets skew-prone, which the pipeline's
        # hash(image_id) text exchange handles explicitly.
        phash = int.from_bytes(
            hashlib.blake2b(image_id.encode(), digest_size=8).digest(), "big"
        ) - (1 << 63)
        rows.append((image_id, data, w, h, fmt, caption, phash))
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    )


def _mutate_caption(base: str, rng: np.random.Generator) -> str | None:
    """Deterministically inject the reference's noise classes into a base
    text (same taxonomy as _make_caption; citations in the module docstring)."""
    roll = rng.integers(0, 100)
    base = base[:300]
    if roll < 4:
        return BAD_CAPTIONS[int(rng.integers(0, len(BAD_CAPTIONS)))]
    if roll < 8:
        return "ok" if roll < 6 else "tiny cap"
    if roll < 12:
        return base.upper()
    if roll < 16:
        return f"### {int(rng.integers(10, 99))} *** {base} +++ 12345 !!!"
    if roll < 20:
        extra, _ = FANCY[int(rng.integers(0, len(FANCY)))]
        return f"{base} {extra}"
    if roll < 24:
        noise = PII_SAMPLES[int(rng.integers(0, len(PII_SAMPLES)))]
        if rng.integers(0, 2) == 1:
            noise = f"that {TOXIC_TERMS[int(rng.integers(0, len(TOXIC_TERMS)))]} driver"
        return f"{base} {noise}"
    if roll < 27:
        return "\n".join([base, "##", "x", "*****"])
    if roll < 32:
        cut = max(1, len(base) // 2)
        return base[:cut] + "-\n" + base[cut:]
    return base


def captions_from_documents(documents: DataFrame) -> DataFrame:
    """Derive the captions-shaped input table from the driver's `documents`
    table — deterministic per doc_id (rng keyed (GLOBAL_SEED, doc_id)), so the
    flagship pipeline runs over testdata with the authoritative input_hint
    schema. Distributed mapInPandas; no driver-side materialization."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for doc_id, text in zip(pdf["doc_id"].astype(int), pdf["text"]):
                rng = _rng(doc_id)
                caption = _mutate_caption(text if isinstance(text, str) else "", rng)
                data, w, h, fmt = _make_image(doc_id, rng)
                image_id = hashlib.sha1(
                    f"img-{GLOBAL_SEED}-{doc_id}".encode()
                ).hexdigest()[:16]
                phash = int.from_bytes(
                    hashlib.blake2b(image_id.encode(), digest_size=8).digest(), "big"
                ) - (1 << 63)
                rows.append((image_id, data, w, h, fmt, caption, phash))
            yield pd.DataFrame(
                rows,
                columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"],
            )

    src = documents.select("doc_id", "text")
    # a small sf dir arrives as ONE parquet split; without this, image
    # synthesis AND every decode-stage audit downstream run on one core.
    # Generation is keyed per doc_id, so repartitioning cannot change
    # any value (determinism tests pin this).
    target = documents.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    return src.mapInPandas(gen, schema=CAPTIONS_SCHEMA)


def captions_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic captions table of n rows."""
    if partitions is None:
        partitions = max(4, spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _gen_batch(pdf)

    return (
        spark.range(0, n, numPartitions=partitions)
        .mapInPandas(gen, schema=CAPTIONS_SCHEMA)
    )


def write_captions(
    spark: SparkSession, n: int, path: str, nbuckets: int = 16
) -> None:
    """Materialize the captions table partitioned by phash bucket.

    Iceberg-shaped layout: physical partition column ``bucket =
    pmod(phash, nbuckets)`` stands in for Iceberg's ``bucket(N, phash)``
    transform when no Iceberg catalog jar is present (SURVEY.md §7 item 6).
    """
    (
        captions_df(spark, n)
        .withColumn("bucket", F.pmod(F.col("phash"), F.lit(nbuckets)).cast("int"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
