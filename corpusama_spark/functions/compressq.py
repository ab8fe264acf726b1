"""Compression-ratio text quality signal (zlib, Arrow-batched).

How well a document compresses is a one-number proxy for repetition and
entropy: boilerplate, keyword-stuffed spam and template floods compress
extremely well (ratio → 0), while binary-ish noise and mojibake barely
compress (ratio → 1); natural prose sits in a stable band. Several
public web-corpus pipelines gate on exactly this signal (e.g. content-
defined quality filters in CCNet-descendant stacks) because it needs no
model and no language knowledge.

This is a genuinely non-relational function (DEFLATE), so it is the
slow-path done right: a SCALAR pandas UDF over Arrow batches — bytes
stay in NumPy/C between rows, one Python call per few-thousand-row
batch, never per row. zlib with a FIXED level is deterministic (same
input → same output bytes on any platform; zlib's format + strategy are
fully specified), so runs agree — but there is no DuckDB twin, hence
this family is contract-tested rows-only with an in-process pytest
parity oracle (tests compute zlib directly on the driver).

Scale shape: scan-stage column → column; no shuffle, no state. The
UDF's cost is O(bytes) per row — the same pass any quality gate already
pays to read the text.
"""

from __future__ import annotations

import zlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

__all__ = [
    "compress_ratio",
    "compression_gate",
    "ncd_pairs",
    "train_shared_dict",
    "dict_gain",
]

_LEVEL = 6  # zlib default; FIXED so the signal is reproducible


def _comp_sizes_batch(texts: pd.Series) -> pd.DataFrame:
    raw = texts.fillna("").str.encode("utf-8")
    n_bytes = raw.str.len().astype("int64")
    n_comp = raw.map(lambda b: len(zlib.compress(b, _LEVEL))).astype("int64")
    return pd.DataFrame({"n_bytes": n_bytes, "n_comp": n_comp})


def compress_ratio(text_col: Column) -> Column:
    """struct(n_bytes, n_comp) for the UTF-8 encoding of the column;
    ratio = n_comp / n_bytes is computed relationally on top so the
    Python boundary ships two integers per row, nothing float."""
    udf = pandas_udf(_comp_sizes_batch, "struct<n_bytes: long, n_comp: long>")
    return udf(text_col)  # built per call: binds the live SparkContext


def compression_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lo: float = 0.25,
    hi: float = 0.95,
) -> DataFrame:
    """(id, n_bytes, n_comp, ratio, keep): keep iff the compression
    ratio lies in [lo, hi] — below lo is repetition/boilerplate, above
    hi is high-entropy noise. Empty texts are dropped (ratio undefined),
    explicitly, not NaN'd."""
    sized = df.select(
        F.col(id_col),
        compress_ratio(F.col(text_col)).alias("_c"),
    ).select(
        id_col,
        F.col("_c.n_bytes").alias("n_bytes"),
        F.col("_c.n_comp").alias("n_comp"),
    )
    ratio = F.round(F.col("n_comp") / F.col("n_bytes"), 6)
    return sized.where(F.col("n_bytes") > 0).select(
        id_col,
        "n_bytes",
        "n_comp",
        ratio.alias("ratio"),
        ((ratio >= lo) & (ratio <= hi)).alias("keep"),
    )


def _pair_sizes_batch(a: pd.Series, b: pd.Series) -> pd.DataFrame:
    ra = a.fillna("").str.encode("utf-8")
    rb = b.fillna("").str.encode("utf-8")
    return pd.DataFrame(
        {
            "c_a": ra.map(lambda x: len(zlib.compress(x, _LEVEL))),
            "c_b": rb.map(lambda x: len(zlib.compress(x, _LEVEL))),
            "c_ab": [
                len(zlib.compress(x + y, _LEVEL)) for x, y in zip(ra, rb)
            ],
        }
    ).astype("int64")


def ncd_pairs(
    pairs: DataFrame,
    a_col: str = "text_a",
    b_col: str = "text_b",
    threshold: float = 0.5,
) -> DataFrame:
    """Normalized compression distance over candidate pairs (X225;
    Cilibrasi & Vitányi 2005, "Clustering by Compression"):

        NCD(x, y) = (C(xy) − min(C(x), C(y))) / max(C(x), C(y))

    with C = zlib-compressed size at a FIXED level. The parameter-free
    similarity: no tokenizer, no shingles, no language assumption —
    near-duplicates compress together (the second copy costs almost
    nothing), so NCD ≈ 0; unrelated texts share no model, NCD → 1. The
    right verify tier for pairs where token-level measures mislead
    (code, numbers, CJK without segmentation, template floods).

    CANDIDATE-PAIRS-ONLY by design — like jaccard_pairs (X4), it runs
    on the flood-guarded output of a banding family (minhash/simhash/
    phash), never all-pairs; the pair join upstream is what ships the
    two texts to one row. zlib at a fixed level is bit-deterministic on
    any platform, but DEFLATE is not SQL — rows-only contract with an
    in-process zlib pytest oracle (the compress_ratio precedent).
    Concatenation order is a_col||b_col (zlib NCD is asymmetric by a
    few bytes; fix the order, as published implementations do).

    Output: input columns + c_a, c_b, c_ab, ncd (6 dp), near_dup.
    """
    udf = pandas_udf(_pair_sizes_batch, "struct<c_a: long, c_b: long, c_ab: long>")
    sized = pairs.withColumn(
        "_s", udf(F.col(a_col), F.col(b_col))
    ).select(
        "*",
        F.col("_s.c_a").alias("c_a"),
        F.col("_s.c_b").alias("c_b"),
        F.col("_s.c_ab").alias("c_ab"),
    ).drop("_s")
    ncd = F.round(
        (F.col("c_ab") - F.least("c_a", "c_b"))
        / F.greatest("c_a", "c_b").cast("double"),
        6,
    )
    return sized.select(
        "*",
        ncd.alias("ncd"),
        (ncd <= F.lit(float(threshold))).alias("near_dup"),
    )


# ---------------------------------------------------------------------------
# X231: shared-dictionary compression gain — cross-document boilerplate.
# A template flood where every page is "skeleton + small slot" defeats the
# per-doc ratio (each page alone looks like normal prose) and defeats exact
# dedup (no two pages are byte-equal). Compressing each doc WITH a per-source
# preset dictionary (zlib zdict = the source's most frequent word n-grams)
# makes the shared skeleton nearly free, so the gain
#     (n_solo − n_dict) / n_solo
# measures how much of the doc is source-shared template. This is the same
# mechanism zstd's dictionary training exploits; zlib's zdict is the
# dependency-free, bit-deterministic twin.
# ---------------------------------------------------------------------------


def train_shared_dict(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    ngram: int = 4,
    k: int = 48,
    min_df: int = 2,
) -> DataFrame:
    """(group, dict_text): each group's k most frequent word ``ngram``-grams
    (document frequency — grams are per-doc distinct, so one spammy doc
    can't dominate the dictionary), rank-ordered most-frequent-LAST and
    newline-joined. zlib scans a zdict back-to-front for matches, so the
    hottest grams sit at the tail where they're found first.

    ``min_df`` (default 2) requires a gram to be SHARED across documents
    before it enters the dictionary — without it, a small group's
    singleton grams memorize individual docs into the zdict and every
    doc scores as "templated" against its own text. A group where no
    gram repeats gets no dictionary row at all (gain 0 downstream),
    which is the honest answer: there is no shared template to measure.

    Fully relational, hence DuckDB-oracle-exact (`dict_build`): one
    (group, gram) groupBy — the only shuffle — then a per-group top-k
    window with a deterministic (count desc, gram asc) tie-break. The
    dictionary is ≤ k grams per group (bounded bytes), so the output is
    broadcast-sized no matter the corpus: at 10^12 rows the count table
    is |groups|·|distinct grams| with map-side partial aggregation, and
    everything after the window is driver-trivial.
    """
    from pyspark.sql import Window

    from corpusama_spark.operators.dedup import shingles

    grams = df.where(F.col(text_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        F.explode(shingles(text_col, ngram)).alias("gram"),
    )
    counts = grams.groupBy("g", "gram").agg(F.count("*").alias("df_count"))
    counts = counts.where(F.col("df_count") >= min_df)
    w = Window.partitionBy("g").orderBy(F.desc("df_count"), F.asc("gram"))
    top = counts.select("*", F.row_number().over(w).alias("rk")).where(
        F.col("rk") <= k
    )
    # most-frequent-LAST: sort by rk desc before joining
    return top.groupBy("g").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.negate(F.col("rk")).alias("o"), "gram"))
                ),
                lambda s: s["gram"],
            ),
            "\n",
        ).alias("dict_text")
    ).select(F.col("g").alias(group_col), "dict_text")


def _dict_sizes_batch(texts: pd.Series, dicts: pd.Series) -> pd.DataFrame:
    raw = texts.fillna("").str.encode("utf-8")
    zd = dicts.fillna("").str.encode("utf-8")

    def with_dict(b: bytes, d: bytes) -> int:
        if not d:
            return len(zlib.compress(b, _LEVEL))
        c = zlib.compressobj(_LEVEL, zlib.DEFLATED, zlib.MAX_WBITS, 8, 0, d)
        return len(c.compress(b) + c.flush())

    return pd.DataFrame(
        {
            "n_solo": raw.map(lambda b: len(zlib.compress(b, _LEVEL))),
            "n_dict": [with_dict(b, d) for b, d in zip(raw, zd)],
        }
    ).astype("int64")


def dict_gain(
    df: DataFrame,
    dict_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    templated: float = 0.35,
) -> DataFrame:
    """Per-doc shared-dictionary compression gain (X231):
    (id, group, n_solo, n_dict, gain, is_templated) where gain =
    (n_solo − n_dict) / n_solo and is_templated flags gain ≥
    ``templated``. A doc whose group has no dictionary row (left join)
    compresses dict-free → gain 0, never NULL.

    Scale shape: ``dict_df`` is ≤ |groups| bounded rows → broadcast
    hash join, no shuffle of the corpus; the zlib stage is a scan-stage
    Arrow-batched SCALAR UDF shipping two int64 per row back. DEFLATE
    is not SQL → rows-only contract, in-process zlib pytest oracle
    (the compress_ratio/ncd_pairs precedent).
    """
    joined = df.join(
        F.broadcast(dict_df.withColumnRenamed("dict_text", "_dict")),
        group_col,
        "left",
    )
    udf = pandas_udf(_dict_sizes_batch, "struct<n_solo: long, n_dict: long>")
    sized = joined.select(
        id_col,
        group_col,
        F.coalesce(F.octet_length(text_col), F.lit(0)).alias("_nb"),
        udf(F.col(text_col), F.coalesce(F.col("_dict"), F.lit(""))).alias("_s"),
    ).select(
        id_col,
        group_col,
        "_nb",
        F.col("_s.n_solo").alias("n_solo"),
        F.col("_s.n_dict").alias("n_dict"),
    )
    # empty/NULL text pins to 0 (the sizes are pure header bytes); short
    # non-empty texts can go slightly NEGATIVE — the zdict stream carries
    # a 4-byte DICTID, an honest overhead, not an error
    gain = F.when(
        F.col("_nb") > 0,
        F.round((F.col("n_solo") - F.col("n_dict")) / F.col("n_solo"), 6),
    ).otherwise(F.lit(0.0))
    return sized.select(
        id_col,
        group_col,
        "n_solo",
        "n_dict",
        gain.alias("gain"),
        (gain >= F.lit(float(templated))).alias("is_templated"),
    )
