"""The flagship quality-filter pipeline.

Spark-first re-expression of the reference's end-to-end flow
(rw_corpora_update.py:36-79): ingest → language-ID → attributes → filtered
export, collapsed into one declarative plan over the captions table.
``run_pipeline`` is the one entry point, and builds the one plan, for
batch, checkpointed and streaming jobs:

    captions ─► filter-stage UDF in the SCAN stage (functions/fused.py:
                image verify + normalize, clean, lid, ppl — one Arrow
                pass over (bytes, fmt, w, h, caption))
             ─► scrub + lid-map exprs ─► keep/drop rule chain (JVM)

No exchange, no join: every operator is narrow, so a streaming input
needs no watermarks or state store and a checkpoint wave is one Spark
job (its write).

Scale notes (the 100 TB story):
- Bytes never shuffle because nothing shuffles: at 10^12 rows with
  ~100 KB images the plan reads the corpus once and moves none of it.
- Language shares need no cross-row state, so language ID runs inside
  the fused UDF rather than as an explode → shuffle → aggregate → join-back
  plan; the distributed operators stay in functions/langid.py and are
  pinned value-identical to the kernel.
- Skew: parallelism follows the scan splits, which Spark sizes in bytes
  (spark.sql.files.maxPartitionBytes), never a key — a flood of one
  phash bucket lands in as many tasks as its files' splits.
- One Arrow UDF node, not two: two nodes in one stage would run two
  Python workers per task slot, each holding its own copy of the batch.
- All predicates are JVM expressions: whole-stage codegen end-to-end
  except the one Arrow UDF.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpusama_spark.functions import langid as L
from corpusama_spark.functions import textrules as T
from corpusama_spark.functions.perplexity import DEFAULT_PPL_THRESHOLD
from corpusama_spark.functions.scrub import scrub_caption

# every drop_reason ``_decide`` emits, in gate order; the image reasons
# arrive through verify_image's ``image_reason`` (functions/images.py).
# plans/metrics.py observes exactly these.
DROP_REASONS = (
    "caption_missing",
    "caption_empty_norm",
    "caption_too_short",
    "too_few_tokens",
    "image_missing",
    "image_corrupt",
    "image_dims_mismatch",
    "image_reencode_failed",
    "image_psnr_below_40db",
    "lang_share",
    "perplexity",
)


@dataclass(frozen=True)
class FilterConfig:
    """Thresholds; defaults mirror the reference's
    (min_portion export.py:77; min_len corpus/langid.py:105-111; token bound
    secondary_pipeline.py:226-239; threshold corpus/langid.py:98)."""

    target_lang: str | None = None  # None: keep any non-unknown l1
    min_portion: float = 0.8
    min_len: int = 10
    min_caption_chars: int = 10
    min_tokens: int = 4
    threshold: float = 0.6
    max_langs: int = 4
    ppl_threshold: float = DEFAULT_PPL_THRESHOLD
    nbuckets: int = 64

    def rule_version(self) -> str:
        """Deterministic 12-hex version of the DECISION-relevant fields
        (X251): the execution knob (bucketing) is EXCLUDED — two configs
        that keep/drop identically share a version, so changing the
        bucket count never triggers a backfill."""
        import hashlib

        decision_fields = (
            self.target_lang, self.min_portion, self.min_len,
            self.min_caption_chars, self.min_tokens, self.threshold,
            self.max_langs, self.ppl_threshold,
        )
        return hashlib.md5(repr(decision_fields).encode()).hexdigest()[:12]


def load_config(source: str) -> FilterConfig:
    """S14: build a FilterConfig from a YAML document (a path or the YAML
    text itself) — the reference is configured by `.yml` files per source
    (corpusama/source/*.yml; util/io.py load_yaml). Unknown keys raise so
    config drift fails loudly instead of silently using defaults."""
    import os

    import yaml

    if os.path.exists(source):
        with open(source) as f:
            data = yaml.safe_load(f)
    else:
        data = yaml.safe_load(source)
    data = data or {}
    valid = {f.name for f in FilterConfig.__dataclass_fields__.values()}
    unknown = set(data) - valid
    if unknown:
        raise ValueError(f"unknown config keys: {sorted(unknown)}")
    return FilterConfig(**data)


def choose_plan(captions: DataFrame) -> str:
    """Always "narrow", the one plan; kept because filterbench reports it."""
    return "narrow"


def run_pipeline(captions: DataFrame, config: FilterConfig = FilterConfig()) -> DataFrame:
    """captions table → decision table (no bytes column in output)."""
    from corpusama_spark.functions.fused import filter_stage

    scanned = captions.select(
        "image_id", "fmt", "w", "h", "phash", "caption",
        filter_stage(
            min_len=config.min_len,
            threshold=config.threshold,
            max_langs=config.max_langs,
        ).alias("_s"),
    )
    return _decide(_derive(scanned), config)


def _derive(df: DataFrame) -> DataFrame:
    """Unpack the UDF struct ``_s``, then the JVM-side scrub exprs and
    lid-map derivation."""
    return (
        df.select("*", "_s.*")
        .drop("_s")
        .withColumn("caption_scrubbed", scrub_caption("caption_norm"))
        .withColumn(
            "lid",
            F.when(
                F.col("lid_arr").isNotNull() & (F.size("lid_arr") > 0),
                F.map_from_entries("lid_arr"),
            ),
        )
    )


def _decide(df: DataFrame, config: FilterConfig) -> DataFrame:
    """Apply the keep/drop rule chain to a fully-enriched decision input."""
    total_chars = F.length(T.collapse_ws_col(F.coalesce("caption_norm", F.lit(""))))
    total_tokens = T.token_count_col(
        T.collapse_ws_col(F.coalesce("caption_norm", F.lit("")))
    )
    if config.target_lang:
        # element_at on a missing key is NULL; NULL >= x is NULL and a NULL
        # `when` condition silently falls through — coalesce to False
        lang_ok = F.coalesce(
            L.lid_share("lid", config.target_lang) >= F.lit(config.min_portion),
            F.lit(False),
        )
    else:
        lang_ok = F.col("l1").isNotNull() & ~F.col("l1").isin("unknown", "short")

    drop_reason = (
        F.when(T.is_nanlike(F.col("caption")), "caption_missing")
        .when(F.col("lid").isNull() | (F.size("lid_arr") == 0), "caption_empty_norm")
        .when(total_chars < F.lit(config.min_caption_chars), "caption_too_short")
        .when(total_tokens < F.lit(config.min_tokens), "too_few_tokens")
        .when(~F.col("image_ok"), F.col("image_reason"))
        .when(~lang_ok, "lang_share")
        .when(F.col("ppl") > F.lit(config.ppl_threshold), "perplexity")
        .otherwise(F.lit(None).cast("string"))
    )

    return df.withColumn("drop_reason", drop_reason).withColumn(
        "keep", F.col("drop_reason").isNull()
    )


# the former streaming-only plan's name; filterbench still times it
narrow_decisions = run_pipeline


def metrics(decisions: DataFrame) -> DataFrame:
    """Per-(fmt, drop_reason) counts + caption-length stats — the engine's
    `_log`-style metrics table (reliefweb.py:139-150; file_stats
    util/langid.py:528-567 / A8).

    Quartiles are emitted as five SCALAR columns q0..q4 (not an array):
    downstream metric stores — and the driver's row-hash canonicalization —
    need hashable cells.
    """
    agg = decisions.groupBy("fmt", "drop_reason").agg(
        F.count("*").alias("n"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.avg(F.length("caption_norm")).alias("avg_chars"),
        F.percentile_approx(
            F.length("caption_norm"), [0.0, 0.25, 0.5, 0.75, 1.0], 10000
        ).alias("_q"),
    )
    return agg.select(
        "fmt",
        "drop_reason",
        "n",
        "n_keep",
        "avg_chars",
        *[F.element_at("_q", i + 1).alias(f"q{i}") for i in range(5)],
    )

