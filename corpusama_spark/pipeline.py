"""The flagship quality-filter pipeline.

Spark-first re-expression of the reference's end-to-end flow
(rw_corpora_update.py:36-79): ingest → language-ID → attributes → filtered
export, collapsed into one declarative plan over the captions table.
``run_pipeline`` is the one entry point for batch, checkpointed and
streaming jobs; ``choose_plan`` picks the plan from the input alone.

Staged plan (batch inputs): two branches, so the image payload NEVER
crosses a shuffle:

    captions ─┬─► image branch: verify UDF in the SCAN stage (narrow);
              │     output is (image_id, fmt, w, h, ok, reason, psnr) —
              │     tens of bytes per row
              └─► text branch: select only (image_id, phash, caption)
                    ─► repartition(n, image_id)           (≤ ~1 KB/row)
                    ─► fused text-stage UDF (normalize, clean, lid, ppl:
                       one Arrow pass) ─► scrub exprs (all narrow)
    decision = text ⋈ image on image_id — the text side already satisfies
    the join's hash distribution from its repartition, so only the tiny
    image-branch output shuffles.

Narrow plan (streaming inputs, ``narrow_decisions``): the same operators
in the scan stage with no exchange, because a streaming self-join would
need watermarks. Decision values are identical to the staged plan's.

Scale notes (the 100 TB story):
- Shuffled bytes ≈ caption text once + the small image-verify table. At
  10^12 rows with ~100 KB images, shuffling `bytes` would move the whole
  corpus; this plan moves ~0.1% of it.
- Language shares need no cross-row state, so language ID runs inside
  the text-stage UDF (functions/fused.py) rather than as an explode →
  shuffle → aggregate → join-back plan; the distributed operators stay in
  functions/langid.py and are pinned value-identical to the kernel.
- Skew: the repartition hashes image_id, decorrelating caption-length cost
  from the storage layout (phash buckets), so a flood of one phash still
  spreads over every partition.
- The repartition passes an explicit partition COUNT: AQE would coalesce a
  column-only repartition to its advisory size, serializing the UDF stage.
- All predicates are JVM expressions: whole-stage codegen end-to-end except
  the two Arrow UDF exchanges (the text stage on the text branch, verify
  on the image branch).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpusama_spark.functions import langid as L
from corpusama_spark.functions import textrules as T
from corpusama_spark.functions.images import verify_image
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
    num_partitions: int | None = None  # None: 2x defaultParallelism

    def rule_version(self) -> str:
        """Deterministic 12-hex version of the DECISION-relevant fields
        (X251): execution knobs (partitions, bucketing) are
        EXCLUDED — two configs that keep/drop identically share a
        version, so changing parallelism never triggers a backfill."""
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


def _n_parts(df: DataFrame, config: FilterConfig) -> int:
    return config.num_partitions or (
        2 * df.sparkSession.sparkContext.defaultParallelism
    )


def choose_plan(captions: DataFrame) -> str:
    """'narrow' for a streaming input, else 'staged'. A streaming frame
    cannot take the staged plan's self-join without watermarks; a batch
    frame takes the staged plan, whose text-side exchange balances
    caption-length skew. Reads no data and no statistics."""
    return "narrow" if captions.isStreaming else "staged"


def run_pipeline(captions: DataFrame, config: FilterConfig = FilterConfig()) -> DataFrame:
    """captions table → decision table (no bytes column in output)."""
    if choose_plan(captions) == "narrow":
        return narrow_decisions(captions, config)
    image_side = captions.select(
        "image_id", "fmt", "w", "h", verify_image().alias("_iv")
    ).select(
        "image_id",
        "fmt",
        "w",
        "h",
        F.col("_iv.image_ok").alias("image_ok"),
        F.col("_iv.image_reason").alias("image_reason"),
        F.col("_iv.image_psnr").alias("image_psnr"),
    )
    # hash(image_id) both balances caption-length skew and already
    # satisfies the final join's required distribution
    text = captions.select("image_id", "phash", "caption").repartition(
        _n_parts(captions, config), F.col("image_id")
    )
    joined = _apply_text_stage(text, config).join(image_side, "image_id")
    return _decide(joined, config)


def _apply_text_stage(text: DataFrame, config: FilterConfig) -> DataFrame:
    """One Arrow exchange for the whole text stage (functions/fused.py),
    plus the JVM-side scrub exprs and lid-map derivation."""
    from corpusama_spark.functions.fused import text_stage

    return (
        text.withColumn(
            "_t",
            text_stage(
                "caption",
                min_len=config.min_len,
                threshold=config.threshold,
                max_langs=config.max_langs,
            ),
        )
        .select(
            "*",
            F.col("_t.caption_norm").alias("caption_norm"),
            F.col("_t.lid_arr").alias("lid_arr"),
            F.col("_t.l1").alias("l1"),
            F.col("_t.l1_size").alias("l1_size"),
            F.col("_t.multiling").alias("multiling"),
            F.col("_t.ppl").alias("ppl"),
        )
        .drop("_t")
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


def narrow_decisions(
    captions: DataFrame, config: FilterConfig = FilterConfig()
) -> DataFrame:
    """Single-branch ZERO-SHUFFLE variant of the filter plan.

    Image verify, the fused text stage, scrub and the rule chain all
    evaluate in the scan stage — no repartition, no join. ``run_pipeline``
    takes this plan for streaming inputs (a streaming self-join would need
    watermarks; a narrow plan needs nothing). Decision values are
    identical to the staged plan's.

    Batch-plan tradeoff (BENCH.md): both Arrow UDF nodes (verify and the
    text stage) chain into one stage, and the scan layout decides how
    caption-length cost is balanced. BENCH.md measured the staged plan
    faster on fresh sessions and this one faster at many rows per core or
    in long-lived sessions, with a crossover that moved between hosts;
    batch jobs take the staged plan so the plan never depends on the
    session's age or on a row estimate.
    """
    with_image = captions.withColumn("_iv", verify_image()).select(
        "image_id",
        "fmt",
        "w",
        "h",
        "phash",
        "caption",
        F.col("_iv.image_ok").alias("image_ok"),
        F.col("_iv.image_reason").alias("image_reason"),
        F.col("_iv.image_psnr").alias("image_psnr"),
    )
    return _decide(_apply_text_stage(with_image, config), config)


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

