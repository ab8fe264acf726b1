"""Observation-based in-flight metrics (plans/metrics.py): the observed
counts must equal a recount of the materialized rows, with no second
aggregation pass."""

from pyspark.sql import functions as F

from corpusama_spark.pipeline import (
    DROP_REASONS,
    FilterConfig,
    _decide,
    run_pipeline,
)
from corpusama_spark.plans.metrics import (
    DEFAULT_REASONS,
    metrics_row,
    observe_decisions,
)
from corpusama_spark.sources.synth import captions_df


def test_observed_metrics_match_recount(spark):
    caps = captions_df(spark, 400, partitions=8)
    observed, obs = observe_decisions(run_pipeline(caps, FilterConfig()))
    rows = observed.collect()  # the ONE action; metrics ride along
    got = metrics_row(obs)
    assert got["n_rows"] == len(rows) == 400
    assert got["n_keep"] == sum(r.keep for r in rows)
    recount: dict = {}
    for r in rows:
        if r.drop_reason is not None:
            recount[r.drop_reason] = recount.get(r.drop_reason, 0) + 1
    for k, v in got.items():
        if k.startswith("n_") and k not in ("n_rows", "n_keep"):
            assert v == recount.get(k[2:], 0), k
    # every drop the pipeline produced is named in the metrics row
    assert sum(v for k, v in got.items()
               if k not in ("n_rows", "n_keep")) == sum(recount.values())
    assert sum(got[f"n_{r}"] for r in DEFAULT_REASONS) == (
        got["n_rows"] - got["n_keep"]
    )


def test_observed_reasons_cover_every_drop_the_rule_chain_emits(spark):
    """One enriched row per drop reason (image reasons pass through from
    verify_image, so they are set directly: the stand-in codec cannot
    produce a failed re-encode or a sub-40 dB roundtrip) plus a kept row.
    The observed reasons are exactly pipeline.DROP_REASONS and the
    per-reason drops sum to n_rows - n_keep."""
    assert DEFAULT_REASONS == DROP_REASONS
    good = "one two three four five"
    en = [("en", 1.0)]

    def row(reason, caption=good, norm=good, lid=en, ppl=10.0, image=None):
        return (reason, caption, norm, lid, lid[0][0] if lid else None, ppl,
                image is None, image)

    rows = [
        row("keep"),
        row("caption_missing", caption=None, norm=None, lid=None),
        row("caption_empty_norm", norm="", lid=[]),
        row("caption_too_short", norm="ab cd"),
        row("too_few_tokens", norm="abcdefghijkl mn"),
        *(row(r, image=r) for r in DROP_REASONS if r.startswith("image_")),
        row("lang_share", lid=[("fr", 1.0)]),
        row("perplexity", ppl=1e12),
    ]
    enriched = spark.createDataFrame(
        rows,
        "image_id string, caption string, caption_norm string, "
        "lid_arr array<struct<lang:string,share:double>>, l1 string, "
        "ppl double, image_ok boolean, image_reason string",
    ).withColumn(
        "lid",
        F.when(F.size("lid_arr") > 0, F.map_from_entries("lid_arr")),
    )
    observed, obs = observe_decisions(
        _decide(enriched, FilterConfig(target_lang="en"))
    )
    got = {r.image_id: r.drop_reason for r in observed.collect()}
    m = metrics_row(obs)
    assert got == {r[0]: (None if r[0] == "keep" else r[0]) for r in rows}
    assert {r for r in DROP_REASONS if m[f"n_{r}"] == 1} == set(DROP_REASONS)
    assert sum(m[f"n_{r}"] for r in DROP_REASONS) == m["n_rows"] - m["n_keep"]


def test_observed_metrics_survive_write(tmp_path, spark):
    caps = captions_df(spark, 100, partitions=4)
    observed, obs = observe_decisions(run_pipeline(caps, FilterConfig()))
    observed.write.mode("overwrite").parquet(str(tmp_path / "dec"))
    got = metrics_row(obs)
    back = spark.read.parquet(str(tmp_path / "dec"))
    assert got["n_rows"] == 100
    assert got["n_keep"] == back.where("keep").count()
