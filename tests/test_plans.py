"""Physical-plan audits: pushdown, pruning, shuffle budgets, no row-Python.

The reference hand-codes these optimizations (SQL-string WHERE pushdown
corpus/langid.py:39-40, column drop lists attribute.py:142-144); here they
must come out of Catalyst — these tests pin that they actually do.
"""

import pytest
from pyspark.sql import functions as F

from corpusama_spark.pipeline import FilterConfig, narrow_decisions, run_pipeline
from corpusama_spark.plans import audit
from corpusama_spark.sources.synth import captions_df


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    path = str(tmp_path / "caps")
    captions_df(spark, 50, partitions=2).write.parquet(path)
    df = spark.read.parquet(path).where(F.col("fmt") == "png").select("image_id")
    audit.assert_filter_pushed(df, "fmt")


def test_column_pruning_drops_bytes(spark, tmp_path):
    path = str(tmp_path / "caps")
    captions_df(spark, 50, partitions=2).write.parquet(path)
    # a caption-only projection must not read the image payload
    df = spark.read.parquet(path).select("image_id", F.length("caption").alias("n"))
    audit.assert_column_pruned(df, "bytes")


def test_flagship_shuffle_budget(spark, tmp_path):
    path = str(tmp_path / "caps")
    captions_df(spark, 50, partitions=2).write.parquet(path)
    caps = spark.read.parquet(path)
    # one narrow plan: no exchange of any kind
    rep = audit.report(run_pipeline(caps, FilterConfig()))
    rep.assert_no_row_python().assert_max_shuffles(0)
    assert rep.n_broadcasts == 0
    # ONE Arrow node: image verify and the prep+lid+ppl text stage fused —
    # every extra chained UDF node is one more live Python worker per task
    # slot, each holding its own copy of the batch
    assert rep.n_arrow_evals == 1


def test_narrow_plan_zero_shuffles(spark, tmp_path):
    path = str(tmp_path / "caps")
    captions_df(spark, 50, partitions=2).write.parquet(path)
    caps = spark.read.parquet(path)
    audit.report(narrow_decisions(caps)).assert_no_row_python().assert_max_shuffles(0)


def test_codegen_covers_jvm_work(spark, tmp_path):
    path = str(tmp_path / "caps")
    captions_df(spark, 50, partitions=2).write.parquet(path)
    caps = spark.read.parquet(path)
    df = run_pipeline(caps, FilterConfig())
    # AQE assigns codegen ids only once THIS plan is final — count() would
    # execute a different (pruned) query
    df.collect()
    rep = audit.report(df)
    assert rep.n_codegen_spans >= 1


def test_bucketed_join_zero_shuffles(spark, tmp_path):
    # two tables bucketed on the same key must join without any Exchange —
    # the managed-table stand-in for Iceberg's storage-partitioned join
    import pyspark.sql.functions as F

    from corpusama_spark.sources.bucketed import read_table, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        caps = captions_df(spark, 200, partitions=4).drop("bytes")
        write_bucketed(caps.select("image_id", "caption"), "t_caps", nbuckets=4)
        write_bucketed(
            caps.select("image_id", "phash", "fmt"), "t_meta", nbuckets=4
        )
        joined = read_table(spark, "t_caps").join(
            read_table(spark, "t_meta"), "image_id"
        )
        rep = audit.report(joined)
        assert rep.n_exchanges == 0, audit.plan_text(joined)
        assert joined.count() == 200
        # same join on plain parquet DOES shuffle — the layout earns its keep
        plain = str(tmp_path / "plain")
        caps.select("image_id", "caption").write.parquet(plain + "_a")
        caps.select("image_id", "phash").write.parquet(plain + "_b")
        unbucketed = spark.read.parquet(plain + "_a").join(
            spark.read.parquet(plain + "_b"), "image_id"
        )
        assert audit.report(unbucketed).n_exchanges > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS t_caps")
        spark.sql("DROP TABLE IF EXISTS t_meta")


def test_new_operator_plan_shapes(spark):
    """Round-2 operators keep their intended physical shapes: text-emit and
    vert-parse are pure narrow (ZERO shuffles), profiling is one aggregation
    pass, diff/align pay exactly their join + agg exchanges."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    budgets = {
        "vert_parse": 0,      # regexp splits + two explodes, all narrow
        "conllu_export": 0,   # string assembly in the scan stage
        "pdf_clean": 0,
        "xml_clean": 0,
        "na_profile": 1,      # ONE wide aggregation, never one job per column
        "schema_drift": 1,    # union is narrow; only the groupBy shuffles
        "diff_summary": 3,    # two full-outer join sides + the summary agg
        "align_tokens": 3,    # two cogroup sides + the summary agg
    }
    qs = E.queries()
    for name, budget in budgets.items():
        rep = audit.report(qs[name](spark, sf))
        rep.assert_no_row_python().assert_max_shuffles(budget)


def test_image_features_scan_stage(spark, tmp_path):
    """Feature extraction runs in the scan stage (no shuffle), and a
    features-only projection must not read the caption column."""
    from corpusama_spark.functions.imageops import image_features

    path = str(tmp_path / "caps")
    captions_df(spark, 50, partitions=2).write.parquet(path)
    df = (
        spark.read.parquet(path)
        .select("image_id", image_features("bytes", "fmt").alias("f"))
        .select("image_id", "f.*")
    )
    rep = audit.report(df)
    rep.assert_no_row_python().assert_max_shuffles(0)
    audit.assert_column_pruned(df, "caption")


def test_round3_operator_plan_shapes(spark):
    """Round-3 operators keep their intended shapes. ann_recall is special:
    the whole recall audit is PURE JVM — axis-sign buckets are comparison
    expressions, so the plan has zero Python evaluators of any kind."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    qs = E.queries()
    rec = audit.report(qs["ann_recall"](sf_dir=sf, spark=spark))
    rec.assert_no_row_python()
    assert rec.n_arrow_evals == 0  # no pandas UDFs either — all codegen
    # str_obj_any: one Arrow batch crossing, no shuffle (scan-stage parse)
    soa = audit.report(qs["str_obj_any"](spark, sf))
    soa.assert_no_row_python().assert_max_shuffles(0)
    assert soa.n_arrow_evals == 1
    # guaranteed-regime simhash: same banded kernel, no row python
    audit.report(qs["simhash_exact"](spark, sf)).assert_no_row_python()


def test_training_sample_filter_below_rank(spark, tmp_path):
    """The IVF training sample's content-hash pre-filter must sit in the
    scan stage BELOW the TakeOrderedAndProject rank (bounded-scan fix)."""
    from corpusama_spark.operators.similarity import training_sample_plan

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = audit.plan_text(training_sample_plan(emb, sample=32, prefilter_mod=8))
    assert "TakeOrderedAndProject" in plan
    i_filter = plan.find("pmod")
    i_rank = plan.find("TakeOrderedAndProject")
    assert 0 <= i_rank < i_filter  # filter prints below (after) the rank node


@pytest.fixture(scope="module")
def contract_plans(spark):
    """Every queries() entry built once; the blanket plan sweeps below all
    walk these same DataFrames."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    return {name: fn(spark, sf) for name, fn in E.queries().items()}


def test_no_row_python_in_any_contract_query(contract_plans):
    """Blanket pin: NO contract query may carry a row-at-a-time Python UDF
    (BatchEvalPython) anywhere in its physical plan — the engine-wide
    'Arrow or JVM only' rule, checked on every queries() entry at once."""
    offenders = []
    for name, df in contract_plans.items():
        try:
            audit.report(df).assert_no_row_python()
        except AssertionError:
            offenders.append(name)
    assert not offenders, offenders


# Every contract query whose plan may carry an unpartitioned window, with the
# reason its input is BOUNDED (not corpus-sized) — the only legitimate
# single-task windows in the engine. Anything else flagging here is the
# snb_pairs class of scale defect (round-4 verdict) and must be rewritten
# via operators/prefixsum.py instead of added below.
UNPARTITIONED_WINDOW_WHITELIST = {
    "aspect_buckets": "global share over the SDXL bucket table (~dozens of aspect buckets)",
    "neyman_alloc": "largest-remainder rank over the per-stratum allocation table (|strata| rows)",
    "drop_waterfall": "cumulative drops over pipeline STAGES (single-digit rows)",
    "acf_daily": "lag window over the daily series (|days| rows)",
    "band_occupancy": "cumulative share over the bucket-size histogram (|distinct sizes| rows)",
    "novelty": "cumulative novelty over time buckets (|buckets| rows)",
    "rendezvous": "global share over the shard table (n_shards rows)",
    "isotonic": "PAVA pool scan over calibration BINS (fixed bin count)",
    "waterfill": "water-filling iterations over the k-group budget-cap table",
    "index_staleness": "global totals over the IVF cell-stats table (codebook-sized)",
}


def test_no_unpartitioned_window_in_any_contract_query(contract_plans):
    """Blanket pin for the round-4 verdict's X271-class defect: no contract
    query may move corpus-sized data through a single-task window. Every
    queries() entry is plan-audited; the only allowed unpartitioned windows
    are the whitelisted bounded-input sites above (bin/stage/day/k-sized
    tables, documented per query). heaps_fit / mwu_test / snb_pairs — the
    three operators round 4 flagged — must stay CLEAN, not whitelisted."""
    offenders, stale = [], []
    flagged = set()
    for name, df in contract_plans.items():
        bad = audit.unpartitioned_windows(df)
        if bad:
            flagged.add(name)
            if name not in UNPARTITIONED_WINDOW_WHITELIST:
                offenders.append((name, bad[0][:120]))
    stale = sorted(set(UNPARTITIONED_WINDOW_WHITELIST) - flagged)
    assert not offenders, offenders
    # the whitelist must not rot: every entry still flags (else remove it)
    assert not stale, f"whitelist entries no longer needed: {stale}"
    for fixed in ("snb_pairs", "heaps_fit", "mwu_test"):
        assert fixed not in flagged


def test_curation_plan_shapes(spark, tmp_path):
    """Plan pins for the curation family: the data-mixing sample is a pure
    scan-stage predicate (ZERO exchanges); decontamination's bench-gram
    join and line-dedup's hot-set join are BROADCAST (the doc side never
    shuffles into them)."""
    import duckdb  # noqa: F401  (parity of availability with selfcheck)

    from corpusama_spark.operators.curation import (
        drop_duplicated_lines,
        ngram_contamination,
        stratified_sample,
    )

    docs = spark.createDataFrame(
        [(i, f"line a\ncontent {i}\nline b", "en") for i in range(40)],
        "doc_id long, text string, lang string",
    )
    samp = stratified_sample(docs, "lang", {"en": 0.5}, "doc_id")
    audit.report(samp).assert_no_row_python().assert_max_shuffles(0)

    bench = docs.where(F.col("doc_id") % 7 == 0).select("text")
    cont = ngram_contamination(docs, bench, n=2)
    rep = audit.report(cont)
    rep.assert_no_row_python()
    assert rep.n_broadcasts >= 1  # bench grams broadcast into the scan stage

    dl = drop_duplicated_lines(docs, threshold=3)
    rep2 = audit.report(dl)
    rep2.assert_no_row_python()
    assert rep2.n_broadcasts >= 1  # hot-line set broadcast for the anti-join


def test_round4_operator_plan_shapes(spark):
    """Round-4 operators keep their intended physical shapes.

    Scan-stage gates are ZERO-shuffle; aggregating analytics pay exactly
    their documented exchanges; joins that must broadcast do broadcast."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    budgets = {
        "magic_gate": 0,      # hex/substring folds in the scan stage
        "script_shares": 0,   # regex folds in the scan stage
        "video_rules": 0,     # metadata CASE folds in the scan stage
        "url_canon": 1,       # regexp folds narrow; only the groupBy shuffles
        "token_entropy": 2,   # (doc,token) agg + per-doc agg (join to all
                              # docs broadcasts — no third exchange)
        "rule_ablation": 1,   # explode-unpivot is narrow; ONE constant-width agg
        "zipf_fit": 3,        # token agg + per-group rank window + regr agg
    }
    qs = E.queries()
    for name, budget in budgets.items():
        rep = audit.report(qs[name](spark, sf))
        rep.assert_no_row_python().assert_max_shuffles(budget)


def test_round4_broadcast_joins(spark):
    """incr_dedup's anti-join and adaptive_gate's threshold join must
    broadcast their small side — a shuffled exchange on the corpus side
    for a <= few-hundred-row build table is the classic scale bug."""
    import io
    from contextlib import redirect_stdout

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    for name in ("incr_dedup", "adaptive_gate"):
        df = E.queries()[name](spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "BroadcastHashJoin" in plan, (name, plan[:2000])
