"""prefixsum: the range-exchange two-phase prefix-sum primitive that
replaced every corpus-sized unpartitioned window (round-5; VERDICT r04
items 2-4). Each helper is pinned against its single-partition window
definition on data spread across many partitions, plus the boundary
cases the offset algebra must survive (empty input, one partition with
everything, more partitions than rows, descending orders)."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql.window import Window

from corpusama_spark.operators.prefixsum import (
    attach_global_positions,
    ranged_cumsum,
    ranged_ntile,
)
from corpusama_spark.plans import audit


@pytest.fixture()
def scattered(spark):
    # deliberately unsorted, many partitions, non-contiguous keys
    rows = [((i * 37) % 101, float(i % 7)) for i in range(101)]
    return spark.createDataFrame(rows, "k long, x double").repartition(16)


def test_positions_match_row_number(spark, scattered):
    got = {
        r.k: r.gpos
        for r in attach_global_positions(scattered, ["k"]).collect()
    }
    want = {
        r.k: r.rn
        for r in scattered.withColumn(
            "rn", F.row_number().over(Window.orderBy("k"))
        ).collect()
    }
    assert got == want


def test_positions_descending_order(spark, scattered):
    got = attach_global_positions(
        scattered, [F.desc("k")], pos_col="p"
    ).collect()
    by_pos = sorted(got, key=lambda r: r.p)
    assert [r.k for r in by_pos] == sorted({r.k for r in got}, reverse=True)


def test_positions_no_unpartitioned_window(spark, scattered):
    audit.assert_no_unpartitioned_window(
        attach_global_positions(scattered, ["k"])
    )


def test_cumsum_inclusive_and_exclusive(spark, scattered):
    inc = {
        r.k: r.cum_x
        for r in ranged_cumsum(scattered, ["k"], ["x"]).collect()
    }
    exc = {
        r.k: r.cum_x
        for r in ranged_cumsum(
            scattered, ["k"], ["x"], exclusive=True
        ).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.k: r.c
        for r in scattered.withColumn("c", F.sum("x").over(w)).collect()
    }
    xs = {r.k: r.x for r in scattered.collect()}
    for k in want:
        assert inc[k] == pytest.approx(want[k])
        assert exc[k] == pytest.approx(want[k] - xs[k])


def test_cumsum_multi_column_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, 2.0, None), (2, None, 5.0), (3, 1.0, 1.0)],
        "k long, a double, b double",
    ).repartition(4)
    out = {r.k: (r.cum_a, r.cum_b) for r in ranged_cumsum(df, ["k"], ["a", "b"]).collect()}
    # nulls contribute nothing but do not poison later rows
    assert out[1] == (2.0, 0.0)
    assert out[2] == (2.0, 5.0)
    assert out[3] == (3.0, 6.0)


def test_empty_input(spark):
    df = spark.createDataFrame([], "k long, x double")
    assert attach_global_positions(df, ["k"]).count() == 0
    assert ranged_cumsum(df, ["k"], ["x"]).count() == 0
    assert ranged_ntile(df, ["k"], 4).count() == 0


def test_more_partitions_than_rows(spark):
    df = spark.createDataFrame([(3,), (1,), (2,)], "k long")
    got = sorted(
        (r.k, r.gpos)
        for r in attach_global_positions(df, ["k"], n_parts=16).collect()
    )
    assert got == [(1, 1), (2, 2), (3, 3)]


@pytest.mark.parametrize("n,rows", [(4, 10), (4, 3), (3, 9), (7, 100)])
def test_ntile_matches_sql_ntile(spark, n, rows):
    df = spark.createDataFrame(
        [((i * 13) % rows,) for i in range(rows)], "k long"
    ).dropDuplicates(["k"]).repartition(8)
    got = {r.k: r.tile for r in ranged_ntile(df, ["k"], n).collect()}
    want = {
        r.k: r.t
        for r in df.withColumn(
            "t", F.ntile(n).over(Window.orderBy("k"))
        ).collect()
    }
    assert got == want


def test_snb_equivalent_to_lead_window(spark):
    """sorted_neighborhood_pairs' join-on-positions rewrite must emit
    exactly the pairs the old unpartitioned lead() formulation did."""
    from corpusama_spark.operators.fuzzy import sorted_neighborhood_pairs

    docs = spark.createDataFrame(
        [(i, f"{(i * 7) % 23:02d}x") for i in range(40)], "doc_id long, sk string"
    ).repartition(8)
    got = sorted(
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(docs, "sk", window=3).collect()
    )
    w = Window.orderBy("sk", "doc_id")
    lead = docs.select(
        "doc_id",
        F.lead("doc_id", 1).over(w).alias("n1"),
        F.lead("doc_id", 2).over(w).alias("n2"),
    )
    want = set()
    for r in lead.collect():
        for o in (r.n1, r.n2):
            if o is not None:
                want.add((min(r.doc_id, o), max(r.doc_id, o)))
    assert got == sorted(want)


def test_release_frees_every_range_exchange_cache(spark, scattered):
    """Each helper persists its range-exchanged input; the result owns
    it, so the caller's release leaves executor storage as it found it
    (chained helpers: each result owns its own pass)."""
    from corpusama_spark.plans.caching import release

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    tiles = ranged_ntile(scattered, ["k"], 4)
    outs = [
        attach_global_positions(scattered, ["k"]),
        ranged_cumsum(scattered, ["k"], ["x"]),
        tiles,
        ranged_ntile(tiles, ["x", "k"], 3, "tile2"),
    ]
    for out in outs:
        out.collect()
    assert persisted().size() > before
    for out in outs:
        release(out)
    assert persisted().size() == before


def _operators_on_prefixsum():
    from corpusama_spark.operators.fuzzy import sorted_neighborhood_pairs
    from corpusama_spark.operators.layout import zorder_buckets
    from corpusama_spark.operators.privacy import t_closeness
    from corpusama_spark.operators.ranking import rbo_vocab_rankings
    from corpusama_spark.operators.sketches import cms_heavy_hitters
    from corpusama_spark.operators.stats import bh_fdr, mannwhitney_u
    from corpusama_spark.operators.textstats import heaps_fit, oov_rate

    return {
        "rbo_vocab_rankings": lambda d: rbo_vocab_rankings(d, k=5),
        "bh_fdr": lambda d: bh_fdr(d, "p", tiebreak_cols=["doc_id"]),
        "mannwhitney_u": lambda d: mannwhitney_u(d, "source", "p", "a", "b"),
        "heaps_fit": heaps_fit,
        "oov_rate": lambda d: oov_rate(d, vocab_top=5),
        "t_closeness": lambda d: t_closeness(d, ["source"], "lang"),
        "sorted_neighborhood_pairs": lambda d: sorted_neighborhood_pairs(d, "text"),
        "cms_heavy_hitters": lambda d: cms_heavy_hitters(d, k=5),
        "zorder_buckets": lambda d: zorder_buckets(
            d, "doc_id", F.col("doc_id") % 7, F.col("doc_id") % 5, nbuckets=4
        ),
    }


@pytest.mark.parametrize("name", sorted(_operators_on_prefixsum()))
def test_release_frees_caches_of_operators_built_on_prefixsum(spark, name):
    """An operator whose result derives from a prefixsum pass attaches
    that pass, so releasing the operator's result frees its cache."""
    from corpusama_spark.plans.caching import release

    docs = spark.createDataFrame(
        [
            (i, f"w{i % 7} w{i % 5} common", "ab"[i % 2], "xyz"[i % 3], (i % 10) / 10)
            for i in range(50)
        ],
        "doc_id long, text string, source string, lang string, p double",
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    out = _operators_on_prefixsum()[name](docs)
    out.collect()
    assert persisted().size() > before
    release(out)
    assert persisted().size() == before
