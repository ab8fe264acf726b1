"""Key-skew diagnostics — the planning view for salting decisions.

Every skew mitigation in the engine (split-and-merge sessionization,
banded-dedup flood guards, salted exchanges) needs the same upstream fact:
WHICH keys are hot and BY HOW MUCH. This operator turns that into a
first-class relational query instead of ad-hoc notebook counts, so a
deployment can gate `presplit_hours=` or salt-factor choices on data.

Scale shape: one groupBy(key) count (the unavoidable pass), a single-row
total broadcast back (the colloc.py marginal pattern), and a
TakeOrderedAndProject for the top-N — no window over the full key set, no
second scan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def skew_report(df: DataFrame, key_col: str, top_n: int = 10) -> DataFrame:
    """Top-``top_n`` heaviest keys: (key, n, share, skew, salt_factor).

    ``share`` = fraction of all rows, ``skew`` = n / mean-rows-per-key
    (1.0 = perfectly balanced), ``salt_factor`` = ceil(skew) — the number
    of salt buckets that levels this key to the mean. Ordering is
    deterministic (n desc, key asc)."""
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("n")
    )
    totals = counts.agg(
        F.sum("n").alias("total"),
        F.count("*").alias("n_keys"),
    )
    return (
        counts.join(F.broadcast(totals))
        .select(
            "key",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
            F.round(
                F.col("n") * F.col("n_keys") / F.col("total"), 4
            ).alias("skew"),
            F.ceil(F.col("n") * F.col("n_keys") / F.col("total"))
            .cast("long")
            .alias("salt_factor"),
        )
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(top_n)
    )


def suggest_salt(df: DataFrame, key_col: str, target_skew: float = 2.0) -> int:
    """Driver-side scalar: the salt-bucket count that brings the hottest
    key down to ``target_skew`` x the mean — 1 when no salting is needed.
    One bounded collect (a single row)."""
    row = skew_report(df, key_col, top_n=1).collect()
    if not row:
        return 1
    return max(1, math.ceil(float(row[0].skew) / target_skew))


def concentration_stats(df: DataFrame, key_col: str) -> DataFrame:
    """One-row corpus balance report over a grouping key: n_groups,
    Gini coefficient of the group-size distribution, Shannon entropy,
    normalized entropy (entropy / ln(n_groups)), and the largest
    group's share. The data-mixing pre-flight: a corpus where one
    domain holds 40% of rows (top_share) or sizes are near-maximally
    unequal (gini → 1) needs temperature reweighting BEFORE training,
    and this is the number that says so. Gini stays integer until the
    final divide (G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over
    ascending-sorted sizes); entropy terms are computed per group from
    exact rational shares and summed over the group-sized table.

    Scale shape: the corpus collapses to one row per group first
    (map-side combinable count), so the ranking window and both final
    aggregates run over a groups-sized table — thousands of domains,
    never corpus rows.
    """
    from pyspark.sql.window import Window

    sizes = df.groupBy(key_col).agg(F.count("*").cast("long").alias("x"))
    tot = sizes.agg(
        F.sum("x").cast("long").alias("tx"),
        F.count("*").cast("long").alias("ng"),
    )
    from corpusama_spark.operators.prefixsum import attach_global_positions

    ranked = attach_global_positions(sizes, [F.asc("x"), F.asc(key_col)], "i")
    agg = (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("ng", "tx")
        .agg(
            F.sum(F.col("i") * F.col("x")).alias("_six"),
            (
                -F.sum(
                    (F.col("x") / F.col("tx"))
                    * F.log(F.col("x") / F.col("tx"))
                )
            ).alias("_ent"),
            F.max("x").alias("_mx"),
        )
    )
    return agg.select(
        F.col("ng").alias("n_groups"),
        F.round(
            (2 * F.col("_six") - (F.col("ng") + 1) * F.col("tx"))
            / (F.col("ng") * F.col("tx")),
            6,
        ).alias("gini"),
        F.round(F.col("_ent"), 6).alias("entropy"),
        F.round(
            F.when(
                F.col("ng") > 1,
                F.col("_ent") / F.log(F.col("ng").cast("double")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("norm_entropy"),
        F.round(F.col("_mx") / F.col("tx"), 6).alias("top_share"),
    )


def hill_diversity(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Hill-number diversity profile of each group's token
    distribution: q=0 (richness: distinct types), q=1 (exp of Shannon
    entropy: "effective vocabulary"), q=2 (inverse Simpson:
    "effective vocabulary counting only the head") — the ecology
    standard (Hill 1973) that reads as 'how many equally-common words
    is this source equivalent to?'. hill2 is integer-exact until one
    divide (t²/Σc²); hill1's entropy sum is the only float
    accumulation, 6dp-rounded. Complements concentration_stats (which
    profiles group SIZES; this profiles content WITHIN groups).

    One token explode → one (group, token) count → one group rollup,
    all map-side combinable; no windows, no joins."""
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
        ),
        lambda w: F.length(w) > 0,
    )
    gw = (
        docs.select(
            F.col(group_col).alias("g"), F.explode(toks).alias("tok")
        )
        .groupBy("g", "tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    per = gw.groupBy("g").agg(
        F.sum("c").cast("long").alias("t"),
        F.count("*").cast("long").alias("hill0"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("_s2"),
        F.sum(F.col("c") * F.log("c")).alias("_clnc"),
    )
    # entropy = ln t − Σ c·ln c / t  (exact algebra on the count table)
    ent = F.log(F.col("t")) - F.col("_clnc") / F.col("t")
    return per.select(
        F.col("g").alias(group_col),
        F.col("t").alias("n_tokens"),
        "hill0",
        F.round(F.exp(ent), 6).alias("hill1"),
        F.round(
            (F.col("t") * F.col("t")) / F.col("_s2").cast("double"), 6
        ).alias("hill2"),
    )


def theil_decomposition(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Theil-T inequality index of a positive per-row value (doc length,
    token count, bytes) decomposed into BETWEEN-group and WITHIN-group
    components (Theil 1967): T = Σᵢ (xᵢ/X)·ln(xᵢ/x̄ · N/… ), with the
    exact identity T_total = T_between + T_within. The decomposition is
    the planning number concentration_stats can't give: Gini says the
    corpus is unequal, Theil says whether rebalancing SOURCES fixes it
    (between-share high) or the inequality lives inside each source
    (within-share high — source quotas won't help).

    Output is ONE row: n, total (Σx), theil_total, theil_between,
    theil_within, between_share, plus residual = T_total − T_between −
    T_within (identically ~0, exposed as the self-check). Rows with
    value ≤ 0 or NULL are excluded (Theil needs positive support) and
    the excluded count is exposed as n_excluded.

    Scale shape: ONE map-side-combinable groupBy collapses the corpus to
    a per-group moment table (Σx, Σ x·ln x, n); the global combine and
    all logs then run on |groups| rows. No window, no second scan —
    per-row ln(x) rides the first aggregation as Σ x·ln x.
    """
    base = df.select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("double").alias("x"),
    )
    per = (
        base.withColumn("ok", (F.col("x") > 0).cast("int"))
        .fillna({"ok": 0})
        .groupBy("g")
        .agg(
            F.sum("ok").cast("long").alias("n_g"),
            F.sum(F.when(F.col("ok") == 1, F.col("x"))).alias("sx_g"),
            F.sum(
                F.when(F.col("ok") == 1, F.col("x") * F.log("x"))
            ).alias("sxlnx_g"),
            F.sum(1 - F.col("ok")).cast("long").alias("n_excl_g"),
        )
        # no n_g > 0 filter: groups with zero positive rows carry NULL
        # moment sums (skipped by the outer sums) but their n_excl_g
        # must still count toward n_excluded
    )
    # T_g (within group g) = Σ(x·ln x)/X_g − ln(X_g/n_g)
    # T_within = Σ_g (X_g/X) · T_g
    # T_between = Σ_g (X_g/X) · ln( (X_g/X) / (n_g/N) )
    # T_total   = Σ(x·ln x)/X − ln(X/N)   (same moments, global)
    return (
        per.groupBy()
        .agg(
            F.sum("n_g").cast("long").alias("n"),
            F.sum("sx_g").alias("total"),
            F.sum("sxlnx_g").alias("_sxlnx"),
            F.sum(
                F.col("sx_g")
                * (F.col("sxlnx_g") / F.col("sx_g")
                   - F.log(F.col("sx_g") / F.col("n_g")))
            ).alias("_within_num"),
            F.sum(
                F.col("sx_g") * F.log(F.col("sx_g") / F.col("n_g"))
            ).alias("_btw_num"),
            F.sum("n_excl_g").cast("long").alias("n_excluded"),
        )
        .select(
            "n",
            F.round("total", 6).alias("total"),
            F.round(
                F.col("_sxlnx") / F.col("total")
                - F.log(F.col("total") / F.col("n")),
                6,
            ).alias("theil_total"),
            F.round(
                F.col("_btw_num") / F.col("total")
                - F.log(F.col("total") / F.col("n")),
                6,
            ).alias("theil_between"),
            F.round(F.col("_within_num") / F.col("total"), 6).alias(
                "theil_within"
            ),
            F.round(
                (F.col("_btw_num") / F.col("total")
                 - F.log(F.col("total") / F.col("n")))
                / F.greatest(
                    F.col("_sxlnx") / F.col("total")
                    - F.log(F.col("total") / F.col("n")),
                    F.lit(1e-300),
                ),
                6,
            ).alias("between_share"),
            F.round(
                (F.col("_sxlnx") / F.col("total")
                 - F.log(F.col("total") / F.col("n")))
                - (F.col("_btw_num") / F.col("total")
                   - F.log(F.col("total") / F.col("n")))
                - F.col("_within_num") / F.col("total"),
                6,
            ).alias("residual"),
            "n_excluded",
        )
    )


def vocab_richness(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group vocabulary richness: token count, type count, type-token
    ratio, hapax legomena count and hapax share of the vocabulary — the
    classic "is this source template spam or real prose?" profile (a
    boilerplate farm has tiny TTR; OCR noise has hapax share near 1).

    Tokenization is the engine's whitespace+lowercase convention (the
    colloc/freq_profile idiom) so the numbers line up with every other
    token statistic. NULL/empty texts contribute nothing; a group whose
    every text is empty still appears with zero counts and NULL ratios.

    Scale shape: one explode + ONE (group, token) groupBy — map-side
    partial agg means the shuffle carries distinct keys, not tokens —
    then a group-sized rollup. No window, no join back to the corpus.
    """
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
            r"\s+",
        ),
        lambda w: F.length(w) > 0,
    )
    counts = (
        df.select(F.col(group_col).alias("g"), F.explode_outer(toks).alias("tok"))
        .groupBy("g", "tok")
        .agg(F.count("*").alias("c"))
    )
    return (
        counts.groupBy("g")
        .agg(
            F.sum(F.when(F.col("tok").isNotNull(), F.col("c")))
            .cast("long")
            .alias("_n_tokens"),
            F.count(F.when(F.col("tok").isNotNull(), F.lit(1)))
            .cast("long")
            .alias("_n_types"),
            F.count(
                F.when(F.col("tok").isNotNull() & (F.col("c") == 1), F.lit(1))
            )
            .cast("long")
            .alias("_n_hapax"),
        )
        .select(
            F.col("g").alias(group_col),
            F.coalesce("_n_tokens", F.lit(0)).alias("n_tokens"),
            F.col("_n_types").alias("n_types"),
            F.col("_n_hapax").alias("n_hapax"),
            F.round(
                F.when(
                    F.coalesce("_n_tokens", F.lit(0)) > 0,
                    F.col("_n_types") / F.col("_n_tokens"),
                ),
                6,
            ).alias("ttr"),
            F.round(
                F.when(
                    F.col("_n_types") > 0,
                    F.col("_n_hapax") / F.col("_n_types"),
                ),
                6,
            ).alias("hapax_share"),
        )
        .orderBy(group_col)
    )


def bucket_size_histogram(
    df: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Occupancy histogram of a bucketing scheme (LSH bands, phash
    prefixes, salt buckets): bucket_size → how many buckets have that
    size, how many rows they hold, and the row share. THE planning view
    for flood guards — "what max_bucket cutoff loses how many rows?"
    reads straight off the cumulative column (row_share_cum sums the
    heavy tail from the LARGEST buckets down, so the value at size s is
    the fraction of rows a max_bucket=s-1 guard would drop from pairing).

    Scale shape: one groupBy(keys) count (the pass any bucketed join
    already pays), then a size-keyed re-aggregation over the bucket
    table (distinct-key sized) and a window over the size histogram
    (at most |distinct sizes| rows). Nothing re-reads the corpus.
    """
    if not key_cols:
        raise ValueError("bucket_size_histogram needs key columns")
    from pyspark.sql.window import Window

    sizes = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count("*").alias("sz")
    )
    hist = sizes.groupBy(F.col("sz").alias("bucket_size")).agg(
        F.count("*").cast("long").alias("n_buckets"),
        (F.count("*") * F.first("sz")).cast("long").alias("n_rows"),
    )
    tot = hist.agg(F.sum("n_rows").cast("double").alias("total"))
    w = Window.orderBy(F.desc("bucket_size")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "bucket_size",
            "n_buckets",
            "n_rows",
            F.round(F.col("n_rows") / F.col("total"), 6).alias("row_share"),
            F.round(
                F.sum("n_rows").over(w) / F.col("total"), 6
            ).alias("row_share_cum"),
        )
        .orderBy("bucket_size")
    )


def unseen_vocab_estimates(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """How much vocabulary has this crawl NOT seen yet, per source —
    the two classical species-richness estimators over the token
    frequency-of-frequencies:

    - ``gt_unseen`` = N₁/N (Good 1953; Good–Turing total probability
      mass of unseen types — the leave-one-out argument: a token seen
      once is what an unseen token looks like one sample later);
    - ``chao1`` = S + N₁(N₁−1)/(2(N₂+1)) (Chao 1984, bias-corrected
      form, finite when no doubletons exist) — a LOWER bound on true
      type richness, so coverage = S/chao1 is an upper bound on the
      fraction of the source's vocabulary already collected.

    A source with gt_unseen ≈ 0.3 is still yielding new vocabulary at
    a token every ~3 draws (keep crawling); one at 0.01 is exhausted.
    Output per group: n_tokens, n_types, n1, n2, gt_unseen 6 dp,
    chao1 6 dp, coverage 6 dp. Complements vocab_richness (X166),
    which reports the OBSERVED ratios; these estimate the unobserved.

    Scale shape: same single (group, token) groupBy as every token
    statistic (map-side combinable), then a group-sized rollup —
    the frequency-of-frequencies collapse adds no extra pass.
    """
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
            r"\s+",
        ),
        lambda w: F.length(w) > 0,
    )
    counts = (
        df.select(F.col(group_col).alias("g"), F.explode(toks).alias("tok"))
        .groupBy("g", "tok")
        .agg(F.count("*").alias("c"))
    )
    per = counts.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n1"),
        F.sum((F.col("c") == 2).cast("long")).cast("long").alias("n2"),
    )
    chao1 = F.col("n_types") + F.col("n1") * (F.col("n1") - 1) / (
        2.0 * (F.col("n2") + 1)
    )
    return per.select(
        F.col("g").alias(group_col),
        "n_tokens",
        "n_types",
        "n1",
        "n2",
        F.round(F.col("n1") / F.col("n_tokens").cast("double"), 6).alias(
            "gt_unseen"
        ),
        F.round(chao1, 6).alias("chao1"),
        F.round(F.col("n_types") / chao1, 6).alias("coverage"),
    ).orderBy(group_col)
