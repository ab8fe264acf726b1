"""Re-identification risk audits: k-anonymity and l-diversity.

The scrub lane (functions/scrub.py) removes DIRECT identifiers from
caption text; this module audits the INDIRECT ones — combinations of
innocuous metadata columns (language, source, a coarsened length) that
together single documents out. A released corpus slice is k-anonymous
when every quasi-identifier combination matches at least k rows; the
companion l-diversity check catches the homogeneity failure mode where
a k-anonymous class still leaks a sensitive attribute because all k
rows share one value (Machanavajjhala et al. 2007).

These are audits, not anonymizers: they output the risk table a release
review needs (how many rows sit in classes below k, which classes, what
generalization would fix them), leaving suppression/generalization as an
explicit upstream choice.

Scale shape (10^12 rows): both statistics are one map-side-combinable
groupBy over the quasi-identifier tuple — the corpus collapses to one
row per equivalence class before anything else runs; the summary then
aggregates |classes| rows. l-diversity adds the sensitive column to the
first groupBy key (still one exchange) and rolls up. No windows over
corpus-sized data, no joins back to the corpus.

Reference seam: corpusama exports subcorpora by attribute predicates
(corpusama pipeline 'subcorpus' stage); this is the "is that slice safe
to publish?" gate the reference leaves to the human.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "k_anonymity",
    "l_diversity",
    "t_closeness",
    "dp_noisy_counts",
    "canary_exposure",
]


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str | Column],
    k: int = 5,
) -> DataFrame:
    """One-row k-anonymity summary over the ``quasi_cols`` equivalence
    classes: ``n_rows``, ``n_classes``, ``min_class`` (the corpus'
    actual anonymity level), ``n_violating_classes`` / ``n_at_risk``
    (classes and rows below ``k``), ``at_risk_share`` (6dp), and
    ``n_singletons`` (classes of size 1 — unique fingerprints, the
    worst case). NULL quasi-identifier values form their own class
    (groupBy semantics), which is what a release audit wants: "lang
    unknown" is itself a matchable attribute.
    """
    classes = df.groupBy(*quasi_cols).agg(
        F.count("*").cast("long").alias("_n")
    )
    return classes.groupBy().agg(
        F.sum("_n").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_classes"),
        F.min("_n").cast("long").alias("min_class"),
        F.sum((F.col("_n") < k).cast("long"))
        .cast("long")
        .alias("n_violating_classes"),
        F.sum(F.when(F.col("_n") < k, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("n_at_risk"),
        F.round(
            F.sum(F.when(F.col("_n") < k, F.col("_n")).otherwise(0))
            / F.sum("_n"),
            6,
        ).alias("at_risk_share"),
        F.sum((F.col("_n") == 1).cast("long"))
        .cast("long")
        .alias("n_singletons"),
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: list[str | Column],
    sensitive_col: str,
    l: int = 2,
    k: int = 5,
) -> DataFrame:
    """Per-equivalence-class risk table: for every quasi-identifier
    class, its size ``n``, the number of DISTINCT sensitive values
    ``n_sensitive`` (distinct-l-diversity), the modal sensitive share
    ``top_share`` (6dp — 1.0 means the class is homogeneous and the
    sensitive value is fully disclosed), and boolean ``k_anon`` /
    ``l_diverse`` flags. Only classes failing EITHER gate are returned
    (the actionable worklist), ordered worst-first by (n asc,
    n_sensitive asc).

    Exact distinct + mode per class: one groupBy over (class, sensitive
    value) then a rollup per class — two constant-width exchanges, both
    map-side combinable.
    """
    sel = df.select(*quasi_cols, F.col(sensitive_col).alias("_sv"))
    names = sel.columns[:-1]
    per_val = sel.groupBy(*names, "_sv").agg(
        F.count("*").cast("long").alias("_c")
    )
    per_class = per_val.groupBy(*names).agg(
        F.sum("_c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_sensitive"),
        F.max("_c").cast("long").alias("_top"),
    )
    return (
        per_class.select(
            *names,
            "n",
            "n_sensitive",
            F.round(F.col("_top") / F.col("n"), 6).alias("top_share"),
            (F.col("n") >= k).alias("k_anon"),
            (F.col("n_sensitive") >= l).alias("l_diverse"),
        )
        .where(~F.col("k_anon") | ~F.col("l_diverse"))
        .orderBy("n", "n_sensitive", *names)
    )


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str | Column],
    sensitive_col: str,
) -> DataFrame:
    """Per-equivalence-class t-closeness (Li, Li & Venkatasubramanian
    2007) over an ORDERED sensitive attribute: the Earth-Mover's
    Distance with ordered distance between the class' sensitive-value
    distribution p and the global distribution q,

        t = (1 / (m - 1)) * sum_{i=1..m-1} | sum_{j<=i} (p_j - q_j) |

    where the support v_1 < ... < v_m is the global set of observed
    sensitive values. A class leaking "everyone here has tiny captions"
    passes k-anonymity and l-diversity yet fails this gate. Rows with a
    NULL sensitive value are excluded and reported per class (n_null).

    Callers must bucket continuous attributes first (m is the support
    size; the zero-completed class x support grid is m rows per class).
    Output per class: n, n_null, t_close (6dp), ordered worst-first.

    Scale shape: one (class, value) contingency groupBy (map-side
    combinable), support + marginals are m-row broadcasts, and the
    cumulative sum is a per-class window over m rows — no corpus-sized
    shuffle beyond the contingency collapse.
    """
    from pyspark.sql.window import Window

    sel = df.select(*quasi_cols, F.col(sensitive_col).alias("_sv"))
    names = sel.columns[:-1]

    obs = sel.where(F.col("_sv").isNotNull()).groupBy(*names, "_sv").agg(
        F.count("*").cast("long").alias("_c")
    )
    nulls = (
        sel.withColumn("_isnull", F.col("_sv").isNull())
        .groupBy(*names)
        .agg(
            F.count(F.when(F.col("_isnull"), 1)).cast("long").alias("n_null")
        )
    )
    from corpusama_spark.operators.prefixsum import attach_global_positions
    from corpusama_spark.plans.caching import own_caches

    support = attach_global_positions(
        obs.groupBy("_sv").agg(F.sum("_c").alias("_gc")), ["_sv"], "_rk"
    )
    tot = support.agg(
        F.sum("_gc").alias("_gn"), F.count("*").alias("_m")
    )
    classes = obs.groupBy(*names).agg(F.sum("_c").cast("long").alias("n"))

    grid = (
        classes.crossJoin(F.broadcast(support))
        .join(obs, [*names, "_sv"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            *names,
            "n",
            "_rk",
            "_m",
            (
                F.coalesce(F.col("_c"), F.lit(0)) / F.col("n")
                - F.col("_gc") / F.col("_gn")
            ).alias("_d"),
        )
    )
    w = (
        Window.partitionBy(*names)
        .orderBy("_rk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.withColumn("_cum", F.sum("_d").over(w))
    # the EMD sum runs over the first m-1 prefix terms; aggregate with a
    # conditional (not a filter) so single-support corpora (m == 1, t = 0
    # for every class) keep their classes in the output
    per_class = cum.groupBy(*names, "n", "_m").agg(
        F.sum(
            F.when(F.col("_rk") < F.col("_m"), F.abs(F.col("_cum")))
        ).alias("_s")
    )
    # null-safe equi-join: NULL quasi-identifier values form their own
    # class (same groupBy semantics as k_anonymity) and must still pick
    # up their n_null count
    cond = None
    for nm in names:
        c = per_class[nm].eqNullSafe(nulls[nm])
        cond = c if cond is None else (cond & c)
    out = (
        per_class.join(nulls, cond, "left")
        .drop(*[nulls[nm] for nm in names])
        .select(
            *names,
            "n",
            F.coalesce("n_null", F.lit(0)).cast("long").alias("n_null"),
            (
                F.round(
                    F.when(
                        F.col("_m") > 1,
                        F.coalesce("_s", F.lit(0.0))
                        / (F.col("_m") - 1),
                    ).otherwise(F.lit(0.0)),
                    6,
                )
                + F.lit(0.0)
            ).alias("t_close"),
        )
        .orderBy(F.desc("t_close"), *names)
    )
    return own_caches(out, support)


def dp_noisy_counts(
    df: DataFrame,
    group_col: str,
    epsilon: float = 1.0,
    seed: str = "dp",
) -> DataFrame:
    """Differentially-private release of per-group counts (X210): the
    classic Laplace mechanism (Dwork et al. 2006) with scale
    b = Δf/ε = 1/ε (a COUNT query has sensitivity 1), completing the
    privacy lane — k-anonymity/l-diversity/t-closeness audit the
    released slice, this operator releases the aggregate itself.

    The noise is DETERMINISTIC: a Laplace draw via inverse-CDF over a
    uniform derived from md5(seed:group) — the same retry-safe idiom as
    curation.hash_uniform. rand() would give a speculated/re-executed
    task a different noise draw, silently double-spending the privacy
    budget; a keyed hash re-derives the identical draw. (One draw per
    GROUP, not per row, exactly as the mechanism requires.) The uniform
    is centered as u = (h + 0.5)/2^32 ∈ (0, 1), so |u − 0.5| < 0.5 and
    ln(1 − 2|u − 0.5|) is always finite; noise is pinned at 6 dp before
    the integer release so any cross-engine ln() ULP drift cannot move
    the released count.

    Output per group: n_exact (the audit column — drop it in an actual
    release), noise (6 dp), n_released = max(0, round(n_exact + noise))
    as BIGINT, and the epsilon literal for the release manifest.

    Scale shape (10^12 rows): ONE map-side-combinable groupBy collapses
    the corpus to |groups| rows; the noise is scan-stage expressions on
    that collapsed table. Nothing else shuffles.
    """
    b = 1.0 / float(epsilon)
    counts = df.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_exact")
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed + ":"), F.col(group_col).cast("string")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(1 << 32))
    t = u - F.lit(0.5)
    noise = F.round(
        F.lit(-b) * F.signum(t) * F.log(F.lit(1.0) - 2.0 * F.abs(t)), 6
    )
    return (
        counts.withColumn("noise", noise + F.lit(0.0))
        .select(
            group_col,
            "n_exact",
            "noise",
            F.greatest(
                F.lit(0.0), F.round(F.col("n_exact") + F.col("noise"), 0)
            )
            .cast("long")
            .alias("n_released"),
            F.lit(float(epsilon)).alias("epsilon"),
        )
        .orderBy(group_col)
    )


LN2 = 0.6931471805599453


def canary_exposure(
    cands: DataFrame,
    group_col: str = "canary_id",
    id_col: str = "cand_id",
    ppl_col: str = "ppl",
    canary_col: str = "is_canary",
) -> DataFrame:
    """Secret-Sharer canary exposure (X215; Carlini et al. 2019, "The
    Secret Sharer: Evaluating and Testing Unintended Memorization in
    Neural Networks") — the memorization-risk audit for a model trained
    on this corpus: for each canary (a known planted/held sequence),
    rank its language-model perplexity inside a pool of reference
    candidates and report

        exposure = log2(|pool|) − log2(rank(canary))

    Exposure ≈ log2 |pool| means the model scores the canary better than
    every distractor — the sequence is memorized, and the scrub/dedup
    lanes failed it; exposure ≈ 0 means it ranks like a random candidate.

    Input: one row per (group, candidate) with the candidate's
    perplexity and an is-canary flag; exactly one canary row per group
    (the convenience wiring in `__spark_entry__.q_canary_exposure` shows
    the full train → score → pool chain on the bigram LM lane).

    Output per group: n_candidates, canary_ppl, canary_rank,
    exposure (6 dp), memorized (rank == 1).

    Scale shape: an audit, not a corpus op — groups are the planted
    canaries (dozens) and pools are bounded reference samples, so the
    one group-keyed rank window is tiny by construction; the expensive
    part (scoring) reuses the LM lane's broadcast-model join upstream.

    Determinism: ranks order by (6-dp ppl asc, id asc); exposure is
    (ln n − ln rank) / LN2 with the SAME ln2 literal both engines.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        F.asc(ppl_col), F.asc(id_col)
    )
    ranked = cands.withColumn("_rk", F.row_number().over(w))
    return (
        ranked.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.min(F.when(F.col(canary_col), F.col(ppl_col))).alias(
                "canary_ppl"
            ),
            F.min(F.when(F.col(canary_col), F.col("_rk")))
            .cast("long")
            .alias("canary_rank"),
        )
        .select(
            group_col,
            "n_candidates",
            "canary_ppl",
            "canary_rank",
            F.round(
                (F.log(F.col("n_candidates").cast("double"))
                 - F.log(F.col("canary_rank").cast("double")))
                / F.lit(LN2),
                6,
            ).alias("exposure"),
            (F.col("canary_rank") == 1).alias("memorized"),
        )
        .orderBy(group_col)
    )
