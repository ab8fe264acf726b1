"""Corpus-linguistics query operators: collocations, keywords, KWIC.

corpusama exists to BUILD corpora that Sketch Engine then queries
(reference README; registry/ files point compiled corpora at the Sketch
Engine query stack). The reference itself never runs those queries — it
ships text out. This module closes that loop so a corpusama user can run
the day-one corpus queries INSIDE the engine, distributed:

- ``collocations``: bigram association scores — logDice (Rychlý 2008,
  "A lexicographer-friendly association score", the actual Sketch Engine
  metric — public), pointwise mutual information (Church & Hanks 1990),
  and the t-score. Contingency counts use the standard convention:
  N = total bigrams, f_x = bigrams with w1=x, f_y = bigrams with w2=y.
- ``keywords``: focus-vs-reference keyword extraction by Kilgarriff's
  "simple maths" (Kilgarriff 2009, public): score = (fpm_f + n)/(fpm_r + n)
  over frequencies per million tokens.
- ``kwic``: keyword-in-context concordance — every occurrence of a term
  with ``width`` tokens of left/right context, reconstructed JVM-side
  from the token array (no second scan of the text).

Scale shape (10^12 rows):

- every operator is explode (scan stage) + groupBy counts — map-side
  partial aggregation means shuffles carry distinct-key rows, not tokens;
- collocation marginals join back on single-word keys: Zipf-headed, so
  the marginal tables broadcast (they are vocabulary-sized, not
  corpus-sized); the pair table never self-joins;
- kwic's per-occurrence context comes from ``slice`` on the already-held
  token array — the text column is read exactly once, and the output is
  occurrence-sized, driver never touches it.

All three are pure relational algebra — DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LOG2 = 0.6931471805599453  # ln(2); Spark has no log2 column-arg overload


def _words(text_col: Column) -> Column:
    return F.filter(
        F.split(F.lower(F.trim(F.coalesce(text_col, F.lit("")))), r"\s+"),
        lambda w: F.length(w) > 0,
    )


def _log2(c: Column) -> Column:
    return F.log(c) / F.lit(LOG2)


def _bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    ws = _words(F.col(text_col))
    pairs = F.arrays_zip(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))).alias("w1"),
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))).alias("w2"),
    )
    return docs.select(
        F.col(id_col).alias("id"), F.explode(pairs).alias("p")
    ).select("id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_marginals: bool = True,
) -> DataFrame:
    """(w1, w2, f_xy, f_x, f_y, pmi, t_score, log_dice) for every bigram
    with f_xy >= min_count.

    logDice = 14 + log2(2*f_xy / (f_x + f_y)) — corpus-size independent,
    bounded at 14, the score Sketch Engine word sketches rank by. The
    marginal tables (f_x, f_y) are vocabulary-sized and broadcast; the
    min_count filter runs BEFORE the marginal joins so only the surviving
    head pairs join at all.

    One corpus pass: f_x = Σ_w2 f_xy and f_y = Σ_w1 f_xy exactly, so the
    marginals and N re-aggregate the persisted DISTINCT-PAIR table instead
    of re-exploding the corpus — at 10^12 rows that turns three extra
    full scans into three aggregations of a vocabulary²-bounded table.
    Caller owns the persisted pair stage: release via
    plans.caching.release(result)."""
    from corpusama_spark.plans.caching import own_caches

    bg = _bigrams(docs, id_col, text_col)
    pair = bg.groupBy("w1", "w2").agg(F.count("*").alias("f_xy")).persist()
    left = pair.groupBy("w1").agg(F.sum("f_xy").alias("f_x"))
    right = pair.groupBy("w2").agg(F.sum("f_xy").alias("f_y"))
    total = pair.agg(F.sum("f_xy").cast("double").alias("n"))
    hint = F.broadcast if broadcast_marginals else (lambda d: d)
    j = (
        pair.where(F.col("f_xy") >= min_count)
        .join(hint(left), ["w1"])
        .join(hint(right), ["w2"])
        .crossJoin(hint(total))
    )
    fxy = F.col("f_xy").cast("double")
    fx = F.col("f_x").cast("double")
    fy = F.col("f_y").cast("double")
    pmi = _log2(fxy * F.col("n") / (fx * fy))
    t_score = (fxy - fx * fy / F.col("n")) / F.sqrt(fxy)
    log_dice = F.lit(14.0) + _log2(F.lit(2.0) * fxy / (fx + fy))
    return own_caches(
        j.select(
            "w1",
            "w2",
            "f_xy",
            "f_x",
            "f_y",
            F.round(pmi, 6).alias("pmi"),
            F.round(t_score, 6).alias("t_score"),
            F.round(log_dice, 6).alias("log_dice"),
        ),
        pair,
    )


def keywords(
    focus: DataFrame,
    reference: DataFrame,
    smooth_n: float = 100.0,
    min_focus_count: int = 3,
    text_col: str = "text",
    broadcast_reference: bool = True,
) -> DataFrame:
    """(tok, f_focus, f_ref, fpm_focus, fpm_ref, score): Kilgarriff
    simple-maths keyword score of the focus subcorpus against the
    reference. score > 1 means over-represented in focus; the smoothing
    constant ``smooth_n`` trades rare-word sensitivity for stability
    (Kilgarriff 2009 recommends exposing it, default 100). Tokens absent
    from the reference keep f_ref=0 via the left join."""
    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(_words(F.col(text_col))).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias(name))
        )

    fc = counts(focus, "f_focus")
    rc = counts(reference, "f_ref")
    ftot = fc.agg(F.sum("f_focus").cast("double").alias("ft"))
    rtot = rc.agg(F.sum("f_ref").cast("double").alias("rt"))
    hint = F.broadcast if broadcast_reference else (lambda d: d)
    j = (
        fc.where(F.col("f_focus") >= min_focus_count)
        .join(hint(rc), ["tok"], "left")
        .crossJoin(hint(ftot))
        .crossJoin(hint(rtot))
    )
    fpm_f = F.col("f_focus").cast("double") * F.lit(1e6) / F.col("ft")
    fpm_r = (
        F.coalesce(F.col("f_ref"), F.lit(0)).cast("double")
        * F.lit(1e6)
        / F.col("rt")
    )
    score = (fpm_f + F.lit(smooth_n)) / (fpm_r + F.lit(smooth_n))
    return j.select(
        "tok",
        "f_focus",
        F.coalesce(F.col("f_ref"), F.lit(0)).cast("long").alias("f_ref"),
        F.round(fpm_f, 6).alias("fpm_focus"),
        F.round(fpm_r, 6).alias("fpm_ref"),
        F.round(score, 6).alias("score"),
    )


def kwic(
    docs: DataFrame,
    term: str,
    width: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, pos, left, hit, right): every occurrence of ``term``
    (casefolded whitespace token) with up to ``width`` tokens of context
    either side — the concordance view. ``pos`` is the 0-based token
    offset, so ordering and export are deterministic. One scan: the
    context is sliced from the token array already in hand."""
    ws = _words(F.col(text_col))
    exploded = docs.select(
        F.col(id_col).alias("id"),
        ws.alias("ws"),
    ).select("id", "ws", F.posexplode(F.col("ws")).alias("pos", "tok"))
    lo = F.greatest(F.col("pos") - F.lit(width) + 1, F.lit(1))
    left = F.array_join(
        F.slice(F.col("ws"), lo, F.col("pos") + F.lit(1) - lo), " "
    )
    right = F.array_join(
        F.slice(F.col("ws"), F.col("pos") + F.lit(2), F.lit(width)), " "
    )
    return (
        exploded.where(F.col("tok") == term.lower())
        .select(
            F.col("id").alias(id_col),
            F.col("pos"),
            left.alias("left"),
            F.col("tok").alias("hit"),
            right.alias("right"),
        )
    )


def frequency_profile(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """(tok, freq, rank, cum_share): the corpus frequency list with
    cumulative coverage — rank 1 = most frequent, ``cum_share`` = fraction
    of all token occurrences covered by ranks 1..rank. The table every
    vocabulary decision reads: "the top N tokens cover X% of the corpus"
    is one filter on this output (and the Zipf head it exposes is why the
    broadcast-model pruning in classifier/lm degrades so little).

    Ties break (freq desc, tok asc) so ranks are deterministic. Scale
    note (round-5 rewrite): ranks and running sums over the
    vocabulary-sized count table (millions of rows at web scale) go
    through prefixsum's range-partitioned two-phase pass, and the
    grand total is an aggregate broadcast — no single-task window
    anywhere; the corpus-sized work is the one groupBy count before it.
    """
    from corpusama_spark.operators.prefixsum import (
        attach_global_positions,
        ranged_cumsum,
    )
    from corpusama_spark.plans.caching import own_caches

    uni = (
        docs.select(F.explode(_words(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    ranked = attach_global_positions(
        uni, [F.desc("freq"), F.asc("tok")], "rank"
    )
    cum = ranged_cumsum(ranked, ["rank"], ["freq"])
    tot = uni.agg(F.sum("freq").cast("double").alias("_tot"))
    out = cum.crossJoin(F.broadcast(tot)).select(
        "tok",
        "freq",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("cum_freq") / F.col("_tot"), 6).alias("cum_share"),
    )
    return own_caches(out, ranked, cum)


def burrows_delta(
    docs: DataFrame,
    text_col: str,
    group_col: str,
    top_n: int = 50,
) -> DataFrame:
    """Burrows' Delta stylometric distance between every pair of groups
    (Burrows 2002, "'Delta': a measure of stylistic difference" — public):
    take the ``top_n`` most frequent tokens corpus-wide, compute each
    group's RELATIVE frequency of each (count / group token total),
    z-score each token's frequencies across groups, and Delta(a,b) is the
    mean |z_a − z_b| over the terms. The "which sources write alike?"
    audit — near-zero Delta between two 'different' crawl sources is the
    mirrored-site smell that de-dup by content hash misses.

    Conventions pinned for the oracle: top_n ties break by token asc;
    z-scores use the POPULATION std over the group set including zeros
    for groups lacking the token (a group not using a common word IS the
    signal); tokens whose std is 0 (identical share everywhere) are
    excluded from the mean and ``n_terms`` reports the survivors.

    Scale shape: the corpus collapses to (group × token) counts once
    (map-side combinable); the top-N list and group totals are tiny;
    everything after — the grid completion, z-scores, pairwise join —
    is (top_n × n_groups)-sized. The pair join is on the token key of
    the z grid, never a corpus self-join.
    """
    if top_n < 1:
        raise ValueError("burrows_delta needs top_n >= 1")
    gt = (
        docs.select(
            F.col(group_col).alias("g"),
            F.explode(_words(F.col(text_col))).alias("tok"),
        )
        .groupBy("g", "tok")
        .agg(F.count("*").alias("c"))
    )
    top = (
        gt.groupBy("tok")
        .agg(F.sum("c").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(top_n)
        .select("tok")
    )
    gtot = gt.groupBy("g").agg(F.sum("c").alias("gt"))
    # complete grid: every (group, top token), zero-filled
    grid = (
        gtot.crossJoin(F.broadcast(top))
        .join(gt, ["g", "tok"], "left")
        .select(
            "g",
            "tok",
            (F.coalesce("c", F.lit(0)) / F.col("gt")).alias("f"),
        )
    )
    stats = grid.groupBy("tok").agg(
        F.avg("f").alias("mu"),
        # clamp the epsilon-negative variance float error: sqrt(-1e-19)
        # is NaN, and Spark orders NaN > 0 so it would PASS the filter
        F.sqrt(
            F.greatest(
                F.avg(F.col("f") * F.col("f")) - F.avg("f") * F.avg("f"),
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    z = (
        grid.join(F.broadcast(stats), "tok")
        .where(F.col("sigma") > 0)
        .select(
            "g", "tok", ((F.col("f") - F.col("mu")) / F.col("sigma")).alias("z")
        )
    )
    a = z.select(
        F.col("g").alias("g_a"), "tok", F.col("z").alias("z_a")
    )
    b = z.select(
        F.col("g").alias("g_b"), "tok", F.col("z").alias("z_b")
    )
    return (
        a.join(b, "tok")
        .where(F.col("g_a") < F.col("g_b"))
        .groupBy("g_a", "g_b")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.round(F.avg(F.abs(F.col("z_a") - F.col("z_b"))), 6).alias(
                "delta"
            ),
        )
        .orderBy("g_a", "g_b")
    )
