"""Deterministic relational sketches: Count-Min and HyperLogLog audits.

At 10^12 rows, exact per-key answers stop being the default — frequency
and cardinality questions run on SKETCHES (Cormode-Muthukrishnan's
Count-Min, Flajolet's HyperLogLog; both public). Spark ships HLL behind
``approx_count_distinct``, but its estimate is engine-private; the same
data on another engine gives a different number, so a sketch answer
can't sit in a cross-engine contract. These implementations fix that by
deriving every hash from md5: the sketch content is a pure function of
the data, so the SAME estimate falls out of Spark and DuckDB — the
sketch path stays auditable while staying sketch-cheap.

Both sketches are pure relational algebra over the ALREADY-AGGREGATED
key table (vocabulary / distinct-key sized, not corpus sized):

- Count-Min: depth×width counters = one groupBy over (row, bucket);
  point estimate = min over depth of the hit counters. The audit table
  pairs each heavy hitter's estimate with its exact count — CMS NEVER
  underestimates, so ``est − exact ≥ 0`` is a checkable invariant.
- HyperLogLog: register = low bits of the hash, rank = leading-zero
  count of the rest (computed EXACTLY via the bit-length of the binary
  string — no float log), estimate = the harmonic-mean formula with the
  standard linear-counting small-range correction.

Scale shape: the corpus collapses to per-key counts first (map-side
combine); everything after runs on key-table-sized data, and the
sketch itself is depth×width (CMS) or m (HLL) rows — constant."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "cms_heavy_hitters",
    "hll_distinct",
    "misra_gries_heavy_hitters",
]


def cms_heavy_hitters(
    docs: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 256,
    k: int = 20,
) -> DataFrame:
    """(tok, exact, est, overestimate) for the k most frequent tokens:
    exact counts next to what a depth×width Count-Min sketch would
    report for them. The table that answers "is the sketch config good
    enough to drive the hot-token gate?" — overestimate/exact is the
    observed error the theory bounds by e·N/width w.p. 1−e^−depth.

    The sketch is built FROM the vocabulary count table (explode depth
    per distinct token, groupBy (row, bucket) sums the counts), so its
    cost is vocab×depth, not corpus×depth; candidates are the exact
    top-k (ties broken tok asc). Integer end to end — engines agree
    bit-for-bit."""
    depth, width, k = int(depth), int(width), int(k)
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
        ),
        lambda w: F.length(w) > 0,
    )
    vocab = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("exact"))
    )
    rows = F.sequence(F.lit(0), F.lit(depth - 1))
    # salt includes j so the depth hash rows are independent
    hashed = vocab.select("tok", "exact", F.explode(rows).alias("j"))
    hashed = hashed.withColumn(
        "bucket",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("j").cast("string"),
                            F.lit(":"),
                            F.col("tok"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % width
        ),
    )
    sketch = hashed.groupBy("j", "bucket").agg(
        F.sum("exact").cast("long").alias("cell")
    )
    from corpusama_spark.operators.prefixsum import attach_global_positions
    from corpusama_spark.plans.caching import own_caches

    ranked = attach_global_positions(vocab, [F.desc("exact"), F.asc("tok")], "rnk")
    top = ranked.withColumn("rnk", F.col("rnk").cast("int")).where(
        F.col("rnk") <= k
    )
    est = (
        top.select("tok", "exact", "rnk", F.explode(rows).alias("j"))
        .withColumn(
            "bucket",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("j").cast("string"),
                                F.lit(":"),
                                F.col("tok"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % width
            ),
        )
        .join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("tok", "exact", "rnk")
        .agg(F.min("cell").cast("long").alias("est"))
    )
    out = est.select(
        "tok",
        "exact",
        "est",
        (F.col("est") - F.col("exact")).cast("long").alias("overestimate"),
    ).orderBy(F.desc("exact"), F.asc("tok"))
    return own_caches(out, ranked)


def hll_distinct(
    df: DataFrame,
    group_col: str,
    key_col: str,
    p: int = 6,
) -> DataFrame:
    """(group, n_exact, hll_est, rel_err, n_zero_regs, linear_counting)
    — HyperLogLog distinct-count estimate per group next to the exact
    answer. m = 2^p registers; hash = 60-bit md5 prefix of the key;
    register = low p bits; rank = leading-zero count of the remaining
    60−p bits + 1, computed exactly as (60−p+1) − bit_length(w) via the
    binary-string length (w = 0 saturates at 60−p+1). Estimate is
    α_m·m²/Σ2^(−M_j) over ALL m registers (empty registers contribute
    2^0 = 1), with the standard linear-counting correction
    m·ln(m/zeros) when est ≤ 2.5m and zeros > 0. α for m = 64 is the
    published 0.709 constant (Flajolet et al. 2007).

    The per-(group, register) max collapses in one map-side-combinable
    groupBy; the register table is m rows per group. The exact count is
    computed alongside for the audit — at true 10^12 scale you run ONLY
    the sketch branch; this operator is how you qualify p first."""
    p = int(p)
    m = 1 << p
    if p == 4:
        alpha = 0.673
    elif p == 5:
        alpha = 0.697
    elif p == 6:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    bits = 60 - p
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    reg = h % m
    w = F.shiftright(h, p)  # integer shift: no double round-trip
    rank = F.when(F.col("_w") > 0, F.lit(bits + 1) - F.length(F.bin("_w"))
                  ).otherwise(F.lit(bits + 1))
    regs = (
        df.select(
            F.col(group_col).alias("g"),
            reg.alias("reg"),
            w.alias("_w"),
        )
        .withColumn("rank", rank)
        .groupBy("g", "reg")
        .agg(F.max("rank").alias("mrank"))
    )
    per = regs.groupBy("g").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mrank"))).alias("_z"),
        F.count("*").cast("long").alias("_nonzero"),
    )
    # empty registers: each contributes 2^0 = 1 to the harmonic sum
    zcol = F.col("_z") + (F.lit(m) - F.col("_nonzero"))
    raw = F.lit(alpha * m * m) / zcol
    zeros = (F.lit(m) - F.col("_nonzero")).cast("double")
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    use_lc = (raw <= 2.5 * m) & (zeros > 0)
    exact = df.groupBy(F.col(group_col).alias("g")).agg(
        F.countDistinct(key_col).cast("long").alias("n_exact")
    )
    return (
        per.join(exact, "g")
        .select(
            F.col("g").alias(group_col),
            "n_exact",
            F.round(F.when(use_lc, lc).otherwise(raw), 6).alias("hll_est"),
            F.round(
                F.abs(F.when(use_lc, lc).otherwise(raw) - F.col("n_exact"))
                / F.col("n_exact"),
                6,
            ).alias("rel_err"),
            (F.lit(m) - F.col("_nonzero")).cast("long").alias(
                "n_zero_regs"
            ),
            use_lc.alias("linear_counting"),
        )
    )


def misra_gries_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    k: int = 64,
    min_share: float = 0.01,
) -> DataFrame:
    """EXACT heavy hitters with Misra–Gries-bounded shuffle (Misra &
    Gries 1982): each partition streams its tokens through ≤ ``k``
    decrement counters inside one Arrow pass and emits at most k
    candidate rows; the union of candidates PROVABLY contains every
    token with global frequency > N/(k+1) (if a token's MG estimate
    were ≤ 0 in every partition, summing the per-partition bounds
    est_i ≥ f_i − N_i/(k+1) would force f ≤ N/(k+1) — contradiction),
    so a second exact-count pass over the candidate set alone returns
    the EXACT set and counts of tokens with share ≥ ``min_share``
    (which must be > 1/(k+1) for the guarantee to bite — enforced).

    Why not plain groupBy: at 10^12 rows the token shuffle carries the
    whole Zipf tail (billions of distinct keys); MG caps the exchange
    at k rows per partition, and the verify join touches only
    |candidates| keys. Output (token, n, share) is EXACT and therefore
    partition-count invariant — the sketch bounds WORK, never answers.

    In-pass batching: per Arrow batch, token counts come from a C-speed
    Counter merge; when the counter table exceeds k, the (size−k)-th
    smallest count is subtracted from all and non-positives drop — the
    standard batched MG decrement (equivalent to that many single
    decrements, same invariant).
    """
    import re
    from collections import Counter
    from collections.abc import Iterator

    import pandas as pd

    # Java regex \s is ASCII-only; python str.split() also breaks on
    # unicode spaces, which would fragment tokens differently and could
    # void the candidate-superset guarantee — pin the exact same class.
    ws = re.compile("[ \t\n\x0b\f\r]+")

    k = int(k)
    if min_share <= 1.0 / (k + 1):
        raise ValueError(
            f"min_share {min_share} must exceed 1/(k+1) = {1.0 / (k + 1):.6f}"
            " for the MG candidate guarantee"
        )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: Counter = Counter()
        for pdf in batches:
            batch = Counter()
            for t in pdf["t"]:
                if t:
                    batch.update(
                        w for w in ws.split(t.lower().strip()) if w
                    )
            state.update(batch)
            if len(state) > k:
                cuts = sorted(state.values())
                m = cuts[len(state) - k - 1]
                state = Counter(
                    {t: c - m for t, c in state.items() if c > m}
                )
        yield pd.DataFrame({"token": list(state.keys())})

    cands = (
        df.select(F.col(text_col).alias("t"))
        .mapInPandas(gen, schema="token string")
        .distinct()
    )
    toks = df.select(
        F.explode(
            F.filter(
                F.split(
                    F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
                    r"\s+",
                ),
                lambda w: F.length(w) > 0,
            )
        ).alias("token")
    )
    total = toks.agg(F.count("*").alias("n_total"))
    exact = (
        toks.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .where(F.col("n") >= F.lit(float(min_share)) * F.col("n_total"))
        .select(
            "token",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("n_total"), 6).alias("share"),
        )
        .orderBy(F.desc("n"), "token")
    )


def hll_overlap(
    df: DataFrame,
    group_col: str,
    key_col: str,
    p: int = 6,
) -> DataFrame:
    """Pairwise source-overlap via HyperLogLog SET ALGEBRA (X219;
    Flajolet et al. 2007): for every unordered group pair (a, b),
    estimate |A∪B| by MERGING the two groups' register tables
    (per-register max — the defining HLL property: the union sketch is
    free) and |A∩B| by inclusion-exclusion, next to the exact answers —
    the "how much does source B re-crawl source A?" audit that decides
    crawl budgets and mixing weights WITHOUT ever joining raw keys
    across sources.

    Output per pair: est_a, est_b, union_est, overlap_est (clamped at
    0), jaccard_est, and the exact n_union / n_overlap / jaccard for the
    audit. Inclusion-exclusion error compounds on small overlaps — the
    exact columns alongside are how you qualify p before trusting the
    sketch branch alone at scale.

    Scale shape (10^12 rows): the corpus collapses ONCE to the
    (group, register) max-rank table (map-side combinable, m = 2^p rows
    per group); pair merging happens on that sketch table only — two
    broadcast equi-joins against the (bounded, |groups|²/2-row) pair
    list, never an OR-condition nested loop. The EXACT branch self-joins
    the distinct (group, key) table — audit-only, like hll_distinct's
    exact column; at true scale run only the sketch branch.

    Hashing matches hll_distinct exactly (60-bit md5 prefix of the KEY
    alone, so one key lands in the same register in every group — the
    precondition for register-max union).
    """
    p = int(p)
    m = 1 << p
    if p == 4:
        alpha = 0.673
    elif p == 5:
        alpha = 0.697
    elif p == 6:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    bits = 60 - p
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    rank = F.when(
        F.col("_w") > 0, F.lit(bits + 1) - F.length(F.bin("_w"))
    ).otherwise(F.lit(bits + 1))
    regs = (
        df.select(
            F.col(group_col).alias("g"),
            (h % m).alias("reg"),
            F.shiftright(h, p).alias("_w"),
        )
        .withColumn("rank", rank)
        .groupBy("g", "reg")
        .agg(F.max("rank").alias("mrank"))
    )

    def est(zcol, nonzero):
        zeros = (F.lit(m) - nonzero).cast("double")
        raw = F.lit(alpha * m * m) / (zcol + (F.lit(m) - nonzero))
        lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
        return F.when((raw <= 2.5 * m) & (zeros > 0), lc).otherwise(raw)

    per_g = regs.groupBy("g").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mrank"))).alias("_z"),
        F.count("*").cast("long").alias("_nz"),
    )
    ex_g = df.groupBy(F.col(group_col).alias("g")).agg(
        F.countDistinct(key_col).cast("long").alias("n_exact")
    )
    one = per_g.join(ex_g, "g").select(
        "g", F.round(est(F.col("_z"), F.col("_nz")), 6).alias("e"), "n_exact"
    )
    pairs = (
        one.select(F.col("g").alias("g_a"))
        .crossJoin(F.broadcast(one.select(F.col("g").alias("g_b"))))
        .where(F.col("g_a") < F.col("g_b"))
    )
    merged = (
        pairs.join(F.broadcast(regs), F.col("g") == F.col("g_a"))
        .select("g_a", "g_b", "reg", "mrank")
        .unionByName(
            pairs.join(F.broadcast(regs), F.col("g") == F.col("g_b")).select(
                "g_a", "g_b", "reg", "mrank"
            )
        )
        .groupBy("g_a", "g_b", "reg")
        .agg(F.max("mrank").alias("mrank"))
    )
    per_pair = merged.groupBy("g_a", "g_b").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mrank"))).alias("_z"),
        F.count("*").cast("long").alias("_nz"),
    )
    union_est = per_pair.select(
        "g_a",
        "g_b",
        F.round(est(F.col("_z"), F.col("_nz")), 6).alias("union_est"),
    )
    ks = df.select(
        F.col(group_col).alias("g"), F.col(key_col).alias("k")
    ).distinct()
    inter = (
        ks.alias("x")
        .join(
            ks.alias("y"),
            (F.col("x.k") == F.col("y.k"))
            & (F.col("x.g") < F.col("y.g")),
        )
        .groupBy(
            F.col("x.g").alias("g_a"), F.col("y.g").alias("g_b")
        )
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    ea = one.select(
        F.col("g").alias("g_a"), F.col("e").alias("est_a"),
        F.col("n_exact").alias("_xa"),
    )
    eb = one.select(
        F.col("g").alias("g_b"), F.col("e").alias("est_b"),
        F.col("n_exact").alias("_xb"),
    )
    out = (
        union_est.join(F.broadcast(ea), "g_a")
        .join(F.broadcast(eb), "g_b")
        .join(F.broadcast(inter), ["g_a", "g_b"], "left")
        .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)))
    )
    overlap_est = F.round(
        F.greatest(
            F.lit(0.0),
            F.col("est_a") + F.col("est_b") - F.col("union_est"),
        ),
        6,
    )
    return out.select(
        "g_a",
        "g_b",
        "est_a",
        "est_b",
        "union_est",
        overlap_est.alias("overlap_est"),
        F.round(overlap_est / F.col("union_est"), 6).alias("jaccard_est"),
        (F.col("_xa") + F.col("_xb") - F.col("n_overlap")).alias("n_union"),
        "n_overlap",
        F.round(
            F.col("n_overlap").cast("double")
            / (F.col("_xa") + F.col("_xb") - F.col("n_overlap")),
            6,
        ).alias("jaccard_exact"),
    ).orderBy("g_a", "g_b")
