"""BM25 document ranking against a small query-term set.

The retrieval-side companion to the keyword/collocation family
(colloc.py): score every document against a query by Okapi BM25
(Robertson & Zaragoza 2009), the default lexical ranker in Lucene — in a
training-data pipeline this is how benchmark-adjacent or topic-targeted
documents get surfaced/filtered at corpus scale (e.g. quality-boosting a
topical slice, or locating eval-set near-matches that n-gram
decontamination's exact matching misses).

Scale shape (10^12 docs):

- tokens explode in the scan stage and are IMMEDIATELY semi-filtered by
  the broadcast query-term set, so the (doc, term) tf table is
  |q|-bounded per doc, not vocabulary-bounded;
- document length is a scan-stage expression on the SAME pass (no second
  scan, no separate explode);
- df/N/avgdl are one tiny term-level aggregate and one single-row global
  aggregate, broadcast back (the colloc.py/lm.py marginal-join pattern);
- the final score is one groupBy(doc) over ≤|q| rows per doc.

Everything is pure JVM expressions (log/round included) — DuckDB-oracle
exact at 6 decimals, the topk_cosine float-stability precedent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, score, n_hit) for every document with at least one query term,
    descending-ranked by Okapi BM25 with Lucene's non-negative idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``. N and avgdl count every doc
    with non-empty text (standard corpus statistics, not just hits).
    Scores round to 6 decimals; ties are deterministic via id ordering in
    downstream consumers."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT_RE),
        lambda t: F.length(t) > 0,
    )
    base = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), toks.alias("toks"))
        .where(F.size("toks") > 0)
    )
    # dl rides the same projection; the explode is query-filtered in the
    # scan stage so at most |q| distinct terms survive per doc
    tf = (
        base.select("id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
        .where(F.col("term").isin(*terms))
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size("toks")).alias("avgdl"),
    )
    df_t = tf.groupBy("term").agg(F.countDistinct("id").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "part",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.round(F.sum("part"), 6).alias("score"),
            F.count("*").alias("n_hit"),
        )
        .select(F.col("id").alias(id_col), "score", "n_hit")
    )


def rbo_vocab_rankings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    p: float = 0.9,
) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010, truncated form) between
    the corpus's two natural vocabulary rankings — tokens by total
    FREQUENCY vs tokens by DOCUMENT FREQUENCY, both top-k with (count
    desc, tok asc) tie-breaks. RBO_trunc = (1−p)/p · Σ_{d≤k} p^d ·
    |A_d ∩ B_d| / d weights agreement at the head exponentially more
    than the tail — exactly the question "do these two selection rules
    pick the same vocabulary where it matters?". One row out: rbo plus
    the plain overlap and Jaccard at depth k for un-weighted context.

    The identity that keeps it relational: an item in both lists enters
    the intersection at depth max(r_A, r_B), so |A_d ∩ B_d| is a
    cumulative count over d — no per-depth set intersection ever
    materializes. Cost: two vocab-sized rank windows, one vocab join,
    one k-row broadcast; the corpus is read once for the counts.
    """
    from pyspark.sql.window import Window

    k, p = int(k), float(p)
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
        ),
        lambda w: F.length(w) > 0,
    )
    counts = (
        docs.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(
            F.count("*").cast("long").alias("freq"),
            F.countDistinct("id").cast("long").alias("df"),
        )
    )
    from corpusama_spark.operators.prefixsum import attach_global_positions
    from corpusama_spark.plans.caching import own_caches

    ra = attach_global_positions(counts, [F.desc("freq"), F.asc("tok")], "ra")
    rb = attach_global_positions(ra, [F.desc("df"), F.asc("tok")], "rb")
    ranked = rb.where((F.col("ra") <= k) | (F.col("rb") <= k)).select(
        "tok", "ra", "rb"
    )
    both = ranked.where((F.col("ra") <= k) & (F.col("rb") <= k)).select(
        "tok", F.greatest("ra", "rb").alias("enter")
    )
    depths = docs.sparkSession.range(1, k + 1).select(
        F.col("id").cast("long").alias("d")
    )
    per_depth = (
        F.broadcast(depths)
        .join(both, F.col("enter") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("tok").cast("long").alias("ov"))
    )
    agg = per_depth.agg(
        F.sum(
            F.pow(F.lit(p), F.col("d")) * F.col("ov") / F.col("d")
        ).alias("_s"),
        F.max(F.when(F.col("d") == k, F.col("ov"))).alias("_ovk"),
    )
    out = agg.select(
        F.lit(k).cast("long").alias("k"),
        F.round(F.lit((1.0 - p) / p) * F.col("_s"), 6).alias("rbo"),
        F.col("_ovk").cast("long").alias("overlap_at_k"),
        F.round(
            F.col("_ovk") / (2.0 * k - F.col("_ovk")), 6
        ).alias("jaccard_at_k"),
    )
    return own_caches(out, ra, rb)


def rrf_fuse(
    df: DataFrame,
    id_col: str,
    signals: dict[str, Column],
    k: int = 60,
    topn: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (X211, Cormack, Clarke & Buettcher 2009)
    of several quality signals into one ranking:

        rrf(d) = Σ_s 1 / (k + rank_s(d)),   k = 60 by default

    RRF is the standard way to combine incomparable signals (lexical
    score, length heuristics, model scores) without calibrating scales —
    only RANKS enter the sum, so a signal with wild units can't dominate.
    Every signal ranks DESCENDING (higher = better) with the id as the
    deterministic tiebreak.

    Scale shape (10^12 rows): global per-signal ranks are computed
    WITHOUT a single-partition global window. All |signals| projections
    union into long format (id, sig, v) and range-repartition on
    (sig, v desc, id) — each signal occupies a contiguous partition
    range, so one per-partition count collect (|parts| rows) + broadcast
    offsets turns per-partition row_numbers into global union positions;
    per-signal rank = union position − sig·n. ONE range exchange + one
    hash groupBy(id) total, both map-side combinable; the final top-N
    compiles to TakeOrderedAndProject.

    Output: id, rank_<name> per signal, rrf_score (9 dp), fused_rank.
    """
    from pyspark.sql.window import Window

    names = list(signals)
    spark = df.sparkSession
    parts = []
    for i, name in enumerate(names):
        parts.append(
            df.select(
                F.col(id_col).alias("_id"),
                F.lit(i).alias("_sig"),
                signals[name].cast("double").alias("_v"),
            )
        )
    longf = parts[0]
    for p in parts[1:]:
        longf = longf.unionByName(p)

    n_parts = spark.sparkContext.defaultParallelism
    ranged = (
        longf.repartitionByRange(
            n_parts, F.asc("_sig"), F.desc("_v"), F.asc("_id")
        )
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    psums = sorted(
        (r["_pid"], r["n"])
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    total = sum(n for _, n in psums)
    n_rows = total // len(names)
    offsets, running = [], 0
    for pid, n in psums:
        offsets.append((pid, running))
        running += n
    off = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(
        F.asc("_sig"), F.desc("_v"), F.asc("_id")
    )
    ranked = (
        ranged.join(F.broadcast(off), "_pid")
        .withColumn(
            "_rank",
            (
                F.col("_off")
                + F.row_number().over(w)
                - F.col("_sig") * F.lit(n_rows)
            ).cast("long"),
        )
        .drop("_pid", "_off", "_v")
    )
    fused = ranked.groupBy("_id").agg(
        *[
            F.max(F.when(F.col("_sig") == i, F.col("_rank")))
            .cast("long")
            .alias(f"rank_{name}")
            for i, name in enumerate(names)
        ],
        F.round(
            F.sum(F.lit(1.0) / (F.lit(float(k)) + F.col("_rank"))), 9
        ).alias("rrf_score"),
    )
    out = fused.select(
        F.col("_id").alias(id_col),
        *[f"rank_{name}" for name in names],
        "rrf_score",
    ).orderBy(F.desc("rrf_score"), F.asc(id_col))
    if topn is not None:
        out = out.limit(topn)
    # `ranged` stays persisted until the caller's action completes — an
    # eager unpersist here would let the range exchange recompute with
    # fresh sampled boundaries and invalidate the collected offsets;
    # the ContextCleaner reclaims it once unreferenced.
    return out


def maxsim_topk(
    doc_units: DataFrame,
    query_units: DataFrame,
    k: int = 5,
    id_cols: tuple[str, str] = ("doc_id", "unit_id"),
    q_cols: tuple[str, str] = ("query_id", "term_id"),
    vec_col: str = "vec",
) -> DataFrame:
    """Late-interaction (ColBERT-shape; Khattab & Zaharia 2020, public)
    MaxSim retrieval over MULTI-vector representations: score(q, d) =
    Σ_terms max_units cos(term_vec, unit_vec), top-k docs per query.
    Single-vector cosine (similarity.topk_cosine) collapses a document
    to one point and loses which PART matched; MaxSim keeps per-unit
    vectors (sentences, image regions, caption tokens) and lets every
    query term pick its best-matching unit — the standard quality step
    up for retrieval-based curation (hard-negative mining, eval-set
    contamination at passage granularity).

    Relational end-to-end: per-row norms in the scan stage, one
    broadcast join of the (small) query-term side against doc units, a
    zip_with/aggregate dot product, then two groupBys (max over units,
    sum over terms) and a per-query rank window. Scores round to 6dp so
    the DuckDB oracle replays exactly.

    Scale shape: this is the AUDIT tier — the full term×unit join is
    |query_units| × |doc_units| and only sane with a broadcast-size
    query side. The 10^12-doc path runs the existing ANN tier
    (similarity.axis_lsh_topk / pq.ivfpq_topk) per TERM to shortlist
    candidate docs, then applies this exact MaxSim only to the
    shortlist — same tiering as IVF-before-brute-force.
    """
    d_id, d_unit = id_cols
    q_id, q_term = q_cols
    norm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x)
    )  # noqa: E731
    d = doc_units.select(
        d_id,
        d_unit,
        F.transform(vec_col, lambda x: x.cast("double")).alias("_dv"),
    ).withColumn("_dn", norm(F.col("_dv")))
    q = query_units.select(
        q_id,
        q_term,
        F.transform(vec_col, lambda x: x.cast("double")).alias("_qv"),
    ).withColumn("_qn", norm(F.col("_qv")))
    dot = F.aggregate(
        F.zip_with("_qv", "_dv", lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    cos = F.when(
        (F.col("_qn") > 0) & (F.col("_dn") > 0),
        dot / (F.col("_qn") * F.col("_dn")),
    ).otherwise(F.lit(0.0))
    pair = (
        d.join(F.broadcast(q))
        .withColumn("_cos", F.round(cos, 6))
        .groupBy(q_id, q_term, d_id)
        .agg(F.max("_cos").alias("_term_max"))
    )
    scored = pair.groupBy(q_id, d_id).agg(
        F.round(F.sum("_term_max"), 6).alias("maxsim")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(q_id).orderBy(
        F.desc("maxsim"), F.col(d_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(q_id, "rank")
    )
