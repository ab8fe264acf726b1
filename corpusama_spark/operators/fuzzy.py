"""Blocked edit-distance near-duplicate pairs (record-linkage style).

MinHash/SimHash (operators/dedup.py) catch near-duplicates that share
SHINGLES — they miss short texts that differ by a few character edits
(OCR noise, typo'd re-posts, template fills), where the right metric is
Levenshtein distance. Computing it all-pairs is O(n²); the classical
record-linkage answer (Fellegi-Sunter blocking, public) is: cheap BLOCK
keys gather plausible candidates, the expensive exact verify runs only
inside blocks.

Blocking here is two-pass — normalized PREFIX and normalized SUFFIX —
because a single leading edit evicts a pair from the prefix block but
not the suffix block (and vice versa); a pair is missed only if edits
hit BOTH ends. Candidates from the two passes are unioned and de-duped
BEFORE the Levenshtein verify so no pair is scored twice. Both the
length prefilter (|len_a − len_b| ≤ k, a Levenshtein lower bound) and
the verify run JVM-side (Spark's built-in ``levenshtein``) — no Python
anywhere.

Scale shape (10^12 rows): block self-joins are equi-joins on the block
key; ``max_block`` drops flood blocks (empty/boilerplate pileups — the
same guard every LSH family here uses) so no block goes quadratic;
dropped-block members still meet via their other key. The union+distinct
is keyed by (id_a, id_b) — pair-sized, not corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "edit_near_pairs",
    "bleu_pairs",
    "ppjoin_pairs",
    "agreement_patterns",
    "fs_em_weights",
    "fs_linkage_table",
]


def edit_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 3,
    prefix_len: int = 8,
    max_block: int = 200,
) -> DataFrame:
    """(id_a, id_b, dist, sim) for candidate pairs with Levenshtein
    distance ≤ ``max_dist`` on the whitespace-normalized lowercased
    text; ``sim`` = 1 − dist / max(len_a, len_b). id_a < id_b, each
    pair once. See module docstring for the blocking design."""
    max_dist = int(max_dist)
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "
        )
    )
    base = df.select(
        F.col(id_col).alias("id"), norm.alias("t")
    ).where(F.length("t") > 0)
    keyed = base.select(
        "id",
        "t",
        F.length("t").alias("ln"),
        F.substring("t", 1, prefix_len).alias("pk"),
        F.substring(F.reverse(F.col("t")), 1, prefix_len).alias("sk"),
    )

    def _block(key: str) -> DataFrame:
        side = keyed.select(F.col(key).alias("bk"), "id", "t", "ln")
        ok = (
            side.groupBy("bk")
            .agg(F.count("*").alias("_c"))
            .where(F.col("_c") <= max_block)
            .select("bk")
        )
        side = side.join(ok, "bk")
        a = side.select(
            "bk",
            F.col("id").alias("id_a"),
            F.col("t").alias("t_a"),
            F.col("ln").alias("ln_a"),
        )
        b = side.select(
            "bk",
            F.col("id").alias("id_b"),
            F.col("t").alias("t_b"),
            F.col("ln").alias("ln_b"),
        )
        return a.join(b, "bk").where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.abs(F.col("ln_a") - F.col("ln_b")) <= max_dist
            )
        )

    cands = (
        _block("pk")
        .unionByName(_block("sk"))
        .dropDuplicates(["id_a", "id_b"])
    )
    d = F.levenshtein("t_a", "t_b")
    return (
        cands.select(
            "id_a",
            "id_b",
            d.alias("dist"),
            F.round(
                1.0
                - d / F.greatest(F.col("ln_a"), F.col("ln_b")).cast("double"),
                6,
            ).alias("sim"),
        )
        .where(F.col("dist") <= max_dist)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"), "sim")
    )


def bleu_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Clipped n-gram precision (BLEU-2, Papineni et al. 2002) for each
    candidate pair: unigram and bigram precisions of doc ``id_a``
    against reference ``id_b`` with per-gram count clipping, brevity
    penalty, and their geometric mean ``bleu2`` — the graded overlap
    verdict where Jaccard's set semantics are too blunt (Jaccard
    ignores token MULTIPLICITY; template spam that repeats one line 50×
    has high BLEU against its twin but middling Jaccard).

    ``pairs`` carries (id_a, id_b); texts are whitespace-tokenized,
    lowercased. Pairs where either side has no bigram (≤1 token) get
    p2 = 0 (unsmoothed BLEU convention), hence bleu2 = 0.

    Scale shape: per-doc n-gram COUNT tables are built once from one
    corpus explode (map-side combinable, never per pair); the verify is
    two equi-joins — (id_a, n, gram) then (id_b, n, gram) — whose work
    is Σ_pairs |gram-vocab of a|, linear in candidate volume, not
    corpus². The clipped min and all divides run JVM-side.
    """
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
        ),
        lambda w: F.length(w) > 0,
    )
    base = docs.select(F.col(id_col).alias("id"), toks.alias("ws"))
    uni = base.select(
        "id", F.lit(1).alias("n"), F.explode("ws").alias("gram")
    )
    bi = base.select(
        "id",
        F.lit(2).alias("n"),
        F.explode(
            F.zip_with(
                F.slice(F.col("ws"), 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                F.slice(F.col("ws"), 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        ).alias("gram"),
    )
    gcounts = (
        uni.unionByName(bi)
        .groupBy("id", "n", "gram")
        .agg(F.count("*").cast("long").alias("c"))
    )
    lens = gcounts.groupBy("id", "n").agg(
        F.sum("c").cast("long").alias("total")
    )
    ga = gcounts.select(
        F.col("id").alias("id_a"), "n", "gram", F.col("c").alias("ca")
    )
    gb = gcounts.select(
        F.col("id").alias("id_b"), "n", "gram", F.col("c").alias("cb")
    )
    clipped = (
        pairs.join(ga, "id_a")
        .join(gb, ["id_b", "n", "gram"], "left")
        .groupBy("id_a", "id_b", "n")
        .agg(
            F.sum(F.least(F.col("ca"), F.coalesce(F.col("cb"), F.lit(0))))
            .cast("long")
            .alias("match")
        )
    )
    la = lens.select(
        F.col("id").alias("id_a"), "n", F.col("total").alias("ta")
    )
    lb = lens.select(
        F.col("id").alias("id_b"), "n", F.col("total").alias("tb")
    )
    pn = (
        clipped.join(la, ["id_a", "n"])
        .join(lb, ["id_b", "n"], "left")
        .select(
            "id_a",
            "id_b",
            "n",
            (F.col("match") / F.col("ta")).alias("p"),
            "ta",
            F.coalesce("tb", F.lit(0)).alias("tb"),
        )
    )
    wide = pn.groupBy("id_a", "id_b").agg(
        F.coalesce(
            F.max(F.when(F.col("n") == 1, F.col("p"))), F.lit(0.0)
        ).alias("p1"),
        F.coalesce(
            F.max(F.when(F.col("n") == 2, F.col("p"))), F.lit(0.0)
        ).alias("p2"),
        F.max(F.when(F.col("n") == 1, F.col("ta"))).alias("len_a"),
        F.max(F.when(F.col("n") == 1, F.col("tb"))).alias("len_b"),
    )
    bp = F.when(F.col("len_a") >= F.col("len_b"), F.lit(1.0)).otherwise(
        F.exp(F.lit(1.0) - F.col("len_b") / F.col("len_a"))
    )
    return wide.select(
        "id_a",
        "id_b",
        F.col("len_a").cast("long").alias("len_a"),
        F.col("len_b").cast("long").alias("len_b"),
        F.round("p1", 6).alias("p1"),
        F.round("p2", 6).alias("p2"),
        F.round(
            F.when(
                (F.col("p1") > 0) & (F.col("p2") > 0),
                bp * F.exp((F.log("p1") + F.log("p2")) / 2),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("bleu2"),
    ).orderBy("id_a", "id_b")


def ppjoin_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT threshold-Jaccard self-join via prefix filtering (PPJoin,
    Xiao et al. 2008, with the AllPairs length filter of Bayardo et al.
    2007): every pair at word-``shingle_n``-gram Jaccard ≥ ``threshold``,
    no df-cap and no approximation. Output (id_a, id_b, jaccard) —
    schema- and value-identical to ``exact_jaccard_pairs(max_df=None)``.

    Why a second exact tier exists: ``exact_jaccard_pairs`` joins the
    FULL inverted index, so it needs ``max_df`` to survive hot shingles —
    which silently trades exactness for safety. PPJoin keeps exactness
    AND bounds the index by construction: shingles are ordered globally
    by ascending document frequency, and only each doc's PREFIX — the
    first |x| − ⌈t·|x|⌉ + 1 shingles under that order — is indexed. The
    prefix-filtering theorem says any pair with J ≥ t shares at least
    one prefix shingle, and because prefixes hold each doc's RAREST
    shingles, hot boilerplate shingles are exactly the ones that never
    reach the index. Two more sound prunes run on the candidate stream:
    the length filter (J ≤ min/max ⇒ min(|x|,|y|) ≥ t·max(|x|,|y|)) and
    the positional filter (1 + min(|x|−pₓ, |y|−p_y) ≥ ⌈t/(1+t)·(|x|+|y|)⌉
    must hold for a shared prefix shingle at 1-based ordered positions
    pₓ/p_y; applied per occurrence then distinct'd, which keeps a
    superset of PPJoin's survivors — the first common prefix shingle
    always passes). All bound arithmetic carries a 1e-9 slack in the
    candidate-KEEPING direction, so float rounding can only admit extra
    candidates; the exact verify decides.

    Scale shape (10^12 rows): index size is Σ prefix lengths — a
    (1−t)-fraction of the full index — and candidate blocks are keyed by
    LOW-df shingles, so no block goes quadratic without a cap. The
    verify joins the full per-doc shingle lists only for surviving
    candidate pairs (Σ_pairs |x| work, never corpus²). Everything is
    JVM relational: one explode, one df groupBy, one array_sort per doc,
    two equi-joins.
    """
    from corpusama_spark.operators.dedup import shingles

    t = float(threshold)
    sh = df.select(
        F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("sh")
    ).where(F.size("sh") > 0)
    inv = sh.select("id", F.explode("sh").alias("g"))
    dfreq = inv.groupBy("g").agg(F.count("*").alias("dfreq"))
    ordered = (
        inv.join(dfreq, "g")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dfreq", "g"))
            ).alias("arr")
        )
        .select(
            "id",
            F.transform("arr", lambda s: s["g"]).alias("ws"),
            F.size("arr").alias("sz"),
        )
    )
    # prefix length |x| − ⌈t·|x|⌉ + 1; the −1e-9 can only LENGTHEN it
    plen = (
        F.col("sz")
        - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)).cast("int")
        + F.lit(1)
    )
    prefix = ordered.select(
        "id",
        "sz",
        F.posexplode(F.slice("ws", 1, plen)).alias("pos0", "g"),
    ).select("id", "sz", "g", (F.col("pos0") + 1).alias("p"))
    pa = prefix.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        "g",
        F.col("p").alias("p_a"),
    )
    pb = prefix.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        "g",
        F.col("p").alias("p_b"),
    )
    alpha = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("sz_a") + F.col("sz_b")) - F.lit(1e-9)
    )
    cand = (
        pa.join(pb, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.least("sz_a", "sz_b")
            >= F.lit(t) * F.greatest("sz_a", "sz_b") - F.lit(1e-9)
        )
        .where(
            F.lit(1)
            + F.least(
                F.col("sz_a") - F.col("p_a"), F.col("sz_b") - F.col("p_b")
            )
            >= alpha
        )
        .select("id_a", "id_b", "sz_a", "sz_b")
        .distinct()
    )
    ia = inv.select(F.col("id").alias("id_a"), "g")
    ib = inv.select(F.col("id").alias("id_b"), "g")
    return (
        cand.join(ia, "id_a")
        .join(ib, ["id_b", "g"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("inter"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def agreement_patterns(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_tau: float = 0.5,
    len_tau: float = 0.9,
) -> DataFrame:
    """Per-pair field-agreement vector for record linkage: for each
    candidate pair, three binary comparators —
    g1: word-3-gram Jaccard ≥ ``jaccard_tau``,
    g2: char-length ratio min/max ≥ ``len_tau``,
    g3: first whitespace token equal (case-folded).
    Output (id_a, id_b, g1, g2, g3 as 0/1 ints). The corpus-scale part
    of Fellegi–Sunter linkage: comparators are two equi-joins against
    per-doc features built once (shingle sets, lengths, first tokens);
    everything downstream runs on the 2³-row pattern table.
    """
    from corpusama_spark.operators.dedup import shingles

    feats = docs.select(
        F.col(id_col).alias("id"),
        shingles(text_col, 3).alias("sh"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("ln"),
        F.lower(
            F.element_at(
                F.filter(
                    F.split(
                        F.trim(F.coalesce(F.col(text_col), F.lit(""))),
                        r"\s+",
                    ),
                    lambda w: F.length(w) > 0,
                ),
                1,
            )
        ).alias("w1"),
    )
    fa = feats.select(
        F.col("id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.col("ln").alias("ln_a"),
        F.col("w1").alias("w1_a"),
    )
    fb = feats.select(
        F.col("id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.col("ln").alias("ln_b"),
        F.col("w1").alias("w1_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter / union.cast("double")).otherwise(0.0)
    lr = F.when(
        F.greatest("ln_a", "ln_b") > 0,
        F.least("ln_a", "ln_b")
        / F.greatest("ln_a", "ln_b").cast("double"),
    ).otherwise(0.0)
    return (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a",
            "id_b",
            (jac >= float(jaccard_tau)).cast("int").alias("g1"),
            (lr >= float(len_tau)).cast("int").alias("g2"),
            (
                F.col("w1_a").isNotNull()
                & (F.col("w1_a") == F.col("w1_b"))
            )
            .cast("int")
            .alias("g3"),
        )
    )


def fs_em_weights(
    patterns: DataFrame,
    iters: int = 10,
    init: tuple[float, float, float] = (0.1, 0.8, 0.2),
) -> tuple[float, list[float], list[float]]:
    """Unsupervised Fellegi–Sunter parameter estimation (Fellegi &
    Sunter 1969; the EM fit is Winkler 1988): given the (g1, g2, g3)
    agreement table, fit match prevalence p and per-field conditional
    agreement probabilities m_f (among true matches) / u_f (among
    non-matches) under conditional independence, by ``iters`` fixed EM
    rounds from the pinned ``init`` (p₀, m₀, u₀). Returns
    (p, [m1..m3], [u1..u3]), every parameter rounded to 9 dp per round
    (the repo's trajectory-determinism contract).

    Scale shape: the E/M sums run over the 2³-row PATTERN-COUNT table —
    the corpus collapsed once in agreement_patterns — so this is a
    bounded driver computation by construction (the train_logistic
    precedent: corpus-sized work stays relational, parameter-sized math
    is driver-side)."""
    rows = (
        patterns.groupBy("g1", "g2", "g3")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    pats = [((r.g1, r.g2, r.g3), float(r.n)) for r in rows]
    n_tot = sum(n for _, n in pats)
    p, m0, u0 = init
    m = [m0] * 3
    u = [u0] * 3
    for _ in range(int(iters)):
        sw = swn = 0.0
        sm = [0.0] * 3
        su = [0.0] * 3
        for g, n in pats:
            pm = p
            pu = 1.0 - p
            for f in range(3):
                pm *= m[f] if g[f] else (1.0 - m[f])
                pu *= u[f] if g[f] else (1.0 - u[f])
            w = pm / (pm + pu)
            sw += n * w
            swn += n * (1.0 - w)
            for f in range(3):
                if g[f]:
                    sm[f] += n * w
                    su[f] += n * (1.0 - w)
        p = round(sw / n_tot, 9)
        m = [round(sm[f] / sw, 9) for f in range(3)]
        u = [round(su[f] / swn, 9) for f in range(3)]
    return p, m, u


def fs_linkage_table(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = 10,
    upper: float = 3.0,
    lower: float = 0.0,
) -> DataFrame:
    """The Fellegi–Sunter decision table: one row per agreement
    pattern with its pair count, EM-fitted match posterior, the
    log₂ Π(m/u) composite weight, and the classic three-way decision
    (link / possible / non-link by ``upper``/``lower`` weight
    thresholds). The oracle twin replays the EM rounds in SQL, so the
    learned parameters themselves are contract-checked.

    Output: (g1, g2, g3, n, w_match 6 dp, weight 6 dp, decision)."""
    import math

    ap = agreement_patterns(pairs, docs, text_col, id_col)
    p, m, u = fs_em_weights(ap, iters=iters)
    # Winkler's standard clamp: a field the EM fits to exactly 0/1
    # (every match agrees on length ratio, say) would put ±inf in the
    # log weight; clamp ONLY the weight's inputs, posterior stays raw.
    eps = 1e-6
    mc = [min(max(v, eps), 1.0 - eps) for v in m]
    uc = [min(max(v, eps), 1.0 - eps) for v in u]

    def _ratio(f: int, agree: bool) -> float:
        if agree:
            return mc[f] / uc[f]
        return (1.0 - mc[f]) / (1.0 - uc[f])

    counts = ap.groupBy("g1", "g2", "g3").agg(
        F.count("*").cast("long").alias("n")
    )
    pm = F.lit(p)
    pu = F.lit(1.0 - p)
    weight = F.lit(0.0)
    for f, col in enumerate(["g1", "g2", "g3"]):
        g = F.col(col) == 1
        pm = pm * F.when(g, F.lit(m[f])).otherwise(F.lit(1.0 - m[f]))
        pu = pu * F.when(g, F.lit(u[f])).otherwise(F.lit(1.0 - u[f]))
        weight = weight + F.when(
            g, F.lit(math.log2(_ratio(f, True)))
        ).otherwise(F.lit(math.log2(_ratio(f, False))))
    w_match = pm / (pm + pu)
    return counts.select(
        "g1",
        "g2",
        "g3",
        "n",
        F.round(w_match, 6).alias("w_match"),
        F.round(weight, 6).alias("weight"),
        F.when(weight >= float(upper), F.lit("link"))
        .when(weight <= float(lower), F.lit("non_link"))
        .otherwise(F.lit("possible"))
        .alias("decision"),
    ).orderBy(F.desc("weight"), "g1", "g2", "g3")


def sorted_neighborhood_pairs(
    docs: DataFrame,
    sort_key: Column | str,
    window: int = 3,
    id_col: str = "doc_id",
    passes: list[Column | str] | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (X271; Hernández & Stolfo 1995, the
    classic record-linkage candidate generator): sort by a fuzzy key and
    pair each record with its next ``window``-1 neighbors. Complements
    the hash/LSH blockers (minhash bands, simhash, ppjoin prefixes):
    those need token overlap to collide, while a sort key like
    "first 4 chars + length" catches prefix-corrupted or truncated
    twins that share almost no shingles. Feeds agreement_patterns /
    fs_linkage_table exactly like the LSH candidate sets do.

    Multi-pass (the standard robustness trick — one bad sort key hides
    true matches at a sort boundary): pass extra keys in ``passes``;
    candidate sets union and dedup. Pairs are emitted (id_a < id_b).

    Scale shape (round-5 rewrite; the earlier version ran lead() over an
    unpartitioned window — one task for the whole corpus): per pass, a
    TRUE range exchange assigns every row its global sort position via
    prefixsum.attach_global_positions (range repartition + parallel
    per-partition row_number + broadcast partition-count offsets, no
    single-partition stage anywhere), and "next window-1 neighbors"
    becomes a plain hash equi-join of position+d probes against
    positions, d ∈ [1, window-1]. Candidate volume is exactly
    n·(window-1) per pass, no flood possible by construction (the
    property hash blockers need explicit guards for), and every wide op
    is a range/hash exchange that scales with the cluster."""
    from corpusama_spark.operators.prefixsum import attach_global_positions
    from corpusama_spark.plans.caching import own_caches

    keys = [sort_key] + list(passes or [])
    outs, positions = [], []
    for i, k in enumerate(keys):
        kc = F.col(k) if isinstance(k, str) else k
        base = docs.select(F.col(id_col).alias("_id"), kc.alias("_snk"))
        pos = attach_global_positions(base, ["_snk", "_id"], pos_col="_gp")
        positions.append(pos)
        probes = pos.select(
            "_id",
            F.explode(
                F.array(
                    *[F.col("_gp") + F.lit(d) for d in range(1, int(window))]
                )
            ).alias("_tgt"),
        )
        stacked = probes.join(
            pos.select(
                F.col("_id").alias("_other"), F.col("_gp").alias("_tgt")
            ),
            "_tgt",
        )
        outs.append(
            stacked.select(
                F.least("_id", "_other").alias("id_a"),
                F.greatest("_id", "_other").alias("id_b"),
            )
        )
    allp = outs[0]
    for o in outs[1:]:
        allp = allp.unionByName(o)
    return own_caches(allp.dropDuplicates(["id_a", "id_b"]), *positions)
