"""Connected components over near-dup pairs → dedup clusters.

Every large-scale dedup ends here: pair generators (minhash LSH, simhash /
phash hamming bands, embedding buckets) emit EDGES, but the keep/drop
decision needs CLUSTERS — one canonical document per connected component.

Algorithm: iterative label propagation ("hash-min"): every node starts
labeled with its own id; each round, a node adopts the minimum label among
itself and its neighbors. Converges in O(component diameter) rounds — for
dedup graphs (dense clusters around a template, small diameter) typically
3-5. Each round is one shuffle join keyed by node id; labels are persisted
per round and the previous round unpersisted, with ``localCheckpoint``
every few rounds so the lineage (and task-retry cost) stays bounded on a
long chain. For adversarial long-chain graphs, the large-star/small-star
contraction (Kiveris et al., "Connected Components in MapReduce") halves
diameter per round — the same join shape, O(log d) rounds; hash-min is the
right default for dedup-shaped graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    checkpoint_every: int = 5,
    fixed_iters: int | None = None,
    algorithm: str = "hashmin",
) -> DataFrame:
    """(id, component) with component = min id reachable from the node.

    ``fixed_iters`` runs at most that many propagation rounds and tests
    for a fixpoint only at the eager checkpoints (for contexts where the
    graph's diameter is known and per-round actions are unwanted);
    otherwise every round ends with a cheap count-of-changes action that
    stops at the fixpoint (early-exits almost always).
    ``algorithm="star"`` dispatches to the O(log² n)-round large/small-star
    contraction (connected_components_star) for chain-heavy graphs where
    hash-min's O(diameter) rounds would dominate.
    """
    from corpusama_spark.plans.caching import own_caches

    if algorithm == "star":
        return connected_components_star(pairs, id_a, id_b, max_iters=max_iters)
    if algorithm != "hashmin":
        raise ValueError(f"unknown algorithm {algorithm!r}")

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(
                F.col(id_b).alias("src"), F.col(id_a).alias("dst")
            )
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .persist()
    )
    labels_handle = labels
    # fixed mode runs no action between checkpoints, so every round
    # persisted since the last one is still lazy. Unpersisting a lazy round
    # inlines it into the next, where both join sides read it: the plan
    # doubles per round. Lazy rounds stay cached until a checkpoint has
    # materialized them, or until the caller releases the result.
    lazy = [labels]
    rounds = fixed_iters if fixed_iters is not None else max_iters
    for i in range(rounds):
        # min neighbor label per node, one hop
        prop = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("comp").alias("ncomp"))
        )
        # labels only fall, so a node changed iff a neighbor label is lower:
        # the convergence check reads this flag, not a join to the old round
        new_handle = (
            labels.join(prop, labels.id == prop.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))
                ).alias("comp"),
                F.coalesce(F.col("ncomp") < F.col("comp"), F.lit(False)).alias(
                    "changed"
                ),
            )
            .persist()
        )
        new_labels = new_handle
        checkpoint = (i + 1) % checkpoint_every == 0
        if checkpoint:
            # truncate lineage so task retries never replay all rounds;
            # localCheckpoint is eager, so the pre-checkpoint cache can be
            # released right away. Superseded checkpoint BLOCKS are owned by
            # Spark's ContextCleaner (DataFrame.unpersist does not touch
            # them) and are reclaimed when their DataFrames are GC'd.
            new_labels = new_handle.localCheckpoint()
            new_handle.unpersist()
            new_handle = new_labels
        if fixed_iters is None:
            # a full count, not limit(1): it must scan every partition so
            # the persisted round is whole before the old one is released
            changed = new_labels.where("changed").count()
            labels_handle.unpersist()
            labels, labels_handle = new_labels, new_handle
            if changed == 0:
                break
        else:
            if checkpoint:
                for h in lazy:
                    h.unpersist()
                lazy = []
            lazy.append(new_handle)
            labels, labels_handle = new_labels, new_handle
            # the checkpoint has just materialized this round, so reading
            # its flags is a tiny job; at a fixpoint every later round is a
            # no-op
            if checkpoint and new_labels.where("changed").count() == 0:
                break
    out = labels.select("id", F.col("comp").alias("component"))
    if fixed_iters is None or len(lazy) == 1:
        edges.unpersist()
        return own_caches(out, labels_handle)
    return own_caches(out, edges, *lazy)


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """(id, component) via alternating large-star/small-star contraction
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond",
    Algorithm 2) — the adversarial-graph companion to hash-min.

    Hash-min needs O(diameter) rounds: a 10^6-node path graph means 10^6
    shuffle rounds. Star contraction halves the tree height each
    large/small pair and converges in O(log² n) rounds on ANY graph
    (~O(log n) observed), with the same one-shuffle-join-per-round shape:

    - large-star: every node links its strictly-LARGER neighbors to the
      minimum of its closed neighborhood — edges stay directed
      larger→smaller by construction.
    - small-star: every node links its smaller neighbors AND itself to
      its minimum neighbor.

    Convergence is detected by an order-insensitive edge-set signature
    (count + decimal sum of xxhash64(u,v)) — one cheap aggregate per
    round, no join against the previous round. At the fixpoint the edge
    set is a star forest rooted at each component's minimum id, which IS
    the label table. Output matches `connected_components` row-for-row
    (pytest pins agreement on chain+links and random graphs); prefer
    hash-min for dedup-shaped graphs (small diameter), star for
    unknown/chain-heavy topology. Self-loop-only nodes keep their own id
    as component, like hash-min.

    Lineage is truncated with an eager ``localCheckpoint`` EVERY round
    (hash-min checkpoints every 5): one star round references the previous
    edge set ~8x (the swap-union twice, each side joined against its own
    aggregate), so the logical plan grows geometrically — by round ~10
    merely rendering the plan tree OOMs the driver. The checkpoint costs
    nothing extra here because the convergence signature materializes the
    round anyway.
    """
    from corpusama_spark.plans.caching import own_caches

    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).where(
        F.col("u") != F.col("v")
    )
    # directed larger→smaller canonical form
    cur = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .persist()
    )

    def _sig(df: DataFrame) -> tuple:
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: ANSI mode would overflow a long sum of hashes
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (r.n, r.h)

    sig = _sig(cur)
    for i in range(max_iters):
        # large-star over the undirected neighbor view
        nbrs = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        large = (
            nbrs.where(F.col("v") > F.col("u"))
            .join(lmins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .persist()
        )
        # small-star over the (already larger→smaller) directed edges
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        nxt = (
            large.join(smins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("uu"), F.col("m").alias("vv"))
            .unionByName(
                smins.select(F.col("u").alias("uu"), F.col("m").alias("vv"))
            )
            .select(F.col("uu").alias("u"), F.col("vv").alias("v"))
            .distinct()
            .localCheckpoint()  # eager: truncates the geometric lineage
        )
        new_sig = _sig(nxt)
        cur.unpersist()
        large.unpersist()
        cur = nxt
        if new_sig == sig:
            break
        sig = new_sig
    labels = (
        cur.select(F.col("u").alias("id"), F.col("v").alias("comp"))
        .unionByName(
            cur.select(F.col("v").alias("id"), F.col("v").alias("comp"))
        )
        .groupBy("id")
        .agg(F.min("comp").alias("component"))
    )
    nodes = (
        pairs.select(F.col(id_a).alias("id"))
        .unionByName(pairs.select(F.col(id_b).alias("id")))
        .distinct()
    )
    out = nodes.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
    return own_caches(out, cur)


def cluster_canonicals(components: DataFrame) -> DataFrame:
    """One row per cluster: (component, n_members) — the keep list is
    `component == id` rows of the components table itself."""
    return components.groupBy("component").agg(
        F.count("*").alias("n_members")
    )


def canonical_by_score(
    components: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware canonical selection: within every near-dup cluster
    keep the HIGHEST-scoring member (ties -> lowest id) instead of the
    arbitrary min-id canonical. This is the keeplist a production corpus
    build actually wants — when a page exists as five mirrors, keep the
    least-degraded copy, not the one with the smallest crawl id.
    (Reference analogue: corpus builds there dedup whole records and
    keep first-seen, corpusama/database.py — score-ranked selection is
    the scale upgrade.)

    `components` is (id, component) from connected_components; `scores`
    any (id, score) table (doc length, LM perplexity, classifier logit).
    Returns (id, component, keep).

    Scale shape: ONE hash exchange on component; flood guards upstream
    bound cluster sizes, so the per-cluster window sort is tiny. The
    scores join is id-keyed; at 10^12 rows both exchanges are linear.
    Tie-break on id makes the choice deterministic under any
    partitioning and float-free when scores are integers.
    """
    from pyspark.sql.window import Window

    s = scores.select(
        F.col(id_col).alias("id"), F.col(score_col).alias("_score")
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("_score"), F.asc("id")
    )
    return (
        components.join(s, "id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("id", "component", "keep")
    )


def cluster_purity(
    components: DataFrame,
    labels: DataFrame,
    id_col: str = "id",
    label_col: str = "label",
) -> DataFrame:
    """Dedup-cluster QA: per cluster, its size, majority label (ties ->
    lexicographically smallest) and purity = majority_count / size. A
    near-dup cluster spanning languages or modality labels is a
    collision symptom — banded-LSH false merges show up here before
    they silently delete good documents. Purity is an int/int divide,
    bit-portable across engines.

    Scale shape: one groupBy(component, label) with map-side combine,
    then a cluster-keyed argmax window over the (clusters × labels)
    table — already reduced, never corpus-sized.
    """
    from pyspark.sql.window import Window

    lb = labels.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("_lbl")
    )
    counts = (
        components.join(lb, "id")
        .groupBy("component", "_lbl")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("component").orderBy(F.desc("n"), F.asc("_lbl"))
    sizes = counts.groupBy("component").agg(
        F.sum("n").cast("long").alias("size")
    )
    top = (
        counts.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(
            "component",
            F.col("_lbl").alias("majority_label"),
            F.col("n").cast("long").alias("majority_n"),
        )
    )
    return top.join(sizes, "component").select(
        "component",
        "size",
        "majority_label",
        "majority_n",
        F.round(F.col("majority_n") / F.col("size"), 6).alias("purity"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed link graph — the
    domain/page authority signal web-curation pipelines rank crawl
    frontiers and weight quality priors with (CommonCrawl publishes
    exactly this per domain). Deterministic by construction: fixed
    iteration count, uniform 1/N init, r' = (1−d)/N + d·Σ r/outdeg
    over incoming edges. Dangling-node mass leaks (no redistribution) —
    acceptable for RANKING use and kept deliberately so the relational
    form stays one join + one groupBy per iteration; document the leak
    rather than hide a second corpus-wide aggregate per round.

    Scale shape per iteration: ONE src-keyed join (rank × outdeg) and
    ONE dst-keyed sum — both linear; the rank vector is nodes-sized,
    never edges-sized. N and outdegrees compute once up front. At
    10^12 edges use the same plan with the rank table bucketed on id so
    the per-iteration join is co-located.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    n_tot = nodes.agg(F.count("*").cast("double").alias("_n"))
    d = float(damping)
    r = nodes.crossJoin(F.broadcast(n_tot)).select(
        "id", (F.lit(1.0) / F.col("_n")).alias("rank")
    )
    for _ in range(int(iters)):
        contrib = (
            e.join(outdeg, "src")
            .join(r.select(F.col("id").alias("src"), "rank"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("_in"))
        )
        r = (
            nodes.join(contrib.withColumnRenamed("dst", "id"), "id", "left")
            .crossJoin(F.broadcast(n_tot))
            .select(
                "id",
                (
                    (F.lit(1.0) - d) / F.col("_n")
                    + F.lit(d) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return r.select("id", F.round(F.col("rank"), 6).alias("rank"))


def cooccurrence_triangles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_tokens: int = 100,
    min_cooc: int = 3,
) -> DataFrame:
    """Triangle census of the token CO-OCCURRENCE graph (nodes = the
    global top-N tokens, an edge where two tokens share ≥ min_cooc
    documents): one row with node/edge/triangle counts and the global
    clustering coefficient 3·triangles / open-triads. The graph-shape
    diagnostic for topic structure — natural corpora close triangles
    (words that co-occur with a common word co-occur with each other,
    C ≈ 0.3–0.7); template/boilerplate floods drive C toward 1, random
    token soup toward 0. Integer arithmetic except the final divide.

    Shapes, because triangle counting is the canonical quadratic trap:
    nodes are capped at top-N BEFORE any pairing, the doc-token table is
    semi-joined to that broadcast cap, co-occurrence pairs come from one
    equi-join on doc id over the capped table (per-doc fan-out ≤ N²/2
    with N ≤ top_tokens), and the triangle join is the standard
    oriented a<b<c closure (each triangle counted once, no direction
    double-count). At web scale you lower top_tokens, not the pattern.
    """
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
        ),
        lambda w: F.length(w) > 0,
    )
    dt = (
        docs.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
        .distinct()
    )
    # top-N via orderBy+limit -> TakeOrderedAndProject (distributed heap
    # per partition + driver merge of N rows), not a single-partition window
    top = (
        dt.groupBy("tok")
        .agg(F.count("*").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(int(top_tokens))
        .select("tok")
    )
    capped = dt.join(F.broadcast(top), "tok")
    a = capped.select("id", F.col("tok").alias("ta"))
    b = capped.select("id", F.col("tok").alias("tb"))
    edges = (
        a.join(b, "id")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").cast("long").alias("cooc"))
        .where(F.col("cooc") >= int(min_cooc))
        .select("ta", "tb")
    )
    e1 = edges.select(F.col("ta").alias("x"), F.col("tb").alias("y"))
    e2 = edges.select(F.col("ta").alias("y"), F.col("tb").alias("z"))
    e3 = edges.select(F.col("ta").alias("x"), F.col("tb").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).agg(
        F.count("*").cast("long").alias("n_triangles")
    )
    deg = (
        edges.select(F.col("ta").alias("tok"))
        .unionAll(edges.select(F.col("tb").alias("tok")))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("d"))
    )
    stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2)
        .cast("long")
        .alias("_triads"),
    )
    ecount = edges.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(ecount))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.coalesce(
                F.when(
                    F.col("_triads") > 0,
                    F.round(
                        3.0
                        * F.col("n_triangles")
                        / F.col("_triads").cast("double"),
                        6,
                    ),
                ),
                F.lit(0.0),
            ).alias("clustering_coeff"),
        )
    )


def multi_signal_keeplist(
    universe: DataFrame,
    edge_sets: dict[str, DataFrame],
    id_col: str = "id",
    fixed_iters: int | None = 12,
) -> DataFrame:
    """One keep/drop decision from the UNION of several dedup signals'
    edge lists (exact text hash, MinHash bands, phash hamming, semantic
    buckets, …): production dedup is multi-signal — a doc dropped by ANY
    signal's cluster must not survive because the signals ran separately
    and each kept its own canonical. Union-then-components makes the
    transitive closure span signals: if caption-exact links A-B and
    phash links B-C, all three collapse to one canonical.

    ``edge_sets`` maps signal name → (id_a, id_b) pair DataFrame (names
    are documentation; extra columns are dropped). Returns (id,
    component, keep, n_signals) over ``universe`` — rows in no edge keep
    themselves, ``n_signals`` counts how many signals touched the row
    (0 = untouched; ≥2 = the cross-signal merges that justify the union).

    Scale shape: the union is edge-sized; components is the engine's
    hash-min kernel (one shuffle per round, lineage-truncated). The
    n_signals count is one extra edge-sized groupBy, never a corpus
    re-read.
    """
    if not edge_sets:
        raise ValueError("multi_signal_keeplist needs at least one signal")
    parts = [
        e.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.lit(name).alias("sig"),
        )
        for name, e in edge_sets.items()
    ]
    tagged = parts[0]
    for p in parts[1:]:
        tagged = tagged.unionByName(p)
    edges = tagged.select("id_a", "id_b").distinct()
    comp = connected_components(edges, fixed_iters=fixed_iters)
    touched = (
        tagged.select(
            F.explode(F.array("id_a", "id_b")).alias("uid"), "sig"
        )
        .distinct()
        .groupBy("uid")
        .agg(F.count("*").cast("long").alias("n_signals"))
    )
    uni = universe.select(F.col(id_col).cast("long").alias("uid"))
    return (
        uni.join(comp, uni.uid == comp.id, "left")
        .join(touched, "uid", "left")
        .select(
            F.col("uid").alias(id_col),
            F.coalesce("component", F.col("uid")).alias("component"),
            (F.coalesce("component", F.col("uid")) == F.col("uid")).alias(
                "keep"
            ),
            F.coalesce("n_signals", F.lit(0)).cast("long").alias(
                "n_signals"
            ),
        )
        .orderBy(id_col)
    )


def pagerank_full(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """PageRank over a directed edge table WITH dangling-mass
    redistribution — the exactness-tier twin of ``pagerank`` above
    (which documents its dangling leak and keeps one aggregate per
    round for pure ranking use); string node ids supported. Per round,
    contrib(v) = Σ_{u→v} p(u)/outdeg(u) (one equi-join + one groupBy),
    dangling nodes (outdeg 0) spread their mass uniformly, and
    p′ = (1−d)/N + d·(contrib + dangling/N), ROUNDED to 9 dp — the same
    load-bearing pin as the Lloyd centroids: it keeps two engines and
    two partitionings on bit-identical trajectories. Output (node,
    pr 6 dp, outdeg) ordered by rank. In curation this is the
    template-hub detector: on a token co-occurrence graph boilerplate
    vocabularies form dense cores whose centrality dwarfs topical
    words, and on a near-dup pair graph it ranks canonical documents.

    Scale shape (10^9 edges): each round is one (src) equi-join that
    re-uses the edge table's partitioning + one map-side-combinable
    groupBy; the rank vector is node-sized. Lineage is truncated per
    round (localCheckpoint) because each round references the previous
    vector twice — the 2^iters plan-explosion trap the suffix-array and
    hash-min loops already document. N and the per-round dangling mass
    are 1-row aggregates (bounded collects).
    """
    d = float(damping)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("outdeg")
    )
    base = (
        nodes.join(deg, "node", "left")
        .select("node", F.coalesce("outdeg", F.lit(0)).alias("outdeg"))
        .localCheckpoint()
    )
    n = base.count()
    if n == 0:
        return base.select(
            "node", F.lit(0.0).alias("pr"), "outdeg"
        )
    p = base.select("node", "outdeg", F.lit(1.0 / n).alias("p"))
    for _ in range(int(iters)):
        dangling = (
            p.where(F.col("outdeg") == 0).agg(F.sum("p")).collect()[0][0]
            or 0.0
        )
        contrib = (
            e.join(
                p.select(
                    F.col("node").alias("src"),
                    # ANSI guard: dangling rows never match an edge but
                    # the division is evaluated before the join prunes
                    F.when(
                        F.col("outdeg") > 0,
                        F.col("p") / F.col("outdeg"),
                    ).alias("share"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("c"))
        )
        p = (
            base.join(contrib, "node", "left")
            .select(
                "node",
                "outdeg",
                F.round(
                    F.lit((1.0 - d) / n)
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.lit(dangling / n)
                    ),
                    9,
                ).alias("p"),
            )
            .localCheckpoint()
        )
    return p.select(
        "node", F.round("p", 6).alias("pr"), "outdeg"
    ).orderBy(F.desc("pr"), "node")


def token_cooc_edges(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_tokens: int = 100,
    min_cooc: int = 3,
) -> DataFrame:
    """Directed BOTH-WAYS edge table of the capped token co-occurrence
    graph (same construction as cooccurrence_triangles: top-N tokens by
    doc frequency, edge when two share ≥ min_cooc docs) — the input
    shape pagerank() consumes. Undirected graph ⇒ emit each edge in
    both directions so outdeg = undirected degree."""
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
        ),
        lambda w: F.length(w) > 0,
    )
    dt = (
        docs.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
        .distinct()
    )
    top = (
        dt.groupBy("tok")
        .agg(F.count("*").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(int(top_tokens))
        .select("tok")
    )
    capped = dt.join(F.broadcast(top), "tok")
    a = capped.select("id", F.col("tok").alias("ta"))
    b = capped.select("id", F.col("tok").alias("tb"))
    und = (
        a.join(b, "id")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").cast("long").alias("cooc"))
        .where(F.col("cooc") >= int(min_cooc))
    )
    return und.select(
        F.col("ta").alias("src"), F.col("tb").alias("dst")
    ).unionByName(
        und.select(F.col("tb").alias("src"), F.col("ta").alias("dst"))
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation communities (X224; Raghavan et al.
    2007) with DETERMINISTIC tie-breaks: every node starts as its own
    label; each round it adopts the label with the most votes among its
    neighbors PLUS ITSELF (count desc, label asc on ties — the self-vote
    plus ordered ties remove classic LPA's randomness and damp
    synchronous oscillation). Fixed ``rounds``, so the result is a pure
    function of the graph.

    Where connected components (X5) answers "is there ANY path?", LPA
    answers "which DENSE region do you sit in" — the refinement for
    LSH-banded dedup graphs where low-similarity chain edges glue
    unrelated documents into one giant component (a→b→c with a,c
    unrelated): chain links get outvoted by each side's dense core, so
    communities break at the weak seam. Run it on the candidate-pair
    graph, then verify only within-community pairs.

    Scale shape (10^12 edges): per round ONE edge-sized hash join
    (labels onto dst), one map-side-combinable (node, label) count, one
    node-keyed window over per-node label counts (bounded by distinct
    neighbor labels, ≤ degree), with per-round localCheckpoint lineage
    truncation — the hash-min CC / pagerank loop shape exactly.

    Input may be directed; it is symmetrized + deduplicated first.
    Returns (node, community).
    """
    from pyspark.sql.window import Window

    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    und = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(int(rounds)):
        nbr = und.join(
            labels.select(
                F.col("node").alias("b"), F.col("label")
            ),
            "b",
        ).select(F.col("a").alias("node"), "label")
        votes = nbr.unionByName(labels)  # self-vote
        counted = votes.groupBy("node", "label").agg(
            F.count("*").alias("c")
        )
        labels = (
            counted.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
    return labels.select("node", F.col("label").alias("community"))
