"""Data-layout planning: Z-order (Morton) interleave + range bucketing.

At 100 TB the dominant query cost is SCAN PRUNING: a table laid out so
that each file covers a narrow range of BOTH common filter columns lets
the reader skip most files from parquet min/max footer stats alone.
Sorting by (a, b) prunes perfectly on `a` and barely on `b`; the Z-order
curve interleaves the BITS of both keys so every contiguous z-range is a
small rectangle in (a, b) space — the layout trick behind Delta Lake's
OPTIMIZE ZORDER and Iceberg's sort-order z-curves (both public).

Two tiers, same key:

- ``zorder_key`` — the pure 32-bit Morton interleave of two 16-bit keys,
  a scan-stage JVM bit expression (no UDF, no shuffle);
- ``zorder_buckets`` — the oracle-checkable contract twin: assigns each
  row an ntile bucket in z order, which is exactly the file assignment
  ``df.repartitionByRange(nbuckets, zorder_key(...))`` + write produces
  (repartitionByRange samples range boundaries non-deterministically, so
  the window twin is what a cross-engine contract can pin; the WRITE
  path should use repartitionByRange — one range exchange, no global
  sort).

Scale shape: the key is computed per row in the scan stage; the only
wide operation is the range exchange (or the contract twin's global
ntile window — which orders by a 32-bit integer, the cheapest possible
sort key). Bucket stats collapse to nbuckets rows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "zorder_key",
    "zorder_buckets",
    "rendezvous_score",
    "rendezvous_assign",
    "rendezvous_moves",
    "pruning_audit",
]


def zorder_key(k1: Column, k2: Column, bits: int = 16) -> Column:
    """Morton interleave of the low ``bits`` bits of two non-negative
    integer keys: bit i of k1 lands at position 2i+1, bit i of k2 at
    position 2i. Keys are clamped to the bit budget first (values above
    2^bits-1 saturate — the top of the curve, preserving order at the
    clamp boundary). Pure JVM shifts/masks, whole-stage-codegen
    friendly."""
    bits = int(bits)
    cap = F.lit((1 << bits) - 1)
    a = F.least(F.greatest(k1.cast("long"), F.lit(0)), cap)
    b = F.least(F.greatest(k2.cast("long"), F.lit(0)), cap)
    terms = [
        F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        .bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        for i in range(bits)
    ]
    return reduce(lambda x, y: x.bitwiseOR(y), terms).alias("zval")


def zorder_buckets(
    df: DataFrame,
    id_col: str,
    k1: Column,
    k2: Column,
    nbuckets: int = 16,
    bits: int = 16,
) -> DataFrame:
    """(id, zval, bucket): each row's Morton key and its z-order file
    bucket (ntile over z, ties broken by id — deterministic). This is
    the CONTRACT twin of the write-path layout job; see module
    docstring for why the deployment path is repartitionByRange on the
    same key instead of this window."""
    from corpusama_spark.operators.prefixsum import ranged_ntile
    from corpusama_spark.plans.caching import own_caches

    z = zorder_key(k1, k2, bits=bits)
    tiles = ranged_ntile(
        df.select(F.col(id_col), z),
        [F.asc("zval"), F.asc(F.col(id_col))],
        int(nbuckets),
        "bucket",
    )
    return own_caches(
        tiles.withColumn("bucket", F.col("bucket").cast("long")), tiles
    )


def rendezvous_score(key: Column, shard: int) -> Column:
    """The HRW hash score of ``key`` for integer ``shard``: the md5
    family (int(md5(key ∥ '|' ∥ shard)[:8], 16)) so any engine replays
    it bit-exactly."""
    return F.conv(
        F.substring(
            F.md5(F.concat(key.cast("string"), F.lit(f"|{int(shard)}"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")


def rendezvous_assign(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    out_col: str = "shard",
) -> DataFrame:
    """``df`` plus ``out_col`` = the rendezvous (highest-random-weight)
    shard for each key (Thaler & Ravishankar 1998): shard s maximizes
    hash(key ∥ s), ties broken toward the smaller shard id. The shard
    map every RESTARTABLE 10^12-row job wants: unlike ``hash(key) % n``,
    growing n_shards → n' moves only the keys whose argmax lands on a
    NEW shard — an expected (n' − n)/n' of rows — instead of rehashing
    (n' − 1)/n' of the whole table; checkpointed per-shard progress
    stays valid across a resize.

    Scale shape: ``greatest`` over n_shards packed (score ≪ 10 | tie)
    BIGINTs — one constant-width scan-stage JVM expression per row; NO
    explode, NO join, NO shuffle. The 32-bit score and the 10-bit
    tiebreak (1023 − shard, so equal scores resolve to the SMALLER
    shard id) share one integer because every engine's ``greatest``
    orders plain BIGINTs; n_shards is capped at 1024 by the packing —
    beyond that, explode+max.
    """
    n = int(n_shards)
    if not 1 <= n <= 1024:
        raise ValueError("n_shards must be in [1, 1024]")
    key = F.col(key_col)
    if n == 1:
        return df.withColumn(out_col, F.lit(0))
    best = F.greatest(
        *[
            rendezvous_score(key, s) * F.lit(1024) + F.lit(1023 - s)
            for s in range(n)
        ]
    )
    return df.withColumn(
        out_col, (F.lit(1023) - best % 1024).cast("int")
    )


def rendezvous_moves(
    df: DataFrame,
    key_col: str,
    n_old: int,
    n_new: int,
) -> DataFrame:
    """Reshuffle audit for a shard-count change: (old_shard, new_shard,
    n, moved) counts plus each cell's share of all rows — the evidence
    that HRW moves only ~(n_new − n_old)/n_new of the data where
    ``hash % n`` would move (n_new − 1)/n_new. One scan (both
    assignments are scan-stage expressions), one constant-width
    groupBy."""
    a = rendezvous_assign(df, key_col, n_old, "old_shard")
    b = rendezvous_assign(a, key_col, n_new, "new_shard")
    total = F.sum("n").over(Window.partitionBy())
    return (
        b.groupBy("old_shard", "new_shard")
        .agg(F.count("*").alias("n"))
        .select(
            "old_shard",
            "new_shard",
            "n",
            (F.col("old_shard") != F.col("new_shard")).alias("moved"),
            F.round(F.col("n") / total, 6).alias("share"),
        )
        .orderBy("old_shard", "new_shard")
    )


def pruning_audit(
    df: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
    a_range: tuple[float, float],
    b_range: tuple[float, float],
    nfiles: int = 16,
    bits: int = 16,
    hilbert_bits: int | None = None,
) -> DataFrame:
    """Scan-pruning audit of two candidate file layouts under a 2-D
    predicate — the measured version of the module docstring's claim.
    Rows are assigned to ``nfiles`` files twice: LINEAR (ntile in
    (a, b, id) sort order — what a plain ORDER BY write produces) and
    ZORDER (ntile in Morton order); each file keeps parquet-footer-style
    min/max stats per key, and a file is SCANNED iff its stats box
    intersects the predicate rectangle a ∈ [a_lo, a_hi] ∧ b ∈
    [b_lo, b_hi] — exactly the pruning decision an Iceberg/Delta reader
    makes from manifests. Output, one row per layout: files_scanned,
    rows_scanned, rows_selected, skip_ratio (files skipped / files),
    read_amplification (rows scanned per selected row) — the numbers
    that decide whether OPTIMIZE ZORDER pays for a workload.

    Scale shape: two window sorts over a 32-bit key (the contract twin
    of two repartitionByRange writes), one constant-width per-file agg
    each, and a 2·nfiles-row final table. The audit itself is cheaper
    than either candidate write.
    """
    a_lo, a_hi = float(a_range[0]), float(a_range[1])
    b_lo, b_hi = float(b_range[0]), float(b_range[1])
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(a_col).cast("long").alias("a"),
        F.col(b_col).cast("long").alias("b"),
    ).where(F.col("a").isNotNull() & F.col("b").isNotNull())
    z = zorder_key(F.col("a"), F.col("b"), bits=bits)
    from corpusama_spark.operators.prefixsum import ranged_ntile
    from corpusama_spark.plans.caching import own_caches

    base = base.withColumn("zval", z)
    if hilbert_bits is not None:
        # third candidate layout (X267): the continuity curve — callers
        # pass keys already within [0, 2^hilbert_bits) for a fair
        # three-way comparison (with_hilbert_key pmods, so wider inputs
        # would wrap rather than clamp like the Morton key)
        base = with_hilbert_key(base, "a", "b", bits=hilbert_bits, out="hval")
    # each pass persists its range exchange; the result owns all of them
    linear = ranged_ntile(base, ["a", "b", "id"], int(nfiles), "f_linear")
    tagged = ranged_ntile(linear, ["zval", "id"], int(nfiles), "f_zorder")
    passes = [linear, tagged]
    if hilbert_bits is not None:
        tagged = ranged_ntile(tagged, ["hval", "id"], int(nfiles), "f_hilbert")
        passes.append(tagged)
    sel = (
        F.col("a").between(a_lo, a_hi) & F.col("b").between(b_lo, b_hi)
    ).cast("long")

    def _layout(bucket_col: str, name: str) -> DataFrame:
        stats = tagged.groupBy(F.col(bucket_col).alias("f")).agg(
            F.min("a").alias("min_a"),
            F.max("a").alias("max_a"),
            F.min("b").alias("min_b"),
            F.max("b").alias("max_b"),
            F.count("*").alias("n"),
            F.sum(sel).alias("n_sel"),
        )
        scanned = (
            (F.col("max_a") >= a_lo)
            & (F.col("min_a") <= a_hi)
            & (F.col("max_b") >= b_lo)
            & (F.col("min_b") <= b_hi)
        ).cast("long")
        return stats.agg(
            F.lit(name).alias("layout"),
            F.count("*").cast("long").alias("n_files"),
            F.sum(scanned).cast("long").alias("files_scanned"),
            F.sum("n").cast("long").alias("rows_total"),
            F.sum(scanned * F.col("n")).cast("long").alias("rows_scanned"),
            F.sum("n_sel").cast("long").alias("rows_selected"),
        )

    out = _layout("f_linear", "linear").unionByName(
        _layout("f_zorder", "zorder")
    )
    if hilbert_bits is not None:
        out = out.unionByName(_layout("f_hilbert", "hilbert"))
    audit = out.select(
        "layout",
        "n_files",
        "files_scanned",
        "rows_total",
        "rows_scanned",
        "rows_selected",
        F.round(
            1.0 - F.col("files_scanned") / F.col("n_files"), 6
        ).alias("skip_ratio"),
        F.round(
            F.col("rows_scanned")
            / F.greatest(F.col("rows_selected"), F.lit(1)).cast("double"),
            6,
        ).alias("read_amplification"),
    ).orderBy("layout")
    return own_caches(audit, *passes)


def with_hilbert_key(
    df: DataFrame,
    xcol: str,
    ycol: str,
    bits: int = 8,
    out: str = "hilbert_key",
) -> DataFrame:
    """Hilbert-curve index of two ``bits``-bit keys (X263) — the layout
    curve with the CONTINUITY guarantee Z-order lacks: consecutive curve
    positions are always Manhattan-adjacent cells (pytest-pinned), so a
    contiguous key range never teleports across (x, y) space the way a
    z-range does at quadrant seams. Net effect at 100 TB: tighter
    bounding boxes per file for the same file count → better min/max
    pruning on BOTH columns (the reason Hilbert is the default space
    curve in e.g. Databricks liquid clustering discussions; algorithm is
    the classic xy2d iteration, Wikipedia/Hamilton — public).

    Implementation: the ``bits`` rotation steps are UNROLLED as staged
    column expressions (withColumns per step keeps the expression tree
    linear, not exponential) — pure JVM bit math in the scan stage, no
    UDF, no shuffle; the DuckDB oracle replays the identical staged
    algebra. Inputs are clamped into [0, 2^bits) with pmod."""
    n = 1 << bits
    df = df.withColumns(
        {
            "_hx": F.pmod(F.col(xcol).cast("long"), F.lit(n)),
            "_hy": F.pmod(F.col(ycol).cast("long"), F.lit(n)),
            "_hd": F.lit(0).cast("long"),
        }
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = (F.col("_hx").bitwiseAND(F.lit(s)) > 0).cast("long")
        ry = (F.col("_hy").bitwiseAND(F.lit(s)) > 0).cast("long")
        d2 = F.col("_hd") + F.lit(s) * F.lit(s) * (
            (F.lit(3) * rx).bitwiseXOR(ry)
        )
        # rotate the quadrant: flip when rx==1 inside ry==0, then swap
        flip_x = F.when(rx == 1, F.lit(s - 1) - F.col("_hx")).otherwise(
            F.col("_hx")
        )
        flip_y = F.when(rx == 1, F.lit(s - 1) - F.col("_hy")).otherwise(
            F.col("_hy")
        )
        new_x = F.when(ry == 0, flip_y).otherwise(F.col("_hx"))
        new_y = F.when(ry == 0, flip_x).otherwise(F.col("_hy"))
        df = df.withColumns({"_hd": d2, "_hx": new_x, "_hy": new_y})
    return df.withColumn(out, F.col("_hd")).drop("_hx", "_hy", "_hd")


def hilbert_py(x: int, y: int, bits: int = 8) -> int:
    """Driver-side mirror of ``with_hilbert_key`` (same xy2d iteration)
    — used by tests and by planners that need the key for a literal
    predicate without a Spark job."""
    n = 1 << bits
    x, y = x % n, y % n
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def bound_overlap_audit(
    df: DataFrame,
    bucket_col: str,
    value_col: str,
) -> DataFrame:
    """Clustering depth (X276 — the metric zone-map pruning lives or
    dies by, Snowflake's clustering-depth / Iceberg's file-overlap idea
    over this engine's bucket bounds): per bucket, its [min, max] of
    ``value_col`` and how many OTHER buckets' intervals overlap it. A
    hash layout interleaves values so every bucket overlaps every other
    (depth = nbuckets-1: a range predicate prunes NOTHING no matter how
    good the stats); a range/Z/Hilbert-clustered layout (layout.py's
    write path) drives depth toward 0, which is exactly when X273's
    plan_scan_for_range starts skipping. Corpus collapses to one row
    per bucket first; the interval self-join is bucket-count² at most
    and broadcast. Output: (bucket, mn, mx, n_rows, n_overlaps)."""
    bounds = df.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.min(value_col).alias("mn"),
        F.max(value_col).alias("mx"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    other = F.broadcast(
        bounds.select(
            F.col("bucket").alias("_ob"),
            F.col("mn").alias("_omn"),
            F.col("mx").alias("_omx"),
        )
    )
    pairs = bounds.join(
        other,
        (F.col("bucket") != F.col("_ob"))
        & (F.col("mn") <= F.col("_omx"))
        & (F.col("_omn") <= F.col("mx")),
        "left",
    )
    return (
        pairs.groupBy("bucket", "mn", "mx", "n_rows")
        .agg(F.count("_ob").alias("n_overlaps"))
        .orderBy("bucket")
    )
