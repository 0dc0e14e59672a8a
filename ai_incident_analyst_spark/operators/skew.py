"""Skew mitigation: salted aggregation and salted broadcast-free joins.

The reference never meets skew (1000-row batches, preprocessor.py:30-42),
but at 100 TB one hot ``container_name`` or a null-heavy key melts a
single reducer. Two standard remedies, both pure DataFrame ops:

* ``salted_agg``: two-phase aggregation — group on (key, salt) first so
  the hot key's rows spread over N reducers, then re-aggregate by key.
  Works for any algebraic aggregate (sum/count/min/max and avg via
  sum+count). AQE's skew handling only splits *join* partitions; skewed
  aggregation still needs this.
* ``salted_join``: explode the small-ish side N ways and salt the big
  side's key randomly, turning one hot hash bucket into N. For dims that
  fit in memory prefer ``F.broadcast`` — this is for the mid-size side
  that is too big to broadcast but joins a skewed fact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(df: DataFrame, key: str, aggs: dict[str, tuple[str, str]],
               salt_buckets: int = 16) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output column → (input column, fn) with fn in
    {"sum", "count", "min", "max"}. Phase 1 groups by (key, salt) — the
    map-side partial plus N-way spread of each hot key; phase 2 combines
    partials by key (sum of counts/sums, min of mins, max of maxes).
    """
    partial_fns = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    combine_fns = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    for name, (col, fn) in aggs.items():
        if fn not in partial_fns:
            raise ValueError(f"unsupported agg fn {fn!r}")

    salted = df.withColumn("__salt",
                           (F.rand(seed=7) * salt_buckets).cast("int"))
    phase1 = salted.groupBy(key, "__salt").agg(*[
        partial_fns[fn](col).alias(f"__p_{name}")
        for name, (col, fn) in aggs.items()
    ])
    return phase1.groupBy(key).agg(*[
        combine_fns[fn](f"__p_{name}").alias(name)
        for name, (col, fn) in aggs.items()
    ])


def salted_join(big: DataFrame, small: DataFrame, key: str,
                salt_buckets: int = 8, how: str = "inner") -> DataFrame:
    """Skew-safe equi-join without broadcast.

    The big (skewed) side gets a random salt in [0, N); the small side is
    exploded N ways so every (key, salt) combination exists. The join key
    becomes (key, salt) — a hot key's rows now land in N buckets instead
    of one. Costs N× duplication of the small side; choose N ≈ the skew
    factor, not larger.

    Only ``inner`` and ``left`` are correct under this construction: with
    ``right``/``full`` an unmatched small-side row surfaces once per salt
    (N duplicates), and semi/anti joins change semantics entirely.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' only, got {how!r}: "
            "the N-way small-side explode duplicates unmatched small rows "
            "under right/full joins and breaks semi/anti semantics")
    big_s = big.withColumn("__salt",
                           (F.rand(seed=11) * salt_buckets).cast("int"))
    small_s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])))
    out = big_s.join(small_s, [key, "__salt"], how)
    return out.drop("__salt")


def key_skew_report(df: DataFrame, key: str,
                    top_n: int = 10) -> DataFrame:
    """Join/agg-key skew diagnostic — the measurement that decides
    WHEN ``salted_join``/``salted_agg`` (above) or AQE skew splitting
    is worth its overhead, instead of salting by folklore.

    Returns one row: ``(n_rows, n_keys, max_key_rows, median_key_rows,
    max_key_frac, top10_frac, skew_ratio)`` — ``skew_ratio`` is the
    hottest key's size over the mean key size (1.0 = perfectly uniform;
    a shuffle partition holding a key at ratio R finishes ~R× later
    than the average task, which is exactly the straggler salting
    removes). ``top10_frac`` (really top-``top_n``) is the row mass of
    the ``top_n`` hottest keys — high values mean AQE's split of a few
    giant partitions suffices; a long heavy tail argues for salting.

    Plan: ONE map-side-combined groupBy(key) (the same shuffle the join
    under diagnosis would pay), a single aggregate over the key-count
    table (exact counts + interpolated median), and a
    ``TakeOrderedAndProject`` top-``top_n`` — no global window over the
    key table, so the report scales to any key cardinality.
    """
    ks = df.groupBy(F.col(key).alias("__k")) \
        .agg(F.count("*").alias("__c"))
    topk = (ks.orderBy(F.desc("__c"), F.col("__k").asc()).limit(top_n)
            .agg(F.sum("__c").alias("__top")))
    stats = ks.agg(
        F.sum("__c").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("__c").alias("max_key_rows"),
        F.percentile(F.col("__c"), F.lit(0.5)).alias("median_key_rows"))
    return (stats.crossJoin(F.broadcast(topk))
            .select(
                "n_rows", "n_keys", "max_key_rows", "median_key_rows",
                F.round(F.col("max_key_rows") / F.col("n_rows"), 6)
                .alias("max_key_frac"),
                F.round(F.col("__top") / F.col("n_rows"), 6)
                .alias("top10_frac"),
                F.round(F.col("max_key_rows") * F.col("n_keys")
                        / F.col("n_rows"), 6).alias("skew_ratio")))


def join_size_forecast(left: DataFrame, right: DataFrame,
                       left_key: str, right_key: str,
                       top_n: int = 5) -> DataFrame:
    """Exact equi-join output-size forecast WITHOUT running the join:
    ``|A ⋈ B| = Σ_k cnt_A(k) · cnt_B(k)`` over the matching keys — the
    pre-flight that catches a many-to-many blowup (the Σ|block|² class)
    while it still costs two key-counted aggregates instead of the
    exploded join itself. One row out: ``(n_left, n_right, n_matching_
    keys, join_rows, amplification_1e6, top_keys)`` — ``amplification``
    is join_rows/max(inputs) in integer micro-units (exact), and
    ``top_keys`` names the ``top_n`` keys by per-key output so the skew
    culprit is in the report, not a follow-up query.

    Plan: groupBy(key) count on each side (map-side combined), an
    equi-join of the two KEY tables (key-cardinality, not row-
    cardinality), one aggregate + one top-n sort-limit. All integers.
    """
    a = left.groupBy(F.col(left_key).alias("k")) \
        .agg(F.count(F.lit(1)).alias("ca"))
    b = right.groupBy(F.col(right_key).alias("k")) \
        .agg(F.count(F.lit(1)).alias("cb"))
    m = (a.join(b, "k")
         .withColumn("out", F.col("ca") * F.col("cb"))
         .localCheckpoint(eager=False))
    na = left.count()
    nb = right.count()
    # TakeOrderedAndProject for the candidate set (never a global
    # window), then an order-insensitive collect re-sorted INSIDE the
    # row — collect_list order after a limit is not a contract, so the
    # display order comes from array_sort on (out desc, key-string asc)
    top = (m.orderBy(F.desc("out"), "k").limit(top_n)
           .agg(F.array_join(
               F.transform(
                   F.array_sort(F.collect_list(F.struct(
                       (-F.col("out")).alias("negout"),
                       F.col("k").cast("string").alias("ks")))),
                   lambda s: s["ks"]),
               ",").alias("top_keys")))
    return (m.agg(F.lit(na).alias("n_left"), F.lit(nb).alias("n_right"),
                  F.count(F.lit(1)).alias("n_matching_keys"),
                  F.sum("out").alias("join_rows"))
            .withColumn("amplification_1e6",
                        F.expr(f"join_rows * 1000000 div "
                               f"{max(na, nb, 1)}"))
            .crossJoin(F.broadcast(top)))
