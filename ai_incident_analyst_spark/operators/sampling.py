"""Deterministic sampling operators for training-data pipelines.

``df.sample()`` is seed-dependent per partition-split and not reproducible
across cluster layouts or engines — useless for auditable corpus
construction. Everything here derives the sampling decision from a hash of
a stable row key, so the sample is (a) identical on every run, cluster
size, and engine (md5 is bit-identical in Spark and DuckDB — each query
has an exact SQL oracle), (b) a pure narrow filter: no shuffle, pushes
down past column pruning, scan-speed at 100 TB, and (c) stable under
incremental appends — a row's membership never changes when other rows
arrive, which is what makes hash-sampling the standard for dataset
versioning (cf. the fixed "holdout by hash of id" idiom in public ML
pipelines).

The uniformity argument: md5's hex digest is uniform over [0, 16^32); the
first 8 hex chars compared lexicographically against the hex encoding of
``fraction * 16^8`` is an exact Bernoulli(fraction) draw at 2^-32
granularity.

The reference has no sampling at all (its LIMIT 1000 is a head-slice,
``new_relic_fetcher.py:79``); this is north-star pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _hex_threshold(fraction: float) -> str:
    """8-hex-char threshold t such that P(md5_prefix < t) == fraction
    (at 2^-32 granularity), for lexicographic comparison."""
    return format(max(0, min(int(fraction * 16 ** 8), 16 ** 8 - 1)), "08x")


def hash_sample(df: DataFrame, key_col: str, fraction: float,
                salt: str = "") -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose salted md5 prefix
    falls below the fraction threshold. Narrow filter, no shuffle."""
    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    return df.filter(F.substring(h, 1, 8) < _hex_threshold(fraction))


def stratified_sample(df: DataFrame, key_col: str, strata_col: str,
                      fractions: dict[str, float], default: float = 0.0,
                      salt: str = "") -> DataFrame:
    """Per-stratum deterministic sampling rates (e.g. downsample dominant
    languages, keep all of rare ones) — the corpus-balancing primitive.
    Still a pure narrow filter: the stratum→threshold map compiles into a
    CASE expression, no join, no shuffle."""
    h = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8)
    thr = F.lit(_hex_threshold(default))
    for stratum, frac in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == stratum,
                     F.lit(_hex_threshold(frac))).otherwise(thr)
    return df.filter(h < thr)


def train_test_split(df: DataFrame, key_col: str, test_fraction: float,
                     salt: str = "split") -> DataFrame:
    """Add a ``split`` column ('test' below the hash threshold, else
    'train'). Membership is a function of the key alone: appending new
    data never migrates an existing row across the split — the property
    that makes hash splits safe for longitudinal evals."""
    h = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8)
    return df.withColumn(
        "split",
        F.when(h < _hex_threshold(test_fraction), F.lit("test"))
        .otherwise(F.lit("train")))


def weighted_interleave(sources: list[tuple[DataFrame, float]],
                        key_col: str, salt: str = "mix") -> DataFrame:
    """Mix corpora at given sampling weights (each in (0, 1]): per-source
    deterministic downsample, then union. The standard "data mixture"
    step (e.g. oversampled high-quality sources) expressed as filters +
    unionByName — every branch stays a narrow scan; Spark unions are
    metadata-only (no shuffle, no materialization).
    """
    parts = []
    for i, (df, w) in enumerate(sources):
        part = df if w >= 1.0 else hash_sample(df, key_col, w, f"{salt}{i}")
        parts.append(part.withColumn("source_idx", F.lit(i)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def quota_sample(df: DataFrame, key_col: str, strata_col: str,
                 quota: int, salt: str = "") -> DataFrame:
    """Cap every stratum at ``quota`` rows, picking a deterministic
    pseudo-random subset (ordered by salted md5 of the key, ties by key) —
    the "domain balancing" primitive that stops a handful of giant domains
    from dominating a training mix when per-stratum RATES (see
    ``stratified_sample``) are unknown upfront.

    One keyed shuffle (the per-stratum window). Skew note: a 100 TB hot
    stratum funnels into one window partition; Spark 3.4+'s
    WindowGroupLimit pushes the rank filter into the shuffle map side, so
    only ~quota rows per partition survive to the reduce — the shuffle
    carries O(partitions x quota), not the raw stratum.
    """
    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= quota)
        .drop("__rk")
    )


def leakage_safe_split(df: DataFrame, id_col: str, clusters: DataFrame,
                       test_fraction: float,
                       salt: str = "split") -> DataFrame:
    """Train/test split that can never leak near-duplicates across the
    boundary: the hash key is the doc's near-dup CLUSTER id (from
    ``dedup.connected_components``), so every member of a cluster lands
    on the same side — the contamination control a per-doc hash split
    cannot give (a test doc's near-identical twin in train is leakage).

    ``clusters`` is ``(node, cluster_id)``; docs absent from it are
    singletons and hash by their own id (coalesce). One keyed left join
    against the (near-dup-sized, usually small) cluster table, then the
    same narrow md5-threshold filter as ``train_test_split`` — membership
    is append-stable for any new data whose cluster doesn't change.
    """
    lab = clusters.select(F.col("node").alias(id_col),
                          F.col("cluster_id"))
    j = df.join(lab, id_col, "left")
    gkey = F.coalesce(F.col("cluster_id"), F.col(id_col))
    h = F.substring(
        F.md5(F.concat(F.lit(salt), gkey.cast("string"))), 1, 8)
    return (
        j.withColumn(
            "split",
            F.when(h < _hex_threshold(test_fraction), F.lit("test"))
            .otherwise(F.lit("train")))
        .drop("cluster_id")
    )


def score_weighted_sample(df: DataFrame, key_col: str, score_col,
                          base_rate: float = 1.0,
                          salt: str = "qws") -> DataFrame:
    """Deterministic importance sampling by a per-row score: acceptance
    probability = clamp(score, 0, 1) · base_rate — the quality-weighted
    corpus downsample (keep most high-quality docs, thin the tail)
    expressed as the same md5-threshold narrow filter as ``hash_sample``:
    no shuffle, no RNG state, append-stable, reproducible.

    The score is rounded to 6dp before thresholding so the acceptance
    boundary is defined on exactly representable values (a raw FP score
    one ulp apart across engines must not flip membership). NULL and NaN
    scores DROP the row (NaN sorts above every number in Spark, so a
    bare clamp would keep a corrupt score at full rate — an undefined
    quality must not be sampled as top quality).
    """
    sc = F.col(score_col) if isinstance(score_col, str) else score_col
    safe = F.when(F.isnan(sc) | sc.isNull(), F.lit(0.0)).otherwise(sc)
    p = F.round(F.least(F.greatest(safe, F.lit(0.0)), F.lit(1.0)), 6) \
        * F.lit(float(base_rate))
    thr = F.floor(p * F.lit(float(16 ** 8))).cast("long")
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
        1, 8), 16, 10).cast("long")
    return df.filter(h < thr)


def domain_mixture_sample(df: DataFrame, key_col: str, domain_col: str,
                          size_col: str, target_weights: dict[str, float],
                          budget: float,
                          salt: str = "mix") -> DataFrame:
    """Deterministic data-mixture resampling: downsample each domain so
    the kept corpus approaches a TARGET mixture (the DoReMi /
    The-Pile-style "domain reweighting" step every multi-source
    training corpus runs before tokenization).

    For domain d with total size T_d (sum of ``size_col`` — tokens,
    chars, bytes), target share w_d and overall budget B, the
    acceptance rate is ``min(1, w_d·B / T_d)`` — expected kept size
    w_d·B per domain, i.e. the target mixture wherever the domain has
    enough mass (rates clamp at 1 for under-represented domains, the
    standard "can't upsample without replacement" caveat). Domains
    absent from ``target_weights`` drop entirely.

    Physical shape: one tiny per-domain aggregation (map-side combined,
    |domains| rows) broadcast back, then the md5-threshold narrow
    filter — no data shuffle, append-stable per row given fixed rates,
    reproducible across engines. Rates are rounded to 6 dp and compared
    as ``md5_int < floor(rate · 2³²)`` so the acceptance boundary is
    engine-exact (the ``score_weighted_sample`` contract).
    """
    w_case = F.lit(None).cast("double")
    for dom, w in target_weights.items():
        w_case = F.when(F.col(domain_col) == dom, F.lit(float(w))) \
            .otherwise(w_case)
    rates = (
        df.groupBy(domain_col)
        .agg(F.sum(F.col(size_col).cast("double")).alias("__t"))
        .withColumn("__w", w_case)
        # filter BEFORE least(): Spark's least() skips NULL operands, so
        # least(1.0, NULL_weight * …) would silently become rate 1.0 and
        # keep a domain that should be dropped
        .filter(F.col("__w").isNotNull())
        .withColumn(
            "__rate",
            F.round(F.least(F.lit(1.0),
                            F.col("__w") * F.lit(float(budget))
                            / F.col("__t")), 6))
        .select(domain_col, "__rate")
    )
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
        1, 8), 16, 10).cast("long")
    thr = F.floor(F.col("__rate") * F.lit(float(16 ** 8))).cast("long")
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(h < thr)
        .drop("__rate")
    )


def weighted_sample_no_replacement(df: DataFrame, key_col: str,
                                   weight_col, k: int,
                                   strata_col: str | None = None,
                                   salt: str = "wsk") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): each row draws an exponential jump
    ``e = −ln(u)/w`` with ``u`` a hash-derived uniform in (0,1); the ``k``
    smallest ``e`` per stratum (or globally) are the sample. Inclusion
    probability is proportional to weight, no row can be drawn twice,
    and — because ``u`` comes from ``md5(salt‖key)`` rather than an RNG —
    the sample is reproducible, append-stable for surviving rows, and
    partitioning-independent (the distributed form of the reservoir
    variant: no sequential reservoir state, just a global/grouped top-k).

    Rows with NULL/NaN/non-positive weights are excluded (a zero-weight
    row must never be sampled; an undefined weight must not win by NaN
    ordering). Ties (measure-zero on continuous keys) break by row key.

    Plan shape: a narrow projection + top-k selection. Stratified form:
    one per-stratum window — WindowGroupLimit pushes the rank filter
    map-side, so a hot stratum ships O(partitions·k), the same property
    as ``quota_sample``. Global form: ``orderBy(...).limit(k)``, which
    Spark plans as TakeOrderedAndProject — per-partition partial top-k
    merged on the driver, never the single-partition window a global
    ``row_number`` would force.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    wd = w.cast("double")
    u = (F.conv(F.substring(
            F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
            1, 8), 16, 10).cast("double") + F.lit(1.0)) / F.lit(float(16 ** 8) + 1.0)
    ekey = -F.log(u) / wd
    filtered = df.filter(wd.isNotNull() & ~F.isnan(wd) & (wd > 0))
    if strata_col is None:
        return (
            filtered.withColumn("__ekey", ekey)
            .orderBy(F.col("__ekey").asc(), F.col(key_col).asc())
            .limit(k)
            .drop("__ekey")
        )
    win = Window.partitionBy(strata_col).orderBy(
        ekey.asc(), F.col(key_col).asc())
    return (
        filtered.withColumn("__rk", F.row_number().over(win))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def temperature_sample(df: DataFrame, key_col: str, domain_col: str,
                       alpha: float = 0.5, budget_rows: float | None = None,
                       salt: str = "temp") -> DataFrame:
    """Temperature-based mixture rebalancing (the mT5 / XLM-R
    α-sampling recipe): sample domains with probability ``q_d ∝ p_d^α``
    where ``p_d`` is the domain's empirical row share. ``α = 1`` keeps
    the natural mixture, ``α = 0`` flattens to uniform; the standard
    low-resource-language boost is ``α ≈ 0.3–0.7``.

    Realized as per-domain acceptance rates over a fixed corpus:
    ``r_d = min(1, q_d·B / n_d)`` with ``B = budget_rows`` (default: the
    corpus size, i.e. pure rebalancing at constant expected volume).
    Same physical shape and determinism contract as
    ``domain_mixture_sample``: two tiny domain-level aggs (counts, then
    the ``Σ n^α`` normalizer via a 1-row cross join — the scalar-anchor
    pattern), rates rounded to 6 dp, and the engine-exact
    ``md5_int < floor(rate·2³²)`` narrow filter. No data shuffle;
    append-stable per row for fixed rates.
    """
    counts = (df.groupBy(domain_col)
              .agg(F.count(F.lit(1)).cast("double").alias("__n")))
    tot = counts.agg(F.sum("__n").alias("__tot"),
                     F.sum(F.pow("__n", F.lit(float(alpha))))
                     .alias("__z"))
    b = F.col("__tot") if budget_rows is None else F.lit(float(budget_rows))
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "__rate",
            F.round(F.least(
                F.lit(1.0),
                (F.pow("__n", F.lit(float(alpha))) / F.col("__z"))
                * b / F.col("__n")), 6))
        .select(domain_col, "__rate")
    )
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
        1, 8), 16, 10).cast("long")
    thr = F.floor(F.col("__rate") * F.lit(float(16 ** 8))).cast("long")
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(h < thr)
        .drop("__rate")
    )
