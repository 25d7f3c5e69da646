"""Statistical operators (class AGG/STAT) over cell tables and attribute
columns — all single hash-aggregate plans (partial + final combine free).

References:
  - RasterSummaryStats: /root/reference/whitebox-tools-app/src/tools/
    math_stat_analysis/raster_summary_stats.rs:134 (min/max/mean/sd/n/total).
  - RasterHistogram: raster_histogram.rs:128.
  - Quantiles: quantiles.rs:136 (values -> quantile bin 1..q over the
    non-nodata distribution, :263-268).
  - ZScores: zscores.rs:130 ((v - mean) / sd).
  - RootMeanSquareError: root_mean_square_error.rs:130.
  - ListUniqueValues: list_unique_values.rs:149 (attribute value -> count).
  - RescaleValueRange: rescale_value_range.rs:152 (min-max stretch).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def raster_summary_stats(cells: DataFrame, *, value: str = "value") -> DataFrame:
    v = F.col(value)
    return cells.filter(v.isNotNull()).agg(
        F.count(v).alias("n"),
        F.sum(v).alias("total"),
        F.avg(v).alias("mean_v"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.stddev_samp(v).alias("sd"),
    )


def raster_histogram(
    cells: DataFrame, *, value: str = "value", vmin: float, vmax: float, bins: int
) -> DataFrame:
    """Counts per equal-width bin over [vmin, vmax]; top edge clamped into
    the last bin (reference closes the final interval)."""
    v = F.col(value)
    width = (vmax - vmin) / bins
    b = F.least(
        F.floor((v - F.lit(vmin)) / F.lit(width)).cast("long"), F.lit(bins - 1).cast("long")
    )
    return (
        cells.filter(v.isNotNull() & (v >= vmin) & (v <= vmax))
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def quantiles(cells: DataFrame, q: int, *, value: str = "value") -> DataFrame:
    """Quantile bin 1..q per cell — equal-count quantile transform
    (quantiles.rs:263-268), same bin sizes as SQL ntile(q).

    Scale path: a global ntile window would funnel every cell through one
    task; instead the global rank comes from the distributed
    range-partition + offset pattern and the ntile arithmetic (first n % q
    tiles get ceil(n/q) rows) is a pure expression on (rank, n)."""
    from whitebox_tools_spark.distributed import with_global_seq

    v = F.col(value)
    src = cells.filter(v.isNotNull())
    ranked = with_global_seq(src, [value], out_col="__rank")
    total = src.agg(F.count(F.lit(1)).alias("__n"))
    j = ranked.join(F.broadcast(total), how="cross")
    big = F.floor(F.col("__n") / q) + 1           # size of the first n % q tiles
    r = F.col("__n") % q                          # number of big tiles
    cutoff = r * big
    small = F.greatest(big - 1, F.lit(1).cast("long"))
    tile = F.when(
        F.col("__rank") <= cutoff, F.floor((F.col("__rank") - 1) / big)
    ).otherwise(r + F.floor((F.col("__rank") - 1 - cutoff) / small))
    return j.withColumn("quantile", (tile + 1).cast("int")).drop("__rank", "__n")


def zscores(cells: DataFrame, *, value: str = "value") -> DataFrame:
    """(v - mean) / sd (population mean, sample sd as the reference)."""
    v = F.col(value)
    stats = cells.filter(v.isNotNull()).agg(
        F.avg(v).alias("__mean"), F.stddev_samp(v).alias("__sd")
    )
    return (
        cells.filter(v.isNotNull())
        .crossJoin(F.broadcast(stats))
        .withColumn("zscore", (v - F.col("__mean")) / F.col("__sd"))
        .drop("__mean", "__sd")
    )


def rescale_value_range(
    cells: DataFrame, *, value: str = "value", new_min: float, new_max: float
) -> DataFrame:
    """Min-max stretch to [new_min, new_max]."""
    v = F.col(value)
    stats = cells.filter(v.isNotNull()).agg(F.min(v).alias("__lo"), F.max(v).alias("__hi"))
    return (
        cells.filter(v.isNotNull())
        .crossJoin(F.broadcast(stats))
        .withColumn(
            value,
            F.lit(new_min)
            + (v - F.col("__lo")) / (F.col("__hi") - F.col("__lo")) * F.lit(new_max - new_min),
        )
        .drop("__lo", "__hi")
    )


def rmse(a: DataFrame, b: DataFrame, *, value: str = "value") -> DataFrame:
    """RootMeanSquareError between two aligned rasters."""
    j = a.select("row", "col", F.col(value).alias("__v1")).join(
        b.select("row", "col", F.col(value).alias("__v2")), ["row", "col"]
    )
    d = F.col("__v1") - F.col("__v2")
    return j.agg(
        F.sqrt(F.avg(d * d)).alias("rmse"),
        F.avg(d).alias("mean_error"),
        F.count(F.lit(1)).alias("n"),
    )


def list_unique_values(df: DataFrame, field: str) -> DataFrame:
    """ListUniqueValues: distinct attribute values with counts."""
    return df.groupBy(F.col(field).alias("value")).agg(F.count(F.lit(1)).alias("n"))


def kappa_index(a: DataFrame, b: DataFrame, *, value: str = "value") -> DataFrame:
    """KappaIndex (kappa_index.rs:141): agreement of two categorical rasters.
    kappa = (po - pe) / (1 - pe) from the confusion matrix; overall accuracy po."""
    j = (
        a.select("row", "col", F.col(value).alias("__c1"))
        .join(b.select("row", "col", F.col(value).alias("__c2")), ["row", "col"])
        .filter(F.col("__c1").isNotNull() & F.col("__c2").isNotNull())
    )
    n = j.count()
    po = j.filter(F.col("__c1") == F.col("__c2")).count() / n
    m1 = j.groupBy("__c1").count().withColumnRenamed("count", "n1")
    m2 = j.groupBy("__c2").count().withColumnRenamed("count", "n2")
    pe_row = (
        m1.join(m2, m1["__c1"] == m2["__c2"])
        .agg(F.sum(F.col("n1").cast("double") * F.col("n2") / (n * n)).alias("pe"))
        .collect()[0]
    )
    pe = pe_row["pe"] or 0.0
    kappa = (po - pe) / (1 - pe) if pe != 1.0 else 1.0
    return a.sparkSession.createDataFrame(
        [(float(po), float(pe), float(kappa), int(n))],
        "overall_accuracy double, chance_agreement double, kappa double, n long",
    )


def trend_surface(
    cells: DataFrame,
    grid,
    *,
    order: int = 1,
    x: str | None = None,
    y: str | None = None,
) -> tuple[DataFrame, list[float]]:
    """TrendSurface (math_stat_analysis/trend_surface.rs:138): least-squares
    polynomial surface z = f(x, y) of the given order over cell centers,
    returning (fitted cell table, coefficients).

    Spark plan: the normal equations X'X / X'y are sums of products —
    ONE aggregate over the data (partial+final combine); the tiny
    (terms x terms) system is solved driver-side with numpy; fitted values
    are a pure column expression. No data leaves the cluster except the
    moment matrix.

    Numerics: the solve runs in the CENTERED basis (x-mean_x, y-mean_y,
    z-mean_z) — raw moments of world-scale coordinates make the normal
    matrix ill-conditioned (cond ~ extent^order), which loses ~cond*eps of
    the fitted precision; centering makes the system O(1)-conditioned so
    engine and DuckDB oracle agree far below the round-6 gate. Returned
    coefficients are re-expanded to the RAW x/y basis (binomial shift)."""
    import math as _math

    import numpy as np

    xs = F.expr(grid.x_center_sql("col")) if x is None else F.col(x)
    ys = F.expr(grid.y_center_sql("row")) if y is None else F.col(y)
    src = (
        cells.filter(F.col("value").isNotNull())
        .withColumn("__x", xs)
        .withColumn("__y", ys)
    )
    means = src.agg(
        F.avg("__x").alias("mx"), F.avg("__y").alias("my"), F.avg("value").alias("mz")
    ).collect()[0]
    mx, my, mz = float(means.mx), float(means.my), float(means.mz)

    terms = [(i, j) for j in range(order + 1) for i in range(order + 1 - j)]
    cx, cy = F.col("__x") - F.lit(mx), F.col("__y") - F.lit(my)
    term_cols = [
        (F.pow(cx, F.lit(float(i))) * F.pow(cy, F.lit(float(j)))).alias(f"t{k}")
        for k, (i, j) in enumerate(terms)
    ]
    t = src.select((F.col("value") - F.lit(mz)).alias("z"), *term_cols)
    aggs = []
    for a in range(len(terms)):
        for b in range(a, len(terms)):
            aggs.append(F.sum(F.col(f"t{a}") * F.col(f"t{b}")).alias(f"xx_{a}_{b}"))
        aggs.append(F.sum(F.col(f"t{a}") * F.col("z")).alias(f"xy_{a}"))
    row = t.agg(*aggs).collect()[0]
    n = len(terms)
    xtx = np.zeros((n, n))
    xty = np.zeros(n)
    for a in range(n):
        xty[a] = row[f"xy_{a}"]
        for b in range(a, n):
            xtx[a, b] = xtx[b, a] = row[f"xx_{a}_{b}"]
    coef, *_ = np.linalg.lstsq(xtx, xty, rcond=None)

    fitted = F.lit(mz)
    for k, (i, j) in enumerate(terms):
        fitted = fitted + F.lit(float(coef[k])) * F.pow(cx, F.lit(float(i))) * F.pow(
            cy, F.lit(float(j))
        )
    out = src.select("row", "col", fitted.alias("value"))

    # re-expand centered coefficients to the raw basis:
    # (x-mx)^i (y-my)^j = sum C(i,a) C(j,b) (-mx)^(i-a) (-my)^(j-b) x^a y^b
    index = {t_: k for k, t_ in enumerate(terms)}
    raw = np.zeros(n)
    for k, (i, j) in enumerate(terms):
        for a in range(i + 1):
            for b in range(j + 1):
                raw[index[(a, b)]] += (
                    coef[k]
                    * _math.comb(i, a) * _math.comb(j, b)
                    * ((-mx) ** (i - a)) * ((-my) ** (j - b))
                )
    raw[index[(0, 0)]] += mz
    return out, [float(c) for c in raw]


def trend_surface_vector_points(
    points: DataFrame,
    *,
    order: int = 1,
    cell_size: float,
    x: str = "x",
    y: str = "y",
    value: str = "value",
) -> DataFrame:
    """TrendSurfaceVectorPoints (math_stat_analysis/
    trend_surface_vector_points.rs:297-590): least-squares polynomial
    trend fitted to vector points, EVALUATED over a raster spanning the
    point extent — west = min_x, north = max_y, rows/cols =
    ceil(extent / cell_size) (rs:307-310); every output cell gets the
    fitted value (rs:566-581). This is the dedicated output shape the
    shared trend_surface() (fitted-at-source-rows) does not produce.

    Numerics parity note: the reference QR-solves in the min-shifted
    basis (x - min_x, y - min_y, z - min_z); this engine solves the same
    least-squares problem in the centered basis (x - mean, ...), whose
    normal matrix is O(1)-conditioned — predictions are basis-invariant,
    so fitted values agree to float noise and the DuckDB Cramer oracle
    certifies them at 6 dp.

    Spark plan: one extent aggregate + one moment aggregate over the
    points (partial+final combine, only (terms x terms) scalars reach the
    driver); the output raster is range -> pure column expression. Scales
    to any point count and any raster size with no further shuffles."""
    import numpy as np

    spark = points.sparkSession
    src = points.filter(F.col(value).isNotNull()).select(
        F.col(x).alias("__x"), F.col(y).alias("__y"), F.col(value).alias("__z")
    )
    ext = src.agg(
        F.min("__x").alias("xmin"), F.max("__x").alias("xmax"),
        F.min("__y").alias("ymin"), F.max("__y").alias("ymax"),
        F.avg("__x").alias("mx"), F.avg("__y").alias("my"),
        F.avg("__z").alias("mz"),
    ).collect()[0]
    west, north = float(ext.xmin), float(ext.ymax)
    rows = int(math.ceil((north - float(ext.ymin)) / cell_size))
    cols = int(math.ceil((float(ext.xmax) - west) / cell_size))
    mx, my, mz = float(ext.mx), float(ext.my), float(ext.mz)

    terms = [(i, j) for j in range(order + 1) for i in range(order + 1 - j)]
    cx, cy = F.col("__x") - F.lit(mx), F.col("__y") - F.lit(my)
    term_cols = [
        (F.pow(cx, F.lit(float(i))) * F.pow(cy, F.lit(float(j)))).alias(f"t{k}")
        for k, (i, j) in enumerate(terms)
    ]
    t = src.select((F.col("__z") - F.lit(mz)).alias("z"), *term_cols)
    aggs = []
    for a in range(len(terms)):
        for b in range(a, len(terms)):
            aggs.append(F.sum(F.col(f"t{a}") * F.col(f"t{b}")).alias(f"xx_{a}_{b}"))
        aggs.append(F.sum(F.col(f"t{a}") * F.col("z")).alias(f"xy_{a}"))
    mrow = t.agg(*aggs).collect()[0]
    n = len(terms)
    xtx = np.zeros((n, n))
    xty = np.zeros(n)
    for a in range(n):
        xty[a] = mrow[f"xy_{a}"]
        for b in range(a, n):
            xtx[a, b] = xtx[b, a] = mrow[f"xx_{a}_{b}"]
    coef, *_ = np.linalg.lstsq(xtx, xty, rcond=None)

    cells = spark.range(rows * cols).select(
        (F.col("id") / cols).cast("long").alias("row"),
        (F.col("id") % cols).alias("col"),
    )
    # reference center formula (lib.rs:728-741) over the derived grid
    xc = F.lit(west) + F.lit(cell_size / 2.0) + F.col("col").cast("double") * F.lit(cell_size)
    yc = F.lit(north) - F.lit(cell_size / 2.0) - F.col("row").cast("double") * F.lit(cell_size)
    fitted = F.lit(mz)
    for k, (i, j) in enumerate(terms):
        fitted = fitted + F.lit(float(coef[k])) * F.pow(
            xc - F.lit(mx), F.lit(float(i))
        ) * F.pow(yc - F.lit(my), F.lit(float(j)))
    return cells.select("row", "col", fitted.alias("value"))


def image_correlation(a: DataFrame, b: DataFrame) -> DataFrame:
    """ImageCorrelation (math_stat_analysis/image_correlation.rs): sample
    Pearson r between two rasters over cells valid in BOTH.
    -> one row (n, r)."""
    j = (
        a.filter(F.col("value").isNotNull())
        .select("row", "col", F.col("value").alias("x"))
        .join(
            b.filter(F.col("value").isNotNull())
            .select("row", "col", F.col("value").alias("y")),
            ["row", "col"],
        )
    )
    return j.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("x", "y"), 6).alias("r"),
    )


def image_regression(a: DataFrame, b: DataFrame) -> DataFrame:
    """ImageRegression (math_stat_analysis/image_regression.rs): OLS of
    raster b (dependent) on raster a (independent) over cells valid in
    both. -> one row (n, slope, intercept, r_square)."""
    j = (
        a.filter(F.col("value").isNotNull())
        .select("row", "col", F.col("value").alias("x"))
        .join(
            b.filter(F.col("value").isNotNull())
            .select("row", "col", F.col("value").alias("y")),
            ["row", "col"],
        )
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.covar_samp("x", "y").alias("cv"),
        F.var_samp("x").alias("vx"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.corr("x", "y").alias("r"),
    )
    return agg.select(
        "n",
        F.round(F.col("cv") / F.col("vx"), 6).alias("slope"),
        F.round(F.col("my") - F.col("cv") / F.col("vx") * F.col("mx"), 6).alias("intercept"),
        F.round(F.col("r") * F.col("r"), 6).alias("r_square"),
    )


_CONTIGUITY = {
    "rook": [(0, 1), (0, -1), (1, 0), (-1, 0)],
    "bishop": [(1, 1), (1, -1), (-1, 1), (-1, -1)],
    "queen": [(0, 1), (0, -1), (1, 0), (-1, 0), (1, 1), (1, -1), (-1, 1), (-1, -1)],
}


def image_autocorrelation(
    cells: DataFrame, *, contiguity: str = "rook"
) -> DataFrame:
    """ImageAutocorrelation (math_stat_analysis/image_autocorrelation.rs
    :383-425): global Moran's I with binary contiguity weights,
    I = n * sum_pairs((z_i - mean)(z_j - mean)) / (sum((z_i - mean)^2) * W)
    where W counts DIRECTED valid neighbor pairs (the reference increments
    w once per ordered pair). -> one row (n, w, moran_i)."""
    offs = _CONTIGUITY[contiguity]
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    spark = cells.sparkSession
    off_df = spark.createDataFrame(offs, "dy int, dx int").toDF("dy", "dx")
    nbr = (
        src.crossJoin(F.broadcast(off_df))
        .select(
            (F.col("row") + F.col("dy")).alias("row"),
            (F.col("col") + F.col("dx")).alias("col"),
            F.col("value").alias("zn"),
        )
        .join(src, ["row", "col"])  # keep only pairs whose center is valid
    )
    stats = src.agg(
        F.count(F.lit(1)).alias("n"), F.avg("value").alias("mu"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    ).collect()[0]
    n, mu = float(stats.n), float(stats.mu)
    td = src.agg(
        F.sum((F.col("value") - F.lit(mu)) ** 2).alias("td")
    ).collect()[0].td
    agg = nbr.agg(
        F.count(F.lit(1)).alias("w"),
        F.sum((F.col("value") - F.lit(mu)) * (F.col("zn") - F.lit(mu))).alias("num"),
    )
    return agg.select(
        F.lit(int(n)).cast("long").alias("n"),
        F.col("w").cast("long").alias("w"),
        F.round(F.lit(n) * F.col("num") / (F.lit(td) * F.col("w")), 6).alias("moran_i"),
    )


def cross_tabulation(a: DataFrame, b: DataFrame) -> DataFrame:
    """CrossTabulation (math_stat_analysis/cross_tabulation.rs): the
    contingency table of two categorical rasters over cells valid in both.
    -> (value_a, value_b, n)."""
    j = (
        a.filter(F.col("value").isNotNull())
        .select("row", "col", F.col("value").alias("value_a"))
        .join(
            b.filter(F.col("value").isNotNull())
            .select("row", "col", F.col("value").alias("value_b")),
            ["row", "col"],
        )
    )
    return j.groupBy("value_a", "value_b").agg(F.count(F.lit(1)).alias("n"))


def cumulative_distribution(cells: DataFrame) -> DataFrame:
    """CumulativeDistribution (math_stat_analysis/cumulative_dist.rs): per
    cell, the fraction of valid cells with value <= the cell's value.
    Distributed: per-value counts + the range-partitioned running-sum
    pattern (no single-partition exchange). -> (row, col, value=cdf)."""
    from whitebox_tools_spark.distributed import with_running_sum

    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    total = src.count()
    vc = src.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
    cum = with_running_sum(vc, ["value"], ["cnt"]).select(
        "value", (F.col("cum_cnt") / F.lit(float(total))).alias("cdf")
    )
    return src.join(cum, "value").select(
        "row", "col", F.round(F.col("cdf"), 6).alias("value")
    )


def _ks_p_terms(lam_col, terms: int = 100):
    """Kolmogorov-Smirnov tail probability Q_KS(lambda) =
    2 * sum_{j>=1} (-1)^(j-1) exp(-2 j^2 lambda^2), fixed truncation (the
    reference's probks loop, two_sample_ks_test.rs:575-596, stops early by
    tolerance and returns 1.0 outright when 100 terms fail to converge —
    which happens exactly for small lambda, where the true Q is 1.0 to
    well past the 1e-6 rounding both engines apply; elsewhere a fixed
    100-term sum differs from the early-stopped sum by < 1e-8)."""
    a2 = -2.0 * lam_col * lam_col
    total = None
    for j in range(1, terms + 1):
        term = F.exp(a2 * F.lit(float(j * j))) * F.lit(2.0 * (-1.0) ** (j - 1))
        total = term if total is None else total + term
    clamped = F.greatest(F.least(total, F.lit(1.0)), F.lit(0.0))
    return F.when(lam_col < 0.05, F.lit(1.0)).otherwise(clamped)


def two_sample_ks_test(a: DataFrame, b: DataFrame) -> DataFrame:
    """TwoSampleKsTest (math_stat_analysis/two_sample_ks_test.rs): D =
    max |F1(v) - F2(v)| over the pooled values (CDFs evaluated after all
    ties at v on both sides — the reference's merge walk can probe between
    cross-sample ties; equal-to-the-reference on tie-free data), p-value
    from Q_KS(sqrt(n1*n2/(n1+n2)) * D). -> one row (n1, n2, ks_d, p_value).
    """
    from whitebox_tools_spark.distributed import with_running_sum

    va = a.filter(F.col("value").isNotNull()).select("value")
    vb = b.filter(F.col("value").isNotNull()).select("value")
    n1 = va.count()
    n2 = vb.count()
    ca = va.groupBy("value").agg(F.count(F.lit(1)).cast("double").alias("c1"))
    cb = vb.groupBy("value").agg(F.count(F.lit(1)).cast("double").alias("c2"))
    pooled = (
        ca.join(cb, "value", "full_outer")
        .select(
            "value",
            F.coalesce(F.col("c1"), F.lit(0.0)).alias("c1"),
            F.coalesce(F.col("c2"), F.lit(0.0)).alias("c2"),
        )
    )
    cum = with_running_sum(pooled, ["value"], ["c1", "c2"])
    dmax = cum.agg(
        F.max(
            F.abs(F.col("cum_c1") / F.lit(float(n1)) - F.col("cum_c2") / F.lit(float(n2)))
        ).alias("d")
    )
    en = math.sqrt(n1 * n2 / float(n1 + n2))
    return dmax.select(
        F.lit(n1).cast("long").alias("n1"),
        F.lit(n2).cast("long").alias("n2"),
        F.round(F.col("d"), 6).alias("ks_d"),
        F.round(_ks_p_terms(F.lit(en) * F.col("d")), 6).alias("p_value"),
    )


def attribute_correlation(df: DataFrame, cols: list[str]) -> DataFrame:
    """AttributeCorrelation (math_stat_analysis/attribute_correlation.rs):
    pairwise sample Pearson r between the numeric attribute columns of one
    table. -> (col_a, col_b, r) for every a < b pair, ordered names."""
    pairs = [(x, y) for i, x in enumerate(cols) for y in cols[i + 1:]]
    agg = df.agg(
        *[F.round(F.corr(x, y), 6).alias(f"__r_{i}") for i, (x, y) in enumerate(pairs)]
    )
    rows = [
        F.struct(
            F.lit(x).alias("col_a"), F.lit(y).alias("col_b"),
            F.col(f"__r_{i}").alias("r"),
        )
        for i, (x, y) in enumerate(pairs)
    ]
    return agg.select(F.explode(F.array(*rows)).alias("p")).select(
        "p.col_a", "p.col_b", "p.r"
    )


def crispness_index(cells: DataFrame) -> DataFrame:
    """CrispnessIndex (math_stat_analysis/crispness_index.rs:271-340):
    C = sum((z - mean)^2) / (sum(z)*(1-mean)^2 + (n - sum(z))*mean^2) for a
    membership-probability image (values in [0,1]). One aggregate.
    -> one row (n, crispness)."""
    src = cells.filter(F.col("value").isNotNull()).select("value")
    agg = src.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.avg("value").alias("mu"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    # sum((z-mu)^2) = ss - n*mu^2
    td = F.col("ss") - F.col("n") * F.col("mu") * F.col("mu")
    denom = (
        F.col("s") * (F.lit(1.0) - F.col("mu")) ** 2
        + (F.col("n") - F.col("s")) * F.col("mu") * F.col("mu")
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(td / denom, 6).alias("crispness"),
    )


# Abramowitz & Stegun 7.1.26 erfc polynomial (max abs error 1.5e-7) — the
# SAME closed form is emitted on the Spark and DuckDB sides so the engines
# agree bit-for-bit well below the round-6 gate. Valid for x >= 0.
_ERFC_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_ERFC_P = 0.3275911


def _erfc_expr(x):
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_ERFC_P) * x)
    poly = None
    for i, a in enumerate(_ERFC_A, start=1):
        term = F.lit(a) * t ** i
        poly = term if poly is None else poly + term
    return poly * F.exp(-x * x)


def _erfc_sql(x: str) -> str:
    t = f"(1.0 / (1.0 + {_ERFC_P!r} * {x}))"
    poly = " + ".join(f"{a!r} * power({t}, {i})" for i, a in enumerate(_ERFC_A, start=1))
    return f"(({poly}) * exp(-({x}) * ({x})))"


def anova(df: DataFrame, *, zone: str = "zone_id", value: str = "value") -> DataFrame:
    """Anova (math_stat_analysis/anova.rs:400-446): one-way analysis of
    variance of `value` grouped by `zone`. Two chained aggregates (per-class
    then global). The reference's p-value (an iterative incomplete-beta
    series, anova.rs:674-736) is intentionally omitted — the F statistic
    and both mean squares are the SQL-checkable substance.
    -> one row (num_classes, n, ss_between, df_between, ms_between,
    ss_within, df_within, ms_within, f_stat)."""
    src = df.filter(F.col(value).isNotNull() & F.col(zone).isNotNull())
    per = src.groupBy(zone).agg(
        F.count(F.lit(1)).cast("double").alias("cn"),
        F.sum(value).alias("cs"),
        F.sum(F.col(value) * F.col(value)).alias("css"),
    )
    g = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("cn").alias("n"),
        F.sum("cs").alias("s"),
        F.sum("css").alias("ss"),
        F.sum(F.col("cs") * F.col("cs") / F.col("cn")).alias("sb"),
    )
    ssb = F.col("sb") - F.col("s") * F.col("s") / F.col("n")
    ssw = F.col("ss") - F.col("sb")
    dfb = (F.col("k") - 1).cast("double")
    dfw = (F.col("n") - F.col("k")).cast("double")
    return g.select(
        F.col("k").cast("long").alias("num_classes"),
        F.col("n").cast("long").alias("n"),
        F.round(ssb, 6).alias("ss_between"),
        dfb.cast("long").alias("df_between"),
        F.round(ssb / dfb, 6).alias("ms_between"),
        F.round(ssw, 6).alias("ss_within"),
        dfw.cast("long").alias("df_within"),
        F.round(ssw / dfw, 6).alias("ms_within"),
        F.round((ssb / dfb) / (ssw / dfw), 6).alias("f_stat"),
    )


def paired_sample_t_test(a: DataFrame, b: DataFrame) -> DataFrame:
    """PairedSampleTTest (math_stat_analysis/paired_sample_t_test.rs):
    t = mean(d) / (sd(d)/sqrt(n)) over the per-cell differences d = a - b.
    The reference's Student-t p-value (incomplete beta) is omitted; the
    statistic and df are the SQL-checkable substance.
    -> one row (n, mean_diff, sd_diff, t_stat)."""
    j = (
        a.filter(F.col("value").isNotNull())
        .select("row", "col", F.col("value").alias("x"))
        .join(
            b.filter(F.col("value").isNotNull())
            .select("row", "col", F.col("value").alias("y")),
            ["row", "col"],
        )
        .select((F.col("x") - F.col("y")).alias("d"))
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("d").alias("md"),
        F.stddev_samp("d").alias("sd"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("md"), 6).alias("mean_diff"),
        F.round(F.col("sd"), 6).alias("sd_diff"),
        F.round(
            F.col("md") / (F.col("sd") / F.sqrt(F.col("n").cast("double"))), 6
        ).alias("t_stat"),
    )


def wilcoxon_signed_rank_test(a: DataFrame, b: DataFrame) -> DataFrame:
    """WilcoxonSignedRankTest (math_stat_analysis/
    wilcoxon_signed_rank_test.rs:382-432): signed average ranks of the
    non-zero |d|, W = sum(signed ranks), sigma_w =
    sqrt(nr(nr+1)(2nr+1)/6), z = W / sigma_w, p = 2(1 - Phi(|z|)) (the
    reference's exact normal CDF is mirrored by the A&S 7.1.26 erfc
    polynomial, within 1.5e-7). Average ranks come from per-distinct-|d|
    cumulative counts (range-partitioned running sum — no global window).
    -> one row (nr, w_plus, w_minus, z_value, p_value)."""
    from whitebox_tools_spark.distributed import with_running_sum

    d = (
        a.filter(F.col("value").isNotNull())
        .select("row", "col", F.col("value").alias("x"))
        .join(
            b.filter(F.col("value").isNotNull())
            .select("row", "col", F.col("value").alias("y")),
            ["row", "col"],
        )
        .select((F.col("x") - F.col("y")).alias("d"))
        .filter(F.col("d") != 0.0)
        .select(F.abs(F.col("d")).alias("ad"), F.signum("d").alias("sgn"))
    )
    per = d.groupBy("ad").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.sum("sgn").alias("net"),
        F.sum(F.when(F.col("sgn") > 0, 1.0).otherwise(0.0)).alias("pos"),
        F.sum(F.when(F.col("sgn") < 0, 1.0).otherwise(0.0)).alias("neg"),
    )
    cum = with_running_sum(per, ["ad"], ["cnt"])
    # average rank of a tie group ending at cumulative count c with size k:
    # (c-k+1 + ... + c)/k = c - (k-1)/2
    avg_rank = F.col("cum_cnt") - (F.col("cnt") - 1.0) / 2.0
    agg = cum.select(
        (F.col("net") * avg_rank).alias("wr"),
        (F.col("pos") * avg_rank).alias("wp"),
        (F.col("neg") * avg_rank).alias("wn"),
        F.col("cnt"),
    ).agg(
        F.sum("wr").alias("w"),
        F.sum("wp").alias("w_plus"),
        F.sum("wn").alias("w_minus"),
        F.sum("cnt").alias("nr"),
    )
    sigma = F.sqrt(
        F.col("nr") * (F.col("nr") + 1.0) * (2.0 * F.col("nr") + 1.0) / 6.0
    )
    z = F.col("w") / sigma
    return agg.select(
        F.col("nr").cast("long").alias("nr"),
        F.round(F.col("w_plus"), 6).alias("w_plus"),
        F.round(F.col("w_minus"), 6).alias("w_minus"),
        F.round(z, 6).alias("z_value"),
        F.round(_erfc_expr(F.abs(z) / F.lit(math.sqrt(2.0))), 6).alias("p_value"),
    )


def ks_normality_test(cells: DataFrame) -> DataFrame:
    """KsTestForNormality (math_stat_analysis/ks_normality_test.rs:233-386):
    the reference's binned algorithm reproduced exactly — 10,000 equal
    bins over [min, max], empirical CDF per bin, "normal CDF" as the
    normalized cumulative of the pdf sampled at bin lower edges (with the
    reference's quirk that bin 0 is never normalized), D = max |ecdf -
    ncdf|, p = 2 exp(-(2.000071 + 0.331/sqrt(n) + 1.409/n) n D^2).
    The bin axis is a CONSTANT 10,000 rows regardless of raster size, so
    the ordered window over it is bounded. -> one row (n, dmax, p_value)."""
    nb = 10000
    src = cells.filter(F.col("value").isNotNull()).select("value")
    st = src.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sd"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    ).collect()[0]
    n, mu, sd, mn, mx = (float(st.n), float(st.mu), float(st.sd), float(st.mn), float(st.mx))
    bin_size = (mx - mn) / nb
    hist = src.groupBy(
        F.least(
            F.floor((F.col("value") - F.lit(mn)) / F.lit(bin_size)).cast("long"),
            F.lit(nb - 1),
        ).alias("bin")
    ).agg(F.count(F.lit(1)).cast("double").alias("h"))
    spark = cells.sparkSession
    bins = spark.range(nb).select(F.col("id").alias("bin"))
    dense = bins.join(hist, "bin", "left").select(
        "bin", F.coalesce(F.col("h"), F.lit(0.0)).alias("h")
    )
    zc = F.lit(mn) + F.col("bin").cast("double") * F.lit(bin_size)
    pdf = (
        F.lit(1.0 / (sd * math.sqrt(2.0 * math.pi)))
        * F.exp(-(zc - F.lit(mu)) * (zc - F.lit(mu)) / F.lit(2.0 * sd * sd))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = dense.select(
        "bin",
        (F.sum("h").over(w) / F.lit(n)).alias("ecdf"),
        F.sum(pdf).over(w).alias("npcum"),
    )
    tot = cum.agg(F.max("npcum").alias("last"))
    j = cum.crossJoin(F.broadcast(tot))
    ncdf = F.when(F.col("bin") == 0, F.col("npcum")).otherwise(
        F.col("npcum") / F.col("last")
    )
    dmax_df = j.agg(F.max(F.abs(F.col("ecdf") - ncdf)).alias("dmax"))
    coef = 2.000071 + 0.331 / math.sqrt(n) + 1.409 / n
    return dmax_df.select(
        F.lit(int(n)).cast("long").alias("n"),
        F.round(F.col("dmax"), 6).alias("dmax"),
        F.round(
            F.lit(2.0) * F.exp(-F.lit(coef) * F.lit(n) * F.col("dmax") * F.col("dmax")),
            6,
        ).alias("p_value"),
    )


def hypsometric_analysis(cells: DataFrame) -> DataFrame:
    """HypsometricAnalysis (terrain_analysis/hypsometric_analysis.rs:
    265-306): the 101-bin area-altitude curve exactly as the reference
    builds it for its plot — bin = floor(100 (z - min)/range), relative
    elevation 0.0001 at bin 0 then i/101, relative area 1 - cdf (the last
    bin forced to 0.0001, the reference's axis hack).
    -> (bin, rel_elev, rel_area), 101 rows."""
    src = cells.filter(F.col("value").isNotNull()).select("value")
    st = src.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx"),
        F.count(F.lit(1)).cast("double").alias("n"),
    ).collect()[0]
    rng = st.mx - st.mn
    hist = src.groupBy(
        F.floor(100.0 * (F.col("value") - F.lit(st.mn)) / F.lit(rng))
        .cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).cast("double").alias("h"))
    spark = cells.sparkSession
    bins = spark.range(101).select(F.col("id").alias("bin"))
    dense = bins.join(hist, "bin", "left").select(
        "bin", F.coalesce(F.col("h"), F.lit(0.0)).alias("h")
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = dense.select(
        "bin",
        F.when(F.col("bin") == 0, 0.0001)
        .otherwise(F.col("bin").cast("double") / 101.0).alias("rel_elev"),
        (F.lit(1.0) - F.sum("h").over(w) / F.lit(float(st.n))).alias("ra"),
    )
    return out.select(
        "bin", F.round(F.col("rel_elev"), 6).alias("rel_elev"),
        F.round(
            F.when(F.col("bin") == 100, 0.0001).otherwise(F.col("ra")), 6
        ).alias("rel_area"),
    )


def hypsometric_oracle_sql(source_sql: str) -> str:
    return f"""
WITH src AS (SELECT value FROM ({source_sql}) WHERE value IS NOT NULL),
st AS (SELECT min(value) AS mn, max(value) AS mx,
              CAST(count(*) AS DOUBLE) AS n FROM src),
hist AS (SELECT CAST(floor(100.0 * (value - st.mn) / (st.mx - st.mn)) AS BIGINT) AS bin,
                CAST(count(*) AS DOUBLE) AS h
         FROM src, st GROUP BY 1),
dense AS (SELECT b.bin, coalesce(h.h, 0.0) AS h
          FROM generate_series(0, 100) b(bin) LEFT JOIN hist h ON h.bin = b.bin),
cum AS (SELECT bin,
               CASE WHEN bin = 0 THEN 0.0001 ELSE bin / 101.0 END AS rel_elev,
               1.0 - sum(h) OVER (ORDER BY bin) / (SELECT n FROM st) AS ra
        FROM dense)
SELECT bin, round(rel_elev, 6) AS rel_elev,
       round(CASE WHEN bin = 100 THEN 0.0001 ELSE ra END, 6) AS rel_area
FROM cum
"""


def image_correlation_neighbourhood(
    a: DataFrame, b: DataFrame, *, filter_size: int = 11
) -> DataFrame:
    """ImageCorrelationNeighbourhoodAnalysis (math_stat_analysis/
    image_correlation_neighbourhood_analysis.rs, pearson mode): per-cell
    Pearson r between two rasters over the filter window (cells valid in
    BOTH rasters), plus the t statistic r*sqrt(df/(1-r^2)) with df = n-2
    (the reference converts t to a p-value with the incomplete beta; the
    deterministic (r, t, df) triple is exposed instead — the p-value is a
    pure function of it). -> (row, col, r, tstat, df)."""
    spark = a.sparkSession
    mid = max(int(filter_size), 3) // 2
    pair = (
        a.filter(F.col("value").isNotNull())
        .select("row", "col", F.col("value").alias("va"))
        .join(
            b.filter(F.col("value").isNotNull())
            .select("row", "col", F.col("value").alias("vb")),
            ["row", "col"],
        )
    )
    offs = F.broadcast(spark.createDataFrame(
        [(dy, dx) for dy in range(-mid, mid + 1) for dx in range(-mid, mid + 1)],
        "dy int, dx int",
    ))
    sc = (
        pair.crossJoin(offs)
        .select(
            (F.col("row") - F.col("dy")).alias("row"),
            (F.col("col") - F.col("dx")).alias("col"),
            "va", "vb",
        )
        .groupBy("row", "col")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("va").alias("sa"), F.sum("vb").alias("sb"),
            F.sum(F.col("va") * F.col("vb")).alias("sab"),
            F.sum(F.col("va") * F.col("va")).alias("saa"),
            F.sum(F.col("vb") * F.col("vb")).alias("sbb"),
        )
    )
    num = F.col("sab") - F.col("sa") * F.col("sb") / F.col("n")
    den = F.sqrt(
        (F.col("saa") - F.col("sa") * F.col("sa") / F.col("n"))
        * (F.col("sbb") - F.col("sb") * F.col("sb") / F.col("n"))
    )
    r = F.when((F.col("n") > 2.0) & (den > 0.0), num / den)
    out = pair.select("row", "col").join(sc, ["row", "col"]).withColumn("r", r)
    t = F.when(
        F.col("r").isNotNull() & (F.abs(F.col("r")) < 1.0),
        F.col("r") * F.sqrt((F.col("n") - 2.0) / (1.0 - F.col("r") * F.col("r"))),
    )
    return out.select(
        "row", "col", "r", t.alias("tstat"), (F.col("n") - 2.0).alias("df")
    )


def image_correlation_neighbourhood_oracle_sql(
    a_sql: str, b_sql: str, *, filter_size: int = 11
) -> str:
    mid = max(int(filter_size), 3) // 2
    return f"""
WITH pair AS MATERIALIZED (
  SELECT a.row, a.col, a.value AS va, b.value AS vb
  FROM ({a_sql}) a JOIN ({b_sql}) b ON b.row = a.row AND b.col = a.col
  WHERE a.value IS NOT NULL AND b.value IS NOT NULL
),
st AS (
  SELECT p.row, p.col, CAST(count(*) AS DOUBLE) AS n,
         SUM(q.va) AS sa, SUM(q.vb) AS sb, SUM(q.va * q.vb) AS sab,
         SUM(q.va * q.va) AS saa, SUM(q.vb * q.vb) AS sbb
  FROM pair p JOIN pair q
    ON q.row BETWEEN p.row - {mid} AND p.row + {mid}
   AND q.col BETWEEN p.col - {mid} AND p.col + {mid}
  GROUP BY p.row, p.col
)
SELECT row, col,
       round(CASE WHEN n > 2.0 AND (saa - sa * sa / n) * (sbb - sb * sb / n) > 0.0
             THEN (sab - sa * sb / n)
                  / sqrt((saa - sa * sa / n) * (sbb - sb * sb / n)) END, 6) AS r,
       round(CASE WHEN n > 2.0 AND (saa - sa * sa / n) * (sbb - sb * sb / n) > 0.0
                   AND abs((sab - sa * sb / n)
                       / sqrt((saa - sa * sa / n) * (sbb - sb * sb / n))) < 1.0
             THEN ((sab - sa * sb / n) / sqrt((saa - sa * sa / n) * (sbb - sb * sb / n)))
                  * sqrt((n - 2.0) / (1.0 - power((sab - sa * sb / n)
                        / sqrt((saa - sa * sa / n) * (sbb - sb * sb / n)), 2))) END, 4)
         AS tstat,
       n - 2.0 AS df
FROM st
"""


def attribute_correlation_neighbourhood(
    points: DataFrame, *, field1: str, field2: str, radius: float,
    min_points: int = 3,
) -> DataFrame:
    """AttributeCorrelationNeighbourhoodAnalysis (math_stat_analysis/
    attribute_correlation_neighbourhood_analysis.rs, pearson mode): per
    point feature, Pearson r between two attribute fields over the radius
    neighborhood (self included; fewer than min_points neighbors -> null).
    -> (point_id, r, n)."""
    r = float(radius)
    src = points.select(
        "point_id", "x", "y",
        F.col(field1).cast("double").alias("f1"),
        F.col(field2).cast("double").alias("f2"),
        F.floor(F.col("x") / r).cast("long").alias("bx"),
        F.floor(F.col("y") / r).cast("long").alias("by"),
    )
    spark = points.sparkSession
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx int, dy int"
    )
    probes = src.crossJoin(F.broadcast(offs)).select(
        "point_id", "x", "y",
        (F.col("bx") + F.col("dx")).alias("bx"),
        (F.col("by") + F.col("dy")).alias("by"),
    )
    pairs = probes.join(
        src.select(
            F.col("x").alias("nx"), F.col("y").alias("ny"),
            F.col("f1").alias("n1"), F.col("f2").alias("n2"), "bx", "by",
        ),
        ["bx", "by"],
    ).filter(
        (F.col("x") - F.col("nx")) * (F.col("x") - F.col("nx"))
        + (F.col("y") - F.col("ny")) * (F.col("y") - F.col("ny"))
        <= F.lit(r * r)
    )
    st = pairs.groupBy("point_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("n1").alias("s1"), F.sum("n2").alias("s2"),
        F.sum(F.col("n1") * F.col("n2")).alias("s12"),
        F.sum(F.col("n1") * F.col("n1")).alias("s11"),
        F.sum(F.col("n2") * F.col("n2")).alias("s22"),
    )
    num = F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")
    den = F.sqrt(
        (F.col("s11") - F.col("s1") * F.col("s1") / F.col("n"))
        * (F.col("s22") - F.col("s2") * F.col("s2") / F.col("n"))
    )
    return st.select(
        "point_id",
        F.when((F.col("n") >= float(min_points)) & (den > 0.0), num / den).alias("r"),
        F.col("n").cast("long").alias("n"),
    )


def attribute_correlation_neighbourhood_oracle_sql(
    points_sql: str, *, radius: float, min_points: int = 3
) -> str:
    """points_sql must expose (point_id, x, y, f1, f2)."""
    r2 = float(radius) ** 2
    return f"""
WITH pts AS ({points_sql}),
st AS (
  SELECT a.point_id, CAST(count(*) AS DOUBLE) AS n,
         SUM(b.f1) AS s1, SUM(b.f2) AS s2, SUM(b.f1 * b.f2) AS s12,
         SUM(b.f1 * b.f1) AS s11, SUM(b.f2 * b.f2) AS s22
  FROM pts a JOIN pts b
    ON (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y) <= {r2!r}
  GROUP BY a.point_id
)
SELECT point_id,
       round(CASE WHEN n >= {float(min_points)!r}
              AND (s11 - s1 * s1 / n) * (s22 - s2 * s2 / n) > 0.0
             THEN (s12 - s1 * s2 / n)
                  / sqrt((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n)) END, 6) AS r,
       CAST(n AS BIGINT) AS n
FROM st
"""


def attribute_scattergram(
    table: DataFrame, *, fieldx: str, fieldy: str
) -> DataFrame:
    """AttributeScattergram (math_stat_analysis/attribute_scattergram.rs):
    the paired attribute values plus the least-squares trendline the tool
    plots — one summary row (slope, intercept, pearson r) is appended with
    point_id = -1. -> (point_id, xval, yval)."""
    pts = table.select(
        F.col("point_id"),
        F.col(fieldx).cast("double").alias("xval"),
        F.col(fieldy).cast("double").alias("yval"),
    )
    st = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("xval").alias("sx"), F.sum("yval").alias("sy"),
        F.sum(F.col("xval") * F.col("yval")).alias("sxy"),
        F.sum(F.col("xval") * F.col("xval")).alias("sxx"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    trend = st.select(
        F.lit(-1).cast("long").alias("point_id"),
        F.round(slope, 6).alias("xval"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias("yval"),
    )
    return pts.unionByName(trend)
