"""Image enhancement tools (class MAP/AGG hybrids) over the cell table.

References:
  - FlipImage: image_analysis/flip_image.rs:229-250 — vertical/horizontal/
    both reflection of the grid.
  - GammaCorrection: image_analysis/gamma_correction.rs:279 — z^gamma.
  - MinMaxContrastStretch: image_analysis/min_max_contrast_stretch.rs:367-373
    — floor((z - min)/range * num_tones), clamped to [0, num_tones-1].
  - HistogramEqualization: image_analysis/histogram_equalization.rs:272-387
    — binned CDF mapping: round((cdf[bin] - histo[0]) / (n - histo[0]) *
    (num_tones - 1)) with num_bins = max(num_tones, round(range)).

Scale shapes: flip/gamma/stretch are pure per-cell expressions. The
histogram equalization CDF is a window over NUM_BINS rows (a constant
bounded by num_tones, independent of raster size), then a broadcast join
back to the cells — the only "global" structure is histogram-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whitebox_tools_spark.grid import GridSpec


def flip_image(cells: DataFrame, grid: GridSpec, *, direction: str = "vertical") -> DataFrame:
    """-> (row, col, value) reflected. direction: vertical (row mirror),
    horizontal (col mirror), or both."""
    r = F.lit(grid.rows - 1) - F.col("row")
    c = F.lit(grid.cols - 1) - F.col("col")
    if direction == "vertical":
        sel = [r.alias("row"), F.col("col"), F.col("value")]
    elif direction == "horizontal":
        sel = [F.col("row"), c.alias("col"), F.col("value")]
    elif direction == "both":
        sel = [r.alias("row"), c.alias("col"), F.col("value")]
    else:
        raise ValueError(direction)
    return cells.filter(F.col("value").isNotNull()).select(*sel)


def flip_image_oracle_sql(source_sql: str, grid: GridSpec, *, direction: str = "vertical") -> str:
    r = f"{grid.rows - 1} - row"
    c = f"{grid.cols - 1} - col"
    row = r if direction in ("vertical", "both") else "row"
    col = c if direction in ("horizontal", "both") else "col"
    return f"""
SELECT {row} AS row, {col} AS col, value
FROM ({source_sql}) WHERE value IS NOT NULL
"""


def gamma_correction(cells: DataFrame, *, gamma: float) -> DataFrame:
    return cells.filter(F.col("value").isNotNull()).select(
        "row", "col", F.pow(F.col("value"), F.lit(gamma)).alias("value")
    )


def min_max_contrast_stretch(
    cells: DataFrame, *, min_val: float, max_val: float, num_tones: float = 256.0
) -> DataFrame:
    z = (F.col("value") - F.lit(min_val)) / F.lit(max_val - min_val) * F.lit(num_tones)
    z = F.floor(z).cast("double")
    z = F.when(z < 0.0, 0.0).when(z >= num_tones, num_tones - 1.0).otherwise(z)
    return cells.filter(F.col("value").isNotNull()).select("row", "col", z.alias("value"))


def min_max_stretch_oracle_sql(
    source_sql: str, *, min_val: float, max_val: float, num_tones: float = 256.0
) -> str:
    z = f"CAST(floor((value - {min_val!r}) / {max_val - min_val!r} * {num_tones!r}) AS DOUBLE)"
    return f"""
SELECT row, col,
       CASE WHEN {z} < 0.0 THEN 0.0
            WHEN {z} >= {num_tones!r} THEN {num_tones - 1.0!r}
            ELSE {z} END AS value
FROM ({source_sql}) WHERE value IS NOT NULL
"""


def histogram_equalization(cells: DataFrame, *, num_tones: int = 256) -> DataFrame:
    """Grayscale branch of histogram_equalization.rs. The CDF window runs
    over at most max(num_tones, round(value range)) rows — a constant —
    and is broadcast back; the raster itself sees only two expressions and
    one broadcast join."""
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    stats = src.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx"),
        F.count(F.lit(1)).cast("double").alias("n"),
    ).withColumn(
        "nb",
        F.when(
            F.round(F.col("mx") - F.col("mn")) > num_tones,
            F.round(F.col("mx") - F.col("mn")),
        ).otherwise(F.lit(float(num_tones))),
    )
    d = src.crossJoin(F.broadcast(stats))
    binned = d.withColumn(
        "bin",
        F.floor(
            (F.col("value") - F.col("mn"))
            / ((F.col("mx") - F.col("mn")) / (F.col("nb") - 1.0))
        ),
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).cast("double").alias("h"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cdf = hist.withColumn("cdf", F.sum("h").over(w))
    h0 = hist.filter(F.col("bin") == 0).select(F.col("h").alias("h0"))
    out = (
        binned.join(F.broadcast(cdf.select("bin", "cdf")), "bin")
        .crossJoin(F.broadcast(h0))
        .select(
            "row", "col",
            F.round(
                (F.col("cdf") - F.col("h0")) / (F.col("n") - F.col("h0"))
                * F.lit(float(num_tones - 1))
            ).cast("double").alias("value"),
        )
    )
    return out


def histogram_equalization_oracle_sql(source_sql: str, *, num_tones: int = 256) -> str:
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
s AS (
  SELECT min(value) AS mn, max(value) AS mx, CAST(count(*) AS DOUBLE) AS n,
         CASE WHEN round(max(value) - min(value)) > {num_tones}
              THEN round(max(value) - min(value))
              ELSE CAST({num_tones} AS DOUBLE) END AS nb
  FROM src
),
binned AS (
  SELECT row, col, value,
         floor((value - mn) / ((mx - mn) / (nb - 1.0))) AS bin, n
  FROM src CROSS JOIN s
),
hist AS (SELECT bin, CAST(count(*) AS DOUBLE) AS h FROM binned GROUP BY bin),
cdf AS (
  SELECT bin, sum(h) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdf
  FROM hist
),
h0 AS (SELECT h AS h0 FROM hist WHERE bin = 0)
SELECT b.row, b.col,
       CAST(round((c.cdf - h0.h0) / (b.n - h0.h0) * {num_tones - 1.0!r}) AS DOUBLE) AS value
FROM binned b JOIN cdf c ON c.bin = b.bin CROSS JOIN h0
"""


def _tone_map(z, mn, mx, num_tones: int):
    """floor((z - mn)/(mx - mn) * num_tones) clamped to [0, num_tones-1]
    (the shared linear mapping of the contrast-stretch family,
    stdev_contrast_stretch.rs:368-381)."""
    out = F.floor((z - mn) / (mx - mn) * F.lit(float(num_tones)))
    return F.least(
        F.greatest(out, F.lit(0.0)), F.lit(float(num_tones - 1))
    ).cast("double")


def stdev_contrast_stretch(
    cells: DataFrame, *, clip_stdev: float = 2.0, num_tones: int = 256
) -> DataFrame:
    """StandardDeviationContrastStretch (image_analysis/
    stdev_contrast_stretch.rs:278-285,368-381): linear stretch between
    mean -/+ clip_stdev * sd(n-1). -> (row, col, value)."""
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    s = src.agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    j = src.crossJoin(F.broadcast(s))
    mn = F.col("mu") - F.col("sd") * F.lit(clip_stdev)
    mx = F.col("mu") + F.col("sd") * F.lit(clip_stdev)
    return j.select(
        "row", "col", _tone_map(F.col("value"), mn, mx, num_tones).alias("value")
    )


def stdev_stretch_oracle_sql(
    source_sql: str, *, clip_stdev: float = 2.0, num_tones: int = 256
) -> str:
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
s AS (SELECT avg(value) AS mu, stddev_samp(value) AS sd FROM src)
SELECT row, col,
       least(greatest(floor((value - (mu - sd * {clip_stdev!r}))
                            / ((mu + sd * {clip_stdev!r}) - (mu - sd * {clip_stdev!r}))
                            * {float(num_tones)!r}), 0.0), {float(num_tones - 1)!r}) AS value
FROM src CROSS JOIN s
"""


def percentage_contrast_stretch(
    cells: DataFrame, *, clip: float = 1.0, tail: str = "both", num_tones: int = 256
) -> DataFrame:
    """PercentageContrastStretch (image_analysis/
    percentage_contrast_stretch.rs:278-296): linear stretch between the
    clip%% tail values. Tail values are defined exactly (the reference's
    calculate_clip_values walks a binned histogram): min_val = smallest
    value whose cumulative count >= n*clip/100; max_val = smallest value
    whose cumulative count >= n*(1 - clip/100). Distributed via the
    range-partitioned running-sum pattern. -> (row, col, value)."""
    from whitebox_tools_spark.distributed import with_running_sum

    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    n = src.count()
    vc = src.groupBy("value").agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    cum = with_running_sum(vc, ["value"], ["cnt"])
    lo_t = n * clip / 100.0
    hi_t = n * (1.0 - clip / 100.0)
    bounds = cum.agg(
        F.min(F.when(F.col("cum_cnt") >= lo_t, F.col("value"))).alias("mn"),
        F.min(F.when(F.col("cum_cnt") >= hi_t, F.col("value"))).alias("mx"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    j = src.crossJoin(F.broadcast(bounds))
    mn = F.col("vmin") if tail == "upper" else F.col("mn")
    mx = F.col("vmax") if tail == "lower" else F.col("mx")
    return j.select(
        "row", "col", _tone_map(F.col("value"), mn, mx, num_tones).alias("value")
    )


def percentage_stretch_oracle_sql(
    source_sql: str, *, clip: float = 1.0, tail: str = "both", num_tones: int = 256
) -> str:
    mn = "min(value)" if tail == "upper" else f"min(CASE WHEN cum >= n * {clip / 100.0!r} THEN value END)"
    mx = "max(value)" if tail == "lower" else f"min(CASE WHEN cum >= n * {1.0 - clip / 100.0!r} THEN value END)"
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
vc AS (SELECT value, CAST(count(*) AS DOUBLE) AS cnt FROM src GROUP BY value),
cum AS (SELECT value, sum(cnt) OVER (ORDER BY value) AS cum,
               (SELECT CAST(count(*) AS DOUBLE) FROM src) AS n FROM vc),
b AS (SELECT {mn} AS mn, {mx} AS mx FROM cum)
SELECT row, col,
       least(greatest(floor((value - mn) / (mx - mn) * {float(num_tones)!r}), 0.0),
             {float(num_tones - 1)!r}) AS value
FROM src CROSS JOIN b
"""


def sigmoidal_contrast_stretch(
    cells: DataFrame, *, cutoff: float = 0.0, gain: float = 1.0, num_tones: int = 256
) -> DataFrame:
    """SigmoidalContrastStretch (image_analysis/
    sigmoidal_contrast_stretch.rs:300-312): z = (z_in - min)/range;
    s = (1/(1+exp(gain*(cutoff-z))) - a)/b clamped to [0,1];
    out = floor(s * num_tones), where a = 1/(1+exp(gain*cutoff)),
    b = 1/(1+exp(gain*(cutoff-1))) - a. -> (row, col, value)."""
    import math as _math

    a = 1.0 / (1.0 + _math.exp(gain * cutoff))
    b = 1.0 / (1.0 + _math.exp(gain * (cutoff - 1.0))) - a
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    s = src.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    j = src.crossJoin(F.broadcast(s))
    zn = (F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn"))
    sig = (
        F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(gain) * (F.lit(cutoff) - zn))) - F.lit(a)
    ) / F.lit(b)
    clamped = F.least(F.greatest(sig, F.lit(0.0)), F.lit(1.0))
    return j.select(
        "row", "col",
        F.floor(clamped * F.lit(float(num_tones))).cast("double").alias("value"),
    )


def sigmoidal_stretch_oracle_sql(
    source_sql: str, *, cutoff: float = 0.0, gain: float = 1.0, num_tones: int = 256
) -> str:
    import math as _math

    a = 1.0 / (1.0 + _math.exp(gain * cutoff))
    b = 1.0 / (1.0 + _math.exp(gain * (cutoff - 1.0))) - a
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
s AS (SELECT min(value) AS mn, max(value) AS mx FROM src)
SELECT row, col,
       floor(least(greatest(
         (1.0 / (1.0 + exp({gain!r} * ({cutoff!r} - (value - mn) / (mx - mn)))) - {a!r}) / {b!r},
         0.0), 1.0) * {float(num_tones)!r}) AS value
FROM src CROSS JOIN s
"""


def rescale_value_range(
    cells: DataFrame,
    *,
    out_min: float,
    out_max: float,
    clip_min: float | None = None,
    clip_max: float | None = None,
) -> DataFrame:
    """RescaleValueRange (math_stat_analysis/rescale_value_range.rs:254-266):
    z clamped to [clip_min, clip_max] (image min/max when unset), then
    mapped linearly onto [out_min, out_max]. -> (row, col, value)."""
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    s = src.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    j = src.crossJoin(F.broadcast(s))
    mn = F.lit(clip_min) if clip_min is not None else F.col("vmin")
    mx = F.lit(clip_max) if clip_max is not None else F.col("vmax")
    z = F.least(F.greatest(F.col("value"), mn), mx)
    out = F.lit(out_min) + (z - mn) / (mx - mn) * F.lit(out_max - out_min)
    return j.select("row", "col", out.alias("value"))


def rescale_oracle_sql(
    source_sql: str,
    *,
    out_min: float,
    out_max: float,
    clip_min: float | None = None,
    clip_max: float | None = None,
) -> str:
    mn = repr(clip_min) if clip_min is not None else "mn0"
    mx = repr(clip_max) if clip_max is not None else "mx0"
    return f"""
WITH src AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
s AS (SELECT min(value) AS mn0, max(value) AS mx0 FROM src)
SELECT row, col,
       {out_min!r} + (least(greatest(value, {mn}), {mx}) - {mn}) / ({mx} - {mn})
                     * {out_max - out_min!r} AS value
FROM src CROSS JOIN s
"""


def integral_image(cells: DataFrame) -> DataFrame:
    """IntegralImage (image_analysis/integral_image.rs:196-211): summed-area
    table I(r,c) = sum of all values with row<=r, col<=c; nodata/absent
    cells contribute 0 but still receive an output value (the output is
    inherently dense, so the grid extent [0..max_row]x[0..max_col] is
    materialized). Two partitioned-window cumulative sums (within-row then
    within-column) — no single-partition exchange. -> (row, col, value)."""
    spark = cells.sparkSession
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    b = src.agg(
        F.max("row").alias("mr"), F.max("col").alias("mc")
    ).collect()[0]
    rows_df = spark.range(0, int(b.mr) + 1).select(F.col("id").alias("row"))
    cols_df = spark.range(0, int(b.mc) + 1).select(F.col("id").alias("col"))
    dense = rows_df.crossJoin(cols_df).join(src, ["row", "col"], "left").select(
        "row", "col", F.coalesce(F.col("value"), F.lit(0.0)).alias("v")
    )
    wr = (
        Window.partitionBy("row").orderBy("col")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wc = (
        Window.partitionBy("col").orderBy("row")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        dense.withColumn("rp", F.sum("v").over(wr))
        .withColumn("value", F.sum("rp").over(wc))
        .select("row", "col", "value")
    )


def integral_image_oracle_sql(source_sql: str) -> str:
    return f"""
WITH RECURSIVE
src AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
b AS (SELECT max(row) AS mr, max(col) AS mc FROM src),
rs(row) AS (SELECT CAST(0 AS BIGINT)
            UNION ALL SELECT row + 1 FROM rs WHERE row < (SELECT mr FROM b)),
cs(col) AS (SELECT CAST(0 AS BIGINT)
            UNION ALL SELECT col + 1 FROM cs WHERE col < (SELECT mc FROM b)),
dense AS (
  SELECT rs.row, cs.col, coalesce(s.value, 0.0) AS v
  FROM rs CROSS JOIN cs
  LEFT JOIN src s ON s.row = rs.row AND s.col = cs.col
),
rp AS (SELECT row, col, sum(v) OVER (PARTITION BY row ORDER BY col) AS rp FROM dense)
SELECT row, col, sum(rp) OVER (PARTITION BY col ORDER BY row) AS value FROM rp
"""


def histogram_matching_two_images(src: DataFrame, ref: DataFrame) -> DataFrame:
    """HistogramMatchingTwoImages (image_analysis/
    histogram_matching_two_images.rs:285-440): map each source cell's CDF
    position onto the reference image's value distribution by linear
    interpolation between the dense-CDF bins bracketing p. Bins =
    ceil(max(range, 1024)) per image. Two documented deviations from the
    reference's literal code: image 2 is binned with ITS OWN bin width
    (the reference reuses image 1's bin_size — an apparent bug), and
    p >= 1 maps to the reference maximum (the reference leaves a stale
    loop variable). Only nonempty reference bins are materialized — the
    first dense bin with cdf > p is always nonempty (or bin 0), and the
    bracketing dense-bin values are recovered arithmetically.
    -> (row, col, value)."""
    from whitebox_tools_spark.distributed import with_running_sum

    s1 = src.filter(F.col("value").isNotNull()).select("row", "col", "value")
    s2 = ref.filter(F.col("value").isNotNull()).select("value")
    st1 = s1.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx"),
        F.count(F.lit(1)).cast("double").alias("n"),
    ).collect()[0]
    st2 = s2.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx"),
        F.count(F.lit(1)).cast("double").alias("n"),
    ).collect()[0]
    import math as _math

    nb1 = int(_math.ceil(max(st1.mx - st1.mn, 1024.0)))
    bs1 = (st1.mx - st1.mn) / nb1
    nb2 = int(_math.ceil(max(st2.mx - st2.mn, 1024.0)))
    bs2 = (st2.mx - st2.mn) / nb2

    def binexpr(v, mn, bs, nb):
        return F.least(F.floor((v - F.lit(mn)) / F.lit(bs)).cast("long"), F.lit(nb - 1))

    h1 = s1.groupBy(binexpr(F.col("value"), st1.mn, bs1, nb1).alias("bin")).agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    c1 = with_running_sum(h1, ["bin"], ["cnt"]).select(
        "bin", (F.col("cum_cnt") / F.lit(float(st1.n))).alias("p")
    )
    h2 = s2.groupBy(binexpr(F.col("value"), st2.mn, bs2, nb2).alias("i")).agg(
        F.count(F.lit(1)).cast("double").alias("cnt2")
    )
    c2 = with_running_sum(h2, ["i"], ["cnt2"]).select(
        "i",
        (F.col("cum_cnt2") / F.lit(float(st2.n))).alias("p2"),
        ((F.col("cum_cnt2") - F.col("cnt2")) / F.lit(float(st2.n))).alias("p2_prev"),
        (F.lit(st2.mn) + F.col("i") / F.lit(float(nb2)) * F.lit(st2.mx - st2.mn)).alias("x2"),
        (F.lit(st2.mn) + (F.col("i") - 1) / F.lit(float(nb2)) * F.lit(st2.mx - st2.mn)).alias("x1"),
    )
    # per distinct source-cdf value, the first reference bin with cdf > p
    ps = c1.select("bin", "p")
    match = (
        ps.join(c2, c2["p2"] > ps["p"])
        .groupBy("bin", "p")
        .agg(F.min(F.struct("i", "x1", "x2", "p2_prev", "p2")).alias("m"))
        .select(
            "bin", "p",
            F.when(F.col("m.i") == 0, F.col("m.x2"))
            .when(
                F.col("m.p2_prev") != F.col("m.p2"),
                F.col("m.x1")
                + (F.col("m.x2") - F.col("m.x1"))
                * (F.col("p") - F.col("m.p2_prev"))
                / (F.col("m.p2") - F.col("m.p2_prev")),
            )
            .otherwise(F.col("m.x1"))
            .alias("xval"),
        )
    )
    cells = s1.select(
        "row", "col", binexpr(F.col("value"), st1.mn, bs1, nb1).alias("bin")
    )
    out = cells.join(match, "bin", "left").select(
        "row", "col", F.coalesce(F.col("xval"), F.lit(float(st2.mx))).alias("value")
    )
    return out


def histogram_matching_oracle_sql(src_sql: str, ref_sql: str) -> str:
    return f"""
WITH s1 AS (SELECT row, col, value FROM ({src_sql}) WHERE value IS NOT NULL),
s2 AS (SELECT value FROM ({ref_sql}) WHERE value IS NOT NULL),
st1 AS (SELECT min(value) AS mn, max(value) AS mx,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(ceil(greatest(max(value) - min(value), 1024.0)) AS BIGINT) AS nb
        FROM s1),
st2 AS (SELECT min(value) AS mn, max(value) AS mx,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(ceil(greatest(max(value) - min(value), 1024.0)) AS BIGINT) AS nb
        FROM s2),
h1 AS (SELECT least(CAST(floor((value - st1.mn) / ((st1.mx - st1.mn) / st1.nb)) AS BIGINT),
                    st1.nb - 1) AS bin,
              CAST(count(*) AS DOUBLE) AS cnt
       FROM s1, st1 GROUP BY 1),
c1 AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) / (SELECT n FROM st1) AS p FROM h1),
h2 AS (SELECT least(CAST(floor((value - st2.mn) / ((st2.mx - st2.mn) / st2.nb)) AS BIGINT),
                    st2.nb - 1) AS i,
              CAST(count(*) AS DOUBLE) AS cnt2
       FROM s2, st2 GROUP BY 1),
c2 AS (SELECT i,
              sum(cnt2) OVER (ORDER BY i) / st2.n AS p2,
              (sum(cnt2) OVER (ORDER BY i) - cnt2) / st2.n AS p2_prev,
              st2.mn + i * 1.0 / st2.nb * (st2.mx - st2.mn) AS x2,
              st2.mn + (i - 1) * 1.0 / st2.nb * (st2.mx - st2.mn) AS x1
       FROM h2, st2),
m AS (SELECT c1.bin, c1.p,
             min(struct_pack(i := c2.i, x1 := c2.x1, x2 := c2.x2,
                             p2_prev := c2.p2_prev, p2 := c2.p2)) AS m
      FROM c1 JOIN c2 ON c2.p2 > c1.p GROUP BY c1.bin, c1.p),
mx AS (SELECT bin, p,
              CASE WHEN m.i = 0 THEN m.x2
                   WHEN m.p2_prev <> m.p2
                   THEN m.x1 + (m.x2 - m.x1) * (p - m.p2_prev) / (m.p2 - m.p2_prev)
                   ELSE m.x1 END AS xval
       FROM m),
cells AS (SELECT s1.row, s1.col,
                 least(CAST(floor((s1.value - st1.mn) / ((st1.mx - st1.mn) / st1.nb)) AS BIGINT),
                       st1.nb - 1) AS bin
          FROM s1, st1)
SELECT c.row, c.col, coalesce(mx.xval, (SELECT mx FROM st2)) AS value
FROM cells c LEFT JOIN mx ON mx.bin = c.bin
"""


def resample(
    src: DataFrame, src_grid: GridSpec, dst_grid: GridSpec, *, method: str = "nn"
) -> DataFrame:
    """Resample (image_analysis/resample.rs:397-510): regrid src onto
    dst_grid. 'nn' = source cell containing the destination cell center
    (floor indexing, whitebox-raster/src/lib.rs:743-749); 'bilinear' = the
    reference's 4-neighbor inverse-square-distance blend around the
    fractional source index (an exact index hit takes that value — the
    reference's dx+dy==0 test is tightened to dx==0 AND dy==0, a
    documented fix of an apparent quirk). Only destination cells that
    resolve to a valid source value are emitted. -> (row, col, value)."""
    spark = src.sparkSession
    s = src.filter(F.col("value").isNotNull()).select(
        F.col("row").alias("srow"), F.col("col").alias("scol"), "value"
    )
    dest = (
        spark.range(dst_grid.rows).select(F.col("id").alias("row"))
        .crossJoin(spark.range(dst_grid.cols).select(F.col("id").alias("col")))
    )
    x = F.expr(dst_grid.x_center_sql("col"))
    y = F.expr(dst_grid.y_center_sql("row"))
    rs = (F.lit(src_grid.north) - y) / F.lit(src_grid.res_y)
    cs = (x - F.lit(src_grid.west)) / F.lit(src_grid.res_x)
    if method == "nn":
        d = dest.select(
            "row", "col",
            F.floor(rs).cast("long").alias("srow"),
            F.floor(cs).cast("long").alias("scol"),
        )
        return d.join(s, ["srow", "scol"]).select("row", "col", "value")
    # bilinear
    d = dest.select(
        "row", "col", rs.alias("rs"), cs.alias("cs"),
        F.floor(rs).cast("long").alias("orow"),
        F.floor(cs).cast("long").alias("ocol"),
    )
    for n, (sx, sy) in enumerate([(0, 0), (1, 0), (0, 1), (1, 1)]):
        sn = s.select(
            (F.col("srow") - sy).alias("orow"), (F.col("scol") - sx).alias("ocol"),
            F.col("value").alias(f"z{n}"),
        )
        d = d.join(sn, ["orow", "ocol"], "left")
    exprs = []
    wsum = None
    zsum = None
    for n, (sx, sy) in enumerate([(0, 0), (1, 0), (0, 1), (1, 1)]):
        dyn = (F.col("orow") + sy).cast("double") - F.col("rs")
        dxn = (F.col("ocol") + sx).cast("double") - F.col("cs")
        w = F.when(
            F.col(f"z{n}").isNotNull(), F.lit(1.0) / (dxn * dxn + dyn * dyn)
        ).otherwise(F.lit(0.0))
        exact = F.col(f"z{n}").isNotNull() & (dxn == 0.0) & (dyn == 0.0)
        exprs.append((exact, F.col(f"z{n}")))
        wsum = w if wsum is None else wsum + w
        zsum = (
            F.coalesce(F.col(f"z{n}"), F.lit(0.0)) * w
            if zsum is None
            else zsum + F.coalesce(F.col(f"z{n}"), F.lit(0.0)) * w
        )
    val = F.when(exprs[0][0], exprs[0][1])
    for exact, z in exprs[1:]:
        val = val.when(exact, z)
    val = val.otherwise(
        F.when(wsum > 0.0, zsum / wsum)
    )
    return d.select("row", "col", val.alias("value")).filter(F.col("value").isNotNull())


def resample_oracle_sql(
    src_sql: str, src_grid: GridSpec, dst_grid: GridSpec, *, method: str = "nn"
) -> str:
    x = dst_grid.x_center_sql("col")
    y = dst_grid.y_center_sql("row")
    rs = f"(({src_grid.north!r} - {y}) / {src_grid.res_y!r})"
    cs = f"(({x} - {src_grid.west!r}) / {src_grid.res_x!r})"
    if method == "nn":
        return f"""
WITH RECURSIVE
s AS (SELECT row AS srow, col AS scol, value FROM ({src_sql}) WHERE value IS NOT NULL),
dr(row) AS (SELECT CAST(0 AS BIGINT)
            UNION ALL SELECT row + 1 FROM dr WHERE row < {dst_grid.rows - 1}),
dc(col) AS (SELECT CAST(0 AS BIGINT)
            UNION ALL SELECT col + 1 FROM dc WHERE col < {dst_grid.cols - 1}),
d AS (SELECT dr.row, dc.col,
             CAST(floor({rs}) AS BIGINT) AS srow,
             CAST(floor({cs}) AS BIGINT) AS scol
      FROM dr CROSS JOIN dc)
SELECT d.row, d.col, s.value
FROM d JOIN s ON s.srow = d.srow AND s.scol = d.scol
"""
    joins = []
    terms_w = []
    terms_z = []
    exacts = []
    for n, (sx, sy) in enumerate([(0, 0), (1, 0), (0, 1), (1, 1)]):
        joins.append(
            f"LEFT JOIN s s{n} ON s{n}.srow = d.orow + {sy} AND s{n}.scol = d.ocol + {sx}"
        )
        dyn = f"(CAST(d.orow + {sy} AS DOUBLE) - d.rs)"
        dxn = f"(CAST(d.ocol + {sx} AS DOUBLE) - d.cs)"
        w = f"(CASE WHEN s{n}.value IS NOT NULL THEN 1.0 / ({dxn} * {dxn} + {dyn} * {dyn}) ELSE 0.0 END)"
        terms_w.append(w)
        terms_z.append(f"coalesce(s{n}.value, 0.0) * {w}")
        exacts.append(
            f"WHEN s{n}.value IS NOT NULL AND {dxn} = 0.0 AND {dyn} = 0.0 THEN s{n}.value"
        )
    wsum = " + ".join(terms_w)
    zsum = " + ".join(terms_z)
    return f"""
WITH RECURSIVE
s AS (SELECT row AS srow, col AS scol, value FROM ({src_sql}) WHERE value IS NOT NULL),
dr(row) AS (SELECT CAST(0 AS BIGINT)
            UNION ALL SELECT row + 1 FROM dr WHERE row < {dst_grid.rows - 1}),
dc(col) AS (SELECT CAST(0 AS BIGINT)
            UNION ALL SELECT col + 1 FROM dc WHERE col < {dst_grid.cols - 1}),
d AS (SELECT dr.row, dc.col, {rs} AS rs, {cs} AS cs,
             CAST(floor({rs}) AS BIGINT) AS orow,
             CAST(floor({cs}) AS BIGINT) AS ocol
      FROM dr CROSS JOIN dc)
SELECT row, col, value FROM (
  SELECT d.row, d.col,
         CASE {' '.join(exacts)}
              ELSE CASE WHEN {wsum} > 0.0 THEN ({zsum}) / ({wsum}) END
         END AS value
  FROM d {' '.join(joins)}
) t WHERE value IS NOT NULL
"""


def correct_vignetting(
    cells: DataFrame, *, pp_row: float, pp_col: float, focal_length: float = 304.8,
    image_width: float = 228.6, n_param: float = 4.0, cols: int | None = None,
) -> DataFrame:
    """CorrectVignetting (image_analysis/correct_vignetting.rs): z /
    cos(atan(d * scale / f))^n with d the cell-index distance from the
    principal point and scale = image_width / raster columns.
    -> (row, col, value)."""
    src = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    if cols is None:
        b = src.agg(F.max("col").alias("mc")).collect()[0]
        cols = int(b.mc) + 1
    scale = image_width / cols
    d = F.sqrt(
        (F.col("row") - F.lit(pp_row)) ** 2 + (F.col("col") - F.lit(pp_col)) ** 2
    )
    theta = F.atan(d * F.lit(scale) / F.lit(focal_length))
    return src.select(
        "row", "col",
        (F.col("value") / F.pow(F.cos(theta), F.lit(n_param))).alias("value"),
    )


def correct_vignetting_oracle_sql(
    source_sql: str, *, pp_row: float, pp_col: float, focal_length: float = 304.8,
    image_width: float = 228.6, n_param: float = 4.0, cols: int = 1,
) -> str:
    scale = image_width / cols
    return f"""
SELECT row, col,
       value / power(cos(atan(sqrt((row - {pp_row!r}) * (row - {pp_row!r})
                                   + (col - {pp_col!r}) * (col - {pp_col!r}))
                              * {scale!r} / {focal_length!r})), {n_param!r}) AS value
FROM ({source_sql}) t WHERE value IS NOT NULL
"""


def mosaic_with_feathering(
    a: DataFrame, b: DataFrame, *, power: float = 4.0
) -> DataFrame:
    """MosaicWithFeathering (image_analysis/mosaic_with_feathering.rs):
    in the overlap, blend by normalized (distance-to-own-extent-edge)^p
    weights; outside it, whichever image covers the cell. Extents are the
    rasters' occupied bounding boxes (the reference feathers against
    nodata edges — equivalent for rectangular coverage).
    -> (row, col, value)."""
    def with_edge(df, vname, dname):
        src = df.filter(F.col("value").isNotNull()).select(
            "row", "col", F.col("value").alias(vname)
        )
        bounds = src.agg(
            F.min("row").alias("r0"), F.max("row").alias("r1"),
            F.min("col").alias("c0"), F.max("col").alias("c1"),
        )
        j = src.crossJoin(F.broadcast(bounds))
        d = (
            F.least(
                F.col("row") - F.col("r0"), F.col("r1") - F.col("row"),
                F.col("col") - F.col("c0"), F.col("c1") - F.col("col"),
            ).cast("double")
            + 1.0
        )
        return j.select("row", "col", vname, d.alias(dname))

    av = with_edge(a, "va", "da")
    bv = with_edge(b, "vb", "db")
    j = av.join(bv, ["row", "col"], "full_outer")
    wa = F.pow(F.col("da"), F.lit(power))
    wb = F.pow(F.col("db"), F.lit(power))
    blended = (wa * F.col("va") + wb * F.col("vb")) / (wa + wb)
    return j.select(
        "row", "col",
        F.when(F.col("va").isNull(), F.col("vb"))
        .when(F.col("vb").isNull(), F.col("va"))
        .otherwise(blended)
        .alias("value"),
    )


def mosaic_feathering_oracle_sql(a_sql: str, b_sql: str, *, power: float = 4.0) -> str:
    def edge(src, v, d):
        return f"""
{v}0 AS (SELECT row, col, value FROM ({src}) t WHERE value IS NOT NULL),
{v}b AS (SELECT min(row) AS r0, max(row) AS r1, min(col) AS c0, max(col) AS c1 FROM {v}0),
{v}e AS (SELECT row, col, value AS {v},
                CAST(least(row - r0, r1 - row, col - c0, c1 - col) AS DOUBLE) + 1.0 AS {d}
         FROM {v}0, {v}b)"""

    return f"""
WITH {edge(a_sql, "va", "da")},
{edge(b_sql, "vb", "db")}
SELECT coalesce(a.row, b.row) AS row, coalesce(a.col, b.col) AS col,
       CASE WHEN a.va IS NULL THEN b.vb
            WHEN b.vb IS NULL THEN a.va
            ELSE (power(a.da, {power!r}) * a.va + power(b.db, {power!r}) * b.vb)
                 / (power(a.da, {power!r}) + power(b.db, {power!r})) END AS value
FROM vae a FULL OUTER JOIN vbe b ON b.row = a.row AND b.col = a.col
"""


def _gaussian_ref_cdf(num_tones: int):
    """The reference's sampled standard-normal CDF over x in [-3, 3]
    (gaussian_contrast_stretch.rs:325-343): num_tones pdf samples,
    cumulated and normalized by the last value."""
    import math as _math

    step = 6.0 / (num_tones - 1.0)
    xs, ps = [], []
    c = 0.0
    for a in range(num_tones):
        x = -3.0 + a * step
        c += (1.0 / _math.sqrt(2.0 * _math.pi)) * _math.exp(-(x * x) / 2.0)
        xs.append(x)
        ps.append(c)
    total = ps[-1]
    return [(i, xs[i], ps[i] / total, ps[i - 1] / total if i > 0 else 0.0)
            for i in range(num_tones)]


def gaussian_contrast_stretch(cells: DataFrame, *, num_tones: int = 256) -> DataFrame:
    """GaussianContrastStretch (image_analysis/gaussian_contrast_stretch
    .rs): histogram-match the image onto the sampled standard normal —
    output is the interpolated normal deviate in [-3, 3]. Bins =
    ceil(max(range, 2048)); p >= 1 maps to the last sample (the
    reference's stale-variable quirk resolved as in histogram matching).
    -> (row, col, value)."""
    import math as _math

    from whitebox_tools_spark.distributed import with_running_sum

    s1 = cells.filter(F.col("value").isNotNull()).select("row", "col", "value")
    st = s1.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx"),
        F.count(F.lit(1)).cast("double").alias("n"),
    ).collect()[0]
    nb = int(_math.ceil(max(st.mx - st.mn, 2048.0)))
    bs = (st.mx - st.mn) / nb
    binexpr = F.least(
        F.floor((F.col("value") - F.lit(st.mn)) / F.lit(bs)).cast("long"), F.lit(nb - 1)
    )
    h1 = s1.groupBy(binexpr.alias("bin")).agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    c1 = with_running_sum(h1, ["bin"], ["cnt"]).select(
        "bin", (F.col("cum_cnt") / F.lit(float(st.n))).alias("p")
    )
    spark = cells.sparkSession
    ref = spark.createDataFrame(
        _gaussian_ref_cdf(num_tones), "i long, x double, p2 double, p2_prev double"
    )
    last_x = 3.0
    match = (
        c1.join(F.broadcast(ref), ref["p2"] > c1["p"])
        .groupBy("bin", "p")
        .agg(F.min(F.struct("i", "x", "p2_prev", "p2")).alias("m"))
        .select(
            "bin",
            F.when(F.col("m.i") == 0, F.col("m.x"))
            .when(
                F.col("m.p2_prev") != F.col("m.p2"),
                (F.col("m.x") - F.lit(6.0 / (num_tones - 1.0)))
                + F.lit(6.0 / (num_tones - 1.0))
                * (F.col("p") - F.col("m.p2_prev"))
                / (F.col("m.p2") - F.col("m.p2_prev")),
            )
            .otherwise(F.col("m.x") - F.lit(6.0 / (num_tones - 1.0)))
            .alias("xval"),
        )
    )
    out = s1.select("row", "col", binexpr.alias("bin")).join(match, "bin", "left")
    return out.select(
        "row", "col", F.coalesce(F.col("xval"), F.lit(last_x)).alias("value")
    )


def gaussian_stretch_oracle_sql(source_sql: str, *, num_tones: int = 256) -> str:
    step = 6.0 / (num_tones - 1.0)
    rows = ", ".join(
        f"({i}, {x!r}, {p2!r}, {p2p!r})" for i, x, p2, p2p in _gaussian_ref_cdf(num_tones)
    )
    return f"""
WITH s1 AS (SELECT row, col, value FROM ({source_sql}) t WHERE value IS NOT NULL),
st AS (SELECT min(value) AS mn, max(value) AS mx,
              CAST(count(*) AS DOUBLE) AS n,
              CAST(ceil(greatest(max(value) - min(value), 2048.0)) AS BIGINT) AS nb
       FROM s1),
h1 AS (SELECT least(CAST(floor((value - st.mn) / ((st.mx - st.mn) / st.nb)) AS BIGINT),
                    st.nb - 1) AS bin,
              CAST(count(*) AS DOUBLE) AS cnt
       FROM s1, st GROUP BY 1),
c1 AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) / (SELECT n FROM st) AS p FROM h1),
ref(i, x, p2, p2_prev) AS (VALUES {rows}),
m AS (SELECT c1.bin, c1.p,
             min(struct_pack(i := ref.i, x := ref.x,
                             p2_prev := ref.p2_prev, p2 := ref.p2)) AS m
      FROM c1 JOIN ref ON ref.p2 > c1.p GROUP BY c1.bin, c1.p),
mx AS (SELECT bin,
              CASE WHEN m.i = 0 THEN m.x
                   WHEN m.p2_prev <> m.p2
                   THEN (m.x - {step!r}) + {step!r} * (p - m.p2_prev) / (m.p2 - m.p2_prev)
                   ELSE m.x - {step!r} END AS xval
       FROM m),
cells AS (SELECT s1.row, s1.col,
                 least(CAST(floor((s1.value - st.mn) / ((st.mx - st.mn) / st.nb)) AS BIGINT),
                       st.nb - 1) AS bin
          FROM s1, st)
SELECT c.row, c.col, coalesce(mx.xval, 3.0) AS value
FROM cells c LEFT JOIN mx ON mx.bin = c.bin
"""


def fast_almost_gaussian_filter(cells, *, sigma: float = 1.8):
    """FastAlmostGaussianFilter (image_analysis/
    fast_almost_gaussian_filter.rs:205-300): five iterated box means whose
    widths approximate a Gaussian of the given sigma (wl for the first
    m+1 passes, wu after; exact reference width arithmetic)."""
    import math

    from whitebox_tools_spark.operators.focal import mean_filter

    s = max(float(sigma), 1.8)
    n = 5
    w_ideal = math.sqrt(12.0 * s * s / n + 1.0)
    wl = int(math.floor(w_ideal))
    if wl % 2 == 0:
        wl -= 1
    wu = wl + 2
    m = round(
        (12.0 * s * s - n * wl * wl - 4.0 * n * wl - 3.0 * n) / (-4.0 * wl - 4.0)
    )
    out = cells
    for i in range(n):
        size = wl if i <= m else wu
        out = mean_filter(out, filterx=size, filtery=size)
    return out


def fast_almost_gaussian_oracle_sql(source_sql: str, *, sigma: float = 1.8) -> str:
    import math

    from whitebox_tools_spark.operators.focal import mean_filter_oracle_sql

    s = max(float(sigma), 1.8)
    n = 5
    w_ideal = math.sqrt(12.0 * s * s / n + 1.0)
    wl = int(math.floor(w_ideal))
    if wl % 2 == 0:
        wl -= 1
    wu = wl + 2
    m = round(
        (12.0 * s * s - n * wl * wl - 4.0 * n * wl - 3.0 * n) / (-4.0 * wl - 4.0)
    )
    sql = source_sql
    for i in range(n):
        size = wl if i <= m else wu
        sql = mean_filter_oracle_sql(sql, filterx=size, filtery=size)
    return sql


def highpass_bilateral_filter(cells, *, sigma_dist: float = 0.75, sigma_int: float = 50.0):
    """HighPassBilateralFilter (image_analysis/high_pass_bilateral_filter.rs):
    input minus its bilateral smoothing."""
    from pyspark.sql import functions as F

    from whitebox_tools_spark.operators.focal import bilateral_filter

    sm = bilateral_filter(cells, sigma_dist=sigma_dist, sigma_int=sigma_int)
    z = cells.filter(F.col("value").isNotNull()).select(
        "row", "col", F.col("value").alias("z")
    )
    return z.join(sm, ["row", "col"]).select(
        "row", "col", (F.col("z") - F.col("value")).alias("value")
    )


def highpass_bilateral_oracle_sql(
    source_sql: str, *, sigma_dist: float = 0.75, sigma_int: float = 50.0
) -> str:
    from whitebox_tools_spark.operators.focal import bilateral_oracle_sql

    sm = bilateral_oracle_sql(source_sql, sigma_dist=sigma_dist, sigma_int=sigma_int)
    return f"""
WITH z AS (SELECT row, col, value FROM ({source_sql}) WHERE value IS NOT NULL),
sm AS ({sm})
SELECT z.row, z.col, z.value - sm.value AS value
FROM z JOIN sm ON sm.row = z.row AND sm.col = z.col
"""


def mosaic_nn(rasters_with_centers):
    """Mosaic, nearest-neighbour variant (image_analysis/mosaic.rs): where
    images overlap, the value comes from the image whose CENTER is nearest
    to the cell (ties to the lower image index).
    rasters_with_centers: [(df, center_row, center_col)]."""
    from pyspark.sql import functions as F

    parts = []
    for i, (df, cr, cc) in enumerate(rasters_with_centers):
        d2 = (
            (F.col("row") - F.lit(float(cr))) * (F.col("row") - F.lit(float(cr)))
            + (F.col("col") - F.lit(float(cc))) * (F.col("col") - F.lit(float(cc)))
        )
        parts.append(
            df.filter(F.col("value").isNotNull()).select(
                "row", "col",
                F.struct(
                    d2.alias("d2"), F.lit(i).alias("idx"), F.col("value").alias("v")
                ).alias("w"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("row", "col").agg(F.min("w").alias("w")).select(
        "row", "col", F.col("w.v").alias("value")
    )


_MOSAIC_STENCILS = {
    # (shift_x, shift_y) around floor(src coords): mosaic.rs:628-629 (4-nb
    # "bilinear"), mosaic.rs:529-530 (16-nb "cc")
    "bilinear": [(sx, sy) for sy in (0, 1) for sx in (0, 1)],
    "cc": [(sx, sy) for sy in (-1, 0, 1, 2) for sx in (-1, 0, 1, 2)],
}


def mosaic_resample(rasters_with_grids, out_grid: GridSpec, *, method: str = "bilinear") -> DataFrame:
    """Mosaic, bilinear / cubic-convolution variants (image_analysis/
    mosaic.rs:516-700): for each output cell center, resample from the
    FIRST input image (input-list order mirrors the reference's overlap
    scan) whose source-grid stencil — 4 neighbors for 'bilinear', 16 for
    'cc' — yields any valid value. Weights are inverse squared stencil
    distance 1/(dx^2 + dy^2) normalized over the valid neighbors
    (mosaic.rs:573/648), and an exact grid hit (dx == dy == 0) returns
    the source value directly.

    Parity note (documented deviation): the reference kernel reuses its
    neighbour-weight buffer across pixels without resetting the exact-hit
    slot (mosaic.rs:566-586) and strides rows by machine thread id, so an
    exact-hit pixel blends its value with a STALE weight left over from
    whatever pixel that thread processed before — output depends on CPU
    count. This engine implements the deterministic intended semantics
    (exact hit wins outright, fresh weights per pixel); the reference's
    own 'nn' path and every aligned-grid pixel without stale state agree.

    Scale shape: one output-cell frame (range -> row/col/x/y), per image a
    stencil explode (x4/x16) + one equi-join on the source (row, col) +
    one hash aggregate; images combine with a union + min_by(image index)
    aggregate. No driver loops, no UDFs; joins are all equi-joins on cell
    keys, so AQE/bucketing strategies apply unchanged at 100 TB.

    rasters_with_grids: [(df(row, col, value), GridSpec)] in priority
    order. -> (row, col, value) over out_grid, only cells some image
    covers."""
    if method not in _MOSAIC_STENCILS:
        raise ValueError(f"method must be one of {sorted(_MOSAIC_STENCILS)} (got {method!r})")
    stencil = _MOSAIC_STENCILS[method]
    spark = rasters_with_grids[0][0].sparkSession
    n = out_grid.rows * out_grid.cols
    cells = spark.range(n).select(
        (F.col("id") / out_grid.cols).cast("long").alias("row"),
        (F.col("id") % out_grid.cols).alias("col"),
    )
    cells = cells.selectExpr("row", "col", f"{out_grid.x_center_sql('col')} AS x", f"{out_grid.y_center_sql('row')} AS y")
    offs = F.array(*[
        F.struct(F.lit(sx).alias("sx"), F.lit(sy).alias("sy")) for sx, sy in stencil
    ])
    cands = []
    for i, (src, g) in enumerate(rasters_with_grids):
        col_src = (F.col("x") - F.lit(g.west)) / F.lit(g.res_x)
        row_src = (F.lit(g.north) - F.col("y")) / F.lit(g.res_y)
        e = (
            cells.select(
                "row", "col",
                col_src.alias("cs"), row_src.alias("rs"),
                F.floor(col_src).alias("oc"), F.floor(row_src).alias("orow"),
            )
            .select("row", "col", "cs", "rs", "oc", "orow", F.explode(offs).alias("o"))
            .select(
                "row", "col", "cs", "rs",
                (F.col("orow") + F.col("o.sy")).alias("nr"),
                (F.col("oc") + F.col("o.sx")).alias("nc"),
            )
        )
        j = e.join(
            src.filter(F.col("value").isNotNull()).select(
                F.col("row").alias("nr"), F.col("col").alias("nc"),
                F.col("value").alias("v"),
            ),
            ["nr", "nc"],
        )
        dx = F.col("nc").cast("double") - F.col("cs")
        dy = F.col("nr").cast("double") - F.col("rs")
        exact = (dx == 0.0) & (dy == 0.0)
        w = F.when(exact, F.lit(None)).otherwise(1.0 / (dx * dx + dy * dy))
        agg = (
            j.select(
                "row", "col", "v", w.alias("w"),
                F.when(exact, F.col("v")).alias("ev"),
            )
            .groupBy("row", "col")
            .agg(
                F.max("ev").alias("ev"),
                (F.sum(F.col("v") * F.col("w")) / F.sum("w")).alias("wv"),
            )
            .select(
                "row", "col",
                F.struct(
                    F.lit(i).alias("idx"),
                    F.coalesce(F.col("ev"), F.col("wv")).alias("v"),
                ).alias("cand"),
            )
        )
        cands.append(agg)
    u = cands[0]
    for c in cands[1:]:
        u = u.unionByName(c)
    return (
        u.groupBy("row", "col")
        .agg(F.min("cand").alias("cand"))
        .select("row", "col", F.col("cand.v").alias("value"))
    )
