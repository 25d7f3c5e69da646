"""Query bodies: PIP/tiling, raster map/zip/focal/stats/image families."""

# Shared flat namespace: each queries/ module layers on its predecessor so
# the package behaves exactly like the original single registry module
# (underscore helpers included — `import *` would drop them).
from whitebox_tools_spark.queries import core as _prev

globals().update(
    {k: v for k, v in vars(_prev).items() if not k.startswith("__")}
)
del _prev

# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------
def q_pip(spark, sf_dir):
    """Clip point-case / VectorPointsInPolygon (gis_analysis/clip.rs:299-370)."""
    return points_in_polygons(_cust_points(spark, sf_dir), PARTS, IDX)


def q_extract(spark, sf_dir):
    """ExtractRasterValuesAtPoints (extract_raster_values_at_points.rs:252-265)."""
    out = extract_raster_values_at_points(
        _cust_points(spark, sf_dir).drop("z"), _part_raster(spark, sf_dir), EXTRACT_GRID
    )
    return out.select("point_id", "value1")


def q_zonal(spark, sf_dir):
    """ZonalStatistics (zonal_statistics.rs:391-464)."""
    return _r6(zonal_statistics(_zones(spark, sf_dir)),
               ["total", "mean_v", "min_v", "max_v", "range_v", "sd", "median"])


def q_tile_assign(spark, sf_dir):
    """LidarTile tile ids (lidar_tile.rs:300-325)."""
    return assign_tiles(_cust_points(spark, sf_dir).drop("z"), **TILE).select(
        "point_id", "tile_col", "tile_row", "tile"
    )


def q_tile_counts(spark, sf_dir):
    tiled = assign_tiles(_cust_points(spark, sf_dir).drop("z"), **TILE)
    return tiled.groupBy("tile").agg(F.count(F.lit(1)).alias("n_points"))


def q_nn_gridding(spark, sf_dir):
    """NearestNeighbourGridding (nearest_neighbour_gridding.rs:452-454)."""
    return nearest_neighbour_gridding(
        _supp_points(spark, sf_dir), NN_GRID, IDX, max_dist=1e18
    )


def q_idw(spark, sf_dir):
    """IdwInterpolation (idw_interpolation.rs:617-645), radius=100 min_points=4."""
    out = idw_gridding(
        _supp_points(spark, sf_dir), NN_GRID, IDX, weight=2.0, radius=100.0, min_points=4
    )
    return _r6(out, ["value"])


def q_poly_to_raster(spark, sf_dir):
    """VectorPolygonsToRaster (vector_polygons_to_raster.rs:476-573)."""
    return polygons_to_raster(spark, PARTS, P2R_GRID, IDX)


def q_block_max(spark, sf_dir):
    """BlockMaximumGridding (gis_analysis/block_maximum.rs:147)."""
    pts = _cust_points(spark, sf_dir)
    return block_gridding(pts, P2R_GRID, value="z", agg="max")


def q_aggregate_raster(spark, sf_dir):
    """AggregateRaster (gis_analysis/aggregate_raster.rs:142), factor 4, mean."""
    return _r6(aggregate_raster(_part_raster(spark, sf_dir), agg_factor=4, agg="mean"),
               ["value"])


def q_raster_map_chain(spark, sf_dir):
    """MAP-class chain: sqrt(abs(v)) and ln(v) and square over one raster."""
    r = _part_raster(spark, sf_dir)
    r = RM.apply_map(r, "abs")
    out = r.select(
        "row", "col",
        F.round(F.sqrt("value"), 6).alias("sqrt_v"),
        F.round(F.log("value"), 6).alias("ln_v"),
        F.round(F.col("value") * F.col("value"), 6).alias("square_v"),
    )
    return out


def q_raster_zip(spark, sf_dir):
    """ZIP-class: add / multiply / greater_than of two aligned rasters."""
    a, b = _part_raster(spark, sf_dir), _part_raster2(spark, sf_dir)
    add = RM.combine(a, b, "add").withColumnRenamed("value", "add_v")
    mul = RM.combine(a, b, "multiply").select("row", "col", F.col("value").alias("mul_v"))
    gt = RM.combine(a, b, "greater_than").select("row", "col", F.col("value").alias("gt_v"))
    return _r6(add.join(mul, ["row", "col"]).join(gt, ["row", "col"]),
               ["add_v", "mul_v", "gt_v"])


def q_reclass(spark, sf_dir):
    """Reclass (gis_analysis/reclass.rs): price bands."""
    out = RM.reclass(
        _part_raster(spark, sf_dir),
        [(1.0, 0.0, 1200.0), (2.0, 1200.0, 1600.0), (3.0, 1600.0, 99999.0)],
    )
    return out


def q_summary_stats(spark, sf_dir):
    """RasterSummaryStats (raster_summary_stats.rs:134)."""
    return _r6(ST.raster_summary_stats(_part_raster(spark, sf_dir)),
               ["total", "mean_v", "min_v", "max_v", "sd"])


def q_histogram(spark, sf_dir):
    """RasterHistogram (raster_histogram.rs:128)."""
    return ST.raster_histogram(_part_raster(spark, sf_dir), **HIST)


def q_quantiles(spark, sf_dir):
    """Quantiles (quantiles.rs:263-268) -> bin sizes."""
    q = ST.quantiles(_part_raster(spark, sf_dir), 5)
    return q.groupBy(F.col("quantile").cast("long").alias("quantile")).agg(
        F.count(F.lit(1)).alias("n")
    )


def q_zscores(spark, sf_dir):
    """ZScores (zscores.rs:130)."""
    out = ST.zscores(_part_raster(spark, sf_dir))
    return out.select("row", "col", F.round("zscore", 4).alias("zscore"))


def q_rmse(spark, sf_dir):
    """RootMeanSquareError (root_mean_square_error.rs:130)."""
    return _r6(ST.rmse(_part_raster(spark, sf_dir), _part_raster2(spark, sf_dir)),
               ["rmse", "mean_error"])


def q_image_correlation(spark, sf_dir):
    """ImageCorrelation (math_stat_analysis/image_correlation.rs)."""
    return ST.image_correlation(_part_raster(spark, sf_dir), _part_raster2(spark, sf_dir))


def q_image_regression(spark, sf_dir):
    """ImageRegression (math_stat_analysis/image_regression.rs)."""
    return ST.image_regression(_part_raster(spark, sf_dir), _part_raster2(spark, sf_dir))


def q_image_autocorrelation(spark, sf_dir):
    """ImageAutocorrelation (math_stat_analysis/image_autocorrelation.rs):
    global Moran's I, rook contiguity."""
    return ST.image_autocorrelation(_part_raster(spark, sf_dir), contiguity="rook")


def q_cross_tabulation(spark, sf_dir):
    """CrossTabulation (math_stat_analysis/cross_tabulation.rs): part-size
    raster vs the price raster bucketed to 1000-wide classes."""
    priced = _part_raster(spark, sf_dir).select(
        "row", "col", F.floor(F.col("value") / 1000.0).alias("value")
    )
    return ST.cross_tabulation(_part_raster2(spark, sf_dir), priced)


def q_cumulative_distribution(spark, sf_dir):
    """CumulativeDistribution (math_stat_analysis/cumulative_dist.rs) via
    the distributed running-sum pattern."""
    return ST.cumulative_distribution(_part_raster(spark, sf_dir))


def q_two_sample_ks(spark, sf_dir):
    """TwoSampleKsTest (math_stat_analysis/two_sample_ks_test.rs): price
    raster vs the price raster shifted by +50 (deterministic alternative
    sample with a real distribution difference)."""
    b = _part_raster(spark, sf_dir).select(
        "row", "col", (F.col("value") * 1.02 + 50.0).alias("value")
    )
    return ST.two_sample_ks_test(_part_raster(spark, sf_dir), b)


def q_attribute_correlation(spark, sf_dir):
    """AttributeCorrelation (math_stat_analysis/attribute_correlation.rs)
    over lineitem's numeric attributes."""
    li = _t(spark, sf_dir, "lineitem")
    return ST.attribute_correlation(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def _slope_raster(spark, sf_dir):
    """Slope raster input for the terrain indices, MATERIALIZED via
    localCheckpoint — mirroring the reference, where WetnessIndex et al.
    read a slope.tif previously written by the Slope tool. Composing the
    unmaterialized Florinsky gather lazily inlines its expression into
    every downstream use site and catalyst optimization time explodes
    (observed >200 s for a 200-cell wetness plan vs 0.7 s checkpointed)."""
    from whitebox_tools_spark.operators.focal import slope

    return slope(_part_raster(spark, sf_dir), res=5.0).localCheckpoint()


def q_find_parallel_flow(spark, sf_dir):
    """FindParallelFlow (hydro_analysis/find_parallel_flow.rs) over the
    valley DEM's D8 pointers + extracted streams."""
    from whitebox_tools_spark.operators.hydro import d8_pointer, find_parallel_flow
    from whitebox_tools_spark.operators.streams import extract_streams

    dem = _valley_dem(spark, sf_dir)
    ptr = d8_pointer(dem, STREAM_GRID)
    streams = extract_streams(dem, STREAM_GRID, threshold=4.0)
    return find_parallel_flow(ptr, streams)


def q_dinf_mass_flux(spark, sf_dir):
    """DInfMassFlux (hydro_analysis/dinf_mass_flux.rs): mass accumulated
    over the Tarboton fractional edges. Value-checked against
    serial_oracles.dinf_mass_flux_serial as a literal VALUES oracle over
    the fixed noise fixture (cells are either bit-identical to the serial
    sweep — single-inflow chains — or carry a 6-dp rounding margin far
    above the re-association delta; pinned in tests/test_serial_oracles.py)."""
    from whitebox_tools_spark.operators.hydro import dinf_mass_flux

    dem = _fixed_noise(spark)
    # value-derived aux rasters (see dinf_mass_flux_serial docstring)
    loading = dem.withColumn("value", F.lit(1.0) + F.col("value") / F.lit(500.0))
    eff = dem.withColumn("value", F.lit(0.4) + F.col("value") / F.lit(2500.0))
    ab = dem.withColumn("value", F.col("value") / F.lit(20000.0))
    return _r6(
        dinf_mass_flux(dem, EXTRACT_GRID, loading, eff, ab), ["value"]
    )


def q_wetness_index(spark, sf_dir):
    """WetnessIndex (terrain_analysis/wetness_index.rs): ln(sca/tan(slope))
    with the price raster standing in as SCA."""
    from whitebox_tools_spark.operators import terrain as TE

    return _r6(
        TE.wetness_index(_part_raster(spark, sf_dir), _slope_raster(spark, sf_dir)),
        ["value"],
    )


def q_stream_power(spark, sf_dir):
    """RelativeStreamPowerIndex (terrain_analysis/
    relative_stream_power_index.rs)."""
    from whitebox_tools_spark.operators import terrain as TE

    return _r6(
        TE.stream_power_index(
            _part_raster(spark, sf_dir), _slope_raster(spark, sf_dir), exponent=1.1
        ),
        ["value"],
    )


def q_sediment_transport(spark, sf_dir):
    """SedimentTransportIndex (terrain_analysis/
    sediment_transport_index.rs:313-315)."""
    from whitebox_tools_spark.operators import terrain as TE

    return _r6(
        TE.sediment_transport_index(
            _part_raster(spark, sf_dir), _slope_raster(spark, sf_dir)
        ),
        ["value"],
    )


def q_num_downslope_nbrs(spark, sf_dir):
    """NumDownslopeNeighbours (terrain_analysis/num_downslope_neighbours.rs)."""
    from whitebox_tools_spark.operators import terrain as TE

    return TE.num_downslope_neighbours(_part_raster(spark, sf_dir))


def q_num_upslope_nbrs(spark, sf_dir):
    """NumUpslopeNeighbours (terrain_analysis/num_upslope_neighbours.rs)."""
    from whitebox_tools_spark.operators import terrain as TE

    return TE.num_upslope_neighbours(_part_raster(spark, sf_dir))


def q_max_downslope_change(spark, sf_dir):
    """MaxDownslopeElevChange (terrain_analysis/max_downslope_elev_change.rs)."""
    from whitebox_tools_spark.operators import terrain as TE

    return _r6(TE.max_downslope_elev_change(_part_raster(spark, sf_dir), res=5.0), ["value"])


def q_min_downslope_change(spark, sf_dir):
    """MinDownslopeElevChange (terrain_analysis/min_downslope_elev_change.rs)."""
    from whitebox_tools_spark.operators import terrain as TE

    return _r6(TE.min_downslope_elev_change(_part_raster(spark, sf_dir), res=5.0), ["value"])


def q_max_upslope_change(spark, sf_dir):
    """MaxUpslopeElevChange (terrain_analysis/max_upslope_elev_change.rs)."""
    from whitebox_tools_spark.operators import terrain as TE

    return _r6(TE.max_upslope_elev_change(_part_raster(spark, sf_dir), res=5.0), ["value"])


def q_multidirectional_hillshade(spark, sf_dir):
    """MultidirectionalHillshade (terrain_analysis/
    multidirectional_hillshade.rs, 4-azimuth weighted mode)."""
    from whitebox_tools_spark.operators.focal import multidirectional_hillshade

    return multidirectional_hillshade(_part_raster(spark, sf_dir), res=5.0)


def q_stdev_of_slope(spark, sf_dir):
    """StandardDeviationOfSlope (terrain_analysis/
    standard_deviation_of_slope.rs): sd(n-1) filter over the slope raster."""
    from whitebox_tools_spark.operators.focal import stat_filter

    return _r6(stat_filter(_slope_raster(spark, sf_dir), "sd"), ["value"])


# upsampling destination (2x finer) over the part raster's occupied corner
RESAMPLE_DST = GridSpec(west=0.0, north=1000.0, res_x=2.5, res_y=2.5, rows=80, cols=16)


def q_resample_nn(spark, sf_dir):
    """Resample nearest-neighbour (image_analysis/resample.rs:397-430)."""
    from whitebox_tools_spark.operators.image import resample

    return resample(
        _part_raster(spark, sf_dir), EXTRACT_GRID, RESAMPLE_DST, method="nn"
    )


def q_resample_bilinear(spark, sf_dir):
    """Resample bilinear (image_analysis/resample.rs:459-510, 4-neighbor
    inverse-square-distance blend)."""
    from whitebox_tools_spark.operators.image import resample

    return _r6(
        resample(
            _part_raster(spark, sf_dir), EXTRACT_GRID, RESAMPLE_DST, method="bilinear"
        ),
        ["value"],
    )


def q_gaussian_stretch(spark, sf_dir):
    """GaussianContrastStretch (image_analysis/gaussian_contrast_stretch.rs)."""
    from whitebox_tools_spark.operators.image import gaussian_contrast_stretch

    return _r6(gaussian_contrast_stretch(_part_raster(spark, sf_dir)), ["value"])


def q_correct_vignetting(spark, sf_dir):
    """CorrectVignetting (image_analysis/correct_vignetting.rs), principal
    point (100, 5), 10-column scale."""
    from whitebox_tools_spark.operators.image import correct_vignetting

    out = correct_vignetting(
        _part_raster(spark, sf_dir), pp_row=100.0, pp_col=5.0, cols=10
    )
    # 4dp: the 1/cos^4 amplification (up to ~1e5x) puts 1-ulp libm cos/pow
    # differences on the 6dp rounding cliff
    return out.withColumn("value", F.round(F.col("value"), 4))


def q_mosaic_with_feathering(spark, sf_dir):
    """MosaicWithFeathering (image_analysis/mosaic_with_feathering.rs):
    price raster blended with the size raster shifted (+3, +2)."""
    from whitebox_tools_spark.operators.image import mosaic_with_feathering

    b = _part_raster2(spark, sf_dir).select(
        (F.col("row") + 3).alias("row"), (F.col("col") + 2).alias("col"), "value"
    )
    return _r6(
        mosaic_with_feathering(_part_raster(spark, sf_dir), b), ["value"]
    )


def q_histogram_matching(spark, sf_dir):
    """HistogramMatchingTwoImages (image_analysis/
    histogram_matching_two_images.rs:285-440): price raster reshaped to
    the size raster's distribution."""
    from whitebox_tools_spark.operators.image import histogram_matching_two_images

    return _r6(
        histogram_matching_two_images(
            _part_raster(spark, sf_dir), _part_raster2(spark, sf_dir)
        ),
        ["value"],
    )


def q_contours_from_raster(spark, sf_dir):
    """ContoursFromRaster (terrain_analysis/contours_from_raster.rs:174):
    contour segment multiset on cell cracks (band boundaries of
    floor((z-base)/interval)), height = base + level*interval. Full SQL
    oracle; the stitched polyline product is q_contour_polylines."""
    from whitebox_tools_spark.operators.terrain import contour_segments

    return contour_segments(
        _part_raster(spark, sf_dir), EXTRACT_GRID, interval=1.0, base=0.0
    )


def q_contour_polylines(spark, sf_dir):
    """ContoursFromRaster stitched polylines: per-height chained cracks.
    Oracle checks per-height polyline/vertex conservation invariants that
    SQL can derive from the segment multiset without stitching: segment
    count (= sum of (vertices-1) over parts) and part endpoint parity;
    vertex-exact stitching is pinned by tests/test_more_operators.py."""
    from whitebox_tools_spark.operators.terrain import contour_polylines

    out = contour_polylines(
        _part_raster(spark, sf_dir), EXTRACT_GRID, interval=1.0, base=0.0
    )
    # SQL-derivable invariants of a correct stitch: every crack segment is
    # used exactly once (n_segments = sum of vertices-1), and the open-
    # chain count equals half the odd-degree vertex count of the segment
    # graph (crack-corner degrees are even except at the raster border).
    return out.groupBy("height").agg(
        F.sum(F.size("xs") - 1).cast("long").alias("n_segments"),
        F.sum(
            F.when(
                (F.col("xs")[0] != F.element_at("xs", -1))
                | (F.col("ys")[0] != F.element_at("ys", -1)),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_open"),
    )


def q_surface_area_ratio(spark, sf_dir):
    """SurfaceAreaRatio (terrain_analysis/surface_area_ratio.rs:215-330)."""
    from whitebox_tools_spark.operators.terrain import surface_area_ratio

    return _r6(
        surface_area_ratio(_part_raster(spark, sf_dir), res_x=5.0, res_y=5.0),
        ["value"],
    )


def q_rtp(spark, sf_dir):
    """RelativeTopographicPosition (terrain_analysis/
    relative_topographic_position.rs:390-415)."""
    from whitebox_tools_spark.operators.terrain import relative_topographic_position

    # No float re-round here: the operator's output is already exactly 6-dp
    # quantized via integer round-half-away (terrain.py) — a further round()
    # would be the only engine-dependent float op in the pipeline.
    return relative_topographic_position(
        _part_raster(spark, sf_dir), filterx=5, filtery=5
    )


def q_extract_valleys_lq(spark, sf_dir):
    """ExtractValleys LQ (stream_network_analysis/extract_valleys.rs,
    Lindsay 2006 lower-quartile method, square 5x5 window)."""
    from whitebox_tools_spark.operators.terrain import extract_valleys_lq

    return extract_valleys_lq(_part_raster(spark, sf_dir))


def q_extract_valleys_jandr(spark, sf_dir):
    """ExtractValleys JandR (stream_network_analysis/extract_valleys.rs)."""
    from whitebox_tools_spark.operators.terrain import extract_valleys

    return extract_valleys(_part_raster(spark, sf_dir), variant="JandR")


def q_extract_valleys_pandd(spark, sf_dir):
    """ExtractValleys PandD (stream_network_analysis/extract_valleys.rs:456-486)."""
    from whitebox_tools_spark.operators.terrain import extract_valleys

    return extract_valleys(_part_raster(spark, sf_dir), variant="PandD")


def q_elev_above_pit(spark, sf_dir):
    """ElevAbovePit (terrain_analysis/elev_above_pit.rs)."""
    from whitebox_tools_spark.operators.hydro import elev_above_pit

    return _r6(elev_above_pit(_noise_raster(spark, sf_dir), EXTRACT_GRID), ["value"])


def _mass_flux_inputs(spark, sf_dir):
    dem = _valley_dem(spark, sf_dir)
    loading = dem.select("row", "col", (F.lit(1.0) + F.col("value") / 100.0).alias("value"))
    eff = dem.select(
        "row", "col", (F.lit(0.9) - (F.col("row") % 3).cast("double") * 0.1).alias("value")
    )
    ab = dem.select("row", "col", F.lit(0.05).alias("value"))
    return dem, loading, eff, ab


def q_d8_mass_flux(spark, sf_dir):
    """D8MassFlux (hydro_analysis/d8_mass_flux.rs): deterministic loading/
    efficiency/absorption rasters derived from the valley DEM."""
    from whitebox_tools_spark.operators.hydro import d8_mass_flux

    dem, loading, eff, ab = _mass_flux_inputs(spark, sf_dir)
    return _r6(d8_mass_flux(dem, STREAM_GRID, loading, eff, ab), ["value"])


def q_hypsometric(spark, sf_dir):
    """HypsometricAnalysis (terrain_analysis/hypsometric_analysis.rs:265-306)."""
    return ST.hypsometric_analysis(_part_raster(spark, sf_dir))


def q_max_diff_from_mean(spark, sf_dir):
    """MaxDifferenceFromMean (terrain_analysis/max_diff_from_mean.rs):
    z - mean across window scales 5/7/9, argmax |diff| + winning scale."""
    from whitebox_tools_spark.operators.multiscale import max_difference_from_mean

    return _r6(
        max_difference_from_mean(_valley_dem(spark, sf_dir), scales=(2, 3, 4)),
        ["magnitude"],
    )


def q_max_diff_from_mean_tiled(spark, sf_dir):
    """MaxDifferenceFromMean at radius 9 via the tiled integral-image path
    (multiscale.window_stats_tiled, tile=8 forces multi-tile halos): the
    large-radius scale path — per-tile 2-D prefix sums answer each window in
    O(1) instead of the (2r+1)^2 offset scatter. Oracle = the same literal
    window-join SQL as max_diff_from_mean, at scale 9."""
    from whitebox_tools_spark.operators.multiscale import max_difference_from_mean

    out = max_difference_from_mean(
        _valley_dem(spark, sf_dir), scales=(9,), tiled=True, tile=8
    )
    # 9dp pre-quantization: the valley DEM's decimal steps put window means
    # EXACTLY on 6dp half-up boundaries, where the prefix-sum path sits
    # 1 ulp below the join-sum oracle
    return out.select(
        "row", "col", F.round(F.round("magnitude", 9), 6).alias("magnitude"), "scale"
    )


def q_multiscale_elev_percentile(spark, sf_dir):
    """MultiscaleElevationPercentile (terrain_analysis/
    multiscale_elev_percentile.rs): EP across scales, argmax |EP-50|
    (exact values, not the reference's histogram quantization)."""
    from whitebox_tools_spark.operators.multiscale import multiscale_elev_percentile

    return _r6(
        multiscale_elev_percentile(_valley_dem(spark, sf_dir), scales=(2, 3, 4)),
        ["magnitude"],
    )


def q_max_anisotropy_dev(spark, sf_dir):
    """MaxAnisotropyDev (terrain_analysis/max_anisotropy_dev.rs:370-620):
    directional-pane DEV anisotropy across scales."""
    from whitebox_tools_spark.operators.multiscale import max_anisotropy_dev

    return _r6(
        max_anisotropy_dev(_valley_dem(spark, sf_dir), scales=(2, 3)),
        ["magnitude"],
    )


def q_multiscale_roughness(spark, sf_dir):
    """MultiscaleRoughness (terrain_analysis/multiscale_roughness.rs):
    normal-vector angular deviation vs the box-smoothed surface, box-
    averaged, argmax across scales."""
    from whitebox_tools_spark.operators.multiscale import multiscale_roughness

    return _r6(
        multiscale_roughness(
            _valley_dem(spark, sf_dir), STREAM_GRID, scales=(2, 3)
        ),
        ["magnitude"],
    )


def q_mtpi_image(spark, sf_dir):
    """MultiscaleTopographicPositionImage (terrain_analysis/
    multiscale_topographic_position_image.rs:384-396): DEVmax at
    local/meso/broad scales -> logistic byte composite."""
    from whitebox_tools_spark.operators.focal import max_elev_deviation
    from whitebox_tools_spark.operators.multiscale import mtpi_image

    dem = _valley_dem(spark, sf_dir)
    return mtpi_image(
        max_elev_deviation(dem, scales=[3]).select("row", "col", "magnitude"),
        max_elev_deviation(dem, scales=[5]).select("row", "col", "magnitude"),
        max_elev_deviation(dem, scales=[9]).select("row", "col", "magnitude"),
    )


def q_max_elev_dev_signature(spark, sf_dir):
    """MaxElevDevSignature (terrain_analysis/max_elev_dev_signature.rs):
    DEV at each scale sampled at deterministic signature points."""
    from whitebox_tools_spark.operators.focal import dev_from_mean
    from whitebox_tools_spark.operators.multiscale import signature_at_points

    dem = _valley_dem(spark, sf_dir)
    pts = dem.filter((F.col("row") * 7 + F.col("col")) % 97 == 0).select(
        (F.col("row") * 1000 + F.col("col")).alias("point_id"), "row", "col"
    )
    parts = []
    for s in (3, 5, 9):
        parts.append(
            dev_from_mean(dem, filterx=s, filtery=s).select(
                "row", "col", F.col("value"), F.lit(s).cast("long").alias("scale")
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return _r6(signature_at_points(u, pts), ["value"])


def _mtpi_sql() -> str:
    from whitebox_tools_spark.operators.focal import max_elev_deviation_oracle_sql

    def dev(s):
        return max_elev_deviation_oracle_sql(_VALLEY_DEM_SQL, scales=[s])

    byte = (
        "CAST(least(greatest(floor(512.0 / (1.0 + exp(-1.2 * abs({v})))) - 256.0,"
        " 0.0), 255.0) AS BIGINT)"
    )
    return f"""
WITH l AS ({dev(3)}), m AS ({dev(5)}), b AS ({dev(9)})
SELECT l.row, l.col,
       {byte.format(v='b.magnitude')} AS red,
       {byte.format(v='m.magnitude')} AS green,
       {byte.format(v='l.magnitude')} AS blue
FROM l JOIN m ON m.row = l.row AND m.col = l.col
JOIN b ON b.row = l.row AND b.col = l.col
"""


def _mes_signature_sql() -> str:
    from whitebox_tools_spark.operators.focal import dev_from_mean_oracle_sql

    unions = "\nUNION ALL\n".join(
        f"SELECT row, col, value, CAST({s} AS BIGINT) AS scale FROM ("
        + dev_from_mean_oracle_sql(_VALLEY_DEM_SQL, filterx=s, filtery=s)
        + ") t"
        for s in (3, 5, 9)
    )
    return f"""
WITH u AS ({unions})
SELECT row * 1000 + col AS point_id, scale, round(value, 6) AS value
FROM u WHERE (row * 7 + col) % 97 = 0
"""


# Every MAP_OPS / ZIP_OPS registry entry, each with a domain-safe input
# expression and its literal DuckDB mirror. u = value / 1000 (part raster
# prices -> u in (0.9, 2.1)).
_MAP_DOMAINS = {
    # op: (spark input builder over u, sql input string over u)
    "abs": (lambda u: -u, "-({u})"),
    "negate": (lambda u: u, "{u}"),
    "reciprocal": (lambda u: u, "{u}"),
    "square": (lambda u: u, "{u}"),
    "sqrt": (lambda u: u, "{u}"),
    "ln": (lambda u: u, "{u}"),
    "log10": (lambda u: u, "{u}"),
    "log2": (lambda u: u, "{u}"),
    "exp": (lambda u: u, "{u}"),
    "exp2": (lambda u: u, "{u}"),
    "sin": (lambda u: u, "{u}"),
    "cos": (lambda u: u, "{u}"),
    "tan": (lambda u: u, "{u}"),
    "asin": (lambda u: F.sin(u) * 0.9, "sin({u}) * 0.9"),
    "acos": (lambda u: F.sin(u) * 0.9, "sin({u}) * 0.9"),
    "atan": (lambda u: u, "{u}"),
    "sinh": (lambda u: u, "{u}"),
    "cosh": (lambda u: u, "{u}"),
    "tanh": (lambda u: u, "{u}"),
    "ceil": (lambda u: u, "{u}"),
    "floor": (lambda u: u, "{u}"),
    "round": (lambda u: u, "{u}"),
    "to_degrees": (lambda u: u, "{u}"),
    "to_radians": (lambda u: u, "{u}"),
    "is_nodata": (lambda u: u, "{u}"),
    "arcosh": (lambda u: u + 1.0, "{u} + 1.0"),
    "arsinh": (lambda u: u, "{u}"),
    "artanh": (lambda u: F.sin(u) * 0.9, "sin({u}) * 0.9"),
    "truncate": (lambda u: -u * 3.0, "-({u}) * 3.0"),
    "increment": (lambda u: u, "{u}"),
    "decrement": (lambda u: u, "{u}"),
    "not": (lambda u: F.round(u, 0) - 1.0, "round({u}, 0) - 1.0"),
}

_MAP_SQL = {
    "abs": "abs({x})",
    "negate": "-({x})",
    "reciprocal": "1.0 / ({x})",
    "square": "({x}) * ({x})",
    "sqrt": "sqrt({x})",
    "ln": "ln({x})",
    "log10": "log10({x})",
    "log2": "log2({x})",
    "exp": "exp({x})",
    "exp2": "pow(2.0, {x})",
    "sin": "sin({x})",
    "cos": "cos({x})",
    "tan": "tan({x})",
    "asin": "asin({x})",
    "acos": "acos({x})",
    "atan": "atan({x})",
    "sinh": "(exp({x}) - exp(-({x}))) / 2.0",
    "cosh": "(exp({x}) + exp(-({x}))) / 2.0",
    "tanh": "(exp(2.0 * ({x})) - 1.0) / (exp(2.0 * ({x})) + 1.0)",
    "ceil": "CAST(ceil({x}) AS DOUBLE)",
    "floor": "CAST(floor({x}) AS DOUBLE)",
    "round": "round({x}, 0)",
    "to_degrees": "degrees({x})",
    "to_radians": "radians({x})",
    "is_nodata": "CASE WHEN ({x}) IS NULL THEN 1.0 ELSE 0.0 END",
    "arcosh": "ln(({x}) + sqrt(({x}) * ({x}) - 1.0))",
    "arsinh": "ln(({x}) + sqrt(({x}) * ({x}) + 1.0))",
    "artanh": "0.5 * ln((1.0 + ({x})) / (1.0 - ({x})))",
    "truncate": "trunc({x})",
    "increment": "({x}) + 1.0",
    "decrement": "({x}) - 1.0",
    "not": "CASE WHEN ({x}) = 0.0 THEN 1.0 ELSE 0.0 END",
}

_ZIP_SQL = {
    "add": "(a) + (b)",
    "subtract": "(a) - (b)",
    "multiply": "(a) * (b)",
    "divide": "(a) / (b)",
    "min": "least(a, b)",
    "max": "greatest(a, b)",
    "modulo": "fmod(a, b)",
    "power": "pow(a, b)",
    "integer_division": "CAST(floor((a) / (b)) AS DOUBLE)",
    "equal_to": "CASE WHEN a = b THEN 1.0 ELSE 0.0 END",
    "not_equal_to": "CASE WHEN a <> b THEN 1.0 ELSE 0.0 END",
    "greater_than": "CASE WHEN a > b THEN 1.0 ELSE 0.0 END",
    "less_than": "CASE WHEN a < b THEN 1.0 ELSE 0.0 END",
    "and": "CASE WHEN a <> 0 AND b <> 0 THEN 1.0 ELSE 0.0 END",
    "or": "CASE WHEN a <> 0 OR b <> 0 THEN 1.0 ELSE 0.0 END",
    "xor": "CASE WHEN (a <> 0) <> (b <> 0) THEN 1.0 ELSE 0.0 END",
    "atan2": "atan2(a, b)",
}


def q_map_ops_all(spark, sf_dir):
    """Every MAP_OPS registry entry (math_stat_analysis/{abs..not}.rs), one
    per-cell result block per op over a domain-safe input — flips every
    'indirect' registry row to individually oracle-checked."""
    base = _part_raster(spark, sf_dir).withColumn("u", F.col("value") / 1000.0)
    parts = []
    for op, (dom, _sql) in _MAP_DOMAINS.items():
        parts.append(
            base.select(
                F.lit(op).alias("op"), "row", "col",
                F.round(RM.MAP_OPS[op](dom(F.col("u"))), 6).alias("value"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u


def q_zip_ops_all(spark, sf_dir):
    """Every ZIP_OPS registry entry over two aligned rasters (a = u,
    b = noise-derived, nonzero)."""
    base = _part_raster(spark, sf_dir).select(
        "row", "col",
        (F.col("value") / 1000.0).alias("a"),
        ((F.col("row") * 7 + F.col("col") * 3) % 5 + 1.0).cast("double").alias("b"),
    )
    parts = []
    for op in RM.ZIP_OPS:
        parts.append(
            base.select(
                F.lit(op).alias("op"), "row", "col",
                F.round(RM.ZIP_OPS[op](F.col("a"), F.col("b")), 6).alias("value"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u


def q_weighted_overlay(spark, sf_dir):
    """WeightedOverlay (gis_analysis/weighted_overlay.rs): two factors (one
    cost) + one constraint, scale_max=100, weights auto-normalized."""
    from whitebox_tools_spark.operators.raster_math import weighted_overlay

    f1 = _part_raster(spark, sf_dir)
    f2 = _part_raster2(spark, sf_dir)
    con = _part_raster3(spark, sf_dir).withColumn(
        "value", (F.col("value") > 5.0).cast("double")
    )
    return _r6(
        weighted_overlay(
            [(f1, 2.0, False), (f2, 1.0, True)], scale_max=100.0, constraints=[con]
        ),
        ["value"],
    )


def q_conditional_evaluation(spark, sf_dir):
    """conditional_evaluation plugin: CASE WHEN value > 1500 THEN 1
    ELSE value / 100 END."""
    from whitebox_tools_spark.operators.raster_math import conditional_evaluation

    out = conditional_evaluation(
        _part_raster(spark, sf_dir).withColumn("value", F.col("value") / 100.0),
        "value > 15.0",
        true_value=1.0,
    )
    return _r6(out, ["value"])


def _map_ops_all_sql() -> str:
    blocks = []
    for op, (_dom, dom_sql) in _MAP_DOMAINS.items():
        x = dom_sql.format(u="(value / 1000.0)")
        blocks.append(
            f"SELECT '{op}' AS op, row, col, round({_MAP_SQL[op].format(x=x)}, 6) AS value\n"
            f"FROM ({_PART_RASTER_SQL}) t"
        )
    return "\nUNION ALL\n".join(blocks)


def _zip_ops_all_sql() -> str:
    base = (
        f"SELECT row, col, value / 1000.0 AS a, "
        f"CAST((row * 7 + col * 3) % 5 + 1.0 AS DOUBLE) AS b "
        f"FROM ({_PART_RASTER_SQL}) t"
    )
    blocks = []
    for op, sql in _ZIP_SQL.items():
        blocks.append(
            f"SELECT '{op}' AS op, row, col, round({sql}, 6) AS value FROM ({base})"
        )
    return "\nUNION ALL\n".join(blocks)


def _weighted_overlay_sql() -> str:
    return f"""
WITH f1 AS (SELECT row, col, value FROM ({_PART_RASTER_SQL}) WHERE value IS NOT NULL),
f2 AS (SELECT row, col, value FROM ({_PART_RASTER2_SQL}) WHERE value IS NOT NULL),
con AS (SELECT row, col, CASE WHEN value > 5.0 THEN 1.0 ELSE 0.0 END AS value
        FROM ({_PART_RASTER3_SQL})),
s1 AS (SELECT min(value) AS mn, max(value) AS mx FROM f1),
s2 AS (SELECT min(value) AS mn, max(value) AS mx FROM f2),
j AS (
  SELECT f1.row, f1.col,
         100.0 * ((f1.value - s1.mn) / (s1.mx - s1.mn)) * (2.0 / 3.0)
       + 100.0 * (1.0 - (f2.value - s2.mn) / (s2.mx - s2.mn)) * (1.0 / 3.0) AS value
  FROM f1 JOIN f2 ON f2.row = f1.row AND f2.col = f1.col
  CROSS JOIN s1 CROSS JOIN s2
)
SELECT j.row, j.col,
       round(CASE WHEN con.value <= 0.0 THEN 0.0 ELSE j.value END, 6) AS value
FROM j JOIN con ON con.row = j.row AND con.col = j.col
"""


def q_anvad(spark, sf_dir):
    """AverageNormalVectorAngularDeviation (terrain_analysis/
    average_normal_vector_angular_deviation.rs, filter 9)."""
    from whitebox_tools_spark.operators.multiscale import (
        average_normal_vector_angular_deviation,
    )

    return _r6(
        average_normal_vector_angular_deviation(
            _valley_dem(spark, sf_dir), STREAM_GRID, filter_size=9
        ),
        ["value"],
    )


def q_ssdn(spark, sf_dir):
    """SphericalStdDevOfNormals (terrain_analysis/
    spherical_std_dev_of_normals.rs, filter 9)."""
    from whitebox_tools_spark.operators.multiscale import spherical_std_dev_of_normals

    return _r6(
        spherical_std_dev_of_normals(
            _valley_dem(spark, sf_dir), STREAM_GRID, filter_size=9
        ),
        ["value"],
    )


def _mrs_signature_sql() -> str:
    import re as _re

    parts = []
    for m in (2, 3):
        inner = _ms.multiscale_roughness_oracle_sql(
            _VALLEY_DEM_SQL, STREAM_GRID, scales=[m]
        )
        parts.append(
            f"SELECT row * 1000 + col AS point_id, CAST(scale AS BIGINT) AS scale, "
            f"round(magnitude, 6) AS value FROM ({inner}) t "
            f"WHERE (row * 7 + col) % 97 = 0"
        )
    return "\nUNION ALL\n".join(parts)


def _mads_signature_sql() -> str:
    parts = []
    for m in (2, 3):
        inner = _ms.max_anisotropy_dev_oracle_sql(_VALLEY_DEM_SQL, scales=[m])
        parts.append(
            f"SELECT row * 1000 + col AS point_id, CAST(scale AS BIGINT) AS scale, "
            f"round(magnitude, 6) AS value FROM ({inner}) t "
            f"WHERE (row * 7 + col) % 97 = 0"
        )
    return "\nUNION ALL\n".join(parts)


def q_slope_vs_elevation_plot(spark, sf_dir):
    """SlopeVsElevationPlot (terrain_analysis/slope_vs_elev_plot.rs): the
    binned mean-slope-by-elevation data series behind the HTML plot."""
    from whitebox_tools_spark.operators.terrain import slope_vs_elevation_plot

    return _r6(
        slope_vs_elevation_plot(_valley_dem(spark, sf_dir), STREAM_GRID),
        ["elev", "mean_slope"],
    )


def q_geomorphons(spark, sf_dir):
    """Geomorphons forms (terrain_analysis/geomorphons.rs:600-670): 8
    line-of-sight profiles via banded self-joins, 10-landform lookup."""
    from whitebox_tools_spark.operators.terrain import geomorphons

    return geomorphons(_part_raster(spark, sf_dir), res=5.0, search_cells=8)


def q_max_elev_deviation(spark, sf_dir):
    """MaxElevationDeviation (terrain_analysis/max_elev_deviation.rs),
    scales 3/5/9."""
    from whitebox_tools_spark.operators.focal import max_elev_deviation

    return _r6(max_elev_deviation(_part_raster(spark, sf_dir)), ["magnitude"])


def q_pennock(spark, sf_dir):
    """PennockLandformClass (terrain_analysis/pennock_landform_class.rs:
    380-462)."""
    from whitebox_tools_spark.operators.terrain import pennock_landform_class

    return pennock_landform_class(_part_raster(spark, sf_dir), res=5.0)


def q_circular_variance_aspect(spark, sf_dir):
    """CircularVarianceOfAspect (terrain_analysis/
    circular_variance_of_aspect.rs:512-640, no pre-smoothing)."""
    from whitebox_tools_spark.operators.terrain import circular_variance_of_aspect

    return _r6(
        circular_variance_of_aspect(_part_raster(spark, sf_dir), res=5.0, filterx=5, filtery=5),
        ["value"],
    )


def q_anova(spark, sf_dir):
    """Anova (math_stat_analysis/anova.rs:400-446) of lineitem quantity
    grouped into 37 zones."""
    return ST.anova(_zones(spark, sf_dir))


def q_paired_t(spark, sf_dir):
    """PairedSampleTTest (math_stat_analysis/paired_sample_t_test.rs)."""
    return ST.paired_sample_t_test(
        _part_raster(spark, sf_dir), _part_raster2(spark, sf_dir)
    )


def q_wilcoxon(spark, sf_dir):
    """WilcoxonSignedRankTest (math_stat_analysis/
    wilcoxon_signed_rank_test.rs:382-432)."""
    return ST.wilcoxon_signed_rank_test(
        _part_raster(spark, sf_dir), _part_raster2(spark, sf_dir)
    )


def q_ks_normality(spark, sf_dir):
    """KsTestForNormality (math_stat_analysis/ks_normality_test.rs:233-386)."""
    return ST.ks_normality_test(_part_raster(spark, sf_dir))


def q_list_unique(spark, sf_dir):
    """ListUniqueValues (list_unique_values.rs:149)."""
    return ST.list_unique_values(_t(spark, sf_dir, "customer"), "c_mktsegment")


def q_list_unique_raster(spark, sf_dir):
    """ListUniqueValuesRaster (math_stat_analysis/list_unique_values_raster.rs):
    distinct cell values with counts over the integer-class raster."""
    return ST.list_unique_values(_part_raster2(spark, sf_dir), "value")


def q_kappa_index(spark, sf_dir):
    """KappaIndex (math_stat_analysis/kappa_index.rs:141): p_size classes vs
    1000-wide price classes."""
    priced = _part_raster(spark, sf_dir).select(
        "row", "col", F.floor(F.col("value") / 1000.0).cast("double").alias("value")
    )
    out = ST.kappa_index(_part_raster2(spark, sf_dir), priced)
    return _r6(out, ["overall_accuracy", "chance_agreement", "kappa"])


def q_crispness_index(spark, sf_dir):
    """CrispnessIndex (math_stat_analysis/crispness_index.rs:271-340) on a
    deterministic membership-probability raster in [0, 1)."""
    unit = _part_raster(spark, sf_dir).select(
        "row", "col", (F.col("value") % 1000.0 / 1000.0).alias("value")
    )
    return ST.crispness_index(unit)


def q_stdev_stretch(spark, sf_dir):
    """StandardDeviationContrastStretch (image_analysis/
    stdev_contrast_stretch.rs:278-285,368-381)."""
    from whitebox_tools_spark.operators import image as IM

    return IM.stdev_contrast_stretch(_part_raster(spark, sf_dir), clip_stdev=1.5)


def q_percentage_stretch(spark, sf_dir):
    """PercentageContrastStretch (image_analysis/
    percentage_contrast_stretch.rs:278-296)."""
    from whitebox_tools_spark.operators import image as IM

    return IM.percentage_contrast_stretch(_part_raster(spark, sf_dir), clip=2.0)


def q_sigmoidal_stretch(spark, sf_dir):
    """SigmoidalContrastStretch (image_analysis/
    sigmoidal_contrast_stretch.rs:300-312)."""
    from whitebox_tools_spark.operators import image as IM

    return IM.sigmoidal_contrast_stretch(
        _part_raster(spark, sf_dir), cutoff=0.4, gain=2.0
    )


def q_rescale_value_range(spark, sf_dir):
    """RescaleValueRange (math_stat_analysis/rescale_value_range.rs:254-266)."""
    from whitebox_tools_spark.operators import image as IM

    return _r6(
        IM.rescale_value_range(
            _part_raster(spark, sf_dir), out_min=0.0, out_max=100.0,
            clip_min=950.0, clip_max=1950.0,
        ),
        ["value"],
    )


def q_integral_image(spark, sf_dir):
    """IntegralImage (image_analysis/integral_image.rs:196-211)."""
    from whitebox_tools_spark.operators import image as IM

    return _r6(IM.integral_image(_part_raster(spark, sf_dir)), ["value"])


def q_modify_nodata_value(spark, sf_dir):
    """ModifyNoDataValue (data_tools/modify_no_data_value.rs)."""
    from whitebox_tools_spark.operators.raster_math import modify_nodata_value

    # sentinel-carrying interchange raster: -32768 -> -9999
    src = _part_raster(spark, sf_dir).withColumn(
        "value",
        F.when((F.col("row") * 3 + F.col("col")) % 11 == 0, F.lit(-32768.0)).otherwise(
            F.col("value")
        ),
    )
    return modify_nodata_value(src, old_value=-32768.0, new_value=-9999.0)


def q_set_nodata_value(spark, sf_dir):
    """SetNodataValue (data_tools/set_nodata_value.rs): background value
    0 becomes nodata (row dropped)."""
    from whitebox_tools_spark.operators.raster_math import set_nodata_value

    src = _part_raster(spark, sf_dir).withColumn(
        "value",
        F.when((F.col("row") + F.col("col")) % 7 == 0, F.lit(0.0)).otherwise(
            F.col("value")
        ),
    )
    return set_nodata_value(src, back_value=0.0)


def q_merge_table_with_csv(spark, sf_dir):
    """MergeTableWithCsv (data_tools/merge_table_with_csv.rs): JoinTables
    against a CSV-sourced attribute table (customer as the CSV side)."""
    from whitebox_tools_spark.operators.vector_ops import merge_table_with_csv

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    csv_side = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    return merge_table_with_csv(
        orders, csv_side, "o_custkey", "c_custkey", ["c_acctbal", "c_mktsegment"]
    ).select("o_orderkey", "o_custkey", F.round("o_totalprice", 6).alias("o_totalprice"),
             F.round("c_acctbal", 6).alias("c_acctbal"), "c_mktsegment")


def q_create_rectangular_grid(spark, sf_dir):
    """CreateRectangularVectorGrid (gis_analysis/
    create_rectangular_vector_grid.rs): 1000x1000 extent, 125-unit cells;
    emitted as corner coordinates."""
    from whitebox_tools_spark.operators.vector_ops import create_rectangular_vector_grid

    g = create_rectangular_vector_grid(
        spark, min_x=0.0, min_y=0.0, max_x=1000.0, max_y=1000.0,
        width=125.0, height=125.0,
    )
    return g.select(
        "fid", "col", "row",
        F.element_at("xs", 1).alias("x0"), F.element_at("ys", 1).alias("y0"),
        F.element_at("xs", 3).alias("x1"), F.element_at("ys", 3).alias("y1"),
    )


def q_create_hexagonal_grid(spark, sf_dir):
    """CreateHexagonalVectorGrid (gis_analysis/
    create_hexagonal_vector_grid.rs): pointy-top lattice; centers emitted."""
    from whitebox_tools_spark.operators.vector_ops import create_hexagonal_vector_grid

    g = create_hexagonal_vector_grid(
        spark, min_x=0.0, min_y=0.0, max_x=1000.0, max_y=1000.0, width=125.0,
    )
    return g.select("fid", "col", "row", F.round("cx", 6).alias("cx"),
                    F.round("cy", 6).alias("cy"))


def _rect_grid_sql() -> str:
    return """
SELECT CAST(r.row * 8 + c.col + 1 AS BIGINT) AS fid,
       c.col, r.row,
       0.0 + c.col * 125.0 AS x0, 0.0 + r.row * 125.0 AS y0,
       0.0 + c.col * 125.0 + 125.0 AS x1, 0.0 + r.row * 125.0 + 125.0 AS y1
FROM (SELECT unnest(generate_series(0, 7)) AS row) r
CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS col) c
"""


def _hex_grid_sql() -> str:
    import math as _m

    size = 125.0 / 2.0
    half_w = _m.cos(_m.pi / 6.0) * size
    ncols = int(_m.ceil(1000.0 / (2.0 * half_w))) + 1
    nrows = int(_m.ceil(1000.0 / (1.5 * size))) + 1
    return f"""
SELECT CAST(r.row * {ncols} + c.col + 1 AS BIGINT) AS fid,
       c.col, r.row,
       CAST(round(0.0 + c.col * {2.0 * half_w!r} + (r.row % 2) * {half_w!r}, 6) AS DOUBLE) AS cx,
       CAST(round(0.0 + r.row * {1.5 * size!r}, 6) AS DOUBLE) AS cy
FROM (SELECT unnest(generate_series(0, {nrows - 1})) AS row) r
CROSS JOIN (SELECT unnest(generate_series(0, {ncols - 1})) AS col) c
"""


def q_join_tables(spark, sf_dir):
    """JoinTables (data_tools/join_tables.rs:282-330)."""
    return join_tables(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey"),
        _t(spark, sf_dir, "nation"),
        "c_nationkey",
        "n_nationkey",
        ["n_name"],
    ).select("c_custkey", "c_name", "n_name")


def q_merge_vectors(spark, sf_dir):
    """MergeVectors (data_tools/merge_vectors.rs:136)."""
    a = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("fid"), F.col("c_name").alias("name")
    )
    b = _t(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") + 10_000_000).alias("fid"), F.col("s_name").alias("name")
    )
    return merge_vectors([a, b])


def q_polygon_metrics(spark, sf_dir):
    """PolygonArea/Perimeter/CompactnessRatio/Centroid (poly_area.rs:12,
    poly_perimeter.rs:12, compactness_ratio.rs:121, centroid_vector.rs:129)."""
    from whitebox_tools_spark.operators.vector_ops import polygon_metrics

    rows = []
    for pid, parts in PARTS:
        for k, (xs, ys, hole) in enumerate(parts):
            rows.append((pid, k, hole, [float(v) for v in xs], [float(v) for v in ys]))
    df = spark.createDataFrame(
        rows, "poly_id long, part_idx int, is_hole boolean, xs array<double>, ys array<double>"
    )
    return _r6(polygon_metrics(df), ["area", "perimeter", "cx", "cy", "compactness"])


def q_slope(spark, sf_dir):
    """Slope (terrain_analysis/slope.rs:268-331, Florinsky 5x5 window)."""
    from whitebox_tools_spark.operators import focal as FO

    from pyspark.sql import functions as FF

    g = FO._pq(FO.gather25(_part_raster(spark, sf_dir)), 5.0)
    # p, q are pure arithmetic (bit-identical across engines); the atan/degrees
    # output is transcendental, so it is checked at 3dp (libm differs by 1 ulp)
    return g.select(
        "row", "col",
        FF.round("p", 9).alias("p"), FF.round("q", 9).alias("q"),
        FF.round(FF.expr(FO.SLOPE_FORMULAS["degrees"]), 3).alias("value"),
    )


def q_aspect(spark, sf_dir):
    """Aspect (terrain_analysis/aspect.rs:262-295)."""
    from whitebox_tools_spark.operators import focal as FO

    out = FO.aspect(_part_raster(spark, sf_dir), res=5.0)
    return out.withColumn("value", F.round("value", 3))


def q_hillshade(spark, sf_dir):
    """Hillshade (terrain_analysis/hillshade.rs:293-381), az 315 alt 30."""
    from whitebox_tools_spark.operators import focal as FO

    return FO.hillshade(_part_raster(spark, sf_dir), res=5.0)


def q_mean_filter(spark, sf_dir):
    """MeanFilter (image_analysis/mean_filter.rs), 3x3."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.mean_filter(_part_raster(spark, sf_dir)), ["value"])


def q_hexbin(spark, sf_dir):
    """VectorHexBinning (gis_analysis/vector_hex_bin.rs:157-190)."""
    from whitebox_tools_spark.operators.tiling import hex_binning

    return hex_binning(
        _cust_points(spark, sf_dir).drop("z"),
        width=80.0, min_x=0.0, max_x=1000.0, min_y=0.0, max_y=1000.0,
    )


def q_lidar_hex_bin(spark, sf_dir):
    """LidarHexBinning (lidar_analysis/lidar_hex_bin.rs): the same hex
    lattice machinery over the point cloud."""
    from whitebox_tools_spark.operators.tiling import hex_binning

    return hex_binning(
        _order_cloud(spark, sf_dir).select("point_id", "x", "y"),
        width=120.0, min_x=0.0, max_x=1000.0, min_y=0.0, max_y=1000.0,
    )


def q_lidar_tile_footprint(spark, sf_dir):
    """LidarTileFootprint (lidar_analysis/lidar_tile_footprint.rs): per
    tile, the point count and bounding box of its points."""
    from whitebox_tools_spark.operators.tiling import assign_tiles

    pts = assign_tiles(
        _order_cloud(spark, sf_dir).select("point_id", "x", "y"),
        width=250.0, height=250.0, origin_x=0.0, origin_y=0.0,
        min_x=0.0, min_y=0.0, max_x=1000.0, max_y=1000.0,
    )
    return pts.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("x"), 6).alias("min_x"), F.round(F.max("x"), 6).alias("max_x"),
        F.round(F.min("y"), 6).alias("min_y"), F.round(F.max("y"), 6).alias("max_y"),
    )


def q_find_ridges(spark, sf_dir):
    """FindRidges (terrain_analysis/find_ridges.rs:225-245)."""
    from whitebox_tools_spark.operators.terrain import find_ridges

    return find_ridges(_part_raster(spark, sf_dir))


def q_attribute_histogram(spark, sf_dir):
    """AttributeHistogram (math_stat_analysis/attribute_histogram.rs):
    equal-width bins over lineitem extended price."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.lit(0).alias("row"), F.lit(0).alias("col"),
        F.col("l_extendedprice").alias("value"),
    )
    return ST.raster_histogram(li, vmin=900.0, vmax=105000.0, bins=20)


def q_median_filter(spark, sf_dir):
    """MedianFilter (image_analysis/median_filter.rs; exact order statistic)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.stat_filter(_part_raster(spark, sf_dir), "median"), ["value"])


def q_range_filter(spark, sf_dir):
    """RangeFilter (image_analysis/range_filter.rs)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.stat_filter(_part_raster(spark, sf_dir), "range"), ["value"])


def q_minimum_filter(spark, sf_dir):
    """MinFilter (image_analysis/min_filter.rs)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.stat_filter(_part_raster(spark, sf_dir), "min"), ["value"])


def q_maximum_filter(spark, sf_dir):
    """MaxFilter (image_analysis/max_filter.rs)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.stat_filter(_part_raster(spark, sf_dir), "max"), ["value"])


def q_total_filter(spark, sf_dir):
    """TotalFilter (image_analysis/total_filter.rs)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.stat_filter(_part_raster(spark, sf_dir), "sum"), ["value"])


def q_stdev_filter(spark, sf_dir):
    """StandardDeviationFilter (image_analysis/stdev_filter.rs; sample sd)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.stat_filter(_part_raster(spark, sf_dir), "sd"), ["value"])


def q_diversity_filter(spark, sf_dir):
    """DiversityFilter (image_analysis/diversity_filter.rs): count of
    distinct window values. Raster is coarsened to integer classes first
    (diversity on continuous data is degenerate)."""
    from whitebox_tools_spark.operators import focal as FO

    classes = _part_raster(spark, sf_dir).select(
        "row", "col", F.floor(F.col("value") / 500.0).cast("double").alias("value")
    )
    return FO.stat_filter(classes, "diversity")


def q_majority_filter(spark, sf_dir):
    """MajorityFilter (image_analysis/majority_filter.rs:329-366), on the
    same coarsened classes; ties break toward the smallest value."""
    from whitebox_tools_spark.operators import focal as FO

    classes = _part_raster(spark, sf_dir).select(
        "row", "col", F.floor(F.col("value") / 500.0).cast("double").alias("value")
    )
    return FO.majority_filter(classes)


def q_elev_percentile(spark, sf_dir):
    """ElevPercentile (terrain_analysis/elev_percentile.rs:450-470), exact
    (the reference bins into a histogram first — approximate)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.elev_percentile(_part_raster(spark, sf_dir)), ["value"])


def q_ruggedness_index(spark, sf_dir):
    """RuggednessIndex (terrain_analysis/ruggedness_index.rs:270-281)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.ruggedness_index(_part_raster(spark, sf_dir)), ["value"])


def q_diff_from_mean(spark, sf_dir):
    """DiffFromMeanElev (terrain_analysis/diff_from_mean_elev.rs:440-445)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.diff_from_mean(_part_raster(spark, sf_dir)), ["value"])


def q_dev_from_mean(spark, sf_dir):
    """DevFromMeanElev (terrain_analysis/dev_from_mean_elev.rs:449-466)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.dev_from_mean(_part_raster(spark, sf_dir)), ["value"])


def q_opening(spark, sf_dir):
    """Opening (image_analysis/opening.rs): dilate(erode(x))."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.morphology(_part_raster(spark, sf_dir), "opening"), ["value"])


def q_closing(spark, sf_dir):
    """Closing (image_analysis/closing.rs): erode(dilate(x))."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.morphology(_part_raster(spark, sf_dir), "closing"), ["value"])


def q_tophat(spark, sf_dir):
    """TophatTransform (image_analysis/tophat.rs): x - opening(x)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.morphology(_part_raster(spark, sf_dir), "tophat"), ["value"])


def q_lines_to_raster(spark, sf_dir):
    """VectorLinesToRaster (data_tools/vector_lines_to_raster.rs:173):
    scanline crossings at cell-center lines, FID values, last record wins."""
    from whitebox_tools_spark.operators.raster_vector import vector_lines_to_raster

    return vector_lines_to_raster(_cust_lines(spark, sf_dir), P2R_GRID)


def _lines_to_raster_sql() -> str:
    return _lines_raster_from_segs(_cust_segs_cte(), P2R_GRID)


def _rasterize_streams_sql() -> str:
    rsv = _str.streams_to_vector_oracle_sql(_VALLEY_DEM_SQL, STREAM_GRID, threshold=4.0)
    segs = f"""
SELECT a.link_id AS line_id, a.x AS px0, a.y AS py0, b.x AS px1, b.y AS py1
FROM ({rsv}) a JOIN ({rsv}) b
  ON b.link_id = a.link_id AND b.seq = a.seq + 1
"""
    return _lines_raster_from_segs(segs, STREAM_GRID)


def _lines_raster_from_segs(segs: str, g) -> str:
    yc = g.y_center_sql("row")
    xc = g.x_center_sql("col")
    xp = f"(px0 + (({yc}) - py0) / (py1 - py0) * (px1 - px0))"
    yp = f"(py0 + (({xc}) - px0) / (px1 - px0) * (py1 - py0))"
    return f"""
WITH segs AS ({segs}),
rr AS (
  SELECT line_id, CAST(line_id + 1 AS DOUBLE) AS v, px0, py0, px1, py1,
         unnest(generate_series(
           greatest(0, least({g.rows - 1}, {g.row_sql('greatest(py0, py1)')})),
           greatest(0, least({g.rows - 1}, {g.row_sql('least(py0, py1)')}))
         )) AS row
  FROM segs
),
rowx AS (
  SELECT line_id, v, row, {g.col_sql(xp)} AS col
  FROM rr
  WHERE ({yc}) >= least(py0, py1) AND ({yc}) <= greatest(py0, py1) AND py1 <> py0
),
cc AS (
  SELECT line_id, CAST(line_id + 1 AS DOUBLE) AS v, px0, py0, px1, py1,
         unnest(generate_series(
           greatest(0, least({g.cols - 1}, {g.col_sql('least(px0, px1)')})),
           greatest(0, least({g.cols - 1}, {g.col_sql('greatest(px0, px1)')}))
         )) AS col
  FROM segs
),
colx AS (
  SELECT line_id, v, {g.row_sql(yp)} AS row, col
  FROM cc
  WHERE ({xc}) >= least(px0, px1) AND ({xc}) <= greatest(px0, px1) AND px1 <> px0
),
marks AS (
  SELECT * FROM rowx UNION ALL SELECT * FROM colx
)
SELECT row, col, arg_max(v, line_id) AS value
FROM marks
WHERE row >= 0 AND row <= {g.rows - 1} AND col >= 0 AND col <= {g.cols - 1}
GROUP BY 1, 2
"""


def _parts_df_b(spark) -> DataFrame:
    rows = []
    for pid, parts in PARTS:
        for k, (xs, ys, hole) in enumerate(parts):
            rows.append((pid, k, bool(hole), [float(v) for v in xs], [float(v) for v in ys]))
    return spark.createDataFrame(
        rows, "poly_id long, part_idx int, is_hole boolean, xs array<double>, ys array<double>"
    )


def q_singlepart_to_multipart(spark, sf_dir):
    """SinglePartToMultiPart (data_tools/singlepart_to_multipart.rs:151):
    group the polygon set by poly_id % 5 into multi-part features."""
    from whitebox_tools_spark.operators.vector_ops import singlepart_to_multipart

    src = _parts_df_b(spark).withColumn("grp", (F.col("poly_id") % 5).cast("long"))
    out = singlepart_to_multipart(src, "grp")
    return out.select(
        "poly_id", F.col("part_idx").cast("long").alias("part_idx"),
        F.col("group_value").alias("grp"), F.size("xs").cast("long").alias("n_vertices"),
    )


def _sp_to_mp_sql() -> str:
    vals = ", ".join(
        f"({pid}, {k}, {len(parts[k][0])})"
        for pid, parts in PARTS
        for k in range(len(parts))
    )
    return f"""
WITH p(src_id, part_idx, nv) AS (VALUES {vals}),
g AS (SELECT *, src_id % 5 AS grp FROM p),
ids AS (SELECT grp, CAST(row_number() OVER (ORDER BY grp) AS BIGINT) AS new_id
        FROM (SELECT DISTINCT grp FROM g)),
renum AS (
  SELECT i.new_id AS poly_id,
         CAST(row_number() OVER (PARTITION BY g.grp ORDER BY g.src_id, g.part_idx) - 1 AS BIGINT)
           AS part_idx,
         CAST(g.grp AS BIGINT) AS grp, CAST(g.nv AS BIGINT) AS n_vertices
  FROM g JOIN ids i ON g.grp = i.grp
)
SELECT * FROM renum
"""


_TIN_KEYS = 150
_TIN_PLANE = (2.0, 0.01, 0.02)  # z = a + b*x + c*y


def _tin_points(spark) -> DataFrame:
    """Deterministic sf-independent TIN points: synth hash points of keys
    1..150 carrying an exact plane z (any correct triangulation
    interpolates a plane exactly — the oracle needs no triangulation)."""
    a, b, c = _TIN_PLANE
    x, y = synth.point_exprs(F.col("id"))
    return spark.range(1, _TIN_KEYS + 1).select(
        x.alias("x"), y.alias("y")
    ).withColumn("z", F.lit(a) + F.lit(b) * F.col("x") + F.lit(c) * F.col("y"))


def q_tin_gridding(spark, sf_dir):
    """TINGridding (gis_analysis/tin_gridding.rs): Delaunay TIN over the
    deterministic plane points, barycentric interpolation at cell centers;
    hash-checked against the direct plane formula inside the convex hull."""
    from whitebox_tools_spark.operators.tin import tin_gridding

    out = tin_gridding(_tin_points(spark), NN_GRID)
    return _r6(out, ["value"])


def q_natural_neighbour_gridding(spark, sf_dir):
    """NaturalNeighbourInterpolation (gis_analysis/
    natural_neighbour_interpolation.rs, Sibson 1981): area-stealing
    weights from a virtual Bowyer-Watson insertion; Sibson coordinates
    have linear precision, so the plane fixture is recovered exactly
    inside the hull (weights themselves pinned in pytest against a
    brute-force pixel-Voronoi estimate)."""
    from whitebox_tools_spark.operators.tin import natural_neighbour_gridding

    out = natural_neighbour_gridding(_tin_points(spark), NN_GRID)
    return _r6(out, ["value"])


def _holey_noise_raster(spark, sf_dir):
    """Noise raster with deterministic punched gaps for FillMissingData."""
    return _noise_raster(spark, sf_dir).filter(
        (F.col("row") * 13 + F.col("col") * 7) % 29 != 0
    )


_HOLEY_NOISE_SQL = (
    "SELECT row, col, value FROM ({src}) t "
    "WHERE (row * 13 + col * 7) % 29 <> 0"
)


def q_fill_missing_data(spark, sf_dir):
    """FillMissingData (terrain_analysis/fill_missing_data.rs): IDW gap
    fill from the gap-edge cells, radius 11 cells, weight 2."""
    from whitebox_tools_spark.operators.fill_missing import fill_missing_data

    return _r6(
        fill_missing_data(
            _holey_noise_raster(spark, sf_dir), filter_size=11, weight=2.0
        ),
        ["value"],
    )


def _fill_missing_sql() -> str:
    from whitebox_tools_spark.operators.fill_missing import fill_missing_data_oracle_sql

    inner = fill_missing_data_oracle_sql(
        _HOLEY_NOISE_SQL.format(src=_NOISE_RASTER_SQL), filter_size=11, weight=2.0
    )
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def q_construct_tin(spark, sf_dir):
    """ConstructVectorTIN (gis_analysis/construct_vector_tin.rs:170):
    triangle features in CANONICAL form — each CCW triangle rotated to
    start at its lexicographically-smallest (x, y) vertex, insertion-order
    tri_idx dropped — so the row multiset is algorithm-independent (the
    Delaunay triangulation of points with no cocircular quadruple is
    unique). Value-checked against a brute-force empty-circumcircle
    enumeration (_tin_brute_values_sql: every triple kept iff NO other
    point lies strictly inside its circumcircle — a different algorithm
    than the engine's Bowyer-Watson)."""
    from whitebox_tools_spark.operators.tin import construct_tin

    return _canon_tin(construct_tin(_tin_points(spark)))


def _canon_tin(out: DataFrame) -> DataFrame:
    """Canonical triangle rows: each CCW triangle rotated to start at its
    lexicographically-smallest (x, y) vertex (shared by q_construct_tin and
    q_lidar_construct_vector_tin; mirrored by the brute oracles)."""
    sa = F.struct(F.col("ax").alias("x"), F.col("ay").alias("y"))
    sb = F.struct(F.col("bx").alias("x"), F.col("by").alias("y"))
    sc = F.struct(F.col("cx").alias("x"), F.col("cy").alias("y"))
    m = F.least(sa, sb, sc)
    names = ["ax", "ay", "bx", "by", "cx", "cy", "az", "bz", "cz"]

    def rot(order):
        src = {
            "a": ["ax", "ay", "az"], "b": ["bx", "by", "bz"],
            "c": ["cx", "cy", "cz"],
        }
        flat = [src[v][0] for v in order] + [src[v][1] for v in order]
        xy = [flat[0], flat[3], flat[1], flat[4], flat[2], flat[5]]
        zs = [src[v][2] for v in order]
        return [F.col(c) for c in xy + zs]

    canon = out.select(
        *[
            F.when(m == sa, ra).when(m == sb, rb).otherwise(rc).alias(n)
            for n, ra, rb, rc in zip(
                names, rot(["a", "b", "c"]), rot(["b", "c", "a"]),
                rot(["c", "a", "b"]),
            )
        ]
    )
    return _r6(canon, names)


def _tin_brute_values_sql() -> str:
    """Brute-force Delaunay oracle over the fixed TIN points (see
    _tin_brute_sql_for)."""
    import numpy as np

    global _TIN_BRUTE_SQL
    if _TIN_BRUTE_SQL is None:
        _TIN_BRUTE_SQL = _tin_brute_sql_for(np.arange(1, _TIN_KEYS + 1))
    return _TIN_BRUTE_SQL


def _lidar_tin_brute_sql() -> str:
    """Brute-force Delaunay oracle over q_lidar_construct_vector_tin's
    deterministic cloud (keys 7i+3, i = 1..130)."""
    import numpy as np

    global _LTIN_BRUTE_SQL
    if _LTIN_BRUTE_SQL is None:
        _LTIN_BRUTE_SQL = _tin_brute_sql_for(np.arange(1, 131) * 7 + 3)
    return _LTIN_BRUTE_SQL


_LTIN_BRUTE_SQL: str | None = None


def _tin_brute_sql_for(keys) -> str:
    """Brute-force Delaunay oracle over synth hash points of `keys`: a
    triple is a Delaunay triangle iff no other point lies STRICTLY inside
    its circumcircle (checked vectorized with an exact-Fraction recheck for
    near-ties, and cocircular quadruples asserted absent so the
    triangulation is unique). Canonical row form mirrors _canon_tin."""
    import numpy as np

    a0, b0, c0 = _TIN_PLANE
    px, py = synth.point_np(keys)
    n = len(px)
    # exact integer coordinates: every double is a dyadic rational, so
    # scaling by the common power-of-two denominator gives EXACT python
    # ints — the incircle/orientation predicates below are then pure
    # bigint arithmetic (~50x faster than Fraction; signs are invariant
    # under the uniform scaling)
    ratios = [v.as_integer_ratio() for v in px.tolist() + py.tolist()]
    scale = max(d_ for _, d_ in ratios)
    ipx = [num * (scale // den) for num, den in ratios[:n]]
    ipy = [num * (scale // den) for num, den in ratios[n:]]
    tris = []
    for a in range(n):
        ax, ay = px[a], py[a]
        # vectorize over ALL (b, c) pairs with a < b < c at once (row-major
        # b-then-c order, matching the previous per-b loop's emission order;
        # every elementwise expression is unchanged, so results — and the
        # emitted SQL — are bit-identical, ~7x fewer numpy dispatches)
        m = n - a - 1
        if m < 2:
            continue
        bi, ci_ = np.triu_indices(m, k=1)
        bs = bi + a + 1
        cs = ci_ + a + 1
        bx, by = px[bs], py[bs]
        cx, cy = px[cs], py[cs]
        d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
        with np.errstate(divide="ignore", invalid="ignore"):
            ux = (
                (ax * ax + ay * ay) * (by - cy)
                + (bx * bx + by * by) * (cy - ay)
                + (cx * cx + cy * cy) * (ay - by)
            ) / d
            uy = (
                (ax * ax + ay * ay) * (cx - bx)
                + (bx * bx + by * by) * (ax - cx)
                + (cx * cx + cy * cy) * (bx - ax)
            ) / d
        r2 = (ax - ux) ** 2 + (ay - uy) ** 2
        p = len(bs)
        rng = np.arange(p)
        d2 = (px[None, :] - ux[:, None]) ** 2 + (py[None, :] - uy[:, None]) ** 2
        d2[:, a] = np.inf
        d2[rng, bs] = np.inf
        d2[rng, cs] = np.inf
        with np.errstate(invalid="ignore"):
            margin = d2 - r2[:, None]
            tol = (1e-9 * np.maximum(r2, 1.0))[:, None]
            inside = margin < 0
            close = np.abs(margin) <= tol
        # float d != 0 does NOT prove non-degeneracy: exactly-collinear
        # doubles can give a tiny nonzero float d. Exact-check every
        # triple whose |d| is small relative to its term magnitudes.
        dmag = 2.0 * (
            np.abs(ax * (by - cy)) + np.abs(bx * (cy - ay))
            + np.abs(cx * (ay - by))
        )
        suspect = np.abs(d) <= 1e-9 * np.maximum(dmag, 1.0)
        degenerate = d == 0.0
        for pi in np.nonzero(suspect & ~degenerate)[0]:
            b = int(bs[pi])
            c = int(cs[pi])
            s_exact = (ipx[b] - ipx[a]) * (ipy[c] - ipy[a]) - (
                ipx[c] - ipx[a]
            ) * (ipy[b] - ipy[a])
            if s_exact == 0:
                degenerate[pi] = True
        close &= ~degenerate[:, None]
        if np.any(close):
            # a triple already excluded by a STRICT (non-close) inside
            # point is dead no matter how its near-ties resolve — only
            # live triples need the exact predicate (the cocircular-
            # uniqueness assertion only concerns surviving triangles)
            dead = (inside & ~close).any(axis=1)
            close &= ~dead[:, None]
            for pi, i in zip(*np.nonzero(close)):
                b = int(bs[pi])
                c = int(cs[pi])
                det = _incircle_exact(
                    ipx[a], ipy[a], ipx[b], ipy[b],
                    ipx[c], ipy[c], ipx[int(i)], ipy[int(i)],
                )
                assert det != 0, "cocircular quadruple breaks uniqueness"
                s = _ccw_sign(px[a], py[a], px[b], py[b], px[c], py[c])
                inside[pi, i] = det > 0 if s > 0 else det < 0
        good = ~degenerate & ~inside.any(axis=1)
        tris.extend(
            (a, int(b_), int(c_)) for b_, c_ in zip(bs[good], cs[good])
        )
    rows = []
    for (a, b, c) in tris:
        # orient CCW, then rotate to the lexicographically-smallest vertex
        if _ccw_sign(px[a], py[a], px[b], py[b], px[c], py[c]) < 0:
            a, b, c = a, c, b
        order = [a, b, c]
        start = min(range(3), key=lambda i: (px[order[i]], py[order[i]]))
        order = order[start:] + order[:start]
        xs = [px[i] for i in order]
        ys = [py[i] for i in order]
        zs = [a0 + b0 * px[i] + c0 * py[i] for i in order]
        rows.append((*xs[0:1], *ys[0:1], *xs[1:2], *ys[1:2], *xs[2:3], *ys[2:3], *zs))
    vals = ", ".join(
        "(" + ", ".join(repr(float(v)) for v in r) + ")" for r in rows
    )
    cols = ["ax", "ay", "bx", "by", "cx", "cy", "az", "bz", "cz"]
    sel = ", ".join(f"round(CAST({c} AS DOUBLE), 6) + 0.0 AS {c}" for c in cols)
    return f"SELECT {sel} FROM (VALUES {vals}) AS t({', '.join(cols)})"


_TIN_BRUTE_SQL: str | None = None


def _incircle_exact(ax, ay, bx, by, cx, cy, dx, dy):
    adx, ady = ax - dx, ay - dy
    bdx, bdy = bx - dx, by - dy
    cdx, cdy = cx - dx, cy - dy
    return (
        (adx * adx + ady * ady) * (bdx * cdy - cdx * bdy)
        - (bdx * bdx + bdy * bdy) * (adx * cdy - cdx * ady)
        + (cdx * cdx + cdy * cdy) * (adx * bdy - bdx * ady)
    )


def _ccw_sign(ax, ay, bx, by, cx, cy) -> float:
    return (bx - ax) * (cy - ay) - (cx - ax) * (by - ay)


def _tin_gridding_sql() -> str:
    import numpy as np

    from whitebox_tools_spark import geometry as G

    a, b, c = _TIN_PLANE
    keys = np.arange(1, _TIN_KEYS + 1)
    px, py = synth.point_np(keys)
    hx, hy = G.convex_hull(px, py)
    hx = np.append(hx, hx[0])
    hy = np.append(hy, hy[0])
    g = NN_GRID
    hull_poly = synth.Poly(
        0, (synth.Part(tuple(float(v) for v in hx), tuple(float(v) for v in hy), False),)
    )
    pip = synth.pip_oracle_sql(_grid_centers_cte(g), [hull_poly])
    return f"""
WITH centers AS ({_grid_centers_cte(g)}),
inside AS ({pip})
SELECT c.row, c.col,
       round({a!r} + {b!r} * c.x + {c!r} * c.y, 6) AS value
FROM centers c SEMI JOIN inside i ON c.point_id = i.point_id
"""


def q_lidar_idw_interpolation(spark, sf_dir):
    """LidarIdwInterpolation (lidar_analysis/lidar_idw_interpolation.rs):
    the engine's IDW gridding over the point cloud's z (same kNN
    machinery as IdwInterpolation, lidar-sourced fixture)."""
    cloud = _order_cloud(spark, sf_dir).filter(F.col("point_id") % 5 == 0)
    out = idw_gridding(cloud, NN_GRID, IDX, weight=2.0, radius=100.0, min_points=4)
    return _r6(out, ["value"])


def q_lidar_nn_gridding(spark, sf_dir):
    """LidarNearestNeighbourGridding (lidar_analysis/lidar_nn_gridding.rs):
    nearest-point z per cell over the cloud."""
    cloud = _order_cloud(spark, sf_dir).filter(F.col("point_id") % 5 == 0)
    # raw z is copied verbatim from the nearest point: exact in both engines
    return nearest_neighbour_gridding(cloud, NN_GRID, IDX, max_dist=1e18)


def q_lidar_tin_gridding(spark, sf_dir):
    """LidarTINGridding (lidar_analysis/lidar_tin_gridding.rs): Delaunay
    TIN of the cloud, plane interpolation at cell centers. Plane-z cloud
    (like tin_gridding) so the oracle is the exact plane inside the hull —
    but over the LIDAR point schema and with max_triangle_edge_length
    exercised (None here: full hull)."""
    from whitebox_tools_spark.operators.tin import tin_gridding

    return _r6(tin_gridding(_tin_points(spark), NN_GRID), ["value"])


def q_lidar_construct_vector_tin(spark, sf_dir):
    """LidarConstructVectorTIN (lidar_analysis/
    lidar_construct_vector_tin.rs): construct_tin over a LAS-style cloud.
    Fixture: its own deterministic sf-independent cloud (synth hash points
    of keys 7i+3, i = 1..130, exact plane z — disjoint positions from
    q_construct_tin's key set) in canonical triangle form, value-checked
    against the same independent brute-force empty-circumcircle oracle
    (_lidar_tin_brute_sql)."""
    from whitebox_tools_spark.operators.tin import construct_tin

    a, b, c = _TIN_PLANE
    x, y = synth.point_exprs(F.col("id") * 7 + 3)
    cloud = (
        spark.range(1, 131)
        .select(x.alias("x"), y.alias("y"))
        .withColumn("z", F.lit(a) + F.lit(b) * F.col("x") + F.lit(c) * F.col("y"))
    )
    return _canon_tin(construct_tin(cloud, x="x", y="y", z="z"))


def q_lidar_classify_subset(spark, sf_dir):
    """LidarClassifySubset (lidar_analysis/lidar_classify_subset.rs):
    transfer classifications from a base cloud to a subset cloud by exact
    (x, y, z) position match; unmatched points keep their class."""
    base = _order_cloud(spark, sf_dir)
    subset = base.filter(F.col("point_id") % 4 == 0).withColumn(
        "classification", F.lit(0)
    )
    matched = subset.drop("classification").join(
        base.select("x", "y", "z", F.col("classification").alias("base_class")),
        ["x", "y", "z"], "left",
    )
    return matched.select(
        "point_id",
        F.coalesce("base_class", F.lit(0)).cast("long").alias("classification"),
    )


def _lidar_classify_subset_sql() -> str:
    cloud = _order_cloud_cte()
    return f"""
WITH base AS ({cloud}),
sub AS (SELECT * FROM base WHERE point_id % 4 = 0)
SELECT s.point_id,
       CAST(coalesce(b.classification, 0) AS BIGINT) AS classification
FROM sub s LEFT JOIN base b ON b.x = s.x AND b.y = s.y AND b.z = s.z
"""


def q_lidar_normal_vectors(spark, sf_dir):
    """NormalVectors (lidar_analysis/normal_vectors.rs): unit plane
    normals over the 3-D radius neighborhood; engine-invariant via the
    scaled-integer moment trick (same fragments as lidar_hillshade)."""
    from whitebox_tools_spark.operators.lidar import lidar_normal_vectors

    cloud = _order_cloud(spark, sf_dir).filter(F.col("point_id") % 10 == 0)
    return lidar_normal_vectors(cloud, radius=60.0, quantize=(1e3, 1e3, 1e5))


def q_lidar_info(spark, sf_dir):
    """LidarInfo (lidar_analysis/lidar_info.rs): per-classification +
    overall counts and coordinate extents of the cloud."""
    from whitebox_tools_spark.operators.lidar import lidar_info

    return lidar_info(_order_cloud(spark, sf_dir))


def q_lidar_join(spark, sf_dir):
    """LidarJoin (lidar_analysis/lidar_join.rs): concatenate two disjoint
    sub-clouds with deterministic id re-sequencing; reported via
    lidar_info so the oracle checks counts + extents of the union."""
    from whitebox_tools_spark.operators.lidar import lidar_info, lidar_join

    a = _order_cloud(spark, sf_dir).filter(F.col("point_id") % 3 == 0)
    b = _order_cloud(spark, sf_dir).filter(F.col("point_id") % 3 == 1)
    return lidar_info(lidar_join([a, b]))


def q_lidar_ransac_planes(spark, sf_dir):
    """LidarRansacPlanes (lidar_analysis/lidar_ransac_planes.rs): plane
    fixture + 30 off-plane outliers; deterministic minstd RANSAC.
    Value-checked against serial_lidar.ransac_planes_serial (independent
    brute-force-neighbor serial transcription) as a literal VALUES oracle;
    also pinned in tests/test_lidar_dsm.py (partition invariance)."""
    from whitebox_tools_spark.operators.lidar import lidar_ransac_planes

    a, b, c = _TIN_PLANE
    x, y = synth.point_exprs(F.col("id"))
    plane = F.lit(a) + F.lit(b) * F.col("x") + F.lit(c) * F.col("y")
    base = (
        spark.range(1, _TIN_KEYS + 1)
        .select(F.col("id").alias("point_id"), x.alias("x"), y.alias("y"))
        .withColumn("z", plane)
    )
    outs = (
        spark.range(1001, 1031)
        .select(F.col("id").alias("point_id"), x.alias("x"), y.alias("y"))
        .withColumn("z", plane + F.lit(50.0) + (F.col("point_id") % 7).cast("double") * 9.0)
    )
    return lidar_ransac_planes(
        base.unionByName(outs), radius=400.0, num_iter=20, num_samples=5,
        threshold=0.5, model_size=20, seed=3,
    )


def q_classify_buildings(spark, sf_dir):
    """ClassifyBuildingsInLidar (lidar_analysis/classify_buildings.rs):
    LAS class 6 for points inside the footprint polygons (cell-cover PIP
    join); oracle = the repo's winding PIP SQL."""
    from whitebox_tools_spark.operators.lidar import classify_buildings

    out = classify_buildings(_order_cloud(spark, sf_dir), PARTS, IDX)
    return out.select("point_id", F.col("classification").cast("long").alias("classification"))


def _classify_buildings_sql() -> str:
    pip = synth.pip_oracle_sql(
        "SELECT point_id, x, y FROM cloud", POLYS
    )
    return f"""
WITH cloud AS ({_order_cloud_cte()}),
hits AS (SELECT DISTINCT point_id FROM ({pip}) t)
SELECT c.point_id,
       CAST(CASE WHEN h.point_id IS NOT NULL THEN 6 ELSE c.classification END AS BIGINT)
         AS classification
FROM cloud c LEFT JOIN hits h ON h.point_id = c.point_id
"""


def q_lidar_segmentation(spark, sf_dir):
    """LidarSegmentation (lidar_analysis/lidar_segmentation.rs): RANSAC
    plane per point + similarity-graph components (min-point-id segment
    labels — documented id deviation). Fixture: two offset roof planes +
    a vegetation blob. Value-checked against serial_lidar.
    segmentation_serial (independent union-find serial transcription, acos
    edge margins asserted) as a literal VALUES oracle; also pinned in
    tests/test_lidar_dsm.py (facet separation, partition invariance)."""
    from whitebox_tools_spark.operators.lidar import lidar_segmentation

    a, b, c = _TIN_PLANE
    x, y = synth.point_exprs(F.col("id"))
    plane = F.lit(a) + F.lit(b) * F.col("x") + F.lit(c) * F.col("y")
    lower = (
        spark.range(1, _TIN_KEYS + 1)
        .select(F.col("id").alias("point_id"), x.alias("x"), y.alias("y"))
        .withColumn("z", plane)
    )
    upper = (
        spark.range(2001, 2001 + _TIN_KEYS)
        .select(F.col("id").alias("point_id"), x.alias("x"), y.alias("y"))
        .withColumn("z", plane + F.lit(200.0))
    )
    veg = (
        spark.range(5001, 5041)
        .select(F.col("id").alias("point_id"),
                (x / 20.0).alias("x"), (y / 20.0).alias("y"))
        .withColumn("z", (F.col("point_id") % 13).cast("double") * 37.0)
    )
    cloud = lower.unionByName(upper).unionByName(veg)
    return lidar_segmentation(
        cloud, radius=400.0, norm_diff=5.0, maxzdiff=150.0,
        num_iter=20, num_samples=5, threshold=0.5, model_size=20, seed=3,
    )


def q_lidar_segmentation_based_filter(spark, sf_dir):
    """LidarSegmentationBasedFilter (lidar_analysis/
    lidar_segmentation_based_filter.rs): tophat residuals -> residual-space
    normals -> ground reachability from residual==0 seeds. Fixture: plane
    ground + elevated roof block. Value-checked against serial_lidar.
    sbf_serial (independent brute-force serial transcription, BFS
    reachability) as a literal VALUES oracle; also pinned in
    tests/test_lidar_dsm.py (ground/building separation)."""
    from whitebox_tools_spark.operators.lidar import segmentation_based_filter

    a, b, c = _TIN_PLANE
    x, y = synth.point_exprs(F.col("id"))
    plane = F.lit(a) + F.lit(b) * F.col("x") + F.lit(c) * F.col("y")
    ground = (
        spark.range(1, _TIN_KEYS + 1)
        .select(F.col("id").alias("point_id"), x.alias("x"), y.alias("y"))
        .withColumn("z", plane)
    )
    roof = (
        spark.range(3001, 3041)
        .select(F.col("id").alias("point_id"),
                (x / 3.0 + 100.0).alias("x"), (y / 3.0 + 100.0).alias("y"))
        .withColumn("z", plane + F.lit(60.0))
    )
    return segmentation_based_filter(
        ground.unionByName(roof), radius=250.0, norm_diff=10.0, maxzdiff=20.0
    )


def q_lidar_dsm(spark, sf_dir):
    """LidarDigitalSurfaceModel (lidar_analysis/lidar_dsm.rs:440-640): the
    off-terrain point filter (remove points > tan(60)*radius below a
    neighbor within radius) + TIN gridding. Fixture: the deterministic TIN
    plane cloud plus 50 points 300 units BELOW the plane — every outlier
    has a plane neighbor within radius 100 (verified non-vacuously: the
    TIN of survivors reproduces the plane), so the oracle is the plane
    formula inside the keys-1..150 hull, identical to tin_gridding's."""
    from whitebox_tools_spark.operators.lidar import lidar_dsm

    a, b, c = _TIN_PLANE
    x, y = synth.point_exprs(F.col("id"))
    plane = F.lit(a) + F.lit(b) * F.col("x") + F.lit(c) * F.col("y")
    base = (
        spark.range(1, _TIN_KEYS + 1)
        .select(F.col("id").alias("point_id"), x.alias("x"), y.alias("y"))
        .withColumn("z", plane)
    )
    lows = (
        spark.range(1001, 1051)
        .select(F.col("id").alias("point_id"), x.alias("x"), y.alias("y"))
        .withColumn("z", plane - F.lit(300.0))
    )
    out = lidar_dsm(base.unionByName(lows), NN_GRID, radius=100.0)
    return _r6(out, ["value"])


def q_lidar_tophat(spark, sf_dir):
    """LidarTophatTransform (lidar_analysis/lidar_tophat_transform.rs):
    white top-hat z - dilation(erosion) over the radius-60 disc on the
    subsampled order cloud."""
    from whitebox_tools_spark.operators.lidar import tophat_transform

    cloud = _order_cloud(spark, sf_dir).filter(F.col("point_id") % 10 == 0)
    out = tophat_transform(cloud, radius=60.0)
    return out.select("point_id", "x", "y", F.round("z", 6).alias("z"))


def q_lidar_hillshade(spark, sf_dir):
    """LidarHillshade (lidar_analysis/lidar_hillshade.rs): least-squares
    plane normal over the 3-D radius-60 ball, reference shade formula with
    truncating byte cast; engine and oracle share the literal SQL
    fragments (documented n<3 deviation in lidar.py)."""
    from whitebox_tools_spark.operators.lidar import lidar_hillshade

    cloud = _order_cloud(spark, sf_dir).filter(F.col("point_id") % 10 == 0)
    # quantize: x,y carry exactly 3 decimals (synth hash /1000), z exactly
    # 5 (o_totalprice/1000 with 2-decimal prices) -> scaled-integer moments
    # are EXACT, making the shade partition- and engine-invariant
    return lidar_hillshade(cloud, radius=60.0, quantize=(1e3, 1e3, 1e5))


def _ter_etwf_sql() -> str:
    from whitebox_tools_spark.operators.terrain import etwf_oracle_sql

    return etwf_oracle_sql(_VALLEY_DEM_SQL, STREAM_GRID, azimuth=240.0, max_dist=40.0)


def q_exposure_towards_wind_flux(spark, sf_dir):
    """exposure_towards_wind_flux plugin: cos(E) from finite-difference
    slope/aspect + the exact maximum ray-slope horizon along the wind
    azimuth (prefix-max gate proven redundant; >80-deg early-stop
    heuristic not reproduced — documented in terrain.py)."""
    from whitebox_tools_spark.operators.terrain import exposure_towards_wind_flux

    return _r6(
        exposure_towards_wind_flux(
            _valley_dem(spark, sf_dir), STREAM_GRID, azimuth=240.0, max_dist=40.0
        ),
        ["value"],
    )


def q_edge_density(spark, sf_dir):
    """EdgeDensity (terrain_analysis/edge_density.rs): break-in-slope
    density — proportion of cells in the filter window whose Horn normal
    deviates > norm_diff from some neighbor."""
    from whitebox_tools_spark.operators.fps import edge_density

    return _r6(
        edge_density(_valley_dem(spark, sf_dir), STREAM_GRID,
                     filter_size=5, norm_diff=10.0),
        ["value"],
    )


def q_remove_off_terrain_objects(spark, sf_dir):
    """RemoveOffTerrainObjects (terrain_analysis/
    remove_off_terrain_objects.rs, Lindsay 2018): white top-hat + ground
    reachability + inverse-d^2 hole fill over the valley DEM with
    synthetic building/tree spikes (+80 every 37th key)."""
    from whitebox_tools_spark.operators.terrain import remove_off_terrain_objects

    dem = _valley_dem(spark, sf_dir).withColumn(
        "value",
        F.col("value")
        + F.when((F.col("row") * 25 + F.col("col")) % 37 == 0, 80.0).otherwise(0.0),
    )
    return _r6(
        remove_off_terrain_objects(dem, STREAM_GRID, filter_size=5,
                                   slope_threshold=30.0),
        ["value"],
    )


def _roto_sql() -> str:
    from whitebox_tools_spark.operators.terrain import roto_oracle_sql

    dem_sql = (
        f"SELECT row, col, value + CASE WHEN (row * 25 + col) % 37 = 0 "
        f"THEN 80.0 ELSE 0.0 END AS value FROM ({_VALLEY_DEM_SQL})"
    )
    return roto_oracle_sql(dem_sql, STREAM_GRID, filter_size=5, slope_threshold=30.0)


def q_feature_preserving_smoothing(spark, sf_dir):
    """FeaturePreservingSmoothing (terrain_analysis/
    feature_preserving_smoothing.rs, Sun 2007 / Lindsay 2019): Horn
    normals -> similarity-weighted normal smoothing -> 3 Jacobi elevation
    updates (documented Gauss-Seidel deviation in fps.py); the oracle
    splices the identical formula strings."""
    from whitebox_tools_spark.operators.fps import feature_preserving_smoothing

    return _r6(
        feature_preserving_smoothing(
            _valley_dem(spark, sf_dir), STREAM_GRID,
            filter_size=7, norm_diff=15.0, num_iter=3,
        ),
        ["value"],
    )


def q_drainage_preserving_smoothing(spark, sf_dir):
    """DrainagePreservingSmoothing (terrain_analysis/
    drainage_preserving_smoothing.rs): FPS with the per-cell DFM-adjusted
    threshold (binned-median topographic position; reference's histogram
    rank rule incl. its n=1 quirk)."""
    from whitebox_tools_spark.operators.fps import drainage_preserving_smoothing

    return _r6(
        drainage_preserving_smoothing(
            _valley_dem(spark, sf_dir), STREAM_GRID,
            filter_size=5, norm_diff=20.0, num_iter=2,
            reduction=80.0, dfm_threshold=0.15,
        ),
        ["value"],
    )


def q_voronoi_diagram(spark, sf_dir):
    """VoronoiDiagram (gis_analysis/voronoi_diagram.rs): per-point Voronoi
    cell clipped to the [0,1000]^2 extent (documented rectangle-clip
    deviation from the ghost-point frame). Engine = Delaunay-neighbor
    bisector clipping; oracle = INDEPENDENT all-pairs half-plane clip
    (no Delaunay), literals embedded."""
    from whitebox_tools_spark.operators.tin import voronoi_cell_areas

    x, y = synth.point_exprs(F.col("id"))
    pts = spark.range(1, _TIN_KEYS + 1).select(
        F.col("id").alias("point_id"), x.alias("x"), y.alias("y")
    )
    out = voronoi_cell_areas(pts, extent=(0.0, 0.0, 1000.0, 1000.0))
    return out.select("point_id", F.round("area", 6).alias("area"), "n_vertices")


def _voronoi_sql() -> str:
    import numpy as np

    keys = np.arange(1, _TIN_KEYS + 1)
    px, py = synth.point_np(keys)
    rows = []
    for i in range(len(keys)):
        poly = [(0.0, 0.0), (1000.0, 0.0), (1000.0, 1000.0), (0.0, 1000.0)]
        for j in range(len(keys)):
            if j == i or not poly:
                continue
            nx, ny = px[j] - px[i], py[j] - py[i]
            mx, my = (px[i] + px[j]) / 2.0, (py[i] + py[j]) / 2.0
            nxt = []
            for k in range(len(poly)):
                p0, q0 = poly[k], poly[(k + 1) % len(poly)]
                dp = (p0[0] - mx) * nx + (p0[1] - my) * ny
                dq = (q0[0] - mx) * nx + (q0[1] - my) * ny
                if dp <= 0.0:
                    nxt.append(p0)
                if (dp < 0.0) != (dq < 0.0) and dp != dq:
                    t = dp / (dp - dq)
                    nxt.append((p0[0] + t * (q0[0] - p0[0]),
                                p0[1] + t * (q0[1] - p0[1])))
            poly = nxt
        area = 0.0
        for k in range(len(poly)):
            p0, q0 = poly[k], poly[(k + 1) % len(poly)]
            area += p0[0] * q0[1] - q0[0] * p0[1]
        rows.append((int(keys[i]), _round_half_up(abs(area) / 2.0), len(poly)))
    vals = ", ".join(f"({i}, {a!r}, {n})" for i, a, n in rows)
    return (
        "SELECT CAST(point_id AS BIGINT) AS point_id, "
        "CAST(area AS DOUBLE) AS area, CAST(n_vertices AS BIGINT) AS n_vertices "
        f"FROM (VALUES {vals}) t(point_id, area, n_vertices)"
    )


_PROFILE_LINES = [
    (1, [2.0, 61.0, 119.0], [97.0, 46.0, 81.0]),
    (2, [3.5, 121.5], [3.0, 99.0]),
]


def q_profile(spark, sf_dir):
    """Profile (terrain_analysis/profile.rs:258-305): DEM samples at
    cell-size steps along two deterministic polylines over the part
    raster; nodata samples advance the running distance but emit no row
    (the part raster has holes wherever p_partkey is missing)."""
    from whitebox_tools_spark.operators.terrain import profile

    lines = spark.createDataFrame(
        _PROFILE_LINES, "line_id long, xs array<double>, ys array<double>"
    )
    return _r6(profile(lines, _valley_dem(spark, sf_dir), STREAM_GRID),
               ["dist", "z"])


def _profile_sql() -> str:
    from whitebox_tools_spark.operators.terrain import profile_oracle_sql

    segs = []
    for lid, xs, ys in _PROFILE_LINES:
        for i in range(len(xs) - 1):
            segs.append(
                f"({lid}, {i}, {xs[i]!r}, {ys[i]!r}, {xs[i + 1]!r}, {ys[i + 1]!r})"
            )
    lines_sql = (
        "SELECT CAST(line_id AS BIGINT) AS line_id, CAST(i AS BIGINT) AS i, "
        "CAST(x0 AS DOUBLE) AS x0, CAST(y0 AS DOUBLE) AS y0, "
        "CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1 "
        "FROM (VALUES " + ", ".join(segs) + ") t(line_id, i, x0, y0, x1, y1)"
    )
    return profile_oracle_sql(lines_sql, _VALLEY_DEM_SQL, STREAM_GRID)


def q_contours_from_points(spark, sf_dir):
    """ContoursFromPoints (terrain_analysis/contours_from_points.rs):
    TIN contour segments over the deterministic plane cloud, reported as
    total contour length per level. A plane's level-L contour is the line
    b*x + c*y = L - a clipped to the convex hull, and the per-triangle
    chords tile it exactly — the oracle computes that clipped chord with
    an INDEPENDENT hull + half-plane-interval clip (no triangulation)."""
    from whitebox_tools_spark.operators.tin import contours_from_points

    a, b, c = _TIN_PLANE
    x, y = synth.point_exprs(F.col("id"))
    pts = spark.range(1, _TIN_KEYS + 1).select(x.alias("x"), y.alias("y"))
    pts = pts.withColumn("z", F.lit(a) + F.lit(b) * F.col("x") + F.lit(c) * F.col("y"))
    segs = contours_from_points(pts, interval=5.0, base=0.0)
    ln = F.sqrt((F.col("x2") - F.col("x1")) ** 2 + (F.col("y2") - F.col("y1")) ** 2)
    return (
        segs.groupBy("height")
        .agg(F.round(F.sum(ln), 5).alias("total_len"))
        .filter(F.col("total_len") > 0.0)
    )


def _contours_points_sql() -> str:
    import math as _m

    import numpy as np

    a, b, c = _TIN_PLANE
    keys = np.arange(1, _TIN_KEYS + 1)
    px, py = synth.point_np(keys)
    pts = sorted(zip(px.tolist(), py.tolist()))

    def half(ps):
        h = []
        for p in ps:
            while len(h) >= 2 and (
                (h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])
            ) <= 0:
                h.pop()
            h.append(p)
        return h

    lower = half(pts)
    upper = half(list(reversed(pts)))
    hull = lower[:-1] + upper[:-1]  # CCW
    zs = [a + b * x + c * y for x, y in pts]
    rows = []
    k0 = _m.ceil(min(zs) / 5.0)
    k1 = _m.floor(max(zs) / 5.0)
    for k in range(k0, k1 + 1):
        lvl = 5.0 * k
        # line b*x + c*y = lvl - a; p0 on the line, direction (c, -b)
        rhs = lvl - a
        p0 = (rhs / (2.0 * b), rhs / (2.0 * c))  # b*p0x + c*p0y = rhs
        dvec = (c, -b)
        tmin, tmax = -1e18, 1e18
        for i in range(len(hull)):
            ux, uy = hull[i]
            vx, vy = hull[(i + 1) % len(hull)]
            ex, ey = vx - ux, vy - uy
            # inside: cross(e, p - u) >= 0 ; p = p0 + t*d
            c0 = ex * (p0[1] - uy) - ey * (p0[0] - ux)
            cd = ex * dvec[1] - ey * dvec[0]
            if cd == 0.0:
                if c0 < 0.0:
                    tmin, tmax = 1.0, 0.0
                    break
            elif cd > 0.0:
                tmin = max(tmin, -c0 / cd)
            else:
                tmax = min(tmax, -c0 / cd)
        if tmax > tmin:
            length = (tmax - tmin) * _m.hypot(*dvec)
            if length > 0.0:
                from decimal import ROUND_HALF_UP, Decimal

                r5 = float(Decimal(repr(length)).quantize(
                    Decimal("0.00001"), rounding=ROUND_HALF_UP))
                rows.append((lvl, r5))
    vals = ", ".join(f"({h!r}, {v!r})" for h, v in rows)
    return (
        "SELECT CAST(height AS DOUBLE) AS height, "
        "CAST(total_len AS DOUBLE) AS total_len "
        f"FROM (VALUES {vals}) t(height, total_len)"
    )


def _merge_lines_fixture():
    """Deterministic 2-point lines: chains P(k)->P(k+1) broken every 10th
    key, plus 5 spur lines P(10m+5)->P(900+m) turning those nodes into
    degree-3 bifurcations (merge must stop there)."""
    import numpy as np

    keys = np.arange(1, 101)
    px, py = synth.point_np(keys)
    spx, spy = synth.point_np(np.arange(901, 906))
    rows = []
    for k in range(1, 100):
        if k % 10 != 0:
            rows.append((k, [float(px[k - 1]), float(px[k])],
                         [float(py[k - 1]), float(py[k])]))
    for m in range(1, 6):
        rows.append((100 + m, [float(px[10 * m + 4]), float(spx[m - 1])],
                     [float(py[10 * m + 4]), float(spy[m - 1])]))
    return rows


def q_merge_line_segments(spark, sf_dir):
    """MergeLineSegments (gis_analysis/merge_line_segments.rs): join lines
    at coincident degree-2 end nodes, stop at bifurcations. Engine =
    degree aggregate + pointer-doubled min-label components; oracle =
    INDEPENDENT python union-find literals."""
    from whitebox_tools_spark.operators.vector_ops import merge_line_segments

    lines = spark.createDataFrame(
        _merge_lines_fixture(), "line_id long, xs array<double>, ys array<double>"
    )
    return merge_line_segments(lines)


def _merge_lines_sql() -> str:
    import math as _m

    rows = _merge_lines_fixture()
    ends = {}
    for lid, xs, ys in rows:
        for px_, py_ in ((xs[0], ys[0]), (xs[-1], ys[-1])):
            ends.setdefault((round(px_, 9), round(py_, 9)), []).append(lid)
    parent = {lid: lid for lid, _, _ in rows}

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for node, mem in ends.items():
        if len(mem) == 2 and mem[0] != mem[1]:
            ra, rb = find(mem[0]), find(mem[1])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for lid, xs, ys in rows:
        ln = sum(
            _m.hypot(xs[i + 1] - xs[i], ys[i + 1] - ys[i]) for i in range(len(xs) - 1)
        )
        g = groups.setdefault(find(lid), [0, 0.0])
        g[0] += 1
        g[1] += ln
    vals = ", ".join(
        f"({gid}, {n}, {_round_half_up(tot)!r})" for gid, (n, tot) in sorted(groups.items())
    )
    return (
        "SELECT CAST(merged_id AS BIGINT) AS merged_id, "
        "CAST(n_lines AS BIGINT) AS n_lines, CAST(total_len AS DOUBLE) AS total_len "
        f"FROM (VALUES {vals}) t(merged_id, n_lines, total_len)"
    )


def _line_raster(spark) -> DataFrame:
    """Fixed analytic line raster == serial_oracles.line20_vals(): main
    stem along row 10, six tributaries with confluences, a hollow square
    loop (closed-trace path)."""
    row = (F.col("id") / 25).cast("long")
    col = F.col("id") % 25
    stem = row == 10
    trib = (row < 10) & col.isin(1, 5, 9, 13, 17, 21)
    loop = (
        (row.between(13, 17) & col.isin(15, 19))
        | (row.isin(13, 17) & col.between(15, 19))
    )
    val = (
        F.when(stem, F.lit(1.0))
        .when(trib, col.cast("double"))
        .when(loop, F.lit(9.0))
    )
    return (
        spark.range(20 * 25)
        .select(row.alias("row"), col.alias("col"), val.alias("value"))
        .filter(F.col("value").isNotNull())
    )


def q_raster_to_vector_lines(spark, sf_dir):
    """RasterToVectorLines (data_tools/raster_to_vector_lines.rs:229-420):
    trace the fixed analytic line raster (stem + confluences + closed
    loop) into polylines; line_id dropped so the geometry multiset is
    engine-order-independent. Value-checked against serial_oracles.
    raster_lines_serial — the reference's GLOBAL-FIFO control flow, vs the
    engine's per-component equivalent — as a literal VALUES oracle; the
    general random-walk case stays pinned by tests/test_raster_lines.py."""
    from whitebox_tools_spark.operators.raster_vector import raster_to_vector_lines

    out = raster_to_vector_lines(_line_raster(spark), STREAM_GRID)
    return out.select("value", "n_vertices", "length", "x1", "y1", "x2", "y2")


def _raster_lines_values_sql() -> str:
    rows = _so().raster_lines_serial(_so().line20_vals(), 0.0, 100.0, 5.0, 5.0)
    vals = ", ".join(
        f"({v!r}, {n}, {ln!r}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for v, n, ln, x1, y1, x2, y2 in rows
    )
    return (
        "SELECT CAST(v AS DOUBLE) AS value, CAST(n AS BIGINT) AS n_vertices, "
        "CAST(ln AS DOUBLE) + 0.0 AS length, "
        "CAST(x1 AS DOUBLE) + 0.0 AS x1, CAST(y1 AS DOUBLE) + 0.0 AS y1, "
        "CAST(x2 AS DOUBLE) + 0.0 AS x2, CAST(y2 AS DOUBLE) + 0.0 AS y2 "
        f"FROM (VALUES {vals}) AS t(v, n, ln, x1, y1, x2, y2)"
    )


_ICNA_B_SQL = (
    "SELECT row, col, value * 0.5 + CAST((row * 13 + col * 7) % 23 AS DOUBLE) * 9.0 "
    f"AS value FROM ({_PART_RASTER_SQL})"
)


def q_image_correlation_neighbourhood(spark, sf_dir):
    """ImageCorrelationNeighbourhoodAnalysis (math_stat_analysis/
    image_correlation_neighbourhood_analysis.rs, pearson): windowed local
    Pearson r + t statistic between the part raster and a correlated
    derived raster (the p-value is a pure function of (r, t, df) — the
    incomplete-beta conversion is the only omission, documented)."""
    from whitebox_tools_spark.operators.stats import image_correlation_neighbourhood

    a = _part_raster(spark, sf_dir)
    b = a.select(
        "row", "col",
        (F.col("value") * 0.5
         + ((F.col("row") * 13 + F.col("col") * 7) % 23).cast("double") * 9.0
         ).alias("value"),
    )
    out = image_correlation_neighbourhood(a, b, filter_size=7)
    return out.select(
        "row", "col", F.round("r", 6).alias("r"),
        F.round("tstat", 4).alias("tstat"), "df",
    )


def q_attribute_correlation_neighbourhood(spark, sf_dir):
    """AttributeCorrelationNeighbourhoodAnalysis (math_stat_analysis/
    attribute_correlation_neighbourhood_analysis.rs, pearson): per-point
    Pearson r between two synthetic attributes over the radius-80
    neighborhood of the customer points."""
    from whitebox_tools_spark.operators.stats import (
        attribute_correlation_neighbourhood,
    )

    x, y = synth.point_exprs(F.col("c_custkey"))
    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"), x.alias("x"), y.alias("y"),
        F.col("c_acctbal").alias("f1"),
        (F.col("c_custkey") % 97).cast("double").alias("f2"),
    )
    return attribute_correlation_neighbourhood(
        pts, field1="f1", field2="f2", radius=80.0, min_points=3
    ).select("point_id", F.round("r", 6).alias("r"), "n")


def _acna_sql() -> str:
    from whitebox_tools_spark.operators.stats import (
        attribute_correlation_neighbourhood_oracle_sql,
    )

    x, y = synth.point_sql("c_custkey")
    pts = (
        f"SELECT c_custkey AS point_id, {x} AS x, {y} AS y, "
        f"c_acctbal AS f1, CAST(c_custkey % 97 AS DOUBLE) AS f2 FROM customer"
    )
    return attribute_correlation_neighbourhood_oracle_sql(
        pts, radius=80.0, min_points=3
    )


def q_attribute_scattergram(spark, sf_dir):
    """AttributeScattergram (math_stat_analysis/attribute_scattergram.rs):
    paired attribute values + the least-squares trendline row."""
    from whitebox_tools_spark.operators.stats import attribute_scattergram

    t = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("point_id"),
        F.col("s_acctbal").alias("bal"),
        (F.col("s_suppkey") % 53).cast("double").alias("k"),
    )
    return attribute_scattergram(t, fieldx="k", fieldy="bal")


_SCATTER_SQL = """
WITH t AS (SELECT s_suppkey AS point_id, CAST(s_suppkey % 53 AS DOUBLE) AS xval,
                  s_acctbal AS yval FROM supplier),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n, SUM(xval) AS sx, SUM(yval) AS sy,
              SUM(xval * yval) AS sxy, SUM(xval * xval) AS sxx FROM t)
SELECT point_id, xval, yval FROM t
UNION ALL
SELECT CAST(-1 AS BIGINT),
       round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6),
       round((sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n, 6)
FROM st
"""


def q_split_vector_lines(spark, sf_dir):
    """split_vector_lines plugin: greedy max-length line splitting with
    interpolated break vertices; oracle = independent python splitter
    literals over the deterministic profile polylines."""
    from whitebox_tools_spark.operators.vector_ops import split_vector_lines

    lines = spark.createDataFrame(
        _PROFILE_LINES, "line_id long, xs array<double>, ys array<double>"
    )
    out = split_vector_lines(lines, length=17.0)
    return out.select("line_id", "part_idx", "n_vertices",
                      F.round("seg_len", 6).alias("seg_len"))


def _split_lines_sql() -> str:
    import math as _m

    rows = []
    L = 17.0
    for lid, xs, ys in _PROFILE_LINES:
        pts = [(xs[0], ys[0])]
        dist, part, i = 0.0, 0, 1
        while i < len(xs):
            x1, y1 = pts[-1]
            x2, y2 = xs[i], ys[i]
            d = _m.hypot(x2 - x1, y2 - y1)
            if dist + d <= L and d > 0.0:
                pts.append((x2, y2)); dist += d
            elif d > 0.0:
                ratio = (L - dist) / d
                bx, by = x1 + ratio * (x2 - x1), y1 + ratio * (y2 - y1)
                pts.append((bx, by))
                rows.append((lid, part, len(pts), L))
                part += 1; pts = [(bx, by)]; dist = 0.0; i -= 1
            i += 1
        if len(pts) > 1:
            rows.append((lid, part, len(pts), _round_half_up(dist)))
    vals = ", ".join(f"({a}, {b}, {c}, {d!r})" for a, b, c, d in rows)
    return (
        "SELECT CAST(line_id AS BIGINT) AS line_id, CAST(part_idx AS BIGINT) AS part_idx, "
        "CAST(n_vertices AS BIGINT) AS n_vertices, CAST(seg_len AS DOUBLE) AS seg_len "
        f"FROM (VALUES {vals}) t(line_id, part_idx, n_vertices, seg_len)"
    )


def q_centroid_vector(spark, sf_dir):
    """CentroidVector (gis_analysis/centroid_vector.rs:235-280): the
    vertex-mean centroid of each polygon feature (all parts' vertices)."""
    parts = _parts_df(spark)
    v = parts.select(
        "poly_id", F.explode(F.arrays_zip("xs", "ys")).alias("p")
    ).select("poly_id", F.col("p.xs").alias("x"), F.col("p.ys").alias("y"))
    return v.groupBy("poly_id").agg(
        F.round(F.avg("x"), 6).alias("cx"), F.round(F.avg("y"), 6).alias("cy")
    )


def _centroid_vector_sql() -> str:
    rows = []
    for pid, parts in PARTS:
        xs, ys = [], []
        for pxs, pys, _hole in parts:
            xs.extend(float(v) for v in pxs)
            ys.extend(float(v) for v in pys)
        rows.append(
            f"({pid}, {_round_half_up(sum(xs) / len(xs))!r}, "
            f"{_round_half_up(sum(ys) / len(ys))!r})"
        )
    return (
        "SELECT CAST(poly_id AS BIGINT) AS poly_id, CAST(cx AS DOUBLE) AS cx, "
        "CAST(cy AS DOUBLE) AS cy FROM (VALUES " + ", ".join(rows)
        + ") t(poly_id, cx, cy)"
    )


def q_buffer_raster(spark, sf_dir):
    """BufferRaster (gis_analysis/buffer_raster.rs:210-221): 1.0 within the
    buffer distance of any non-background cell, exact nearest-source
    distance in the reference's mean-cell-size metric."""
    from whitebox_tools_spark.operators.buffer import buffer_raster

    src = _part_raster(spark, sf_dir).withColumn(
        "value", F.when((F.col("row") * 7 + F.col("col") * 3) % 17 == 0, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    return buffer_raster(src, EXTRACT_GRID, size=12.0)


_BUFFER_SRC_SQL = (
    "SELECT row, col, CASE WHEN (row * 7 + col * 3) % 17 = 0 THEN 1.0 ELSE 0.0 END AS value "
    f"FROM ({_PART_RASTER_SQL})"
)

_ALLOC_SRC_SQL = (
    "SELECT row, col, CASE WHEN (row * 7 + col * 3) % 17 = 0 THEN value ELSE 0.0 END AS value "
    f"FROM ({_PART_RASTER_SQL})"
)


def q_olympic_filter(spark, sf_dir):
    """OlympicFilter (image_analysis/olympic_filter.rs:388-410)."""
    return _r6(_foc.olympic_filter(_part_raster(spark, sf_dir)), ["value"])


def q_highpass_filter(spark, sf_dir):
    """HighPassFilter (image_analysis/highpass_filter.rs): z - window mean."""
    return _r6(_foc.highpass_filter(_part_raster(spark, sf_dir)), ["value"])


def q_conservative_smoothing(spark, sf_dir):
    """ConservativeSmoothingFilter (image_analysis/
    conservative_smoothing_filter.rs:380-400)."""
    return _r6(_foc.conservative_smoothing(_part_raster(spark, sf_dir)), ["value"])


def q_streams_to_vector(spark, sf_dir):
    """RasterStreamsToVector (stream_network_analysis/
    raster_streams_to_vector.rs): per-link polylines, vertices ordered
    upstream->downstream by remaining chain distance."""
    from whitebox_tools_spark.operators.streams import raster_streams_to_vector

    out = raster_streams_to_vector(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)
    return out.select("link_id", "seq", F.round("x", 6).alias("x"), F.round("y", 6).alias("y"))


def q_fd8_pointer(spark, sf_dir):
    """FD8Pointer (hydro_analysis/fd8_pointer.rs:227-247): bitmask of all
    strictly-downslope neighbors."""
    from whitebox_tools_spark.operators.hydro import fd8_pointer

    return fd8_pointer(_noise_raster(spark, sf_dir), EXTRACT_GRID)


def q_percent_elev_range(spark, sf_dir):
    """PercentElevRange (terrain_analysis/percent_elev_range.rs:375-385)."""
    from whitebox_tools_spark.operators import focal as FO

    return _r6(FO.percent_elev_range(_part_raster(spark, sf_dir)), ["value"])


def q_relative_aspect(spark, sf_dir):
    """RelativeAspect (terrain_analysis/relative_aspect.rs:330-333):
    angular distance between aspect and azimuth 135, folded to [0, 180];
    flat cells (aspect -1) are nodata."""
    from whitebox_tools_spark.operators import focal as FO

    asp = FO.aspect(_part_raster(spark, sf_dir), res=5.0)
    ra = F.abs(F.col("value") - F.lit(135.0))
    ra = F.when(ra > 180.0, F.lit(360.0) - ra).otherwise(ra)
    return _r6(
        asp.select(
            "row", "col",
            F.when(F.col("value") == -1.0, F.lit(None).cast("double"))
            .otherwise(ra).alias("value"),
        ),
        ["value"],
    )


def q_max_upslope_flowpath(spark, sf_dir):
    """MaxUpslopeFlowpathLength (hydro_analysis/max_upslope_flowpath.rs)."""
    from whitebox_tools_spark.operators.streams import max_upslope_flowpath

    return _r6(max_upslope_flowpath(_valley_dem(spark, sf_dir), STREAM_GRID), ["value"])


_SNAP_POUR = [(8, 10, 1), (15, 18, 2)]


def q_snap_pour_points(spark, sf_dir):
    """SnapPourPoints (hydro_analysis/snap_pour_points.rs semantics over
    accumulation): move each pour point to the highest-accumulation cell
    within the snap window; ties to the smallest (row, col)."""
    from whitebox_tools_spark.operators.streams import snap_pour_points

    pour = spark.createDataFrame(_SNAP_POUR, "row long, col long, pour_id long")
    return snap_pour_points(_valley_dem(spark, sf_dir), STREAM_GRID, pour, snap_cells=2)


def q_flip_image(spark, sf_dir):
    """FlipImage (image_analysis/flip_image.rs:229-250), both axes."""
    from whitebox_tools_spark.operators.image import flip_image

    return flip_image(_part_raster(spark, sf_dir), EXTRACT_GRID, direction="both")


def q_gamma_correction(spark, sf_dir):
    """GammaCorrection (image_analysis/gamma_correction.rs:279): z^gamma."""
    from whitebox_tools_spark.operators.image import gamma_correction

    return _r6(gamma_correction(_part_raster(spark, sf_dir), gamma=0.5), ["value"])


def q_min_max_stretch(spark, sf_dir):
    """MinMaxContrastStretch (image_analysis/min_max_contrast_stretch.rs:367-373)."""
    from whitebox_tools_spark.operators.image import min_max_contrast_stretch

    return min_max_contrast_stretch(
        _part_raster(spark, sf_dir), min_val=900.0, max_val=1000.0, num_tones=256.0
    )


def q_hist_equalization(spark, sf_dir):
    """HistogramEqualization (image_analysis/histogram_equalization.rs:272-387),
    grayscale branch, 256 tones."""
    from whitebox_tools_spark.operators.image import histogram_equalization

    return histogram_equalization(_part_raster(spark, sf_dir), num_tones=256)


def q_subbasins(spark, sf_dir):
    """SubBasins (hydro_analysis/subbasins.rs): each cell labeled with the
    link id of the first stream cell on its D8 flow path."""
    from whitebox_tools_spark.operators.streams import subbasins

    return subbasins(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_isobasins(spark, sf_dir):
    """Isobasins (hydro_analysis/isobasins.rs): ~equal-area watershed
    subdivision (size=12 cells). Value-checked against the independent
    serial transcription serial_oracles.isobasins_serial emitted as a
    literal VALUES oracle over the fixed valley fixture (exact integer
    ids); also partition-pinned in tests/test_hydro_random.py."""
    from whitebox_tools_spark.operators.hydro import isobasins

    return isobasins(_fixed_valley(spark), STREAM_GRID, size=12)


def q_max_branch_length(spark, sf_dir):
    """MaxBranchLength (terrain_analysis/max_branch_length.rs, Gardner's
    Bmax): batched binary-lifting LCA over the flow forest (O(log path)
    equi-join rounds)."""
    from whitebox_tools_spark.operators.streams import max_branch_length

    return _r6(max_branch_length(_valley_dem(spark, sf_dir), STREAM_GRID), ["value"])


def q_unnest_basins(spark, sf_dir):
    """UnnestBasins (hydro_analysis/unnest_basins.rs): un-truncated
    watershed per pour point + nesting level. Pour points = the 4
    highest-accumulation cells of the valley DEM (deterministic and
    nested along the main channel, exercising levels 1..4)."""
    from whitebox_tools_spark.operators.hydro import d8_flow_accumulation
    from whitebox_tools_spark.operators.streams import unnest_basins
    from pyspark.sql import Window

    dem = _valley_dem(spark, sf_dir)
    fa = d8_flow_accumulation(dem, STREAM_GRID)
    # top-4 via global sort + limit = TakeOrderedAndProject (per-partition
    # top-k, no single-partition window over the whole raster); the window
    # then numbers only the 4 surviving rows
    w = Window.orderBy(F.desc("value"), "row", "col")
    pour = (
        fa.orderBy(F.desc("value"), "row", "col")
        .limit(4)
        .withColumn("pour_id", F.row_number().over(w))
        .select("row", "col", F.col("pour_id").cast("long").alias("pour_id"))
    )
    return unnest_basins(dem, STREAM_GRID, pour)


def q_hillslopes(spark, sf_dir):
    """Hillslopes (hydro_analysis/hillslopes.rs:144): left-bank/right-bank/
    channel-head catchments per stream link; stream cells 0; ids in scan
    order of each hillslope's minimum cell."""
    from whitebox_tools_spark.operators.streams import hillslopes

    return hillslopes(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_strahler_order_basins(spark, sf_dir):
    """StrahlerOrderBasins (hydro_analysis/strahler_order_basins.rs)."""
    from whitebox_tools_spark.operators.streams import strahler_order_basins

    return strahler_order_basins(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_longest_flowpath(spark, sf_dir):
    """LongestFlowpath (hydro_analysis/longest_flowpath.rs, scalar form):
    per-basin longest flow path length."""
    from whitebox_tools_spark.operators.streams import longest_flowpath

    return _r6(longest_flowpath(_noise_raster(spark, sf_dir), EXTRACT_GRID), ["value"])


def q_average_flowpath_slope(spark, sf_dir):
    """AverageFlowpathSlope (hydro_analysis/average_flowpath_slope.rs):
    three flow_stitch.solve_fa accumulations + the atan combine."""
    from whitebox_tools_spark.operators.hydro import average_flowpath_slope

    return _r6(
        average_flowpath_slope(_valley_dem(spark, sf_dir), STREAM_GRID), ["value"]
    )


def q_elev_above_stream(spark, sf_dir):
    """ElevationAboveStream (hydro_analysis/elevation_above_stream.rs)."""
    from whitebox_tools_spark.operators.streams import elevation_above_stream

    return _r6(
        elevation_above_stream(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0),
        ["value"],
    )


def q_dist_to_stream(spark, sf_dir):
    """DownslopeDistanceToStream (hydro_analysis/downslope_distance_to_stream.rs)."""
    from whitebox_tools_spark.operators.streams import downslope_distance_to_stream

    return _r6(
        downslope_distance_to_stream(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0),
        ["value"],
    )


def q_depth_in_sink(spark, sf_dir):
    """DepthInSink (hydro_analysis/depth_in_sink.rs): fill - DEM."""
    from whitebox_tools_spark.operators.streams import depth_in_sink

    return _r6(depth_in_sink(_noise_raster(spark, sf_dir)), ["value"])


def q_elev_rel_minmax(spark, sf_dir):
    """ElevRelativeToMinMax (terrain_analysis/elev_relative_to_min_max.rs):
    (z - min) / (max - min) over the whole raster."""
    dem = _part_raster(spark, sf_dir).filter(F.col("value").isNotNull())
    stats = dem.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    return _r6(
        dem.crossJoin(F.broadcast(stats)).select(
            "row", "col",
            ((F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn"))).alias("value"),
        ),
        ["value"],
    )


def q_viewshed(spark, sf_dir):
    """Viewshed (terrain_analysis/viewshed.rs:345-380): exact R3
    line-of-sight (the reference's XDraw sweep approximates this); station
    derived from the data (median populated cell, so the fixture is
    non-vacuous at every SF), height 2.0, view-angle metric dz/dist*1000."""
    from whitebox_tools_spark.operators.viewshed import median_station, viewshed

    dem = _part_raster(spark, sf_dir)
    sr, sc = median_station(dem)
    return viewshed(
        dem, EXTRACT_GRID, station_row=sr, station_col=sc, station_height=2.0
    )


def q_directional_relief(spark, sf_dir):
    """DirectionalRelief (terrain_analysis/directional_relief.rs), east
    azimuth."""
    from whitebox_tools_spark.operators.viewshed import directional_relief_east

    return _r6(
        directional_relief_east(_part_raster(spark, sf_dir), EXTRACT_GRID),
        ["value"],
    )


def q_fetch_analysis(spark, sf_dir):
    """FetchAnalysis (terrain_analysis/fetch_analysis.rs:330-428), east
    azimuth, height increment 0.05."""
    from whitebox_tools_spark.operators.viewshed import fetch_analysis_east

    return _r6(
        fetch_analysis_east(_part_raster(spark, sf_dir), EXTRACT_GRID),
        ["value"],
    )


def q_visibility_index(spark, sf_dir):
    """VisibilityIndex (terrain_analysis/visibility_index.rs): proportion
    of sampled stations (every 5th cell) seeing each cell."""
    from whitebox_tools_spark.operators.viewshed import visibility_index

    return _r6(
        visibility_index(
            _valley_dem(spark, sf_dir), STREAM_GRID, res_factor=5,
        ),
        ["value"],
    )


def q_horizon_angle(spark, sf_dir):
    """HorizonAngle (terrain_analysis/horizon_angle.rs), east azimuth,
    max search distance 100 map units."""
    from whitebox_tools_spark.operators.viewshed import horizon_angle_east

    return _r6(
        horizon_angle_east(_part_raster(spark, sf_dir), EXTRACT_GRID, max_dist=100.0),
        ["value"],
    )


def q_euclidean_distance(spark, sf_dir):
    """EuclideanDistance (gis_analysis/euclidean_distance.rs): exact
    nearest-source map-unit distance via the exact kNN join."""
    from whitebox_tools_spark.operators.buffer import euclidean_distance

    src = _part_raster(spark, sf_dir).withColumn(
        "value", F.when((F.col("row") * 7 + F.col("col") * 3) % 17 == 0, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    return _r6(euclidean_distance(src, EXTRACT_GRID, IDX), ["value"])


def q_euclidean_allocation(spark, sf_dir):
    """EuclideanAllocation (gis_analysis/euclidean_allocation.rs): nearest
    non-background cell's value, ties by (distance, scan order)."""
    from whitebox_tools_spark.operators.buffer import euclidean_allocation

    src = _part_raster(spark, sf_dir).withColumn(
        "value", F.when((F.col("row") * 7 + F.col("col") * 3) % 17 == 0, F.col("value")).otherwise(F.lit(0.0))
    )
    return euclidean_allocation(src, EXTRACT_GRID, IDX)


def q_raster_to_points(spark, sf_dir):
    """RasterToVectorPoints (data_tools/raster_to_vector_points.rs): one
    point per valid cell at its center, scan-order FIDs."""
    g = EXTRACT_GRID
    return _part_raster(spark, sf_dir).filter(F.col("value").isNotNull()).select(
        (F.col("row") * g.cols + F.col("col")).alias("fid"),
        (F.lit(g.west + g.res_x / 2.0) + F.col("col") * F.lit(g.res_x)).alias("x"),
        (F.lit(g.north - g.res_y / 2.0) - F.col("row") * F.lit(g.res_y)).alias("y"),
        "value",
    )


def _noise_raster(spark, sf_dir) -> DataFrame:
    """Hash-noise DEM: the price raster is monotone within columns (flow
    chains as long as the grid), so D8 uses a scrambled surface whose
    drainage paths are short — the peel loop's round count is the DAG
    depth, and noise keeps it O(10)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        (F.col("p_partkey") % 200).alias("row"),
        (F.floor(F.col("p_partkey") / F.lit(200.0)).cast("long") % 200).alias("col"),
        (((F.col("p_partkey") * 48271) % 100000).cast("double") / 100.0).alias("value"),
    )


_NOISE_RASTER_SQL = (
    "SELECT p_partkey % 200 AS row, "
    "CAST(floor(p_partkey / 200.0) AS BIGINT) % 200 AS col, "
    "CAST((p_partkey * 48271) % 100000 AS DOUBLE) / 100.0 AS value FROM part"
)


STREAM_GRID = GridSpec(west=0.0, north=100.0, res_x=5.0, res_y=5.0, rows=20, cols=25)


def _valley_dem(spark, sf_dir) -> DataFrame:
    """Fishbone valley DEM (dense 20x25 from the first 500 part keys): a
    main stem along row 10 draining east, lowered tributary channels every
    4th column — gives the stream suite real confluences (Strahler > 1)
    while keeping the flow-DAG depth ~35 so the topological peel stays
    fast. All arithmetic is integer-derived and mirrored term-for-term in
    _VALLEY_DEM_SQL, so both engines build bit-identical elevations."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_partkey") >= 1) & (F.col("p_partkey") <= 500)
    )
    pk = F.col("p_partkey") - 1
    row = pk % 20
    col = F.floor(pk / F.lit(20)).cast("long")
    base = (
        F.abs(row - 10).cast("double") * 50.0
        + (25 - col).cast("double") * 2.0
        + ((F.col("p_partkey") * 31) % 7).cast("double") * 0.1
    )
    trib = F.when((col % 4 == 1) & (row != 10), F.lit(-45.0)).otherwise(F.lit(0.0))
    return p.select(row.alias("row"), col.alias("col"), (base + trib).alias("value"))


_VALLEY_DEM_SQL = """
SELECT (p_partkey - 1) % 20 AS row,
       CAST(floor((p_partkey - 1) / 20) AS BIGINT) AS col,
       CAST(abs((p_partkey - 1) % 20 - 10) AS DOUBLE) * 50.0
         + CAST(25 - CAST(floor((p_partkey - 1) / 20) AS BIGINT) AS DOUBLE) * 2.0
         + CAST((p_partkey * 31) % 7 AS DOUBLE) * 0.1
         + CASE WHEN CAST(floor((p_partkey - 1) / 20) AS BIGINT) % 4 = 1
                     AND (p_partkey - 1) % 20 <> 10
                THEN -45.0 ELSE 0.0 END AS value
FROM part WHERE p_partkey BETWEEN 1 AND 500
"""

_POUR = [(10, 20, 1), (10, 12, 2)]


def q_stream_slope_continuous(spark, sf_dir):
    """StreamSlopeContinuous (stream_network_analysis/
    stream_slope_continuous.rs:380-427)."""
    from whitebox_tools_spark.operators.streams import stream_slope_continuous

    return _r6(
        stream_slope_continuous(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0),
        ["value"],
    )


def q_extract_streams(spark, sf_dir):
    """ExtractStreams (stream_network_analysis/extract_streams.rs:23-33)."""
    from whitebox_tools_spark.operators.streams import extract_streams

    return extract_streams(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_shreve(spark, sf_dir):
    """ShreveStreamMagnitude (stream_network_analysis/shreve_magnitude.rs)."""
    from whitebox_tools_spark.operators.streams import shreve_magnitude

    return shreve_magnitude(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_strahler(spark, sf_dir):
    """StrahlerStreamOrder (stream_network_analysis/strahler_order.rs)."""
    from whitebox_tools_spark.operators.streams import strahler_order

    return strahler_order(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_horton(spark, sf_dir):
    """HortonStreamOrder (stream_network_analysis/horton_order.rs):
    main-stem inheritance by longest channel-head flow distance."""
    from whitebox_tools_spark.operators.streams import horton_order

    return horton_order(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_hack(spark, sf_dir):
    """HackStreamOrder: outlet tributary 1, side tributaries +1."""
    from whitebox_tools_spark.operators.streams import hack_order

    return hack_order(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_topological(spark, sf_dir):
    """TopologicalStreamOrder: link count to the outlet."""
    from whitebox_tools_spark.operators.streams import topological_stream_order

    return topological_stream_order(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_tributary_id(spark, sf_dir):
    """TributaryIdentifier: longest-path tributary identity, head-scan ids."""
    from whitebox_tools_spark.operators.streams import tributary_id

    return tributary_id(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_find_main_stem(spark, sf_dir):
    """FindMainStem: 1.0 on the outlet's main channel."""
    from whitebox_tools_spark.operators.streams import find_main_stem

    return find_main_stem(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_farthest_head(spark, sf_dir):
    """FarthestChannelHead: max upstream head distance per stream cell."""
    from whitebox_tools_spark.operators.streams import farthest_channel_head

    return farthest_channel_head(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_total_length_channels(spark, sf_dir):
    """TotalLengthOfUpstreamChannels per stream cell."""
    from whitebox_tools_spark.operators.streams import total_length_channels

    return total_length_channels(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_stream_link_length(spark, sf_dir):
    """StreamLinkLength: per-link out-edge length sum painted on cells."""
    from whitebox_tools_spark.operators.streams import stream_link_length

    return stream_link_length(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_stream_link_slope(spark, sf_dir):
    """StreamLinkSlope: 100*(zmax-zmin)/length per link."""
    from whitebox_tools_spark.operators.streams import stream_link_slope

    return stream_link_slope(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_remove_short_streams(spark, sf_dir):
    """RemoveShortStreams: prune tributaries with total length <= 25 map
    units (5 cells at res 5.0)."""
    from whitebox_tools_spark.operators.streams import remove_short_streams

    return remove_short_streams(
        _valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0, min_length=25.0
    )


def q_distance_to_outlet(spark, sf_dir):
    """DistanceToOutlet: along-stream distance to the outlet cell."""
    from whitebox_tools_spark.operators.streams import distance_to_outlet

    return distance_to_outlet(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_long_profile(spark, sf_dir):
    """LongProfile (stream_network_analysis/long_profile.rs): the plotted
    (distance-to-outlet, elevation) pairs per stream cell."""
    from whitebox_tools_spark.operators.streams import distance_to_outlet

    d = distance_to_outlet(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)
    dem = _valley_dem(spark, sf_dir).select("row", "col", F.col("value").alias("z"))
    return d.withColumnRenamed("value", "dist").join(dem, ["row", "col"]).select(
        "row", "col", F.round("dist", 6).alias("dist"), F.round("z", 6).alias("z")
    )


def q_elev_rel_watershed(spark, sf_dir):
    """ElevRelativeToWatershedMinMax (terrain_analysis/
    elev_relative_to_watershed_min_max.rs:300-316)."""
    from whitebox_tools_spark.operators.hydro import elev_relative_to_watershed_min_max

    return _r6(
        elev_relative_to_watershed_min_max(_noise_raster(spark, sf_dir), EXTRACT_GRID),
        ["value"],
    )


def q_stream_link(spark, sf_dir):
    """StreamLinkIdentifier (links renumbered by terminal scan order)."""
    from whitebox_tools_spark.operators.streams import stream_link_identifier

    return stream_link_identifier(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_watershed(spark, sf_dir):
    """Watershed (hydro_analysis/watershed.rs): first-pour-point labels."""
    from whitebox_tools_spark.operators.streams import watershed

    pour = spark.createDataFrame(_POUR, "row long, col long, pour_id long")
    return watershed(_valley_dem(spark, sf_dir), STREAM_GRID, pour)


def q_flowpath_length(spark, sf_dir):
    """DownslopeFlowpathLength (hydro_analysis/downslope_flowpath_length.rs)."""
    from whitebox_tools_spark.operators.streams import downslope_flowpath_length

    return _r6(downslope_flowpath_length(_valley_dem(spark, sf_dir), STREAM_GRID), ["value"])


def q_num_inflowing(spark, sf_dir):
    """NumInflowingNeighbours (hydro_analysis/num_inflowing_neighbours.rs)."""
    from whitebox_tools_spark.operators.streams import num_inflowing_neighbours

    return num_inflowing_neighbours(_valley_dem(spark, sf_dir), STREAM_GRID)


def q_d8_pointer(spark, sf_dir):
    """D8Pointer (hydro_analysis/d8_pointer.rs:268-296): steepest-descent
    pointer grid, 2^dir encoding, 0 at pits/flats."""
    from whitebox_tools_spark.operators.hydro import d8_pointer

    return d8_pointer(_noise_raster(spark, sf_dir), EXTRACT_GRID)


def q_d8_flow_accum(spark, sf_dir):
    """D8FlowAccumulation (hydro_analysis/d8_flow_accum.rs:525-570) in
    cell-count units via the hierarchical tile stitch (flow_stitch.solve_fa:
    O(log n) supersteps; bit-matches the superstep peel — pytest-pinned).
    block=16 so the multi-tile stitch path is what the oracle certifies."""
    from whitebox_tools_spark.operators.flow_stitch import d8_flow_accumulation_tiled

    return d8_flow_accumulation_tiled(
        _noise_raster(spark, sf_dir), EXTRACT_GRID, block=16
    )


def q_fd8_flow_accum(spark, sf_dir):
    """FD8FlowAccumulation (hydro_analysis/fd8_flow_accum.rs:400-470):
    slope^1.1-proportioned multi-directional flow via the weighted-semiring
    tile stitch (flow_stitch.solve_wfa, O(log n) supersteps; block=16 +
    tiny direct_threshold so the multi-level stitch path is what runs).
    Value-checked against serial_oracles.fd8_serial as a literal VALUES
    oracle over the fixed noise fixture (delta 7.1e-15 vs 4.5e-9 margin at
    6 dp); also pinned vs the reference's stack algorithm in numpy
    (tests/test_hydro_random.py) and stitch-vs-serial in
    tests/test_flow_stitch.py."""
    from whitebox_tools_spark.operators.flow_stitch import fd8_flow_accumulation_tiled

    return _r6(
        fd8_flow_accumulation_tiled(
            _fixed_noise(spark), EXTRACT_GRID, block=16,
            direct_threshold=64,
        ),
        ["value"],
    )


def q_dinf_flow_accum(spark, sf_dir):
    """DInfFlowAccumulation (hydro_analysis/dinf_flow_accum.rs:532-646,
    Tarboton 1997 two-neighbor split) via the weighted-semiring tile
    stitch (flow_stitch.solve_wfa, O(log n) supersteps; block=16 + tiny
    direct_threshold certifies the multi-level path). Value-checked
    against serial_oracles.dinf_serial — an independent pure-python
    transcription of the 8-facet pointer + sector split — as a literal
    VALUES oracle over the fixed noise fixture (engine bit-identical to
    the serial sweep on it); numpy pin in tests/test_hydro_random.py and
    stitch-vs-peel in tests/test_flow_stitch.py."""
    from whitebox_tools_spark.operators.flow_stitch import (
        dinf_flow_accumulation_tiled,
    )

    return _r6(
        dinf_flow_accumulation_tiled(
            _fixed_noise(spark), EXTRACT_GRID, block=16,
            direct_threshold=64,
        ),
        ["value"],
    )


def q_dinf_pointer(spark, sf_dir):
    """DInfPointer (hydro_analysis/dinf_pointer.rs:225-320, Tarboton 1997):
    8-facet closed form; the facet formulas are one SQL text parsed by
    both Spark and DuckDB, so the oracle is the same arithmetic."""
    from whitebox_tools_spark.operators.hydro import dinf_pointer

    return _r6(dinf_pointer(_noise_raster(spark, sf_dir), EXTRACT_GRID), ["value"])


def q_basins(spark, sf_dir):
    """Basins (hydro_analysis/basins.rs): terminal-cell drainage labeling
    via successor pointer doubling; oracle = recursive pointer walk."""
    from whitebox_tools_spark.operators.hydro import basins

    return basins(_noise_raster(spark, sf_dir), EXTRACT_GRID)


def q_cost_allocation(spark, sf_dir):
    """CostAllocation (gis_analysis/cost_allocation.rs) — hierarchical
    boundary-graph Dijkstra with the (dist, source_id) lexicographic
    semiring (flow_stitch.shortest_path_hier; block=8/threshold=150 force
    real contraction levels here). Rows-only; pinned vs the Bellman-Ford
    supersteps AND a multi-source Dijkstra in pytest."""
    from whitebox_tools_spark.operators.hydro import cost_allocation_tiled

    cost = spark.range(400).select(
        (F.col("id") / 20).cast("long").alias("row"),
        (F.col("id") % 20).alias("col"),
        (((F.col("id") * 48271 + 7) % 1000).cast("double") / 100.0 + 1.0).alias("value"),
    )
    sources = spark.createDataFrame(
        [(0, 0, 1), (19, 19, 2)], "row long, col long, source_id long"
    )
    return cost_allocation_tiled(
        cost, sources,
        GridSpec(west=0.0, north=100.0, res_x=5.0, res_y=5.0, rows=20, cols=20),
        block=8, direct_threshold=150,
    )


def q_cost_distance(spark, sf_dir):
    """CostDistance (gis_analysis/cost_distance.rs:332-340) — hierarchical
    boundary-graph Dijkstra (flow_stitch.shortest_path_hier: per-block
    terminal-clique contraction + 8x recursion, O(log n) rounds; replaces
    the O(least-cost-path-hops) Bellman-Ford supersteps flagged at 100-TB
    scale). Rows-only; pinned vs the supersteps AND python Dijkstra in
    pytest. block=8/threshold=200 force real contraction levels here."""
    from whitebox_tools_spark.operators.hydro import cost_distance_tiled

    cost = spark.range(400).select(
        (F.col("id") / 20).cast("long").alias("row"),
        (F.col("id") % 20).alias("col"),
        (((F.col("id") * 48271 + 7) % 1000).cast("double") / 100.0 + 1.0).alias("value"),
    )
    sources = spark.createDataFrame([(0, 0), (19, 19)], "row long, col long")
    out = cost_distance_tiled(
        cost, sources,
        GridSpec(west=0.0, north=100.0, res_x=5.0, res_y=5.0, rows=20, cols=20),
        block=8, direct_threshold=200,
    )
    return _r6(out, ["value"])


_TRACE_SEEDS = [(2, 3), (5, 18), (14, 9)]


_JENSON_POUR = [(1, 3, 6), (2, 10, 14), (3, 17, 4)]


def q_stream_link_class(spark, sf_dir):
    """StreamLinkClass (stream_network_analysis/stream_link_class.rs:
    289-402)."""
    from whitebox_tools_spark.operators.streams import stream_link_class

    return stream_link_class(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)


def q_rasterize_streams(spark, sf_dir):
    """RasterizeStreams (stream_network_analysis/rasterize_streams.rs):
    the vectorized stream links scan-converted back onto the grid (FID =
    link_id + 1, later links win)."""
    from whitebox_tools_spark.operators.raster_vector import vector_lines_to_raster
    from whitebox_tools_spark.operators.streams import raster_streams_to_vector

    v = raster_streams_to_vector(_valley_dem(spark, sf_dir), STREAM_GRID, threshold=4.0)
    lines = (
        v.groupBy("link_id")
        .agg(F.sort_array(F.collect_list(F.struct("seq", "x", "y"))).alias("vs"))
        .filter(F.size("vs") >= 2)  # single-vertex links have no segment
        .select(
            F.col("link_id").alias("line_id"),
            F.transform("vs", lambda s: s.getField("x")).alias("xs"),
            F.transform("vs", lambda s: s.getField("y")).alias("ys"),
        )
        .localCheckpoint()
    )
    return vector_lines_to_raster(lines, STREAM_GRID, line_id="line_id")


def q_jenson_snap_pour(spark, sf_dir):
    """JensonSnapPourPoints (hydro_analysis/jenson_snap_pour_points.rs):
    snap to the nearest stream cell within 3 cells."""
    from whitebox_tools_spark.operators.streams import jenson_snap_pour_points

    pour = spark.createDataFrame(
        [(r, c, pid) for pid, r, c in _JENSON_POUR], "row long, col long, pour_id long"
    )
    return jenson_snap_pour_points(
        _valley_dem(spark, sf_dir), STREAM_GRID, pour, threshold=4.0
    )


def q_elev_above_stream_euclidean(spark, sf_dir):
    """ElevationAboveStreamEuclidean (hydro_analysis/
    elevation_above_stream_euclidean.rs)."""
    from whitebox_tools_spark.grid import CellIndex
    from whitebox_tools_spark.operators.streams import elevation_above_stream_euclidean

    idx = CellIndex(0.0, 0.0, 130.0, 3)
    return _r6(
        elevation_above_stream_euclidean(
            _valley_dem(spark, sf_dir), STREAM_GRID, idx, threshold=4.0
        ),
        ["value"],
    )


def q_trace_flowpaths(spark, sf_dir):
    """TraceDownslopeFlowpaths (hydro_analysis/
    trace_downslope_flowpaths.rs:365-390): three seeds on the valley DEM."""
    from whitebox_tools_spark.operators.hydro import trace_downslope_flowpaths

    seeds = spark.createDataFrame(_TRACE_SEEDS, "row long, col long")
    return trace_downslope_flowpaths(_valley_dem(spark, sf_dir), STREAM_GRID, seeds)


def q_avg_upslope_flowpath(spark, sf_dir):
    """AverageUpslopeFlowpathLength (hydro_analysis/
    average_upslope_flowpath_length.rs:349-391)."""
    from whitebox_tools_spark.operators.hydro import average_upslope_flowpath_length

    return _r6(
        average_upslope_flowpath_length(_valley_dem(spark, sf_dir), STREAM_GRID),
        ["value"],
    )


def q_fill_pits(spark, sf_dir):
    """FillPits (hydro_analysis/fill_pits.rs:208-230)."""
    from whitebox_tools_spark.operators.hydro import fill_pits

    return fill_pits(_noise_raster(spark, sf_dir))


def q_find_noflow(spark, sf_dir):
    """FindNoFlowCells (hydro_analysis/find_noflow_cells.rs:205-224)."""
    from whitebox_tools_spark.operators.hydro import find_noflow_cells

    return find_noflow_cells(_noise_raster(spark, sf_dir))


def q_flow_length_diff(spark, sf_dir):
    """FlowLengthDiff (hydro_analysis/flow_length_diff.rs:325-346)."""
    from whitebox_tools_spark.operators.hydro import flow_length_diff

    return _r6(flow_length_diff(_valley_dem(spark, sf_dir), STREAM_GRID), ["value"])


def q_points_to_raster(spark, sf_dir):
    """VectorPointsToRaster (data_tools/vector_points_to_raster.rs),
    assign=mean over the customer account-balance points."""
    from whitebox_tools_spark.operators.raster_vector import points_to_raster

    return _r6(
        points_to_raster(
            _cust_points(spark, sf_dir), NN_GRID, field="z", assign="mean"
        ),
        ["value"],
    )


def q_fill_depressions(spark, sf_dir):
    """FillDepressions (hydro_analysis/fill_depressions.rs) via Barnes'
    parallel priority-flood tile stitch (flow_stitch: O(1) tile passes +
    spill-graph minimax instead of O(drainage path) fixpoint rounds;
    bit-matches hydro.fill_depressions — pytest-pinned); oracle =
    recursive-CTE minimax path cost to the outlets. block=16 so the
    multi-tile stitch path is what the oracle certifies."""
    from whitebox_tools_spark.operators.flow_stitch import fill_depressions_tiled

    return fill_depressions_tiled(_noise_raster(spark, sf_dir), block=16)


def q_fill_wang_liu(spark, sf_dir):
    """FillDepressionsWangAndLiu (hydro_analysis/
    fill_depressions_wang_and_liu.rs, Wang & Liu 2006): the least-cost
    (minimax) flat fill — the FUNCTION it computes is identical to
    FillDepressions' filled surface (the papers differ in MECHANICS:
    two-way scan vs priority flood); this engine routes both through the
    tiled stitch, checked against the same recursive-CTE minimax oracle.
    Exercised on the dense 20-col DEM so the two fill queries cover
    different fixtures."""
    from whitebox_tools_spark.operators.flow_stitch import fill_depressions_tiled

    return fill_depressions_tiled(_dense20_dem(spark, sf_dir), block=16)


def q_fill_planchon_darboux(spark, sf_dir):
    """FillDepressionsPlanchonAndDarboux (hydro_analysis/
    fill_depressions_planchon_and_darboux.rs, Planchon & Darboux 2001):
    same flat-fill function (iterative lowering mechanics in the
    reference); routed through the stitch, valley-DEM fixture."""
    from whitebox_tools_spark.operators.flow_stitch import fill_depressions_tiled

    return fill_depressions_tiled(_valley_dem(spark, sf_dir), block=16)


def q_flow_accumulation_full_workflow(spark, sf_dir):
    """FlowAccumulationFullWorkflow (hydro_analysis/
    flow_accum_full_workflow.rs): fill -> D8 pointer -> D8 accumulation as
    one composite; returns the accumulation raster (the reference's main
    output). Oracle = recursive walk-count over the pointer of the filled
    surface."""
    from whitebox_tools_spark.operators.flow_stitch import (
        d8_flow_accumulation_tiled,
        fill_depressions_tiled,
    )

    filled = fill_depressions_tiled(_dense20_dem(spark, sf_dir), block=16)
    return d8_flow_accumulation_tiled(filled, EXTRACT_GRID, block=16)


def _heat_map_sql() -> str:
    from whitebox_tools_spark.operators.plugins import heat_map_oracle_sql

    x, y = synth.point_sql("c_custkey")
    pts = f"SELECT {x} AS x, {y} AS y FROM customer"
    inner = heat_map_oracle_sql(pts, NN_GRID, radius=60.0)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _otsu_sql() -> str:
    from whitebox_tools_spark.operators.plugins import otsu_oracle_sql

    return otsu_oracle_sql(_PART_RASTER_SQL)


def _itd_sql() -> str:
    from whitebox_tools_spark.operators.plugins import (
        individual_tree_detection_oracle_sql,
    )

    inner = individual_tree_detection_oracle_sql(
        _order_cloud_cte(), min_height=5.0, radius=40.0
    )
    return (
        "SELECT point_id, round(x, 6) AS x, round(y, 6) AS y, round(z, 6) AS z "
        f"FROM ({inner}) t"
    )


def _muv_sql() -> str:
    from whitebox_tools_spark.operators.plugins import max_upslope_value_oracle_sql

    vals = (
        f"SELECT row, col, CAST((row * 13 + col * 7) % 101 AS DOUBLE) AS value "
        f"FROM ({_NOISE_RASTER_SQL}) t WHERE value IS NOT NULL"
    )
    inner = max_upslope_value_oracle_sql(_NOISE_RASTER_SQL, vals, EXTRACT_GRID)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _edge_contam_sql() -> str:
    from whitebox_tools_spark.operators.plugins import edge_contamination_oracle_sql

    inner = edge_contamination_oracle_sql(_NOISE_RASTER_SQL, EXTRACT_GRID)
    return f"SELECT row, col, round(value, 6) AS value FROM ({inner}) t"


def _find_parallel_sql() -> str:
    from whitebox_tools_spark.operators.hydro import (
        d8_pointer_oracle_sql,
        find_parallel_flow_oracle_sql,
    )
    from whitebox_tools_spark.operators.streams import extract_streams_oracle_sql

    ptr = d8_pointer_oracle_sql(_VALLEY_DEM_SQL, STREAM_GRID)
    streams = extract_streams_oracle_sql(_VALLEY_DEM_SQL, STREAM_GRID, threshold=4.0)
    return find_parallel_flow_oracle_sql(ptr, streams)


def q_breach_depressions(spark, sf_dir):
    """BreachDepressions (hydro_analysis/breach_depressions.rs, Lindsay 2016
    unconstrained hybrid breach): carve trenches so every cell drains.
    Deterministic (W, plateau-hops, lex) flood forest + canonical min-plus
    carve via the flow_stitch hierarchy (block=16 exercises the multi-tile
    stitch); oracle = recursive-CTE mirror of the same contract."""
    from whitebox_tools_spark.operators.breach import breach_depressions

    return _r6(
        breach_depressions(_noise_raster(spark, sf_dir), EXTRACT_GRID, block=16),
        ["value"],
    )


def _breach_oracle() -> str:
    from whitebox_tools_spark.operators.breach import breach_oracle_sql

    return breach_oracle_sql(_NOISE_RASTER_SQL, EXTRACT_GRID)


def _dense20_dem(spark, sf_dir):
    """Dense 20 x N/20 hash-noise DEM (the 200-wide strip is 1 col wide at
    sf0.001 -> no interior cells; this one has real depressions/flats)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        (F.col("p_partkey") % 20).alias("row"),
        F.floor(F.col("p_partkey") / F.lit(20.0)).cast("long").alias("col"),
        (((F.col("p_partkey") * 48271) % 100000).cast("double") / 100.0).alias("value"),
    )


_DENSE20_SQL = (
    "SELECT p_partkey % 20 AS row, "
    "CAST(floor(p_partkey / 20.0) AS BIGINT) AS col, "
    "CAST((p_partkey * 48271) % 100000 AS DOUBLE) / 100.0 AS value FROM part"
)


