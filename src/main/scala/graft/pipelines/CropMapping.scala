package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin

/** The reference's flagship pipeline (SURVEY §3.1, monthly.py
  * `process_i` + `main`) as ONE declarative Spark job over the
  * canonical observations table, replacing the reference's
  * per-polygon ProcessPoolExecutor loop with a single
  * groupBy(cell, month) pass over all polygons at once (SURVEY §3.1
  * closing note — the loop exists there only because EE bills per
  * export).
  *
  * Stages, each a reference behavior:
  *  1. S2 QA cloud mask — `qa.bitwiseAnd(1<<10).eq(0)` etc.
  *     (optimization.py:106-118) + CLOUDY_PIXEL_PERCENTAGE < 20
  *     (monthly.py:277); masked pixels become NULL, not sentinels.
  *  2. Monthly median composites per band (monthly.py:256,288).
  *  3. NDVI on the composite (common_ci.py:89-100 guard form).
  *  4. DynamicWorld nearest-in-time image per (cell, month) within
  *     15 days of the month midpoint (dynamicworld.py:108-137) via
  *     [[AsOfJoin]]; missing months default to class 9
  *     (dynamicworld.py:46-49).
  *  5. Static SRTM joined once per cell (presto.py:357-368 single
  *     token).
  *  6. Label rasterization: rectangle containment burns poly classes
  *     onto cells (monthly.py:499); the DW overlay rule fills
  *     label 0 where dw ≠ 4 (monthly.py:511-516).
  *  7. Canonical assembly into the 12-step nested series with
  *     availability masks (dataops/utils.py:18-93) — the
  *     pixel_timeseries layout of FIXTURES.md §2.
  *
  * Scale: every stage keys on (tile, cell_x, cell_y[, month]) — one
  * partitioning reused end-to-end; dims (labels, SRTM) broadcast; the
  * only wide shuffles are the per-key aggregations.
  */
object CropMapping {

  /** Label centroids → chip rectangles on the AOI cell grid — the
    * reference's centroid_to_square → rasterize flow (monthly.py:
    * 147-161 buffer, 499 burn), replacing the flat-rectangle
    * approximation. Each centroid anchors its OWN omerc and buffers
    * ±side/2 m (exactly `get_projections(centroid)`); the geodesic
    * corners are then projected into the single AOI omerc frame
    * whose raster cells are cellSizeM wide, and the covered cell
    * range becomes the (xmin..xmax, ymin..ymax, cls) rectangle that
    * [[build]]'s broadcast label join consumes. Runs as a typed map
    * over the (small, broadcast-bound) label table — executors do
    * the math; nothing collects to the driver. */
  def labelChips(points: DataFrame, aoiLon: Double, aoiLat: Double,
      cellSizeM: Double = 10.0, sideM: Double = 2560.0): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    import graft.functions.Omerc
    val aoi = Omerc(aoiLon, aoiLat)
    points.select("poly_id", "lon", "lat", "cls").as[(Long, Double, Double, Int)]
      .map { case (id, lon, lat, cls) =>
        val corners = Omerc.centroidSquare(lon, lat, sideM).dropRight(1)
          .map { case (clon, clat) => aoi.forward(clon, clat) }
        val xs = corners.map(_._1)
        val ys = corners.map(_._2)
        // shrink by 1 µm so double jitter at an exact cell boundary
        // cannot burn a spurious extra 10 m row
        val eps = 1e-6
        (id,
          math.floor((xs.min + eps) / cellSizeM).toInt, math.floor((xs.max - eps) / cellSizeM).toInt,
          math.floor((ys.min + eps) / cellSizeM).toInt, math.floor((ys.max - eps) / cellSizeM).toInt,
          cls)
      }.toDF("poly_id", "xmin", "xmax", "ymin", "ymax", "cls")
  }

  def build(obs: DataFrame, labels: DataFrame): DataFrame = {
    val cellKey = Seq("tile", "cell_x", "cell_y")
    val monthKey = cellKey :+ "month"

    // 1+2: cloud-masked monthly S2 median composite
    val s2 = obs.filter(col("source") === "S2_HARMONIZED")
      .filter(col("CLOUDY_PIXEL_PERCENTAGE") < 20.0)
      .filter((col("QA60").bitwiseAND(lit(1L << 10)) === 0L) &&
              (col("QA60").bitwiseAND(lit(1L << 11)) === 0L))
      .withColumn("month", month(col("ts")))
      .groupBy(monthKey.map(col): _*)
      .agg(percentile(col("B4"), lit(0.5)).as("b4"),
        percentile(col("B8"), lit(0.5)).as("b8"),
        percentile(col("B11"), lit(0.5)).as("b11"))
      // 3: NDVI with the reference's zero-denominator guard
      .withColumn("ndvi",
        when(col("b8") + col("b4") =!= 0.0,
          (col("b8") - col("b4")) / (col("b8") + col("b4"))).otherwise(0.0))

    // 2': S1 monthly medians (no QA; monthly.py:242-256)
    val s1 = obs.filter(col("source") === "S1_GRD")
      .withColumn("month", month(col("ts")))
      .groupBy(monthKey.map(col): _*)
      .agg(percentile(col("VV"), lit(0.5)).as("vv"),
        percentile(col("VH"), lit(0.5)).as("vh"))

    // 4: DW nearest image per (cell, month) within 15 days of midpoint
    val spine = obs.filter(col("source").isin("S2_HARMONIZED", "S1_GRD"))
      .select(col("tile"), col("cell_x"), col("cell_y"),
        date_trunc("month", col("ts")).as("month_start"))
      .distinct()
      .withColumn("month_mid", col("month_start") + expr("INTERVAL 14 DAYS"))
    val dwSrc = obs.filter(col("source") === "DW")
      .select(col("tile"), col("cell_x"), col("cell_y"),
        col("ts").as("dw_ts"), col("dw_label"))
    val dw = AsOfJoin.nearest(spine, dwSrc, cellKey,
        anchorTs = "month_mid", sourceTs = "dw_ts",
        toleranceMs = 1296000000L, tieBreak = "dw_label")
      .select(col("tile"), col("cell_x"), col("cell_y"),
        month(col("month_start")).as("month"),
        coalesce(col("dw_label"), lit(9)).as("dw")) // missing-data class 9

    // 5: static SRTM per cell
    val srtm = obs.filter(col("source") === "SRTM")
      .select(col("tile"), col("cell_x"), col("cell_y"), col("elevation"))

    // 6: label rasterization + DW overlay rule
    val burned = srtm.select(cellKey.map(col): _*)
      .join(broadcast(labels),
        col("cell_x").between(col("xmin"), col("xmax")) &&
        col("cell_y").between(col("ymin"), col("ymax")), "left")
      .groupBy(cellKey.map(col): _*)
      .agg(min(col("cls")).as("raw_label")) // deterministic overlap rule
    val labeled = burned.join(dw.filter(col("month") === 1)
        .select(cellKey.map(col) :+ col("dw").as("dw1"): _*), cellKey)
      .withColumn("label",
        when(col("raw_label").isNull && col("dw1") =!= 4, col("dw1"))
        .otherwise(coalesce(col("raw_label"), lit(0))))
      .select(cellKey.map(col) :+ col("label"): _*)

    // 7: canonical monthly assembly → nested 12-step series
    val monthly = s2.join(s1, monthKey, "full_outer")
      .join(dw, monthKey, "full_outer")
      .select(col("tile"), col("cell_x"), col("cell_y"), col("month"),
        struct(
          coalesce(col("vv"), lit(0.0)).as("vv"),
          coalesce(col("vh"), lit(0.0)).as("vh"),
          coalesce(col("b4"), lit(0.0)).as("b4"),
          coalesce(col("b8"), lit(0.0)).as("b8"),
          coalesce(col("b11"), lit(0.0)).as("b11"),
          coalesce(col("ndvi"), lit(0.0)).as("ndvi"),
          coalesce(col("dw"), lit(9)).as("dw"),
          col("b4").isNull.as("mask_s2"),
          col("vv").isNull.as("mask_s1")).as("step"))
    monthly
      .groupBy(cellKey.map(col): _*)
      .agg(expr("transform(array_sort(collect_list(struct(month, step))), e -> e.step)").as("series"),
        sort_array(collect_list(col("month"))).as("months"))
      .join(broadcast(srtm), cellKey)
      .join(labeled, cellKey)
      .select(col("tile"), col("cell_x"), col("cell_y"), col("label"),
        col("elevation"), col("months"), col("series"))
  }
}
