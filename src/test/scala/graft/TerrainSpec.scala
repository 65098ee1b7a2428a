package graft

import org.apache.spark.sql.functions._
import graft.functions.TerrainOps
import graft.queries.RasterQueries

/** Hand-computed 3×3 plane fixtures for the ee.Terrain trig closures
  * (libm keeps them out of the DuckDB oracle; the gradient feed
  * itself is oracle-checked as q_terrain_gradient). Each fixture is a
  * 3×3 grid z(x,y); the central-difference gradient at the center
  * cell (1,1) feeds slope/aspect/hillshade, asserted against values
  * derived by hand. Geometry: x east, y north, spacing 1; sun at
  * azimuth 270°, elevation 45° (the EE defaults). */
class TerrainSpec extends SparkSpec {

  private def centerGrad(z: (Int, Int) => Double): (Double, Double) =
    ((z(2, 1) - z(0, 1)) / 2.0, (z(1, 2) - z(1, 0)) / 2.0)

  private def terrain(g: (Double, Double)): (Double, Double, Double) = {
    import spark.implicits._
    val r = Seq(g).toDF("dzdx", "dzdy").select(
      TerrainOps.slopeDeg(col("dzdx"), col("dzdy")),
      TerrainOps.aspectDeg(col("dzdx"), col("dzdy")),
      TerrainOps.hillshade(col("dzdx"), col("dzdy"))).head()
    (r.getDouble(0), r.getDouble(1), r.getDouble(2))
  }

  private val eps = 1e-9

  test("west-facing 45-degree plane z = x: sun-aligned, fully lit") {
    val (slope, aspect, hs) = terrain(centerGrad((x, _) => x.toDouble))
    // dzdx = 1 → slope 45°; steepest descent points west (270°);
    // sun azimuth 270° dead-on: cos45·cos45 + sin45·sin45·cos0 = 1.
    assert(math.abs(slope - 45.0) < eps)
    assert(math.abs(aspect - 270.0) < eps)
    assert(math.abs(hs - 255.0) < eps)
  }

  test("east-facing 45-degree plane z = -x: sun directly behind, dark") {
    val (slope, aspect, hs) = terrain(centerGrad((x, _) => -x.toDouble))
    // descent east (90°); cos(270°−90°) = −1 → 0.5 − 0.5 = 0.
    assert(math.abs(slope - 45.0) < eps)
    assert(math.abs(aspect - 90.0) < eps)
    assert(math.abs(hs - 0.0) < eps)
  }

  test("south-facing plane z = y: slope 45, aspect 180, grazing sun") {
    val (slope, aspect, hs) = terrain(centerGrad((_, y) => y.toDouble))
    // cos(270°−180°) = 0 → 255·0.5 = 127.5.
    assert(math.abs(slope - 45.0) < eps)
    assert(math.abs(aspect - 180.0) < eps)
    assert(math.abs(hs - 127.5) < eps)
  }

  test("north-facing steeper plane z = -2y: slope atan(2), aspect 0") {
    val (slope, aspect, _) = terrain(centerGrad((_, y) => -2.0 * y))
    assert(math.abs(slope - 63.43494882292201) < eps)
    assert(math.abs(aspect - 0.0) < eps)
  }

  test("flat plane: slope 0, aspect 0 by convention, hillshade 255·cos(zenith)") {
    val (slope, aspect, hs) = terrain(centerGrad((_, _) => 7.5))
    assert(math.abs(slope - 0.0) < eps)
    assert(math.abs(aspect - 0.0) < eps)
    assert(math.abs(hs - 180.31222920256963) < eps)
  }

  test("q_terrain runs end-to-end with in-range outputs") {
    val rows = RasterQueries.qTerrain(spark, "/root/testdata/sf0.001")
      .select("slope_deg", "aspect_deg", "hillshade").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) < 90.0)
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) < 360.0)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 255.0)
    }
  }
}
