package graft

import org.apache.spark.sql.functions._
import graft.pipelines.PretrainingTable
import graft.sources.ObservationsGen

class PretrainingTableSpec extends SparkSpec {

  private lazy val out = PretrainingTable.build(
    ObservationsGen.observations(spark)).cache()

  test("every cell yields a full masked example with complementary x/y") {
    val rows = out.collect()
    assert(rows.length == ObservationsGen.Cells)
    rows.foreach { r =>
      val mask = r.getAs[scala.collection.Seq[Boolean]]("mask")
      val x = r.getAs[scala.collection.Seq[Double]]("x_eo")
      val y = r.getAs[scala.collection.Seq[Any]]("y_eo")
      assert(mask.length == 12 && x.length == 12 && y.length == 12)
      for (i <- 0 until 12) {
        if (mask(i)) { assert(x(i) == 0.0); assert(y(i) != null) }
        else { assert(y(i) == null); assert(x(i) != 0.0) }
      }
      val sm = r.getAs[Int]("start_month")
      assert(sm >= 0 && sm < 12)
    }
  }

  test("normalized values are the hand-computable masked medians") {
    // cell 5: month m median of QA-surviving {base, base+10} B8 = base+205
    val r = out.filter(col("cell_x") === 1 && col("cell_y") === 1).collect()(0)
    val mask = r.getAs[scala.collection.Seq[Boolean]]("mask")
    val x = r.getAs[scala.collection.Seq[Double]]("x_eo")
    for (m0 <- 0 until 12 if !mask(m0))
      assert(x(m0) == (5 * 10 + m0 + 205.0) / 400.0, s"month $m0")
  }

  test("masking is reproducible across partitionings") {
    val a = PretrainingTable.build(ObservationsGen.observations(spark).repartition(1))
      .orderBy("cell_x", "cell_y").collect().map(_.toString).toSeq
    val b = PretrainingTable.build(ObservationsGen.observations(spark).repartition(13))
      .orderBy("cell_x", "cell_y").collect().map(_.toString).toSeq
    assert(a == b)
  }
}
