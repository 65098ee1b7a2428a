package graft

import org.apache.spark.sql.functions._
import graft.expressions.CosineSimilarity

class CatalystExtensionsSpec extends SparkSpec {

  test("SimplifyBitmaskConjunction folds same-column zero-mask tests") {
    import spark.implicits._
    // spark.range is not constant-folded, so the optimized filter is inspectable
    val df = spark.range(0, 33).toDF("k")
      .filter((col("k").bitwiseAND(lit(3L)) === 0L) &&
              (col("k").bitwiseAND(lit(12L)) === 0L))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("& 15"), s"rule did not fire:\n$optimized")
    // semantics preserved: only multiples of 16 (and 0) survive
    assert(df.as[Long].collect().sorted.toSeq == Seq(0L, 16L, 32L))
  }

  test("rule leaves different-column masks alone") {
    import spark.implicits._
    val df = Seq((4L, 2L)).toDF("a", "b")
      .filter((col("a").bitwiseAND(lit(3L)) === 0L) &&
              (col("b").bitwiseAND(lit(12L)) === 0L))
    assert(df.count() == 1)
  }

  test("cosine_sim matches the declarative fold and handles edge cases") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(-1.0f, 2.5f), Array(3.0f, -4.0f)),
    ).toDF("a", "b")
    val native = df.select(expr("cosine_sim(a, b)").as("c")).as[Option[Double]].collect()
    val folded = df.select(
      (expr("aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (acc, v) -> acc + v)") /
        (sqrt(expr("aggregate(zip_with(a, a, (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (acc, v) -> acc + v)")) *
         sqrt(expr("aggregate(zip_with(b, b, (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (acc, v) -> acc + v)"))))
        .as("c")).as[Option[Double]].collect()
    assert(native.toSeq == folded.toSeq) // bit-identical, incl. exact 1.0 self-sim path
    assert(native(0).contains(1.0))
    assert(native(1).contains(0.0))
    // zero vector → NULL, not NaN
    val z = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
      .select(expr("cosine_sim(a, b)").as("c")).as[Option[Double]].collect()
    assert(z(0).isEmpty)
  }

  test("cosine_sim interpreted eval agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val mk = (xs: Array[Float]) => Literal.create(ArrayData.toArrayData(xs),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, false))
    val e = CosineSimilarity(mk(Array(1f, 2f)), mk(Array(2f, 1f)))
    val expected = (1.0 * 2.0 + 2.0 * 1.0) / (math.sqrt(5.0) * math.sqrt(5.0))
    assert(e.eval(null) == expected)
  }

  test("l2_sq matches the declarative fold bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.5f, -2.25f), Array(0.5f, 4.0f)),
      (Array(0.1f, 0.2f, 0.3f), Array(-0.3f, 0.7f, 1.9f)),
    ).toDF("a", "b")
    val native = df.select(expr("l2_sq(a, b)").as("d")).as[Double].collect()
    val folded = df.select(expr(
      """aggregate(zip_with(a, b,
        |  (x, y) -> (cast(x AS double) - cast(y AS double)) * (cast(x AS double) - cast(y AS double))),
        |  0D, (acc, v) -> acc + v)""".stripMargin).as("d")).as[Double].collect()
    assert(native.toSeq == folded.toSeq)
    assert(native(0) == 0.0)
  }

  test("l2_sq and cosine_sim coexist in one codegen scope without local-name collisions") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(2.0f, 0.0f))).toDF("a", "b")
    val row = df.select(
      expr("l2_sq(a, b)").as("d1"), expr("l2_sq(b, a)").as("d2"),
      expr("cosine_sim(a, b)").as("c1"), expr("cosine_sim(b, a)").as("c2")).head()
    assert(row.getDouble(0) == 5.0 && row.getDouble(1) == 5.0)
    assert(row.getDouble(2) == row.getDouble(3))
  }

  test("l2_sq truncates to the common prefix on mismatched lengths (documented divergence from the fold)") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(2.0f, 2.0f))).toDF("a", "b")
    assert(df.select(expr("l2_sq(a, b)")).head().getDouble(0) == 1.0)
  }

  test("l2_sq interpreted eval agrees with the hand-computed value") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val mk = (xs: Array[Float]) => Literal.create(ArrayData.toArrayData(xs),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, false))
    val e = graft.expressions.L2Squared(mk(Array(1f, 2f)), mk(Array(3f, -1f)))
    assert(e.eval(null) == (2.0 * 2.0 + 3.0 * 3.0))
  }

  test("cosine_sim rejects non-float-array inputs at analysis") {
    import spark.implicits._
    val err = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b").select(expr("cosine_sim(a, b)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array"), err.getMessage)
  }
}
