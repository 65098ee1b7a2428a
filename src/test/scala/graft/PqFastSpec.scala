package graft

import graft.queries.VectorQueries

/** The l2_sq engine-path PQ encoder must assign the same codes as the
  * declared floor-quantized path. The two argmin over slightly
  * different arithmetic (raw-double fused loop vs per-element 1e-9
  * floor sums) can only diverge when two codebook entries are within
  * ~1e-9 of the same distance — which real float data doesn't
  * produce; this spec pins exact equality on the fixtures so any
  * future drift (slicing bug, tie-break change, codebook mismatch)
  * fails loudly. */
class PqFastSpec extends SparkSpec {

  private def codesOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

  test("fast and quantized PQ encoders assign identical codes at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val fast = codesOf(VectorQueries.pqCodesFast(spark, dir))
    val slow = codesOf(VectorQueries.pqCodesQuantized(spark, dir))
    assert(fast.nonEmpty)
    assert(fast == slow,
      s"only-fast=${(fast -- slow).take(5)} only-quantized=${(slow -- fast).take(5)}")
  }

  test("fast encoder emits exactly 8 subspace codes per vector") {
    val dir = "/root/testdata/sf0.001"
    val perVec = VectorQueries.pqCodesFast(spark, dir)
      .groupBy("vec_id").count().collect()
    assert(perVec.nonEmpty && perVec.forall(_.getLong(1) == 8L))
  }

  test("training moves the codebook: trained codes differ from sample codes somewhere") {
    // Lloyd refinement with real data must relocate at least one
    // centroid enough to change an assignment; identical outputs would
    // mean the training stage is silently wired to the wrong codebook
    val dir = "/root/testdata/sf0.001"
    val sample = codesOf(VectorQueries.pqCodesQuantized(spark, dir))
    val trained = codesOf(VectorQueries.pqCodesQuantizedTrained(spark, dir))
    assert(trained.nonEmpty)
    assert(trained != sample, "trained codebook produced identical assignments to the sample codebook")
  }
}
