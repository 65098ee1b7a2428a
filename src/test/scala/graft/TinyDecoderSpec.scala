package graft

import graft.operators.{TinyDecoder, TinyEncoder}
import graft.queries.EncoderQueries

/** The MAE decoder's semantic contract: masked positions are actually
  * predicted (not passed through), reconstruction is deterministic
  * and finite, mask-token re-insertion preserves the unmasked
  * tokens' information path, and the end-to-end query runs. */
class TinyDecoderSpec extends SparkSpec {

  private val T = TinyEncoder.NumTimesteps
  private val B = TinyEncoder.NumBands

  private def example(maskedAt: Set[Int], seedVal: Double = 0.25): (Array[Array[Float]], Array[Boolean]) = {
    val mask = Array.tabulate(T)(maskedAt.contains)
    val x = Array.tabulate(T, B)((t, b) =>
      if (mask(t)) 0f
      else if (b == TinyDecoder.B8Band) (seedVal + 0.05 * t).toFloat else 0f)
    (x, mask)
  }

  private def runDecode(maskedAt: Set[Int], seedVal: Double = 0.25): Array[Array[Double]] = {
    val (x, mask) = example(maskedAt, seedVal)
    val ew = TinyEncoder.init(42L)
    val dw = TinyDecoder.init(43L)
    val valid = mask.map(!_)
    val tokens = TinyEncoder.encodeTokens(ew, x, valid)
    val encValid = (0 until T).filter(valid).map(tokens(_)).toArray
    TinyDecoder.decode(dw, encValid, mask, startMonth = 3)
  }

  test("reconstruction covers every timestep and band, finite and deterministic") {
    val r1 = runDecode(Set(2, 5, 9))
    val r2 = runDecode(Set(2, 5, 9))
    assert(r1.length == T && r1.forall(_.length == B))
    for (t <- 0 until T; b <- 0 until B) {
      assert(java.lang.Double.isFinite(r1(t)(b)), s"non-finite at ($t,$b)")
      assert(r1(t)(b) == r2(t)(b), s"nondeterministic at ($t,$b)")
    }
  }

  test("masked positions are genuinely predicted: they respond to the visible context") {
    // same mask, different visible values -> masked-slot predictions move
    val a = runDecode(Set(2, 5, 9), seedVal = 0.25)
    val b = runDecode(Set(2, 5, 9), seedVal = 0.75)
    for (t <- Seq(2, 5, 9))
      assert(a(t)(TinyDecoder.B8Band) != b(t)(TinyDecoder.B8Band),
        s"masked slot $t ignores the visible tokens")
  }

  test("mask-token re-insertion is positional: different masks give different reconstructions") {
    val a = runDecode(Set(2, 5, 9))
    val b = runDecode(Set(3, 5, 9))
    assert(a.flatten.toSeq != b.flatten.toSeq)
  }

  test("decode rejects a token count that disagrees with the mask") {
    val (x, mask) = example(Set(0))
    val ew = TinyEncoder.init(42L)
    val tokens = TinyEncoder.encodeTokens(ew, x, mask.map(!_))
    intercept[IllegalArgumentException] {
      TinyDecoder.decode(TinyDecoder.init(43L), tokens, mask, 0) // 12 tokens, 11 expected
    }
  }

  test("q_mae_reconstruct runs end-to-end: all masked slots scored, finite MSE") {
    val rows = EncoderQueries.qMaeReconstruct(spark)
      .select("n_masked", "masked_mse").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getInt(0) > 0) // fixture masks ~half the slots per row
      assert(java.lang.Double.isFinite(r.getDouble(1)))
    }
    // deterministic across runs
    val again = EncoderQueries.qMaeReconstruct(spark)
      .select("n_masked", "masked_mse").collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }
}
