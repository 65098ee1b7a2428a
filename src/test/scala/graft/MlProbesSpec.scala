package graft

import graft.operators.MlProbes
import org.apache.spark.storage.StorageLevel

/** Probe mechanics. Note on expectations: the synthetic embeddings
  * carry no real per-vector class signal (KNN/LR/RF all land at the
  * ~10 % 10-class baseline; the centroid-assignment diagonal is
  * self-inclusion bias), so these specs assert determinism, split
  * sanity and metric bounds — not accuracy floors. */
class MlProbesSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")

  /** A probe releases the table it cached: no CacheManager entry for
    * it may outlive the call in the shared session. Other suites' own
    * cached tables are not this spec's to judge, so the check looks up
    * the probe's table rather than asking for an empty cache. */
  private def assertProbeTableReleased(): Unit =
    assert(MlProbes.prepare(emb).storageLevel == StorageLevel.NONE,
      "a probe left its prepared table cached")

  test("logistic probe trains, scores the val split, reports bounded metrics") {
    val r = MlProbes.logisticProbe(emb)
    assert(r.nTrain > 300 && r.nVal > 90) // ~75/25 hash split of 500
    assert(r.nTrain + r.nVal == 500)
    assert(r.accuracy >= 0.0 && r.accuracy <= 1.0)
    assert(r.f1 >= 0.0 && r.f1 <= 1.0)
    assertProbeTableReleased()
  }

  test("random-forest probe is seed-deterministic") {
    val a = MlProbes.forestProbe(emb, seed = 42L)
    assertProbeTableReleased()
    val b = MlProbes.forestProbe(emb, seed = 42L)
    assertProbeTableReleased()
    assert(a.accuracy == b.accuracy && a.f1 == b.f1)
    assert(a.accuracy >= 0.0 && a.accuracy <= 1.0)
  }
}
