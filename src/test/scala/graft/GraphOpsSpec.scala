package graft

import org.apache.spark.sql.functions._
import graft.operators.{GraphOps, ScaleOps}

/** Connected components: correctness of the min-label fixpoint on
  * shapes that stress the iteration (long paths need multiple
  * propagation rounds; the convergence check must not stop early). */
class GraphOpsSpec extends SparkSpec {

  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = edges.toDF("src", "dst")
    GraphOps.connectedComponents(df, "src", "dst")
      .as[(Long, Long)].collect().toMap
  }

  test("a path graph propagates the min label across the full diameter") {
    // 1-2-3-4-5-6-7: label 1 needs 6 rounds to reach node 7
    val cc = components(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)))
    assert(cc == (1L to 7L).map(_ -> 1L).toMap)
  }

  test("disjoint components keep distinct representatives") {
    val cc = components(Seq((5L, 9L), (9L, 7L), (20L, 30L), (40L, 41L), (41L, 40L)))
    assert(cc(5L) == 5L && cc(9L) == 5L && cc(7L) == 5L)
    assert(cc(20L) == 20L && cc(30L) == 20L)
    assert(cc(40L) == 40L && cc(41L) == 40L)
  }

  test("edge direction does not matter (symmetrized internally)") {
    val a = components(Seq((3L, 1L), (2L, 3L)))
    val b = components(Seq((1L, 3L), (3L, 2L)))
    assert(a == b && a.values.toSet == Set(1L))
  }

  test("empty edge set yields an empty labelling") {
    assert(components(Seq.empty).isEmpty)
  }

  test("large-star/small-star CC matches label propagation on path, clique, and random graphs") {
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.as[(Long, Long)].collect().toMap
    // long path (diameter stress: star CC must finish in O(log n) rounds)
    val path = (1L to 40L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("src", "dst")
    assert(labelsOf(GraphOps.connectedComponentsStar(path, "src", "dst"))
      == labelsOf(GraphOps.connectedComponents(path, "src", "dst")))
    // clique + disjoint pair
    val clique = (for (i <- 1L to 6L; j <- (i + 1) to 6L) yield (i, j)) :+ ((100L, 101L))
    val cliqueDf = clique.toDF("src", "dst")
    assert(labelsOf(GraphOps.connectedComponentsStar(cliqueDf, "src", "dst"))
      == labelsOf(GraphOps.connectedComponents(cliqueDf, "src", "dst")))
    // deterministic pseudo-random graph, several components
    val rng = new scala.util.Random(7)
    val rand = (1 to 120).map(_ => (rng.nextInt(60).toLong, rng.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    assert(labelsOf(GraphOps.connectedComponentsStar(rand, "src", "dst"))
      == labelsOf(GraphOps.connectedComponents(rand, "src", "dst")))
  }

  test("star CC on an empty edge set yields an empty labelling") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphOps.connectedComponentsStar(empty, "src", "dst").count() == 0)
  }

  test("both CC variants label self-loop-only nodes with themselves") {
    // node 9 appears ONLY in a self-loop; node 1-2 is a normal pair with
    // an extra self-loop on 2 — the output contract must match exactly
    val g = Seq((1L, 2L), (2L, 2L), (9L, 9L)).toDF("src", "dst")
    val prop = GraphOps.connectedComponents(g, "src", "dst")
      .as[(Long, Long)].collect().toMap
    val star = GraphOps.connectedComponentsStar(g, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(prop == Map(1L -> 1L, 2L -> 1L, 9L -> 9L))
    assert(star == prop, "star CC diverges from label propagation on self-loop input")
  }

  test("a fixpoint loop that does not converge fails by name and frees every round") {
    // ids copied out: a key-set view would hold the RDDs alive
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keysIterator.toSet
    val start = persisted
    val seed = ScaleOps.materializeOnce(Seq(1L, 2L, 3L).toDF("x"))
    val loopOnly = ScaleOps.materializeOnce(Seq(7L).toDF("y"))
    var rounds = 0
    val e = intercept[IllegalArgumentException] {
      ScaleOps.fixpoint("probe", 3, seed, Some(0L), Seq(loopOnly)) { cur =>
        cur.select((col("x") + 1).as("x"))
      } { (next, _, total) =>
        rounds += 1
        // the sum grows every round: never a fixpoint
        Some(total + next.agg(sum(col("x"))).head().getLong(0))
      }
    }
    assert(e.getMessage == "requirement failed: probe did not converge in 3 rounds")
    assert(rounds == 3)
    // released by the loop itself, not left to the ContextCleaner
    val held = persisted -- start
    assert(held.isEmpty, s"RDDs persisted by the failed loop are still held: ${held.toSeq.sorted}")
  }

  test("q_dup_clusters representatives are cluster minima and sizes are consistent") {
    val df = SparkEntry.queries("q_dup_clusters")(spark, "/root/testdata/sf0.001")
    val rows = df.select("doc_id", "cluster_rep", "cluster_size")
      .as[(Long, Long, Long)].collect()
    if (rows.nonEmpty) {
      val byCluster = rows.groupBy(_._2)
      for ((rep, members) <- byCluster) {
        assert(members.map(_._1).min == rep, s"rep $rep is not the min doc_id")
        assert(members.forall(_._3 == members.size), s"cluster $rep size column inconsistent")
        assert(members.size >= 2, s"cluster $rep has a single member — pairs guarantee >= 2")
      }
    }
  }

  test("pageRank: hand-computed star graph, one round") {
    // symmetric star a=1 center, leaves 2 and 3; after one round:
    // r(a) = 0.15/3 + 0.85*(1/3/1 + 1/3/1), r(leaf) = 0.15/3 + 0.85*(1/3/2)
    val g = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = GraphOps.pageRank(g, "src", "dst", iters = 1)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._3).toMap
    val third = math.floor(1.0 / 3 / 1 * 1e12) // quantized leaf contribution
    val expA = 0.15 / 3 + 0.85 * ((third + third) / 1e12)
    val expLeaf = 0.15 / 3 + 0.85 * (math.floor(1.0 / 3 / 2 * 1e12) / 1e12)
    assert(math.abs(r(1L) - expA) < 1e-12, s"center: ${r(1L)} vs $expA")
    assert(math.abs(r(2L) - expLeaf) < 1e-12)
    assert(r(2L) == r(3L), "symmetric leaves must tie exactly")
  }

  test("pageRank conserves rank mass on a symmetric graph and rewards degree") {
    val df = SparkEntry.queries("q_pagerank")(spark, "/root/testdata/sf0.001")
    val rows = df.as[(Long, Long, Double)].collect()
    assert(rows.length == 50)
    // suppliers (node < 1e6) have ~20x the degree of parts — every
    // supplier node (10 at sf0.001) must outrank the part tail, with a
    // supplier at #1
    assert(rows.head._1 < 1000000L, "rank #1 should be the high-degree side")
    assert(rows.count(_._1 < 1000000L) == 10, "all 10 suppliers in the top-50")
    // mass conservation over the FULL rank vector (no dangling nodes):
    // quantization loses < 1e-12 per (node, round)
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val pairs = li.select(col("l_suppkey").as("src"),
      (col("l_partkey") + lit(1000000L)).as("dst")).distinct()
    val sym = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val full = GraphOps.pageRank(sym, "src", "dst", iters = 3)
    val n = full.count()
    val mass = full.agg(sum(col("rank"))).head().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-6 * n, s"mass $mass drifted (n=$n)")
  }

  test("weighted sample: exactly the top-30 priorities, recomputed independently") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q_weighted_sample")(spark, dir)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 30)
    // recompute every doc's priority via an independent jvm-side md5
    val docs = Tables.documents(spark, dir).select("doc_id", "n_chars")
      .as[(Long, Long)].collect()
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val all = docs.map { case (id, w) =>
      val h = java.lang.Long.parseLong(md5hex(s"ws|$id").take(6), 16)
      (id, w, w.toDouble * 16777216.0 / (h.toDouble + 0.5))
    }
    val expect = all.sortBy(t => (-t._3, t._1)).take(30)
    assert(out.sortBy(t => (-t._3, t._1)).toSeq == expect.toSeq)
  }

  test("triangles: K4, path, star, and noisy-input fixtures") {
    import graft.operators.GraphOps
    // K4 = 4 triangles; enumeration is exact and deduped
    val k4 = (for (a <- 1 to 4; b <- 1 to 4 if a < b) yield (a.toLong, b.toLong))
      .toDF("src", "dst")
    val t4 = GraphOps.triangles(k4, "src", "dst").collect()
    assert(t4.length == 4)
    assert(t4.map(r => Set(r.getLong(0), r.getLong(1), r.getLong(2))).distinct.length == 4)
    // path and star are triangle-free
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(GraphOps.triangles(path, "src", "dst").count() == 0)
    val star = (2 to 6).map(i => (1L, i.toLong)).toDF("src", "dst")
    assert(GraphOps.triangles(star, "src", "dst").count() == 0)
    // duplicates (both orders) and self-loops don't change the census
    val noisy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 3L), (1L, 2L))
      .toDF("src", "dst")
    assert(GraphOps.triangles(noisy, "src", "dst").count() == 1)
  }

  test("ewma: first observation passes through, result stays inside the window hull") {
    val out = SparkEntry.queries("q_ewma")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("i"),
        r.getAs[Long]("n_window"), r.getAs[Double]("ewma")))
    assert(out.nonEmpty)
    assert(out.forall(_._3 <= 20), "window wider than 20")
    assert(out.forall(t => t._3 == math.min(t._2, 20L)), "window width must be min(i, 20)")
    // i = 1 rows: ewma == floor-quantized x_1 (weight exactly 1.0)
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .where(col("user_id") < 50)
    val firsts = ev.withColumn("i", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
      .where(col("i") === 1)
      .select("user_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((u, i, _, e) <- out if i == 1L) {
      val x = firsts(u)
      assert(math.abs(e - math.floor(x * 1e6) / 1e6) < 2e-6, s"user $u first ewma $e vs $x")
    }
  }

  test("first-touch attribution: totals reconcile with the raw purchase sum") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q_attribution")(spark, dir).collect()
    val ev = Tables.events(spark, dir)
    // every user has a first event, so attribution partitions users and
    // loses no revenue
    assert(out.map(_.getAs[Long]("n_users")).sum == ev.select("user_id").distinct().count())
    val attributed = out.map(_.getAs[Double]("revenue")).sum
    val raw = ev.where(col("event_type") === "purchase")
      .agg(sum(col("value"))).head().getDouble(0)
    assert(math.abs(attributed - raw) < 1e-6, s"$attributed vs $raw")
  }
}
