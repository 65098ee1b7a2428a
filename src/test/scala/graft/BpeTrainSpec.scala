package graft

import org.apache.spark.sql.functions._

/** Properties of the full BPE train beyond the oracle hash: the
  * compression trajectory is strictly monotone, merge frequencies are
  * non-increasing (a merge can only create pairs rarer than itself),
  * the merge table + final vocab form a CONSISTENT tokenizer (every
  * trained symbol string expands losslessly back to its source word),
  * and the re-tokenized corpus totals reconcile exactly with the
  * trajectory's final point. */
class BpeTrainSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val merges = SparkEntry.queries("q_bpe_train")(spark, dir)
    .orderBy(col("merge_idx")).collect()
    .map(r => (r.getAs[Int]("merge_idx"), r.getAs[Int]("lhs_code"),
      r.getAs[Int]("rhs_code"), r.getAs[Long]("pair_count"),
      r.getAs[Long]("total_syms")))

  test("merge indices are 1..n with no gaps; codes are letters or earlier merges") {
    assert(merges.nonEmpty)
    assert(merges.map(_._1).toSeq == (1 to merges.length))
    // merge round N mints integer code 255+N: a pair side is either a
    // letter codepoint or a code minted by a STRICTLY EARLIER round
    for ((idx, lhs, rhs, _, _) <- merges; code <- Seq(lhs, rhs))
      assert((code >= 'a'.toInt && code <= 'z'.toInt) ||
        (code >= 256 && code < 255 + idx),
        s"merge $idx references invalid symbol $code")
  }

  test("compression is strictly monotone and merge counts non-increasing") {
    val totals = merges.map(_._5)
    assert(totals.zip(totals.tail).forall { case (a, b) => b < a },
      "total_syms must strictly decrease every round")
    val counts = merges.map(_._4)
    assert(counts.forall(_ > 0))
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      "pair_count must be non-increasing across rounds")
  }

  test("final vocab expands losslessly back to the source words") {
    // expansion map: letter codes expand to themselves; code 255+i
    // expands to exp(lhs) + exp(rhs) of merge i (well-founded: pair
    // codes come from strictly earlier rounds)
    val exp = scala.collection.mutable.Map.empty[Int, String]
    def expand(code: Int): String =
      if (code < 256) code.toChar.toString else exp(code)
    for ((idx, lhs, rhs, _, _) <- merges)
      exp(255 + idx) = expand(lhs) + expand(rhs)
    val vocab = graft.operators.BpeTrain.model(spark, dir)
      .filter(col("kind") === "vocab")
      .select(col("word0"), col("word")).collect()
    assert(vocab.nonEmpty)
    val W = graft.operators.BpeTrain.TokW
    vocab.foreach { r =>
      val w0 = r.getString(0); val w = r.getString(1)
      assert(w.length % W == 0, s"carrier not $W-aligned for '$w0'")
      val codes = w.grouped(W).map { t =>
        assert(t.charAt(0) == 'g', s"bad token '$t' in '$w0'")
        t.substring(1).toInt
      }.toSeq
      assert(codes.map(expand).mkString == w0,
        s"vocab entry for '$w0' does not expand back")
    }
  }

  test("training exhausts early on a tiny corpus, in both engines identically") {
    // a corpus whose merge space runs dry long before V: the loop must
    // STOP (not emit null/empty merges), the vocab must be fully
    // collapsed, and the DuckDB recursive oracle must agree row-for-row
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_tiny").toString
    Seq((0L, "ab ab cd", "en", "s", 8L), (1L, "ab cd cd", "en", "s", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val merges = SparkEntry.queries("q_bpe_train")(spark, dir)
      .orderBy(col("merge_idx")).collect()
    assert(merges.length < graft.operators.BpeTrain.V,
      "tiny corpus cannot sustain V merges")
    assert(merges.nonEmpty)
    // every word is 2 letters: after its pair merges, all words are
    // single symbols — exactly 2 merges ('ab' then 'cd')
    assert(merges.length == 2)
    assert(merges.map(r => (r.getAs[Int]("lhs_code").toChar,
      r.getAs[Int]("rhs_code").toChar)).toSeq == Seq(('a', 'b'), ('c', 'd')))
    // total_syms: 6 words × 2 chars = 12 → 9 (3 'ab' collapse) → 6
    assert(merges.map(_.getAs[Long]("total_syms")).toSeq == Seq(9L, 6L))
    // the DuckDB oracle, run over the same tiny corpus, agrees exactly
    val duck = new java.io.File("/usr/bin/python3").exists()
    if (duck) {
      import scala.sys.process._
      val sql = SparkEntry.oracleSql("q_bpe_train")
        .replace("FROM documents", s"FROM read_parquet('$dir/documents.parquet/*.parquet')")
      val script =
        s"""import duckdb, json
           |rows = duckdb.connect().execute(${"\"\"\""}$sql${"\"\"\""}).fetchall()
           |print(json.dumps(sorted(rows)))""".stripMargin
      val f = java.nio.file.Files.createTempFile("bpe_oracle", ".py")
      java.nio.file.Files.writeString(f, script)
      val out = Seq("python3", f.toString).!!.trim
      val expect = merges.map(r => Seq(r.getAs[Int]("merge_idx"),
        r.getAs[Int]("lhs_code"), r.getAs[Int]("rhs_code"),
        r.getAs[Long]("pair_count"), r.getAs[Long]("total_syms"))
        .mkString("[", ", ", "]")).mkString("[", ", ", "]")
      assert(out == expect, s"oracle disagreed on exhaustion: $out vs $expect")
    }
  }

  test("re-tokenized corpus totals reconcile with the trajectory") {
    val toks = SparkEntry.queries("q_bpe_train_tokens")(spark, dir)
      .agg(sum(col("n_tokens")), sum(col("n_chars"))).head()
    val (nTokens, nChars) = (toks.getLong(0), toks.getLong(1))
    assert(nTokens == merges.last._5,
      s"per-doc token total $nTokens != final total_syms ${merges.last._5}")
    assert(nTokens < nChars, "training must compress the corpus")
  }

  test("batch-parallel scale train: V=4096 reached, batches disjoint") {
    // sf0.001 keeps the spec fast; the oracle hash-grades sf0.01
    val rows = SparkEntry.queries("q_bpe_train_scale")(spark, dir)
      .orderBy(col("merge_idx")).collect()
      .map(r => (r.getAs[Int]("merge_idx"), r.getAs[Int]("lhs_code"),
        r.getAs[Int]("rhs_code"), r.getAs[Long]("pair_count"),
        r.getAs[Int]("round_idx")))
    val v = graft.operators.BpeTrain.Vscale
    assert(rows.length == v, s"expected $v merges, got ${rows.length}")
    assert(rows.map(_._1).toSeq == (1 to v), "merge indices gapless")
    // round indices are non-decreasing and 1-based contiguous
    val rids = rows.map(_._5)
    assert(rids.head == 1 && rids.toSeq == rids.sorted.toSeq)
    assert(rids.distinct.toSeq == (1 to rids.max), "rounds contiguous")
    rows.groupBy(_._5).foreach { case (rd, batch) =>
      // within a round: selection counts non-increasing in merge order
      val cs = batch.sortBy(_._1).map(_._4)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        s"round $rd counts not ranked")
      // pairwise symbol-disjoint — the rule that makes simultaneous
      // application order-independent (a self-pair (a,a) is one
      // symbol, so dedupe within each pair before the cross check)
      val syms = batch.flatMap(b => Set(b._2, b._3).toSeq)
      assert(syms.distinct.length == syms.length,
        s"round $rd batch shares symbols")
    }
    // every pair side is a base symbol ('.' or a-z) or an EARLIER code
    rows.foreach { case (idx, lhs, rhs, _, _) =>
      def ok(c: Int) = c == '.'.toInt ||
        (c >= 'a'.toInt && c <= 'z'.toInt) || (c > 255 && c < 256 + idx)
      assert(ok(lhs) && ok(rhs), s"merge $idx refs future code ($lhs,$rhs)")
    }
    // deterministic: a second train yields the identical table
    val again = SparkEntry.queries("q_bpe_train_scale")(spark, dir)
      .orderBy(col("merge_idx")).collect()
      .map(r => (r.getAs[Int]("merge_idx"), r.getAs[Int]("lhs_code"),
        r.getAs[Int]("rhs_code"), r.getAs[Long]("pair_count"),
        r.getAs[Int]("round_idx")))
    assert(again.toSeq == rows.toSeq, "train is not deterministic")
  }

  test("V=32k measured arm: same invariants at realistic vocabulary") {
    // sf0.001's 5-gram inventory may exhaust below V=32768 (capacity
    // is structural — the pretoken prefix tree); the invariants hold
    // either way, and sf0.01+ reaches full V (asserted in the 32768-
    // row Verify dump; this spec stays sf0.001-fast). The arm is
    // bench-measured + rows-checked, not oracle-graded — see the
    // oracle-cost ceiling note on BpeTrain.train32k; the V=4096
    // oracle pins the byte-identical code path.
    val rows = SparkEntry.queries("q_bpe_train_32k")(spark, dir)
      .orderBy(col("merge_idx")).collect()
      .map(r => (r.getAs[Int]("merge_idx"), r.getAs[Int]("lhs_code"),
        r.getAs[Int]("rhs_code"), r.getAs[Long]("pair_count"),
        r.getAs[Int]("round_idx")))
    assert(rows.nonEmpty && rows.length <= graft.operators.BpeTrain.V32)
    assert(rows.map(_._1).toSeq == (1 to rows.length), "indices gapless")
    val rids = rows.map(_._5)
    assert(rids.head == 1 && rids.toSeq == rids.sorted.toSeq)
    assert(rids.distinct.toSeq == (1 to rids.max), "rounds contiguous")
    rows.groupBy(_._5).foreach { case (rd, batch) =>
      val cs = batch.sortBy(_._1).map(_._4)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        s"round $rd counts not ranked")
      val syms = batch.flatMap(b => Set(b._2, b._3).toSeq)
      assert(syms.distinct.length == syms.length,
        s"round $rd batch shares symbols")
    }
    rows.foreach { case (idx, lhs, rhs, _, _) =>
      def ok(c: Int) = c == '.'.toInt ||
        (c >= 'a'.toInt && c <= 'z'.toInt) || (c > 255 && c < 256 + idx)
      assert(ok(lhs) && ok(rhs), s"merge $idx refs future code ($lhs,$rhs)")
    }
  }

  /** Independent NAIVE reference trainer for the batched loop: every
    * round rebuilds the full pair-count table from scratch, fully
    * sorts all candidates, applies the same top-T window + symbol-
    * disjointness rule, and rewrites EVERY word left-to-right. No
    * incremental map, no inverted index, no partial sort — the
    * textbook restatement of the semantics the V=4096 DuckDB oracle
    * grades, written against the spec (not the engine's structures). */
  private def naiveMergeLoop(words0: Array[Array[Int]], wcnt: Array[Long],
      v: Int, t: Int): Vector[(Int, Int, Int, Long, Int)] = {
    val words = words0.map(_.clone)
    val out = Vector.newBuilder[(Int, Int, Int, Long, Int)]
    var nm = 0
    var round = 0
    var go = true
    while (nm < v && go) {
      val cnt = scala.collection.mutable.HashMap.empty[Long, Long]
      for (i <- words.indices) {
        val w = words(i)
        var j = 0
        while (j < w.length - 1) {
          val k = w(j).toLong << 20 | w(j + 1)
          cnt(k) = cnt.getOrElse(k, 0L) + wcnt(i)
          j += 1
        }
      }
      if (cnt.isEmpty) go = false
      else {
        // full sort: count DESC, key ASC (keys unique → total order)
        val sorted = cnt.toArray.sortBy { case (k, c) => (-c, k) }
        val kTop = math.min(t, sorted.length)
        val used = scala.collection.mutable.Set.empty[Int]
        val sel = Vector.newBuilder[(Int, Int, Long)]
        for (r <- 0 until kTop) {
          val (key, c) = sorted(r)
          val lhs = (key >> 20).toInt
          val rhs = (key & 0xfffff).toInt
          val blocked = used.contains(lhs) || used.contains(rhs)
          used += lhs
          used += rhs
          if (!blocked) sel += ((lhs, rhs, c))
        }
        val selected = sel.result()
        if (selected.isEmpty) go = false
        else {
          round += 1
          val code = scala.collection.mutable.HashMap.empty[Long, Int]
          selected.foreach { case (lhs, rhs, c) =>
            nm += 1
            code(lhs.toLong << 20 | rhs) = 255 + nm
            if (nm <= v) out += ((nm, lhs, rhs, c, round))
          }
          for (i <- words.indices) {
            val w = words(i)
            val nw = Array.newBuilder[Int]
            var j = 0
            while (j < w.length) {
              val m = if (j + 1 < w.length)
                code.get(w(j).toLong << 20 | w(j + 1)) else None
              m match {
                case Some(x) => nw += x; j += 2
                case None    => nw += w(j); j += 1
              }
            }
            words(i) = nw.result()
          }
        }
      }
    }
    out.result()
  }

  test("incremental 32k-arm loop is identical to a naive reference trainer") {
    // The committed in-repo witness for q_bpe_train_32k's rows-only
    // oracle entry (see the oracle-cost ceiling note on
    // BpeTrain.train32k): the engine's incremental loop — open-
    // addressing pair map with decrements, stale-tolerant inverted
    // index, partial top-T quicksort — must produce a merge table
    // BYTE-IDENTICAL to the naive rebuild-and-full-sort trainer
    // above, at the 32k arm's gram width and reduced-but-realistic
    // knobs (V=2048, M=4096, T=512 exercises map growth, pair-count
    // decrements to zero, stale index visits, and psort's kTop
    // pruning; thousands of candidates per round survive to the
    // window).
    val (words, wcnt) = arm32kInputs
    assertMatchesNaive(words, wcnt)
  }

  test("legacy gather + two-array psort (counts >= 2^23) matches the naive trainer") {
    // The incremental store packs counts into 23 bits; once any pair
    // count reaches 2^23 the loop falls back for good to the legacy
    // gather + two-array psort. Scaling every word count by 2^23 makes
    // every pair count overflow the pack on round 1, so this case runs
    // that fallback from the first round to the last.
    val (words, wcnt0) = arm32kInputs
    assert(wcnt0.forall(_ >= 1L) && words.exists(_.length >= 2),
      "scaled input must hold a pair whose count overflows the pack")
    val wcnt = wcnt0.map(_ * (1L << 23))
    val got = assertMatchesNaive(words, wcnt)
    assert(got.forall(_._4 >= (1L << 23)))
  }

  /** The 32k arm's gram width at reduced-but-realistic knobs; both
    * loops clone the words before mutating them, so cases share it. */
  private lazy val arm32kInputs: (Array[Array[Int]], Array[Long]) = {
    val (words, wcnt) =
      graft.operators.BpeTrain.artifact(spark, dir, m = 4096, gram = 5)
    assert(words.length > 512, "artifact too small to exercise the loop")
    (words, wcnt)
  }

  /** mergeLoop must be byte-identical to naiveMergeLoop on the same
    * input (V=2048, T=512); returns the engine's merge rows. */
  private def assertMatchesNaive(words: Array[Array[Int]],
      wcnt: Array[Long]): Vector[(Int, Int, Int, Long, Int)] = {
    val expect = naiveMergeLoop(words, wcnt, v = 2048, t = 512)
    val got = graft.operators.BpeTrain
      .mergeLoop(words.map(_.clone), wcnt, v = 2048, t = 512)
    assert(expect.nonEmpty)
    assert(got.length == expect.length,
      s"merge counts differ: ${got.length} vs ${expect.length}")
    got.zip(expect).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"merge row $i diverged: $g vs $e")
    }
    got
  }
}
