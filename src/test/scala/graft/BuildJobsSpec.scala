package graft

import scala.util.{Failure, Success, Try}

/** Building a query is declarative: `fn(spark, dir)` should return a
  * plan and start no Spark job; only the action does work. This pins
  * which declared queries still start a job while they are built, on a
  * warm build: a query whose first build starts a job is built a
  * second time and only that second build counts, so an IndexStore
  * artifact trained by the first build is read, not trained, by the
  * counted one.
  *
  * The spec fails if a query outside `starting` starts a job, and also
  * if a query in `starting` no longer does: the list only shrinks, and
  * each query that leaves it is taken out in the change that made its
  * build lazy. */
class BuildJobsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Queries whose warm build at sf0.001 starts at least one job. */
  private val starting = Set(
    "q_assoc_rules", "q_auc", "q_audience_overlap", "q_bfs_depth", "q_bigram_lm",
    "q_bitmap_index", "q_bpe_train_32k", "q_bpe_train_scale", "q_cms_guarantee",
    "q_density_cluster", "q_deterministic_shuffle", "q_dup_clusters", "q_dup_clusters_star",
    "q_embed_neardup", "q_entity_resolution", "q_equidepth", "q_heavy_hitters",
    "q_interval_overlap", "q_kmeans_refine", "q_ks_test", "q_macro_f1", "q_max_concurrency",
    "q_minhash_lsh", "q_minhash_lsh_xx", "q_mmr_rerank", "q_nb_lang", "q_ngram_jaccard",
    "q_pagerank", "q_pca_power", "q_retrieval_eval", "q_robots_filter", "q_rrf_recall",
    "q_shuffle_rank", "q_simhash", "q_triangles")

  test("only the allowlisted queries start a Spark job while they are built") {
    val queries = SparkEntry.queries
    def jobs(q: String): Try[Int] = Try(JobCount.during(spark)(queries(q)(spark, dir))._2)
    val t0 = System.nanoTime()
    val built = queries.keys.toSeq.sorted.map { q =>
      q -> jobs(q).flatMap(n => if (n == 0) Success(0) else jobs(q))
    }
    info(f"${built.size} queries built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val failed = built.collect { case (q, Failure(e)) => s"$q: $e" }
    val starts = built.collect { case (q, Success(n)) if n > 0 => q }.toSet
    val added = (starts -- starting).toSeq.sorted
    val left = (starting -- starts).toSeq.sorted
    def section(title: String, lines: Seq[String]) =
      if (lines.isEmpty) Nil else s"${lines.size} $title:" +: lines.map("  " + _)
    val msg = section("failed to build", failed) ++
      section("start a job, not in `starting`", added) ++
      section("in `starting` start none (remove them)", left)
    if (msg.nonEmpty) fail(msg.mkString("\n", "\n", ""))
  }
}
