package graft

import org.apache.spark.sql.SparkSession

/** One place to build the engine's SparkSession: UTC, shuffle
  * partitions sized to the local core count (on a cluster this is the
  * knob sized to executors × cores), AQE left on (Spark 4 default —
  * runtime skew-join + partition coalescing), and the Graft Catalyst
  * extensions installed.
  *
  * The generated-class cache holds [[CodegenCacheEntries]] classes.
  * Spark compiles each whole-stage-codegen source with Janino and keeps
  * the class in one JVM-global LRU keyed by the source text; at its
  * default of 100 entries it is smaller than one pass over the queries
  * (media_export's 24 queries generate about 115 classes, the full
  * registry of 294 about 3,000), so every warm pass evicted and
  * recompiled most of its classes: a full-registry warm pass at sf0.01 recompiled 4,295
  * classes (48 s of compiling) against 106 (2 s) at 4096 entries. The
  * setting is a static SQL conf, read once when the JVM first generates
  * code: it takes effect only when the first session in the JVM is
  * built here and before anything generates code without a session. */
object Sessions {
  /** Generated classes the JVM keeps compiled (Spark's default: 100). */
  val CodegenCacheEntries = 4096

  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
