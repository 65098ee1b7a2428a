package graft

/** Resolver for the committed byte-pinned fixture corpus under
  * `tools/fixtures/`. Queries that grade codecs against foreign golden
  * bytes (JPEG, HDF5, encoder goldens) scan these COMMITTED files. The
  * one root is the `graft.fixtures.dir` system property: build.sbt sets
  * it for every forked run and test, and a JVM started outside sbt
  * passes `-Dgraft.fixtures.dir=<checkout>/tools/fixtures`. A missing
  * property, or one that names no directory, fails at first access to
  * [[base]] with a message naming the property — never a silent read of
  * some other checkout's fixtures. Only building a fixture query or
  * asking for its oracle SQL reads [[base]]: the oracle SQL holds
  * [[Root]] and [[SparkEntry.oracleSqlOf]] substitutes it, so loading
  * the query registry needs no fixture root. */
object Fixtures {
  /** The root named by `dir`, the property's value. Throws
    * [[IllegalStateException]] when it is unset or not a directory. */
  def resolve(dir: Option[String]): String = dir match {
    case Some(p) if new java.io.File(p).isDirectory => p
    case _ => throw new IllegalStateException(
      "graft fixtures directory " + dir.fold("not set")(p => s"$p is not a directory") +
        "; set -Dgraft.fixtures.dir=<checkout>/tools/fixtures")
  }

  lazy val base: String = resolve(sys.props.get("graft.fixtures.dir"))

  def path(rel: String): String = s"$base/$rel"

  /** Stands for [[base]] in text built before the root is known. */
  val Root = "<graft.fixtures.dir>"

  /** `text` with every [[Root]] replaced by [[base]]; text without one
    * is returned as is and never resolves the root. */
  def expand(text: String): String =
    if (text.contains(Root)) text.replace(Root, base) else text
}
