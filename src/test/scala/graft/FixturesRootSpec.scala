package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.sys.process._

/** Loading the query registry needs no fixture root: only building a
  * fixture query or asking for its oracle SQL resolves
  * `graft.fixtures.dir`. Checked in a child JVM started without the
  * property, since this JVM has it set and a module object whose
  * initializer threw cannot be loaded again. */
class FixturesRootSpec extends AnyFunSuite {

  test("the registry and a non-fixture oracle load without graft.fixtures.dir") {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Dgraft.fixtures.dir") || a.startsWith("-Xmx"))
    val cmd = Seq(javaBin, "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.FixturesRootSpecMain")
    val out = new StringBuilder
    val code = cmd ! ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    assert(code == 0, s"child JVM failed:\n$out")
    val lines = out.toString.linesIterator.toSet
    assert(lines.contains(s"queries=${SparkEntry.queries.size}"), out)
    assert(lines.contains("q1_agg=" + SparkEntry.oracleSql("q1_agg").hashCode), out)
    assert(lines.exists(l => l.startsWith("q_jpeg_decode=refused") && l.contains("graft.fixtures.dir")), out)
  }

  test("a fixture query's oracle SQL names the resolved root, not the placeholder") {
    val sql = SparkEntry.oracleSqlOf(Set("q_jpeg_decode"))("q_jpeg_decode")
    assert(sql.contains(s"${Fixtures.base}/q_jpeg_decode/golden/"), sql)
    assert(!SparkEntry.oracleSql.values.exists(_.contains(Fixtures.Root)))
  }
}

/** The child JVM of [[FixturesRootSpec]]: prints the registry size, the
  * hash of q1_agg's oracle SQL, and what asking for a fixture query's
  * oracle SQL does without the property. */
object FixturesRootSpecMain {
  def main(args: Array[String]): Unit = {
    require(!sys.props.contains("graft.fixtures.dir"), "the child must run without graft.fixtures.dir")
    println(s"queries=${SparkEntry.queries.size}")
    println("q1_agg=" + SparkEntry.oracleSqlOf(Set("q1_agg"))("q1_agg").hashCode)
    val fixture =
      try { SparkEntry.oracleSqlOf(Set("q_jpeg_decode")); "resolved" }
      catch { case e: IllegalStateException => s"refused: ${e.getMessage}" }
    println(s"q_jpeg_decode=$fixture")
  }
}
