package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every setting the engine reads from outside its arguments, pinned.
  *
  * Scans `src/main/scala` for `"spark.graft.*"` conf keys and for
  * environment / system-property reads, and requires the set to EQUAL
  * the allowlist below. The list holds only deployment and tool-
  * argument settings (core count, input dirs, query filters, fixture
  * location). A measurement knob, or a switch for a path that lost its
  * measurement, has no place here: it is removed, not left in the code
  * switched off. Adding or dropping a knob therefore shows up as a diff
  * to this list. A read whose key is not a string literal cannot be
  * pinned and fails the spec. */
class KnobInventorySpec extends AnyFunSuite {

  private val allowed = Set(
    "env:SPARK_GRAFT_CPUS",       // local[n] core count of every main
    "env:SPARK_GRAFT_SF_DIR",     // Bench input directory
    "env:SPARK_GRAFT_BENCH_ONLY", // Bench query filter
    "env:SPARK_GRAFT_PLAN_ONLY",  // PlanAudit query filter
    "prop:graft.fixtures.dir",    // binary-fixture directory
  )

  private val confKey = "\"(spark\\.graft\\.[^\"]*)\"".r
  private val read =
    """(sys\.env|sys\.props|System\.getenv|System\.getProperty)(?:\s*\.\s*(?:get|getOrElse|contains|apply))?\s*\(\s*("([^"]*)")?""".r
  private val anyRead = """sys\.env\b|sys\.props\b|System\.getenv\b|System\.getProperty\b""".r

  private def sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def inventory: Set[String] = sources.flatMap { f =>
    val text = new String(Files.readAllBytes(f), "UTF-8")
    val conf = confKey.findAllMatchIn(text).map(m => "conf:" + m.group(1)).toList
    val recognized = read.findAllMatchIn(text).toList
    val reads = recognized.map { m =>
      val kind = if (m.group(1).contains("env")) "env" else "prop"
      if (m.group(3) != null) s"$kind:${m.group(3)}"
      else s"$kind:<non-literal key at $f offset ${m.start}>"
    }
    // a read in a form the pattern above does not know (e.g.
    // sys.env.foreach) is reported, never silently skipped
    val unmatched = anyRead.findAllMatchIn(text)
      .filterNot(a => recognized.exists(_.start == a.start))
      .map(a => s"read:<unrecognized form at $f offset ${a.start}>").toList
    conf ++ reads ++ unmatched
  }.toSet

  test("conf keys and env/property reads in src/main equal the committed allowlist") {
    val found = inventory
    val added = found -- allowed
    val gone = allowed -- found
    if (added.nonEmpty || gone.nonEmpty) fail(
      s"knob inventory changed: new ${added.toSeq.sorted.mkString(", ")}; " +
        s"no longer read ${gone.toSeq.sorted.mkString(", ")}. A new " +
        "deployment or tool-argument setting goes on the allowlist; a " +
        "measurement knob does not belong in src/main.")
  }
}
