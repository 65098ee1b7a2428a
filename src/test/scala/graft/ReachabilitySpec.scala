package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every src/main definition has a consumer in src/main, or a reason.
  *
  * Scans `src/main/scala` with comments stripped, collects every public
  * or `private[graft]` member of a template (object, class or trait body)
  * that is itself public or `private[graft]`, and flags each whose name
  * occurs nowhere else in src/main. Top-level objects are not members:
  * the mains are objects, and an object nothing reaches shows through
  * its members. The flagged set must EQUAL the
  * allowlist below, and every line carries the reason the member stays:
  * the SURVEY row it implements, the perfbench call that uses it, or the
  * spec that compares against it. The query maps and the mains are the
  * roots. A new member with no src/main caller either gets one, or gets
  * a line here with its reason; a member that gains a caller leaves the
  * list. Overrides are reached by dispatch and are not scanned.
  */
class ReachabilitySpec extends AnyFunSuite {

  private val allowed: Map[String, String] = Map(
    "GeoIngest.jsonlGz"                       -> "SURVEY §2.1 JSONL read; reads back Sinks.writeJsonlGz (GzipCodecSpec, FileScanSinkSpec)",
    "GeoIngest.netcdf"                        -> "SURVEY §2.1 NetCDF sink's combine scan; reads back Sinks.writeNetcdfFiles (SourcesSinksSpec)",
    "GeoIngest.readPoints"                    -> "SURVEY §2.1 GeoJSON read, point layer (SourcesSinksSpec, EdgeCasesSpec)",
    "GeoIngest.readPolygons"                  -> "SURVEY §2.1 GeoJSON read, polygon layer (SourcesSinksSpec)",
    "GeoIngest.tarShards"                     -> "SURVEY §2.1 webdataset tar scan; reads back Sinks.writeTarShards (TarCodecSpec)",
    "GeoIngest.tiffGeoPixels"                 -> "SURVEY §2.1 GeoTIFF read with pixel-centre coordinates (TiffRasterSpec)",
    "GeoIngest.webdataset"                    -> "SURVEY §2.1 webdataset caption+JPEG scan, batch arm of StreamingSpec's parity case",
    "GeoOps.haversineKm"                      -> "SURVEY §2.8 geodesic row; spec-tested, not oracle-hashed (GeoOpsSpec)",
    "GeoOps.toCartesian"                      -> "SURVEY §2.8 lat/lon to Cartesian row, presto.py:299-309 (GeoOpsSpec)",
    "MlProbes.forestProbe"                    -> "SURVEY §2.9 random-forest probe, spark.ml (MlProbesSpec)",
    "MlProbes.logisticProbe"                  -> "SURVEY §2.9 logistic-regression probe, spark.ml (MlProbesSpec)",
    "RobotsCodec.patternRegex"                -> "reference implementation RobotsCodecSpec compares the RobotsMatch expression against",
    "ScaleOps.bucketize"                      -> "SURVEY §2.3 bucketed layout for repeated fact-to-fact joins; ScaleOpsSpec pins the shuffle-free join",
    "Sinks.readCsv"                           -> "SURVEY §2.1 CSV read (SourcesSinksSpec)",
    "Sinks.writeArrowShards"                  -> "SURVEY §2.1 sink; perfbench Micro times it",
    "Sinks.writeCsv"                          -> "SURVEY §2.1 CSV sink (SourcesSinksSpec)",
    "Sinks.writeJpegTiles"                    -> "SURVEY §2.1 sink; FileScanSinkSpec pins its files",
    "Sinks.writeJsonlGz"                      -> "SURVEY §2.1 sink; perfbench Micro times it",
    "Sinks.writeJsonlZst"                     -> "SURVEY §2.1 sink; FileScanSinkSpec pins its files",
    "Sinks.writeManifest"                     -> "SURVEY §2.1 JSON metadata sink (SourcesSinksSpec)",
    "Sinks.writeNetcdfFiles"                  -> "SURVEY §2.1 NetCDF sink; perfbench Micro times it",
    "Sinks.writeNpyTiles"                     -> "SURVEY §2.1 npy sink; perfbench Micro times it",
    "Sinks.writePartitioned"                  -> "SURVEY §7.0 partitioned parquet sink (SourcesSinksSpec)",
    "Sinks.writePngTiles"                     -> "SURVEY §2.1 PNG sink; FileScanSinkSpec pins its files",
    "Sinks.writeSafetensorsShards"            -> "SURVEY §2.1 sink; FileScanSinkSpec pins its files",
    "Sinks.writeTarShards"                    -> "SURVEY §2.1 tar sink; perfbench Micro times it",
    "Sinks.writeTfRecordShards"               -> "SURVEY §2.1 sink; FileScanSinkSpec pins its files",
    "Sinks.writeTiffTiles"                    -> "SURVEY §2.1 GeoTIFF tiled sink; FileScanSinkSpec pins its files",
    "Sinks.writeWavClips"                     -> "SURVEY §2.1 sink; FileScanSinkSpec pins its files",
    "Sketches.calibrate"                      -> "SURVEY §2.4 sketch calibration frame (SketchesSpec)",
    "StreamingPipelines.chi2FromCounts"       -> "batch side StreamingSpec compares the streaming contingency monitor against",
    "StreamingPipelines.curationIngest"       -> "SURVEY §2.10 streaming operator (StreamingSpec)",
    "StreamingPipelines.dedupAgainstCorpus"   -> "SURVEY §2.10 streaming operator (StreamingSpec)",
    "StreamingPipelines.enrichAgainstStatic"  -> "SURVEY §2.10 streaming operator (StreamingSpec)",
    "StreamingPipelines.ingest"               -> "SURVEY §2.10 event-driven file pipeline: the streaming arm of every GeoIngest format (FileScanSinkSpec)",
    "StreamingPipelines.intervalJoin"         -> "SURVEY §2.10 streaming operator (StreamingSpec)",
    "StreamingPipelines.runningContingency"   -> "SURVEY §2.10 streaming operator (StreamingSpec)",
    "StreamingPipelines.runningCountMin"      -> "SURVEY §2.10 streaming operator (StreamingSpec)",
    "StreamingPipelines.runningDistinct"      -> "SURVEY §2.10 streaming operator (StreamingSpec)",
    "StreamingPipelines.runningHeavyHitters"  -> "SURVEY §2.10 streaming operator (StreamingSpec)",
    "StreamingPipelines.runningLocf"          -> "SURVEY §2.10 late-data handling (StreamingSpec)",
    "StreamingPipelines.runningStats"         -> "SURVEY §2.10 single-pass sufficient statistics (StreamingSpec)",
    "StreamingPipelines.sessionizedActivity"  -> "SURVEY §2.10 session windows (StreamingSpec)",
    "StreamingPipelines.streamingDedup"       -> "SURVEY §2.10 streaming operator (StreamingSpec)",
    "StreamingPipelines.upsertAssignments"    -> "SURVEY §2.10 streaming operator (StreamingSpec)",
    "StreamingPipelines.windowedComposite"    -> "SURVEY §2.10 tumbling windows (StreamingSpec)",
    "VectorQueries.pqCodesQuantized"          -> "reference implementation PqFastSpec compares the fast PQ encoder against",
    "VectorQueries.pqCodesQuantizedTrained"   -> "reference implementation for PqFastSpec's trained-codebook case",
    "VectorQueries.semDedupCandidates"        -> "PlanQualitySpec pins the capped candidate generator q_semdedup uses",
  )

  private val roots = Set("main")

  private def sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally s.close()
  }

  private def identChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** `(code, shape)`, both as long as `src`: `code` blanks comments;
    * `shape` also blanks the text of string and char literals but keeps
    * interpolated expressions, so its braces are the program's braces. */
  private def lex(src: String): (String, String) = {
    val code = new StringBuilder
    val shape = new StringBuilder
    val n = src.length
    var i = 0
    def blank(c: Char): Char = if (c == '\n') '\n' else ' '
    def keep(): Unit = { code += src(i); shape += src(i); i += 1 }
    def comment(): Unit = { code += blank(src(i)); shape += blank(src(i)); i += 1 }
    def text(): Unit = { code += src(i); shape += blank(src(i)); i += 1 }
    def string(): Unit = {
      val interp = i > 0 && identChar(src(i - 1))
      val triple = src.startsWith("\"\"\"", i)
      (1 to (if (triple) 3 else 1)).foreach(_ => keep())
      var open = true
      while (open && i < n) {
        if (triple && src.startsWith("\"\"\"", i)) {
          while (src.startsWith("\"\"\"\"", i)) text()
          (1 to 3).foreach(_ => keep()); open = false
        } else if (!triple && src(i) == '"') { keep(); open = false }
        else if (!triple && src(i) == '\\' && i + 1 < n) { text(); text() }
        else if (interp && src.startsWith("$$", i)) { text(); text() }
        else if (interp && src.startsWith("${", i)) {
          keep(); keep(); codeUntilClose(); if (i < n) keep()
        } else if (interp && src(i) == '$') {
          keep(); while (i < n && identChar(src(i))) keep()
        } else text()
      }
    }
    // code up to (not including) the `}` that closes an interpolation,
    // or to the end of the file at top level
    def codeUntilClose(): Unit = {
      var depth = 0
      var open = true
      while (open && i < n) {
        val c = src(i)
        if (src.startsWith("//", i)) while (i < n && src(i) != '\n') comment()
        else if (src.startsWith("/*", i)) {
          var d = 0
          var inside = true
          while (inside && i < n) {
            if (src.startsWith("/*", i)) { d += 1; comment(); comment() }
            else if (src.startsWith("*/", i)) { d -= 1; comment(); comment(); inside = d > 0 }
            else comment()
          }
        } else if (c == '"') string()
        else if (c == '\'' && i + 2 < n && src(i + 1) != '\\' && src(i + 2) == '\'') {
          keep(); text(); keep()
        } else if (c == '\'' && i + 1 < n && src(i + 1) == '\\') {
          val end = src.indexOf('\'', i + 3)
          keep(); while (i < end) text(); keep()
        } else if (c == '{') { depth += 1; keep() }
        else if (c == '}') { if (depth == 0) open = false else { depth -= 1; keep() } }
        else keep()
      }
    }
    while (i < n) { codeUntilClose(); if (i < n) keep() }
    (code.toString, shape.toString)
  }

  private val token = """[A-Za-z_][A-Za-z0-9_]*|[{}()\[\]]|[!#%&*+\-/:<=>?@\\^|~]+|\S""".r
  private val ident = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val defKeywords = Set("def", "val", "var", "object", "class", "trait", "type")
  private val modifiers = Set("private", "protected", "override", "final", "lazy",
    "implicit", "case", "sealed", "abstract")

  /** The scanned members declared in one file's `shape`. */
  private def members(shape: String): Seq[(String, String, Boolean)] = {
    final case class Scope(owner: String, scanned: Boolean, var parens: Int = 0)
    val toks = token.findAllIn(shape).toIndexedSeq
    var scopes = List(Scope("", scanned = true))
    var pending: Option[(String, Boolean)] = None // template header awaiting `{`
    val out = Seq.newBuilder[(String, String, Boolean)]
    def tok(j: Int): String = if (j >= 0 && j < toks.size) toks(j) else ""
    toks.indices.foreach { k =>
      val t = toks(k)
      val top = scopes.head
      t match {
        case "{" =>
          val template = pending.filter(_ => top.parens == 0)
          scopes = template.fold(Scope(top.owner, scanned = false)) { case (name, visible) =>
            Scope(if (top.owner.isEmpty) name else s"${top.owner}.$name", top.scanned && visible)
          } :: scopes
          pending = None
        case "}" =>
          if (scopes.size > 1) scopes = scopes.tail
          pending = None
        case "(" | "[" => top.parens += 1
        case ")" | "]" => top.parens -= 1
        case "=" if top.parens == 0 => pending = None
        case kw if defKeywords(kw) && top.parens == 0 && tok(k - 1) != "." &&
            ident.matches(tok(k + 1)) =>
          val name = tok(k + 1)
          var mods = Set.empty[String]
          var qualifier: Option[String] = None
          var j = k - 1
          var more = true
          while (more) {
            if (tok(j) == "]" && tok(j - 2) == "[") { qualifier = Some(tok(j - 1)); j -= 3 }
            else if (modifiers(tok(j))) { mods += tok(j); j -= 1 }
            else if (ident.matches(tok(j)) && tok(j - 1) == "@") j -= 2
            else more = false
          }
          val hidden = mods("protected") || (mods("private") && !qualifier.contains("graft"))
          if (top.scanned && top.owner.nonEmpty && !hidden)
            out += ((top.owner, name, mods("override")))
          pending = if (Set("object", "class", "trait")(kw)) Some((name, !hidden)) else None
        case _ =>
      }
    }
    out.result()
  }

  /** `Owner.name` of every scanned member whose name occurs once in src/main. */
  private def flagged: Set[String] = {
    val lexed = sources.map(f => lex(new String(Files.readAllBytes(f), "UTF-8")))
    val uses = lexed.flatMap { case (code, _) => ident.findAllIn(code) }
      .groupBy(identity).view.mapValues(_.size).toMap
    lexed.flatMap { case (_, shape) => members(shape) }
      .collect { case (owner, name, false) if !roots(name) && uses.getOrElse(name, 0) <= 1 =>
        s"$owner.$name" }
      .toSet
  }

  test("the lexer keeps code and interpolations, and blanks comments and literal text") {
    val (code, shape) = lex("val a = \"{x\" // }\n/* { /* } */ } */ s\"${b.c} $d{\" + '{'")
    assert(!code.contains("//") && !code.contains("/*"))
    assert(code.contains("\"{x\""))
    assert(shape.count(_ == '{') == 1 && shape.count(_ == '}') == 1)
    assert(shape.contains("b.c") && shape.contains("$d"))
  }

  test("the scanner finds public and private[graft] template members only") {
    val src = """object A {
                |  def pub(x: Int) = { def local = 1; local }
                |  private[graft] val pkg = 1
                |  private def hidden = 2
                |  override def toString = "A"
                |  class B(val p: Int) { def inner = 3 }
                |  private class C { def unseen = 4 }
                |}""".stripMargin
    val got = members(lex(src)._2).map { case (o, n, ov) => (s"$o.$n", ov) }.toSet
    assert(got == Set(("A.pub", false), ("A.pkg", false), ("A.toString", true),
      ("A.B", false), ("A.B.inner", false)))
  }

  test("every src/main member without a src/main consumer is on the allowlist with a reason") {
    val found = flagged
    val added = found -- allowed.keySet
    val gone = allowed.keySet -- found
    if (added.nonEmpty || gone.nonEmpty) fail(
      s"unreached members changed: new ${added.toSeq.sorted.mkString(", ")}; " +
        s"now reached or deleted ${gone.toSeq.sorted.mkString(", ")}. Give a new " +
        "member a src/main caller, delete it, or list it here with its reason; " +
        "take a reached or deleted member off the list.")
    val blank = allowed.collect { case (k, why) if why.trim.isEmpty => k }
    assert(blank.isEmpty, s"allowlist lines without a reason: $blank")
  }
}
