package graft

import graft.sources.RobotsCodec

/** Contract specs for the robots.txt surface: the RFC 9309 grammar
  * (stacked agents, comments, case-insensitivity, garbage tolerance),
  * the pattern→regex compiler, and the decision join's semantics
  * (group override, longest match, allow-wins-ties, wildcards,
  * anchors). Value grading runs through oracles q_robots_rules /
  * q_robots_filter. */
class RobotsCodecSpec extends SparkSpec {

  test("grammar: stacked agents, groups, comments, case, garbage") {
    val rs = RobotsCodec.parse(
      """# header comment
        |User-agent: A
        |User-agent: B
        |Disallow: /x  # trailing comment
        |ALLOW: /x/y
        |
        |user-agent: C
        |crawl-delay: 5
        |not a directive
        |Weird-Key: ignored
        |Sitemap: https://h/s.xml
        |""".stripMargin)
    assert(rs.filter(_.verb == "disallow").map(_.agent) ==
      Vector("a", "b"))
    assert(rs.filter(_.verb == "allow").map(_.value) ==
      Vector("/x/y", "/x/y"))
    assert(rs.find(_.agent == "c").get.verb == "crawl-delay")
    assert(rs.find(_.verb == "sitemap").get.agent == "")
    // a rule line before any group attaches to nothing
    assert(RobotsCodec.parse("Disallow: /early\n").isEmpty)
    // a SECOND group reuses an agent: the rule list restarts
    val two = RobotsCodec.parse(
      "User-agent: a\nDisallow: /1\nUser-agent: a\nDisallow: /2\n")
    assert(two.map(_.value) == Vector("/1", "/2"))
  }

  test("pattern compiler: wildcards, anchors, regex metacharacters") {
    // rlike semantics (find, not full-match) — the ^-anchored compile
    // makes find() a prefix match, exactly Python's re.match
    def m(pat: String, path: String): Boolean =
      java.util.regex.Pattern.compile(RobotsCodec.patternRegex(pat))
        .matcher(path).find()
    assert(m("/cart", "/cart") && m("/cart", "/cart/item"))
    assert(!m("/cart", "/car"))
    assert(m("/admin/*", "/admin/x/y") && !m("/admin/*", "/admin"))
    assert(m("/*.pdf$", "/a/b.pdf") && !m("/*.pdf$", "/a/b.pdfx"))
    assert(m("/a+b(c)", "/a+b(c)d"), "metacharacters must be literal")
    assert(!m("/a+b(c)", "/aab(c)"))
  }

  test("native matcher agrees with the regex compiler on an exhaustive small-alphabet sweep") {
    // RobotsCodec.matches is the codegen'd hot-path form (no Pattern
    // compilation); it must be EXACTLY patternRegex under rlike
    // semantics. Exhaustive over short pattern/path strings drawn from
    // {a, b, *, /} plus an optional trailing $ — 4^4 patterns × 3^5
    // paths covers every wildcard/anchor interaction incl. empty and
    // adjacent-star segments.
    val patChars = "ab*/".toCharArray
    val pathChars = "ab/".toCharArray
    def strings(cs: Array[Char], n: Int): Seq[String] =
      if (n == 0) Seq("")
      else strings(cs, n - 1).flatMap(s => cs.map(c => s + c))
    val paths = (0 to 5).flatMap(n => strings(pathChars, n))
    for {
      body <- (0 to 4).flatMap(n => strings(patChars, n))
      anchor <- Seq("", "$")
      pat = body + anchor
      path <- paths
    } {
      val viaRegex = pat.nonEmpty &&
        java.util.regex.Pattern.compile(RobotsCodec.patternRegex(pat))
          .matcher(path).find()
      assert(RobotsCodec.matches(path, pat) == viaRegex,
        s"matches('$path', '$pat') != regex ($viaRegex)")
    }
    // empty pattern matches nothing (RFC); regex would match everything
    assert(!RobotsCodec.matches("/x", ""))
  }

  test("hostile stacked-agent fanout is capped (no OOM from a sub-500KiB file)") {
    // round-15 advice: MaxRules capped logical lines, not emitted rows —
    // 30k stacked agents × 10k rules would emit ~3e8 Rule objects
    val hostile = new StringBuilder
    for (i <- 0 until 30000) hostile.append(s"User-agent: bot$i\n")
    for (i <- 0 until 1000) hostile.append(s"Disallow: /p$i\n")
    val rs = RobotsCodec.parse(hostile.toString)
    // capped fan-out PLUS the truncation sentinel — a capped parse
    // must be distinguishable from a complete one (round-16 advice:
    // silent truncation flips disallow decisions toward allow)
    assert(rs.size <= RobotsCodec.MaxEmitted + 1)
    assert(rs.last.verb == RobotsCodec.TruncatedVerb)
    assert(rs.count(_.verb == RobotsCodec.TruncatedVerb) == 1)
    // agents up to the raised stack cap all received the first rule
    // (the r15 cap of 64 silently dropped the rest toward allow)
    assert(rs.iterator.filter(_.seq == 0).size == RobotsCodec.MaxStackedAgents)
    // and legitimate small stacks are unaffected — no sentinel
    val ok = RobotsCodec.parse("User-agent: a\nUser-agent: b\nDisallow: /x\n")
    assert(ok.size == 2)
    assert(!ok.exists(_.verb == RobotsCodec.TruncatedVerb))
    // a Sitemap line lost to the rule cap must also raise the
    // sentinel — any cap dropping data is visible to callers
    val sm = new StringBuilder("User-agent: *\n")
    for (i <- 0 until 10000) sm.append(s"Disallow: /q$i\n")
    sm.append("Sitemap: https://example.test/s.xml\n")
    val rs2 = RobotsCodec.parse(sm.toString)
    assert(!rs2.exists(_.verb == "sitemap"), "sitemap row past the cap")
    assert(rs2.count(_.verb == RobotsCodec.TruncatedVerb) == 1,
      "dropped sitemap must raise the truncation sentinel")
  }

  test("decision join: group override, longest match, allow wins ties") {
    val df = graft.queries.TextQueries.qRobotsFilter(spark)
    val rows = df.collect().map(r => ((r.getString(0), r.getString(1),
      r.getString(2)), (r.getInt(3), r.getString(4)))).toMap
    // graftbot's own group overrides * entirely
    assert(rows(("shop.example", "graftbot", "/paper.pdf")) == ((1, "")))
    assert(rows(("shop.example", "graftbot", "/cart/shared/list")) ==
      ((1, "/cart/shared")), "longest match: allow beats /cart")
    // unknown agent falls to *: wildcard and anchor rules fire
    assert(rows(("shop.example", "crawlzilla", "/admin/secret")) ==
      ((0, "/admin/*")))
    assert(rows(("shop.example", "crawlzilla", "/downloads/guide.pdf")) ==
      ((1, "/downloads/*.pdf$")), "longer allow beats /*.pdf$")
    // empty disallow = allow-all; empty file = allow-all
    assert(rows(("news.example", "graftbot", "/")) == ((1, "")))
    assert(rows(("blank.example", "crawlzilla", "/anything/goes")) ==
      ((1, "")))
    assert(rows.size == 24)
    // the scale shape: rules broadcast, no shuffle join on the URL side
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
