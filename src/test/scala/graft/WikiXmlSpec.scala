package graft

import graft.sources.WikiXml

/** Contract specs for the MediaWiki dump parser: the single-pass
  * entity decode (the part a replace chain gets wrong), page-span
  * scanning with per-page degrade, and the distributed `.xml.bz2`
  * ingest. Cross-writer pinning against the Python-escaped fixtures
  * runs through the oracle-graded q_wiki_pages. */
class WikiXmlSpec extends SparkSpec {

  test("single-pass entity decode: no double-decode, numeric dec+hex, unknowns verbatim") {
    assert(WikiXml.unescape("A &amp; B") == "A & B")
    assert(WikiXml.unescape("&amp;lt;") == "&lt;") // replace chains say "<"
    assert(WikiXml.unescape("&#38;lt;") == "&lt;") // numeric amp, same trap
    assert(WikiXml.unescape("&#65;&#x42;&#233;") == "ABé")
    assert(WikiXml.unescape("&lt;x&gt; &quot;q&quot; &apos;a&apos;") ==
      "<x> \"q\" 'a'")
    assert(WikiXml.unescape("&nope; &#xZZ; &#; & alone") ==
      "&nope; &#xZZ; &#; & alone")
    assert(WikiXml.unescape("no entities at all") == "no entities at all")
  }

  test("page scan: title/ns/id/redirect/text; malformed page skipped, not fatal") {
    val xml =
      """<mediawiki version="0.11">
        |  <siteinfo><sitename>W</sitename></siteinfo>
        |  <page>
        |    <title>T &amp; U</title>
        |    <ns>0</ns>
        |    <id>7</id>
        |    <redirect title="Cible &quot;X&quot;" />
        |    <revision><id>71</id>
        |      <text bytes="9" xml:space="preserve">corps &lt;b&gt;</text>
        |    </revision>
        |  </page>
        |  <page>
        |    <title>Broken</title>
        |    <ns>zero</ns>
        |    <id>8</id>
        |    <revision><id>81</id><text>x</text></revision>
        |  </page>
        |  <page>
        |    <title>Stub</title>
        |    <ns>4</ns>
        |    <id>9</id>
        |    <revision><id>91</id><text bytes="0" /></revision>
        |  </page>
        |</mediawiki>""".stripMargin
    val ps = WikiXml.parse(xml).get
    assert(ps.map(_.id) == Vector(7L, 9L)) // ns "zero" page skipped
    assert(ps.head.title == "T & U")
    assert(ps.head.redirect.contains("Cible \"X\""))
    assert(ps.head.text == "corps <b>")
    assert(ps(1).text == "" && ps(1).ns == 4 && ps(1).redirect.isEmpty)
  }

  test("refusals and degrades: non-mediawiki refuses; truncated trailing page skipped") {
    assert(WikiXml.parse("<html>nope</html>").isEmpty)
    assert(WikiXml.parse("").isEmpty)
    val cut = "<mediawiki><page><title>A</title><ns>0</ns><id>1</id>" +
      "<revision><text>t</text></revision></page><page><title>B"
    assert(WikiXml.parse(cut).get.map(_.id) == Vector(1L))
  }

  test("distributed ingest: per-page rows, corrupt and non-wiki shards skipped") {
    val df = graft.sources.GeoIngest.wiki.read(
      spark, graft.Fixtures.path("q_wiki_pages"))
    val byShard = df.groupBy("shard").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byShard == Map("wiki-00.xml.bz2" -> 5L, "wiki-01.xml.bz2" -> 3L))
    import org.apache.spark.sql.functions.col
    val redir = df.filter(col("page_id") === 3).head
    assert(redir.getString(4) == "Dakar")
    // the numeric-entity page decodes to the raw characters
    val cafe = df.filter(col("page_id") === 2).head
    assert(cafe.getString(3) == "Café Touba")
    assert(cafe.getString(5) == "Café with über flavor & <sugar>.")
  }
}
