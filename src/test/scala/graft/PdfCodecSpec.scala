package graft

import graft.sources.{Compression, PdfCodec}

/** Contract specs for the PDF text-run codec: the classic xref walk
  * (incl. incremental-update /Prev chains), the value parser (escape
  * and octal sequences, hex strings with odd-nibble padding, indirect
  * /Length), FlateDecode, the page tree, the content-stream show
  * operators, the envelope refusals, and never-throw under fuzz.
  * Value grading runs through oracle q_pdf_text. */
class PdfCodecSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.base, "q_pdf_text", name))

  test("two pages: escapes, octal, TJ kerning array, the ' operator") {
    val rs = PdfCodec.decode(fixture("doc-00.pdf")).get
    assert(rs.map(r => (r.page, r.run, r.text)) == Vector(
      (0, 0, "Hello (escaped) world \\ slash ABC"),
      (0, 1, "Ker"), (0, 2, "ned"), (0, 3, " array."),
      (1, 0, "Second page line one."),
      (1, 1, "and a moved line")))
  }

  test("FlateDecode, hex strings, indirect Length, Contents array") {
    val rs = PdfCodec.decode(fixture("doc-01.pdf")).get
    assert(rs.map(_.text) == Vector("Hello from hex", "World!", "PAD "))
    assert(rs.forall(_.page == 0))
  }

  test("incremental update: the newest xref section's object wins") {
    val rs = PdfCodec.decode(fixture("doc-02.pdf")).get
    assert(rs == Vector(PdfCodec.Run(0, 0, "the UPDATED text wins")))
  }

  test("xref STREAM (PNG Up predictor) and ObjStm-compressed objects") {
    val rs = PdfCodec.decode(fixture("xrefstm-05.pdf")).get
    assert(rs == Vector(
      PdfCodec.Run(0, 0, "modern xref stream, Up predictor")))
    val os = PdfCodec.decode(fixture("objstm-06.pdf")).get
    assert(os == Vector(PdfCodec.Run(0, 0, "objects inside an ObjStm")))
    // hybrid-reference: classic trailer marks the compressed objects
    // FREE; /XRefStm carries their real entries
    val hy = PdfCodec.decode(fixture("hybrid-07.pdf")).get
    assert(hy == Vector(
      PdfCodec.Run(0, 0, "hybrid: classic trailer + XRefStm")))
    // fuzzing the modern shapes must never throw either
    val g = fixture("xrefstm-05.pdf")
    var j = 0
    val fz = new FuzzDigest
    while (j < g.length) {
      val m = g.clone(); m(j) = (m(j) ^ 0x1c).toByte
      fz.add(PdfCodec.decode(m))
      j += 1
    }
    val o = fixture("objstm-06.pdf")
    j = 0
    while (j < o.length) {
      val m = o.clone(); m(j) = 0x37
      fz.add(PdfCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "1046/307:7fb0ec1e6e7898e4", fz.hex)
  }

  test("inflated bytes are bounded per file, not per stream") {
    // a FlateDecode content stream of zeros that inflates to just over
    // half the cap, after one text run; a few hundred KB compressed
    def stream(text: String): Array[Byte] = {
      val raw = new Array[Byte](Compression.MaxInflatedBytes / 2 + 1)
      val t = s"BT ($text) Tj ET\n".getBytes("US-ASCII")
      System.arraycopy(t, 0, raw, 0, t.length)
      val z = new java.io.ByteArrayOutputStream()
      Compression.deflate(raw, z)
      z.toByteArray
    }
    def ascii(s: String) = s.getBytes("US-ASCII")
    // one page whose /Contents array holds `parts`
    def pdf(parts: Seq[Array[Byte]]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
      def obj(body: Array[Byte]): Unit = {
        offs += out.size
        out.write(ascii(s"${offs.size} 0 obj\n")); out.write(body)
        out.write(ascii("\nendobj\n"))
      }
      out.write(ascii("%PDF-1.4\n"))
      obj(ascii("<< /Type /Catalog /Pages 2 0 R >>"))
      obj(ascii("<< /Type /Pages /Kids [3 0 R] /Count 1 >>"))
      obj(ascii(parts.indices.map(i => s"${4 + i} 0 R")
        .mkString("<< /Type /Page /Parent 2 0 R /Contents [", " ", "] >>")))
      parts.foreach(z => obj(ascii(
        s"<< /Length ${z.length} /Filter /FlateDecode >>\nstream\n") ++ z ++
        ascii("\nendstream")))
      val xref = out.size
      out.write(ascii(s"xref\n0 ${offs.size + 1}\n0000000000 65535 f \n" +
        offs.map(o => f"$o%010d 00000 n \n").mkString +
        s"trailer\n<< /Size ${offs.size + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n"))
      out.toByteArray
    }
    val one = stream("one")
    val two = stream("two")
    assert(one.length + two.length < (1 << 20), "zeros compress tiny")
    assert(PdfCodec.decode(pdf(Seq(one))).get.map(_.text) == Vector("one"))
    assert(PdfCodec.decode(pdf(Seq(one, two))).isEmpty,
      "two streams inflate past the file's budget together")
  }

  test("refusals: dangling startxref, rootless xref stream, garbage, encryption") {
    assert(PdfCodec.decode(fixture("bad-03.pdf")).isEmpty, "startxref > EOF")
    assert(PdfCodec.decode(fixture("bad-04.pdf")).isEmpty,
      "an xref stream with no /Root parses but refuses at the catalog")
    assert(PdfCodec.decode(Array.emptyByteArray).isEmpty)
    assert(PdfCodec.decode("%PDF-1.4 but nothing else".getBytes).isEmpty)
    // an /Encrypt entry in the trailer must refuse whole-file
    val g = new String(fixture("doc-00.pdf"),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val enc = g.replace("/Root 1 0 R", "/Root 1 0 R /Encrypt 9 0 R")
    // the trailer grew: startxref still points at 'xref' (unchanged
    // prefix), so the refusal comes from the Encrypt gate, not drift
    assert(PdfCodec.decode(
      enc.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)).isEmpty)
  }

  test("hostile bytes never throw: truncations and single-byte fuzz") {
    val good = fixture("doc-00.pdf")
    val fz = new FuzzDigest
    (0 until good.length by 5).foreach(k => fz.add(PdfCodec.decode(good.take(k))))
    var j = 0
    while (j < good.length) {
      val m = good.clone(); m(j) = (m(j) ^ 0x31).toByte
      fz.add(PdfCodec.decode(m))
      j += 1
    }
    val fl = fixture("doc-01.pdf")
    j = 0
    while (j < fl.length) {
      val m = fl.clone(); m(j) = 0x41
      fz.add(PdfCodec.decode(m))
      j += 2
    }
    assert(fz.hex == "1294/400:7eeab4140feb78eb", fz.hex)
  }

  test("empty-password encryption decrypts: RC4-128 and AES-128 crypt filter") {
    val rc4 = PdfCodec.decode(fixture("enc-rc4-08.pdf")).get
    assert(rc4.map(_.text) == Vector(
      "unwrapped by the empty password", "rc4 second line"))
    val aes = PdfCodec.decode(fixture("enc-aes-09.pdf")).get
    assert(aes.map(_.text) == Vector(
      "aes body over cbc", "with a second run"))
  }

  test("ToUnicode CMaps: composed 2-byte codes, bfranges, font switching") {
    val rs = PdfCodec.decode(fixture("cmap-11.pdf")).get
    assert(rs.map(_.text) == Vector(
      "Heﬃ",            // bfchar incl. the ffi ligature
      "ff09A",               // multi-unit bfchar + incrementing bfrange ends
      "é你",        // array-form bfrange
      "H",
      "Α😀",  // 1-byte CMap with a surrogate-pair dst
      "plain latin1"))       // Tf back to a no-CMap font
    // fuzz: CMap bytes are attacker-controlled too
    val f = fixture("cmap-11.pdf")
    val fz = new FuzzDigest
    (0 until f.length by 9).foreach(k => fz.add(PdfCodec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x63).toByte
      fz.add(PdfCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "1608/476:ffe08ab381ba1c43", fz.hex)
  }

  test("AES-256 (V5/R6, the Acrobat-X+ default) decrypts under the empty password") {
    val rs = PdfCodec.decode(fixture("enc-aes256-12.pdf")).get
    assert(rs.map(_.text) == Vector(
      "modern aes-256 body", "second run under v5"))
    val f = fixture("enc-aes256-12.pdf")
    val fz = new FuzzDigest
    (0 until f.length by 9).foreach(k => fz.add(PdfCodec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x2b).toByte
      fz.add(PdfCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "1278/184:b8fef2059416a86f", fz.hex)
  }

  test("the modern encrypted shape: xref stream + ObjStm + AES-256 compose") {
    // the xref stream itself must NOT decrypt (it loads outside
    // obj(), num = -1); the ObjStm and content streams must, each as
    // its own object
    val rs = PdfCodec.decode(fixture("encmodern-14.pdf")).get
    assert(rs.map(_.text) ==
      Vector("modern encrypted: objstm under aes-256"))
    val f = fixture("encmodern-14.pdf")
    val fz = new FuzzDigest
    (0 until f.length by 9).foreach(k => fz.add(PdfCodec.decode(f.take(k))))
    var j = 0
    while (j < f.length) {
      val m = f.clone(); m(j) = (m(j) ^ 0x19).toByte
      fz.add(PdfCodec.decode(m))
      j += 1
    }
    assert(fz.hex == "1286/164:4776e1e778a6d7b9", fz.hex)
  }

  test("a REAL user password fails the /U check and refuses whole-file") {
    assert(PdfCodec.decode(fixture("encpw-10.pdf")).isEmpty)
    assert(PdfCodec.decode(fixture("encpw256-13.pdf")).isEmpty, "V5/R6")
  }

  test("encrypted fixtures survive truncation and fuzz without throwing") {
    val fz = new FuzzDigest
    for (name <- Seq("enc-rc4-08.pdf", "enc-aes-09.pdf")) {
      val f = fixture(name)
      (0 until f.length by 9).foreach(k => fz.add(PdfCodec.decode(f.take(k))))
      var j = 0
      while (j < f.length) {
        val m = f.clone(); m(j) = (m(j) ^ 0x37).toByte
        fz.add(PdfCodec.decode(m))
        j += 1
      }
    }
    assert(fz.hex == "1984/399:b8513e6c53501335", fz.hex)
  }

  test("malformed name escapes and multi-dot numbers refuse, never throw") {
    // round-15 advice: '/A#zz' hit Integer.parseInt and '1.2.3' hit
    // Double.parseDouble — both escaped decode's Fail-only catch and
    // would kill a whole Spark scan on one malformed crawled PDF
    val good = PdfCodec.write(Seq("probe".getBytes))
    def mutate(from: String, to: String): Array[Byte] = {
      val s = new String(good, "ISO-8859-1")
      val i = s.indexOf(from)
      assert(i >= 0, s"mutation anchor '$from' not in written pdf")
      (s.substring(0, i) + to + s.substring(i + from.length))
        .getBytes("ISO-8859-1")
    }
    // every mutation is LENGTH-PRESERVING — a byte-count change would
    // stale the xref offsets and refuse for the wrong reason
    // /Type -> a name with a non-hex '#' escape
    assert(PdfCodec.decode(mutate("/Type", "/#zzp")).isEmpty)
    // MediaBox number -> multi-dot token
    assert(PdfCodec.decode(mutate("0 0 612 792", "0 1.2.3 792")).isEmpty)
    // and a VALID two-hex-digit escape still decodes: #4D = 'M'
    assert(PdfCodec.decode(mutate("/MediaBox [0 0 612 792]",
      "/#4DediaBox [0 0 612 9]")).isDefined)
  }

  test("unescaped EOL inside a literal string reads as a single LF") {
    // §7.3.4.2: raw CR / CRLF / LF inside (...) all read as \n.
    // Each swap is length-preserving (filler x's sized to the EOL) so
    // /Length and the xref offsets stay true.
    for ((filler, eol) <- Seq(("x", "\r"), ("x", "\n"), ("xx", "\r\n"))) {
      val src = s"A${filler}B"
      val s = new String(PdfCodec.write(Seq(src.getBytes)), "ISO-8859-1")
      val doc = s.replace(s"($src)", s"(A${eol}B)").getBytes("ISO-8859-1")
      val rs = PdfCodec.decode(doc)
        .getOrElse(fail(s"refused on eol bytes ${eol.getBytes.toSeq}"))
      assert(rs.head.text == "A\nB", s"eol ${eol.getBytes.toSeq}")
    }
    // write() now escapes EOL bytes, so the roundtrip holds for them
    val runs = Seq("line\rmix\r\nand\nlf".getBytes("ISO-8859-1"))
    val back = PdfCodec.decode(PdfCodec.write(runs)).get.head.text
    assert(back == "line\rmix\r\nand\nlf")
  }

  test("write round-trips through the reader, escaping included") {
    val runs = Seq("plain text", "with (parens) inside",
      "back\\slash and )( reversed", "trailing \\").map(_.getBytes("UTF-8"))
    val pdf = PdfCodec.write(runs)
    val rs = PdfCodec.decode(pdf).getOrElse(fail("own write refused"))
    assert(rs.map(_.text) == runs.map(new String(_, "ISO-8859-1")).toVector)
    assert(rs.forall(_.page == 0))
    // non-ASCII bytes land as Latin-1 code points; re-encoding
    // recovers the original bytes (the roundtrip md5 contract)
    val uni = Seq("héllo wörld — ünïcode".getBytes("UTF-8"))
    val back = PdfCodec.decode(PdfCodec.write(uni)).get.head.text
      .getBytes("ISO-8859-1")
    assert(java.util.Arrays.equals(back, uni.head))
  }

  test("distributed ingest: per-run rows, refused files absent") {
    val df = graft.sources.GeoIngest.pdf.read(
      spark, graft.Fixtures.path("q_pdf_text"))
    val byFile = df.groupBy("file").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byFile == Map(
      "doc-00.pdf" -> 6L, "doc-01.pdf" -> 3L, "doc-02.pdf" -> 1L,
      "xrefstm-05.pdf" -> 1L, "objstm-06.pdf" -> 1L,
      "hybrid-07.pdf" -> 1L, "enc-rc4-08.pdf" -> 2L,
      "enc-aes-09.pdf" -> 2L, // bad-03/04, encpw-10/-13: refused, absent
      "cmap-11.pdf" -> 6L, "enc-aes256-12.pdf" -> 2L,
      "encmodern-14.pdf" -> 1L, "diff-15.pdf" -> 6L,
      "macexp-16.pdf" -> 8L))
  }

  test("simple-font /Encoding: base tables, /Differences, precedence") {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.path("q_pdf_text"), "diff-15.pdf"))
    val rs = PdfCodec.decode(bytes).getOrElse(fail("diff-15 refused"))
    assert(rs.map(_.text) == Vector(
      "€• normal",   // WinAnsi base, Differences at 65/66
      "äΔ😀�",      // Differences 128..131: AGL name, uniXXXX,
                     // uXXXXX (astral), unknown name -> U+FFFD
      "“�z",         // untouched cp1252 high byte, WinAnsi HOLE, ascii
      "Macä –¤",     // /MacRomanEncoding by name; Annex D 0xDB currency
      "¿‘ A¤ﬁ",      // dict w/o BaseEncoding -> Standard; diff @0x27
      "Ω"))          // /ToUnicode beats /Encoding (§9.10.2)
  }

  test("malformed /Differences refuse; unknown base encodings degrade") {
    val good = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.path("q_pdf_text"), "diff-15.pdf"))
    val s = new String(good, "ISO-8859-1")
    // same-length swaps keep /Length and xref offsets true
    def swapped(from: String, to: String): Array[Byte] = {
      assert(from.length == to.length && s.contains(from), from)
      s.replace(from, to).getBytes("ISO-8859-1")
    }
    // out-of-range Differences code
    assert(PdfCodec.decode(swapped("[65 /Euro", "[650 /Eur")).isEmpty)
    // name before any code: the running code is undefined
    assert(PdfCodec.decode(swapped("[39 /questiondown]",
      "[/questiondown 39]")).isEmpty)
    // a valid-but-unsupported base encoding is a content-level gap:
    // that font's runs read U+FFFD, every other font is untouched
    // (refusing whole-file would erase the rest of the document)
    val rs = PdfCodec.decode(swapped("/MacRomanEncoding",
      "/MacExpertEncodin")).getOrElse(fail("MacExpert font refused file"))
    assert(rs(3).text == "�������", "unsupported base should read FFFD")
    assert(rs(0).text == "€• normal" && rs(5).text == "Ω",
      "other fonts must be unaffected")
  }

  test("MacExpertEncoding: the fourth Annex D base table decodes") {
    // macexp-16.pdf's golden is composed on the Python side from two
    // separately-transcribed tables (Annex D.4 code->glyph-name, AGL
    // name->Unicode); these literals pin the Scala composition.
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.path("q_pdf_text"), "macexp-16.pdf"))
    val rs = PdfCodec.decode(bytes).getOrElse(fail("macexp-16 refused"))
    assert(rs.size == 8)
    // oldstyle figures ride Adobe's corporate block F730-F739
    assert(rs(0).text == (0xf730 to 0xf739).map(_.toChar).mkString)
    // f-ligatures are standard codepoints; small caps F7 + lowercase
    // ("graft" bytes 67 72 61 66 74 -> F767 F772 F761 F766 F774)
    assert(rs(1).text == "\ufb00\ufb01\ufb02\ufb03\ufb04, " +
      "\uf767\uf772\uf761\uf766\uf774")
    // nut fractions, digit superiors/inferiors
    assert(rs(2).text ==
      "\u00bc\u00bd\u00be\u215b\u2153\u2154\u2044" +
      "\u00b9\u00b2\u2074\u2070\u2080\u2081\u2082")
    // undefined codes -> U+FFFD; tab passes through; the F6DC-F6DE
    // fitted/rupiah/3-4-emdash corporates; colonmonetary
    assert(rs(6).text ==
      "\ufffd\ufffd\ufffd\ufffd\t\uf6de\uf6dc\uf6dd\u20a1")
    // dict form: BaseEncoding MacExpert + Differences overlay at 0x31
    assert(rs(7).text == "\u20ac\uf732\ufb01")
  }

  test("literal tab/LF/CR in show strings pass through under /Encoding") {
    // Annex D leaves codes below 0x20 undefined, but crawled Tj
    // strings occasionally carry literal whitespace controls as
    // layout; the no-/Encoding Latin-1 path passes them through, so
    // the /Encoding path must too (not degrade to U+FFFD) — unless
    // /Differences remapped the code to a glyph.
    val good = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.path("q_pdf_text"), "diff-15.pdf"))
    val s = new String(good, "ISO-8859-1")
    def swapped(from: String, to: String): Array[Byte] = {
      assert(from.length == to.length && s.contains(from), from)
      s.replace(from, to).getBytes("ISO-8859-1")
    }
    for ((hx, ch) <- Seq("09" -> '\t', "0A" -> '\n', "0D" -> '\r')) {
      val rs = PdfCodec.decode(swapped("<938D7A>", s"<93${hx}7A>"))
        .getOrElse(fail("whitespace-bearing file refused"))
      assert(rs(2).text == s"“${ch}z",
        s"0x$hx under WinAnsi /Encoding should pass through as whitespace")
    }
    // a code below 0x20 that is NOT tab/LF/CR stays a U+FFFD gap
    val rs = PdfCodec.decode(swapped("<938D7A>", "<930B7A>")).get
    assert(rs(2).text == "“�z", "0x0B must stay U+FFFD")
  }

  test("hardcoded MacRoman table matches the JDK charset where present") {
    // macRomanTable is hardcoded because x-MacRoman lives in the
    // OPTIONAL jdk.charsets module; on JDKs that do ship it, the
    // hardcode must agree byte-for-byte — except 0xDB, where Annex D
    // keeps the pre-euro CURRENCY SIGN over the charset's EURO SIGN.
    val cs =
      try Some(java.nio.charset.Charset.forName("x-MacRoman"))
      catch { case _: Exception => None }
    assume(cs.isDefined, "JDK has no x-MacRoman charset; nothing to cross-check")
    val t = PdfCodec.macRomanTable
    assert(t(0xdb) == "\u00a4", "0xDB must be Annex D CURRENCY SIGN")
    for (c <- 0x20 to 0xff if c != 0xdb) {
      val jdk = new String(Array(c.toByte), cs.get)
      assert(t(c) == jdk,
        f"macRomanTable(0x$c%02x) = '${t(c)}' but JDK decodes '$jdk'")
    }
    for (c <- 0 until 0x20) assert(t(c) == null, f"0x$c%02x must be undefined")
  }
}
