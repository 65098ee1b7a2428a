package graft.sources

import Bytes._

/** PDF text-run codec — PDF is the dominant format of crawled
  * document corpora, and "extract the shown text" is the first
  * operator every document pipeline runs over one. This walks
  * ISO 32000 from scratch: startxref → cross-reference tables, BOTH
  * the classic form AND the PDF 1.5+ cross-reference STREAM (the
  * modern default: W-packed binary rows behind FlateDecode and the
  * PNG Up/Sub/Average/Paeth predictors), incremental-update /Prev
  * chains with newest-definition-wins, HYBRID-reference files (a
  * classic trailer whose /XRefStm points at the stream carrying the
  * compressed-object entries — the Acrobat compatibility shape),
  * compressed objects inside /Type /ObjStm object streams, indirect objects via a
  * recursive-descent value parser (dicts, arrays, names with #xx
  * escapes, literal strings with escape/octal sequences, hex
  * strings, refs, streams with indirect /Length), the /Root →
  * /Pages → /Kids page tree, and a content-stream token scan that
  * emits one text RUN per show operator (Tj, ', ", and each string
  * element of TJ) in stream order. The contract is deliberately
  * layout-free — no font metrics, no positioning — which is exactly
  * what a text-corpus pipeline consumes and what stays
  * deterministic.
  *
  * ENCRYPTED documents open when they are readable by design: the
  * standard security handler with an EMPTY user password — RC4
  * (V1/V2, and V4 crypt filters with /CFM /V2) and AES-128-CBC
  * (/CFM /AESV2) derive the file key per Algorithm 2, verify it
  * against /U (Algorithms 4/5), and decrypt each stream with its
  * per-object key before filters; AES-256 (V5/R6 — the Acrobat-X+
  * default, ISO 32000-2) validates the Algorithm 2.B hardened hash
  * against /U's validation salt, unwraps the file key from /UE, and
  * decrypts bodies with it directly (/CFM /AESV3; the deprecated R5
  * single-SHA-256 form too). A real password fails the hash check
  * and refuses whole-file.
  *
  * Envelope refusals (whole-file None, the [[GzipCodec]] discipline):
  * filters beyond FlateDecode, TIFF predictor 2, password-protected
  * documents, a truncated or looped xref chain or
  * object-stream cycle, a missing /Root, object/page/run/inflation
  * budgets. Fonts WITH a /ToUnicode CMap — the composed-font
  * (Type0/Identity-H) shape included — map their 1- or 2-byte
  * character codes through the CMap's bfchar / bfrange (incrementing
  * and array forms) tables; SIMPLE fonts without one but with an
  * /Encoding decode through the Annex D base table
  * (WinAnsi/MacRoman/Standard/MacExpert; name or /BaseEncoding dict
  * form, absent base → Standard) overlaid with the /Differences
  * array, glyph names resolved via an AGL subset plus the uniXXXX /
  * uXXXXXX algorithmic forms; fonts with NEITHER decode as Latin-1
  * (PDFDocEncoding agrees on the fixture range). Font state tracks
  * across Tf operators; unmapped codes, unknown glyph names, and
  * unrecognized base-encoding names degrade to U+FFFD rather than
  * refusing. Never throws. */
object PdfCodec {

  /** One shown text run: 0-based page and per-page run index. */
  case class Run(page: Int, run: Int, text: String)

  val MaxObjects: Int = 100000
  val MaxPages: Int = 10000
  val MaxRuns: Int = 100000

  // ---- value model -------------------------------------------------
  private sealed trait PVal
  private case class PNum(v: Double) extends PVal
  private case class PName(v: String) extends PVal
  private case class PStr(v: Array[Byte]) extends PVal
  private case class PArr(vs: Vector[PVal]) extends PVal
  private case class PDict(m: Map[String, PVal]) extends PVal
  private case class PRef(num: Int) extends PVal
  /** `num` is the OWNING object number (attached when loaded through
    * the xref — -1 during raw parses): the standard security handler
    * derives each stream's decryption key from it. */
  private case class PStream(dict: PDict, dataAt: Int, num: Int = -1,
      gen: Int = 0)
    extends PVal
  private case object POther extends PVal // null: carried, unused
  private case class PBool(b: Boolean) extends PVal // /EncryptMetadata needs it

  // ---- font text decoders -------------------------------------------
  /** How the CURRENT font turns show-string bytes into text: a
    * /ToUnicode CMap (1- or 2-byte codes), or a simple-font
    * /Encoding table (256 glyph slots, null = unmapped → U+FFFD).
    * No font at all decodes as Latin-1. */
  private sealed trait FontDec
  private final case class CMapDec(twoByte: Boolean, m: Map[Int, String])
    extends FontDec
  private final case class SimpleDec(table: Array[String]) extends FontDec

  /** 256-slot table from a JDK charset: single-byte decode of codes
    * 0x20..0xFF minus the codes the PDF base encoding leaves
    * undefined. Codes below 0x20 are undefined in every Annex D
    * base encoding. */
  private def charsetTable(cs: String, undef: Set[Int]): Array[String] = {
    val dec = java.nio.charset.Charset.forName(cs)
    val t = new Array[String](256)
    var c = 0x20
    while (c <= 0xff) {
      if (!undef(c)) {
        val s = new String(Array(c.toByte), dec)
        if (s.length == 1 && s.charAt(0) != '�') t(c) = s
      }
      c += 1
    }
    t
  }

  /** WinAnsiEncoding (ISO 32000 Annex D) = Windows code page 1252;
    * the five cp1252 holes (0x81/8D/8F/90/9D) stay undefined rather
    * than decoding to the C1 controls the JDK charset fills in. */
  private lazy val winAnsiTable: Array[String] =
    charsetTable("windows-1252", Set(0x81, 0x8d, 0x8f, 0x90, 0x9d))

  /** MacRomanEncoding (Annex D) = Mac OS Roman with one override:
    * Annex D keeps the pre-8.5 CURRENCY SIGN at 0xDB where post-1998
    * Mac OS Roman has EURO SIGN. Hardcoded (not Charset.forName
    * ("x-MacRoman")) because that charset lives in the OPTIONAL
    * jdk.charsets module — on a minimal jlink image the lookup throws
    * and every MacRoman-font PDF would silently skip. The high half
    * is the canonical Apple table; PdfCodecSpec cross-checks it
    * against the JDK charset whenever that module is present. */
  private[graft] lazy val macRomanTable: Array[String] = {
    val t = new Array[String](256)
    var c = 0x20
    while (c <= 0x7f) { t(c) = c.toChar.toString; c += 1 }
    val high = Array(
      0x00C4, 0x00C5, 0x00C7, 0x00C9, 0x00D1, 0x00D6, 0x00DC, 0x00E1, // 80
      0x00E0, 0x00E2, 0x00E4, 0x00E3, 0x00E5, 0x00E7, 0x00E9, 0x00E8,
      0x00EA, 0x00EB, 0x00ED, 0x00EC, 0x00EE, 0x00EF, 0x00F1, 0x00F3, // 90
      0x00F2, 0x00F4, 0x00F6, 0x00F5, 0x00FA, 0x00F9, 0x00FB, 0x00FC,
      0x2020, 0x00B0, 0x00A2, 0x00A3, 0x00A7, 0x2022, 0x00B6, 0x00DF, // A0
      0x00AE, 0x00A9, 0x2122, 0x00B4, 0x00A8, 0x2260, 0x00C6, 0x00D8,
      0x221E, 0x00B1, 0x2264, 0x2265, 0x00A5, 0x00B5, 0x2202, 0x2211, // B0
      0x220F, 0x03C0, 0x222B, 0x00AA, 0x00BA, 0x03A9, 0x00E6, 0x00F8,
      0x00BF, 0x00A1, 0x00AC, 0x221A, 0x0192, 0x2248, 0x2206, 0x00AB, // C0
      0x00BB, 0x2026, 0x00A0, 0x00C0, 0x00C3, 0x00D5, 0x0152, 0x0153,
      0x2013, 0x2014, 0x201C, 0x201D, 0x2018, 0x2019, 0x00F7, 0x25CA, // D0
      0x00FF, 0x0178, 0x2044, 0x00A4, 0x2039, 0x203A, 0xFB01, 0xFB02,
      0x2021, 0x00B7, 0x201A, 0x201E, 0x2030, 0x00C2, 0x00CA, 0x00C1, // E0
      0x00CB, 0x00C8, 0x00CD, 0x00CE, 0x00CF, 0x00CC, 0x00D3, 0x00D4,
      0xF8FF, 0x00D2, 0x00DA, 0x00DB, 0x00D9, 0x0131, 0x02C6, 0x02DC, // F0
      0x00AF, 0x02D8, 0x02D9, 0x02DA, 0x00B8, 0x02DD, 0x02DB, 0x02C7)
    var i = 0
    while (i < 128) { t(0x80 + i) = high(i).toChar.toString; i += 1 }
    t
  }

  /** Adobe StandardEncoding (Annex D): ASCII with typographic quotes
    * at 0x27/0x60, plus the defined high-octal punctuation /
    * accent / ligature rows; everything else undefined. */
  private lazy val standardTable: Array[String] = {
    val t = new Array[String](256)
    var c = 0x20
    while (c <= 0x7e) { t(c) = c.toChar.toString; c += 1 }
    t(0x27) = "’" // quoteright
    t(0x60) = "‘" // quoteleft
    val high = Seq(
      0xa1 -> 0x00a1, 0xa2 -> 0x00a2, 0xa3 -> 0x00a3, 0xa4 -> 0x2044,
      0xa5 -> 0x00a5, 0xa6 -> 0x0192, 0xa7 -> 0x00a7, 0xa8 -> 0x00a4,
      0xa9 -> 0x0027, 0xaa -> 0x201c, 0xab -> 0x00ab, 0xac -> 0x2039,
      0xad -> 0x203a, 0xae -> 0xfb01, 0xaf -> 0xfb02,
      0xb1 -> 0x2013, 0xb2 -> 0x2020, 0xb3 -> 0x2021, 0xb4 -> 0x00b7,
      0xb6 -> 0x00b6, 0xb7 -> 0x2022, 0xb8 -> 0x201a, 0xb9 -> 0x201e,
      0xba -> 0x201d, 0xbb -> 0x00bb, 0xbc -> 0x2026, 0xbd -> 0x2030,
      0xbf -> 0x00bf,
      0xc1 -> 0x0060, 0xc2 -> 0x00b4, 0xc3 -> 0x02c6, 0xc4 -> 0x02dc,
      0xc5 -> 0x00af, 0xc6 -> 0x02d8, 0xc7 -> 0x02d9, 0xc8 -> 0x00a8,
      0xca -> 0x02da, 0xcb -> 0x00b8, 0xcd -> 0x02dd, 0xce -> 0x02db,
      0xcf -> 0x02c7, 0xd0 -> 0x2014,
      0xe1 -> 0x00c6, 0xe3 -> 0x00aa, 0xe8 -> 0x0141, 0xe9 -> 0x00d8,
      0xea -> 0x0152, 0xeb -> 0x00ba,
      0xf1 -> 0x00e6, 0xf5 -> 0x0131, 0xf8 -> 0x0142, 0xf9 -> 0x00f8,
      0xfa -> 0x0153, 0xfb -> 0x00df)
    high.foreach { case (cc, u) => t(cc) = u.toChar.toString }
    t
  }

  /** MacExpertEncoding (Annex D.4): the expert-set base encoding —
    * oldstyle figures, small capitals, superiors/inferiors, nut
    * fractions, f-ligatures. Unicode targets follow the Adobe Glyph
    * List: glyphs with no standard codepoint land in Adobe's
    * corporate-use area (small caps F7 + the Latin-1/ASCII code of
    * the lowercase letter, oldstyle figures F730-F739, the
    * superior/inferior letter forms and small diacritics in
    * F6DC-F6FF); ligatures FB00-FB04, fractions 215x/00Bx, digit
    * superiors/inferiors 2070-2089. Codes not listed are undefined
    * (U+FFFD at decode; tab/LF/CR pass through via SimpleDec). */
  private[graft] lazy val macExpertTable: Array[String] = {
    val t = new Array[String](256)
    val smalls = (0x61 to 0x7a).map(c => f"$c%02X:F7$c%02X").mkString(",")
    val packed =
      "20:20,21:F721,22:F6F8,23:F7A2,24:F724,25:F6E4,26:F726,27:F7B4," +
      "28:207D,29:207E,2A:2025,2B:2024,2C:2C,2D:2D,2E:2E,2F:2044," +
      "30:F730,31:F731,32:F732,33:F733,34:F734,35:F735,36:F736,37:F737," +
      "38:F738,39:F739,3A:3A,3B:3B,3D:F6DE,3F:F73F,44:F7F0," +
      "47:BC,48:BD,49:BE,4A:215B,4B:215C,4C:215D,4D:215E,4E:2153," +
      "4F:2154,56:FB00,57:FB01,58:FB02,59:FB03,5A:FB04,5B:208D," +
      "5D:208E,5E:F6F6,5F:F6E5,60:F760," + smalls + "," +
      "7B:20A1,7C:F6DC,7D:F6DD,7E:F6FE," +
      "81:F6E9,82:F6E0,87:F7E1,88:F7E0,89:F7E2,8A:F7E4,8B:F7E3," +
      "8C:F7E5,8D:F7E7,8E:F7E9,8F:F7E8,90:F7EA,91:F7EB,92:F7ED," +
      "93:F7EC,94:F7EE,95:F7EF,96:F7F1,97:F7F3,98:F7F2,99:F7F4," +
      "9A:F7F6,9B:F7F5,9C:F7FA,9D:F7F9,9E:F7FB,9F:F7FC," +
      "A1:2078,A2:2084,A3:2083,A4:2086,A5:2088,A6:2087,A7:F6FD," +
      "A9:F6DF,AA:2082,AC:F7A8,AE:F6F5,AF:F6F0,B0:2085,B2:F6E1," +
      "B3:F6E7,B4:F7FD,B6:F6E3,B9:F7FE,BB:2089,BC:2080,BD:F6FF," +
      "BE:F7E6,BF:F7F8,C0:F7BF,C1:2081,C2:F6F9,C9:F7B8,CF:F6FA," +
      "D0:2012,D1:F6E6,D6:F7A1,D8:F7FF,DA:B9,DB:B2,DC:B3,DD:2074," +
      "DE:2075,DF:2076,E0:2077,E1:2079,E2:2070,E4:F6EC,E5:F6F1," +
      "E6:F6F3,E9:F6ED,EA:F6F2,EB:F6EB,F1:F6EE,F2:F6FB,F3:F6F4," +
      "F4:F7AF,F5:F6EA,F7:F6EF,F8:F6E2,F9:F6E8,FA:F6F7,FB:F6FC"
    packed.split(",").foreach { e =>
      val i = e.indexOf(':')
      t(Integer.parseInt(e.substring(0, i), 16)) = new String(
        Character.toChars(Integer.parseInt(e.substring(i + 1), 16)))
    }
    t
  }

  /** Adobe Glyph List subset: every glyph name used by the three
    * Annex D base encodings plus the cp1252 typographic set — the
    * names real /Differences arrays use. Packed as name:hex pairs;
    * letters and digits are generated. */
  private lazy val glyphUnicode: Map[String, String] = {
    val m = Map.newBuilder[String, String]
    for (c <- ('A' to 'Z') ++ ('a' to 'z')) m += c.toString -> c.toString
    Seq("zero", "one", "two", "three", "four", "five", "six", "seven",
      "eight", "nine").zipWithIndex.foreach { case (n, i) =>
      m += n -> ('0' + i).toChar.toString
    }
    val packed =
      "space:20,exclam:21,quotedbl:22,numbersign:23,dollar:24,percent:25," +
      "ampersand:26,quotesingle:27,parenleft:28,parenright:29,asterisk:2A," +
      "plus:2B,comma:2C,hyphen:2D,period:2E,slash:2F,colon:3A,semicolon:3B," +
      "less:3C,equal:3D,greater:3E,question:3F,at:40,bracketleft:5B," +
      "backslash:5C,bracketright:5D,asciicircum:5E,underscore:5F,grave:60," +
      "braceleft:7B,bar:7C,braceright:7D,asciitilde:7E," +
      "exclamdown:A1,cent:A2,sterling:A3,currency:A4,yen:A5,brokenbar:A6," +
      "section:A7,dieresis:A8,copyright:A9,ordfeminine:AA,guillemotleft:AB," +
      "logicalnot:AC,registered:AE,macron:AF,degree:B0,plusminus:B1," +
      "twosuperior:B2,threesuperior:B3,acute:B4,mu:B5,paragraph:B6," +
      "periodcentered:B7,cedilla:B8,onesuperior:B9,ordmasculine:BA," +
      "guillemotright:BB,onequarter:BC,onehalf:BD,threequarters:BE," +
      "questiondown:BF," +
      "Agrave:C0,Aacute:C1,Acircumflex:C2,Atilde:C3,Adieresis:C4,Aring:C5," +
      "AE:C6,Ccedilla:C7,Egrave:C8,Eacute:C9,Ecircumflex:CA,Edieresis:CB," +
      "Igrave:CC,Iacute:CD,Icircumflex:CE,Idieresis:CF,Eth:D0,Ntilde:D1," +
      "Ograve:D2,Oacute:D3,Ocircumflex:D4,Otilde:D5,Odieresis:D6," +
      "multiply:D7,Oslash:D8,Ugrave:D9,Uacute:DA,Ucircumflex:DB," +
      "Udieresis:DC,Yacute:DD,Thorn:DE,germandbls:DF," +
      "agrave:E0,aacute:E1,acircumflex:E2,atilde:E3,adieresis:E4,aring:E5," +
      "ae:E6,ccedilla:E7,egrave:E8,eacute:E9,ecircumflex:EA,edieresis:EB," +
      "igrave:EC,iacute:ED,icircumflex:EE,idieresis:EF,eth:F0,ntilde:F1," +
      "ograve:F2,oacute:F3,ocircumflex:F4,otilde:F5,odieresis:F6,divide:F7," +
      "oslash:F8,ugrave:F9,uacute:FA,ucircumflex:FB,udieresis:FC,yacute:FD," +
      "thorn:FE,ydieresis:FF," +
      "dotlessi:131,Lslash:141,lslash:142,OE:152,oe:153,Scaron:160," +
      "scaron:161,Ydieresis:178,Zcaron:17D,zcaron:17E,florin:192," +
      "circumflex:2C6,caron:2C7,breve:2D8,dotaccent:2D9,ring:2DA," +
      "ogonek:2DB,tilde:2DC,hungarumlaut:2DD," +
      "endash:2013,emdash:2014,quoteleft:2018,quoteright:2019," +
      "quotesinglbase:201A,quotedblleft:201C,quotedblright:201D," +
      "quotedblbase:201E,dagger:2020,daggerdbl:2021,bullet:2022," +
      "ellipsis:2026,perthousand:2030,guilsinglleft:2039," +
      "guilsinglright:203A,fraction:2044,Euro:20AC,trademark:2122," +
      "minus:2212,fi:FB01,fl:FB02"
    packed.split(',').foreach { e =>
      val i = e.indexOf(':')
      val cp = Integer.parseInt(e.substring(i + 1), 16)
      m += e.substring(0, i) -> new String(Character.toChars(cp))
    }
    m.result()
  }

  /** Glyph name → Unicode string, or null when unmappable (the
    * content-level U+FFFD gap, not a structural fault): the AGL
    * subset table, then the AGL algorithmic forms — uniXXXX[XXXX…]
    * (4-hex UTF-16 units, no lone surrogates) and uXXXX..XXXXXX
    * (one code point). */
  private def glyphUni(name: String): String = {
    // AGL algorithmic names use UPPERCASE hex only
    def hexVal(s: String): Int = {
      var v = 0
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        val d =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else return -1
        v = (v << 4) | d
        i += 1
      }
      v
    }
    glyphUnicode.get(name) match {
      case Some(s) => s
      case None =>
        if (name.length >= 7 && name.startsWith("uni") &&
            (name.length - 3) % 4 == 0) {
          val sb = new java.lang.StringBuilder()
          var i = 3
          while (i < name.length) {
            val u = hexVal(name.substring(i, i + 4))
            if (u < 0 || (u >= 0xd800 && u <= 0xdfff)) return null
            sb.append(u.toChar)
            i += 4
          }
          sb.toString
        } else if (name.length >= 5 && name.length <= 7 &&
            name.charAt(0) == 'u') {
          val cp = hexVal(name.substring(1))
          if (cp < 0 || cp > 0x10ffff || (cp >= 0xd800 && cp <= 0xdfff)) null
          else new String(Character.toChars(cp))
        } else null
    }
  }

  /** Never throws: Refused is the deliberate refusal signal, and any
    * OTHER non-fatal escape (a parse-path oversight on hostile bytes)
    * must degrade to a per-file skip, not kill a whole Spark scan of
    * crawled PDFs. The specific known escapes (non-hex '#' names,
    * multi-dot numbers) are also refused at their parse sites. */
  def decode(bytes: Array[Byte]): Option[Vector[Run]] =
    try Some(run(bytes))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Write a one-page PDF whose content stream shows each byte run
    * with its own Tj (parens/backslash escaped) — the classic-xref
    * inverse of [[decode]] (the GifCodec.encode discipline: the
    * corpus-driven q_pdf_roundtrip grades writer∘reader against pure
    * SQL arithmetic). Runs are raw BYTES; non-ASCII round-trips as
    * Latin-1 code points on the read side. */
  def write(runs: Seq[Array[Byte]]): Array[Byte] = {
    require(runs.nonEmpty && runs.size <= 4096, s"${runs.size}")
    val content = new java.io.ByteArrayOutputStream()
    content.write("BT /F1 12 Tf 72 720 Td ".getBytes)
    runs.foreach { r =>
      content.write('(')
      r.foreach {
        case b if b == '(' || b == ')' || b == '\\' =>
          content.write('\\'); content.write(b)
        // EOL bytes must be ESCAPED: an unescaped one would read back
        // as LF under §7.3.4.2 normalization, breaking the roundtrip
        case b if b == '\r' => content.write('\\'); content.write('r')
        case b if b == '\n' => content.write('\\'); content.write('n')
        case b => content.write(b)
      }
      content.write(") Tj 0 -14 Td ".getBytes)
    }
    content.write("ET".getBytes)
    val cs = content.toByteArray
    val objs = Vector(
      "<< /Type /Catalog /Pages 2 0 R >>".getBytes,
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>".getBytes,
      ("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 4 0 R >>").getBytes,
      (s"<< /Length ${cs.length} >>\nstream\n").getBytes ++ cs ++
        "\nendstream".getBytes)
    val out = new java.io.ByteArrayOutputStream()
    out.write("%PDF-1.4\n".getBytes)
    val offs = objs.zipWithIndex.map { case (body, i) =>
      val at = out.size
      out.write(s"${i + 1} 0 obj\n".getBytes)
      out.write(body)
      out.write("\nendobj\n".getBytes)
      at
    }
    val xrefAt = out.size
    out.write(s"xref\n0 ${objs.size + 1}\n".getBytes)
    out.write("0000000000 65535 f \n".getBytes)
    offs.foreach(o => out.write("%010d 00000 n \n".format(o).getBytes))
    out.write(s"trailer\n<< /Size ${objs.size + 1} /Root 1 0 R >>\n".getBytes)
    out.write(s"startxref\n$xrefAt\n%%EOF\n".getBytes)
    out.toByteArray
  }

  // ---- standard security handler (ISO 32000-1 §7.6.3) ----------------
  // Empty-USER-password documents (readable-by-design, merely wrapped —
  // common in crawls) decrypt; a real password fails the /U (or /U
  // hash, V5) check and refuses whole-file. RC4 (V1/V2 and V4+CFM V2),
  // AES-128-CBC (V4+CFM AESV2), and AES-256-CBC (V5/R6 via Algorithm
  // 2.B key derivation, CFM AESV3) bodies all decrypt.

  /** The 32-byte password pad constant (Table 21 adjunct). */
  private val PdfPad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }

  /** Plain RC4 — hand-rolled so no JCE provider lookup can vary. */
  private def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(_.toByte)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + s(i) + key(i % key.length)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var x = 0
    var y = 0
    var k = 0
    while (k < data.length) {
      x = (x + 1) & 0xff
      y = (y + s(x)) & 0xff
      val t = s(x); s(x) = s(y); s(y) = t
      out(k) = (data(k) ^ s((s(x) + s(y)) & 0xff)).toByte
      k += 1
    }
    out
  }

  /** Algorithm 2: file key from the (empty) user password. */
  private def fileKey(o: Array[Byte], p: Int, id0: Array[Byte], r: Long,
      n: Int, encryptMetadata: Boolean): Array[Byte] = {
    val pLe = le(p, 4)
    val extra =
      if (r >= 4 && !encryptMetadata)
        Array[Byte](-1, -1, -1, -1)
      else Array.emptyByteArray
    var key = md5(PdfPad, o, pLe, id0, extra)
    if (r >= 3) {
      var i = 0
      while (i < 50) { key = md5(key.take(n)); i += 1 }
    }
    key.take(n)
  }

  /** Algorithms 4/5: what /U must equal under the empty user
    * password — the open-by-design check. */
  private def expectU(key: Array[Byte], id0: Array[Byte], r: Long): Array[Byte] =
    if (r == 2) rc4(key, PdfPad)
    else {
      var e = rc4(key, md5(PdfPad, id0))
      var i = 1
      while (i <= 19) {
        e = rc4(key.map(b => (b ^ i).toByte), e)
        i += 1
      }
      e
    }

  /** Algorithm 2.B (ISO 32000-2, V5/R6): the hardened password hash —
    * SHA-256 seed, then ≥64 rounds of AES-128-CBC over the repeated
    * (password ‖ K ‖ udata) block with a data-dependent SHA-256/384/
    * 512 pick, until round ≥ 64 and the last byte ≤ round − 32. */
  private def hash2B(pw: Array[Byte], salt: Array[Byte],
      udata: Array[Byte]): Array[Byte] = {
    def sha(n: Int, parts: Array[Byte]*): Array[Byte] = {
      val d = java.security.MessageDigest.getInstance(s"SHA-$n")
      parts.foreach(d.update)
      d.digest()
    }
    var k = sha(256, pw, salt, udata)
    var i = 0
    var done = false
    var e = Array.emptyByteArray
    while (!done) {
      val unit = pw ++ k ++ udata
      val k1 = new Array[Byte](unit.length * 64)
      var j = 0
      while (j < 64) {
        System.arraycopy(unit, 0, k1, j * unit.length, unit.length)
        j += 1
      }
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(k.take(16), "AES"),
        new javax.crypto.spec.IvParameterSpec(
          java.util.Arrays.copyOfRange(k, 16, 32)))
      e = c.doFinal(k1)
      var s = 0
      var t = 0
      while (t < 16) { s += e(t) & 0xff; t += 1 }
      k = sha(Seq(256, 384, 512)(s % 3), e)
      i += 1
      if (i >= 64 && (e(e.length - 1) & 0xff) <= i - 32) done = true
      if (i > 512) refuse() // spec terminates well before; hostile guard
    }
    k.take(32)
  }

  /** V5/R6 empty-user-password file key: validate against /U's hash +
    * validation salt, then unwrap the file key from /UE with the
    * key-salt intermediate (AES-256-CBC, zero IV, no padding). R5
    * (the deprecated Adobe extension) uses a plain SHA-256 in place
    * of 2.B. */
  private def fileKeyV5(u48: Array[Byte], ue: Array[Byte],
      r: Long): Array[Byte] = {
    val hash = java.util.Arrays.copyOfRange(u48, 0, 32)
    val vsalt = java.util.Arrays.copyOfRange(u48, 32, 40)
    val ksalt = java.util.Arrays.copyOfRange(u48, 40, 48)
    val empty = Array.emptyByteArray
    def h(salt: Array[Byte]): Array[Byte] =
      if (r >= 6) hash2B(empty, salt, empty)
      else { // R5: single SHA-256
        val d = java.security.MessageDigest.getInstance("SHA-256")
        d.update(salt)
        d.digest()
      }
    if (!java.util.Arrays.equals(h(vsalt), hash)) refuse() // real password
    val inter = h(ksalt)
    try {
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.DECRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(inter, "AES"),
        new javax.crypto.spec.IvParameterSpec(new Array[Byte](16)))
      c.doFinal(ue)
    } catch { case scala.util.control.NonFatal(_) => refuse() }
  }

  /** Algorithm 1: decrypt one object's bytes with the per-object key.
    * A 32-byte key means V5/AESV3: the FILE key is used directly —
    * the per-object MD5 derivation exists only in the legacy
    * handlers. */
  private def decryptObj(key: Array[Byte], aes: Boolean, num: Int,
      gen: Int, data: Array[Byte]): Array[Byte] = {
    val tail = le(num, 3) ++ le(gen, 2) ++ // low 3 bytes of the number, 2 of the generation
      (if (aes) Array[Byte](0x73, 0x41, 0x6C, 0x54) else Array.emptyByteArray)
    val ok =
      if (key.length == 32) key
      else md5(key ++ tail).take(math.min(key.length + 5, 16))
    if (!aes) rc4(ok, data)
    else {
      // AES-128-CBC, 16-byte IV prefix, PKCS#5 padding
      if (data.length < 32 || data.length % 16 != 0) refuse()
      try {
        val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
        c.init(javax.crypto.Cipher.DECRYPT_MODE,
          new javax.crypto.spec.SecretKeySpec(ok, "AES"),
          new javax.crypto.spec.IvParameterSpec(data.take(16)))
        val plain = c.doFinal(data, 16, data.length - 16)
        val pad = plain(plain.length - 1) & 0xff
        if (pad < 1 || pad > 16 || pad > plain.length) refuse()
        java.util.Arrays.copyOfRange(plain, 0, plain.length - pad)
      } catch { case scala.util.control.NonFatal(_) => refuse() }
    }
  }

  private def run(b: Array[Byte]): Vector[Run] = {
    if (b.length < 16 || !new String(b, 0, 5,
        java.nio.charset.StandardCharsets.ISO_8859_1).startsWith("%PDF-"))
      refuse()

    def isWs(c: Int) = c == ' ' || c == '\n' || c == '\r' || c == '\t' ||
      c == '\f' || c == 0
    def isDelim(c: Int) = c == '(' || c == ')' || c == '<' || c == '>' ||
      c == '[' || c == ']' || c == '{' || c == '}' || c == '/' || c == '%'

    // ---- a cursor-based tokenizer/parser over one byte buffer -----
    // (the file for xref/object parsing; a decompressed ObjStm for
    // compressed objects)
    final class P(buf: Array[Byte], var p: Int, val end: Int) {
      def skipWs(): Unit = {
        var go = true
        while (go) {
          while (p < end && isWs(u8(buf, p))) p += 1
          if (p < end && u8(buf, p) == '%') { // comment to EOL
            while (p < end && u8(buf, p) != '\n' && u8(buf, p) != '\r') p += 1
          } else go = false
        }
      }
      def word(): String = {
        skipWs()
        val s = p
        while (p < end && !isWs(u8(buf, p)) && !isDelim(u8(buf, p))) p += 1
        if (p == s) refuse()
        new String(buf, s, p - s,
          java.nio.charset.StandardCharsets.ISO_8859_1)
      }
      /** Parse one value. Number-number-`R` lookahead folds to PRef. */
      def value(depth: Int): PVal = {
        if (depth > 48) refuse()
        skipWs()
        if (p >= end) refuse()
        u8(buf, p) match {
          case '/' =>
            p += 1
            val sb = new java.lang.StringBuilder()
            while (p < end && !isWs(u8(buf, p)) && !isDelim(u8(buf, p))) {
              // '#' escapes require two HEX digits (ISO 32000 §7.3.5);
              // '/A#zz' must refuse via refuse(), not leak a
              // NumberFormatException out of the parser
              if (u8(buf, p) == '#' && p + 2 < end) {
                val h1 = Character.digit(u8(buf, p + 1), 16)
                val h2 = Character.digit(u8(buf, p + 2), 16)
                if (h1 < 0 || h2 < 0) refuse()
                sb.append(((h1 << 4) | h2).toChar)
                p += 3
              } else { sb.append(u8(buf, p).toChar); p += 1 }
            }
            PName(sb.toString)
          case '(' => PStr(literalString())
          case '<' =>
            if (p + 1 < end && u8(buf, p + 1) == '<') dict(depth)
            else PStr(hexString())
          case '[' =>
            p += 1
            val vs = Vector.newBuilder[PVal]
            skipWs()
            while ({ skipWs(); p < end && u8(buf, p) != ']' })
              vs += value(depth + 1)
            if (p >= end) refuse()
            p += 1
            PArr(vs.result())
          case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
            val n1 = number()
            // ref lookahead: int int R
            val save = p
            if (n1 >= 0 && n1 == n1.floor) {
              skipWs()
              if (p < end && u8(buf, p) >= '0' && u8(buf, p) <= '9') {
                number()
                skipWs()
                if (p < end && u8(buf, p) == 'R' &&
                    (p + 1 >= end || isWs(u8(buf, p + 1)) || isDelim(u8(buf, p + 1)))) {
                  p += 1
                  return PRef(n1.toInt)
                }
              }
              p = save
            }
            PNum(n1)
          case _ =>
            word() match {
              case "true" => PBool(true)
              case "false" => PBool(false)
              case "null" => POther
              case _ => refuse()
            }
        }
      }
      def number(): Double = {
        skipWs()
        val s = p
        if (p < end && (u8(buf, p) == '+' || u8(buf, p) == '-')) p += 1
        var digits = false
        var dots = 0
        while (p < end && ((u8(buf, p) >= '0' && u8(buf, p) <= '9') || u8(buf, p) == '.')) {
          if (u8(buf, p) != '.') digits = true else dots += 1
          p += 1
        }
        // multi-dot tokens like '1.2.3' would make parseDouble throw
        // out of the parser — refuse them as malformed
        if (!digits || dots > 1) refuse()
        java.lang.Double.parseDouble(
          new String(buf, s, p - s,
            java.nio.charset.StandardCharsets.ISO_8859_1))
      }
      def literalString(): Array[Byte] = {
        if (u8(buf, p) != '(') refuse()
        p += 1
        val out = new java.io.ByteArrayOutputStream()
        var nest = 1
        while (nest > 0) {
          if (p >= end) refuse()
          u8(buf, p) match {
            case '\\' =>
              if (p + 1 >= end) refuse()
              u8(buf, p + 1) match {
                case 'n' => out.write('\n'); p += 2
                case 'r' => out.write('\r'); p += 2
                case 't' => out.write('\t'); p += 2
                case 'b' => out.write('\b'); p += 2
                case 'f' => out.write('\f'); p += 2
                case '(' => out.write('('); p += 2
                case ')' => out.write(')'); p += 2
                case '\\' => out.write('\\'); p += 2
                case '\r' => // line continuation
                  p += 2; if (p < end && u8(buf, p) == '\n') p += 1
                case '\n' => p += 2
                case d if d >= '0' && d <= '7' =>
                  var v = 0; var k = 0; p += 1
                  while (k < 3 && p < end && u8(buf, p) >= '0' && u8(buf, p) <= '7') {
                    v = v * 8 + (u8(buf, p) - '0'); p += 1; k += 1
                  }
                  out.write(v & 0xff)
                case other => out.write(other); p += 2 // spec: drop the \
              }
            case '(' => nest += 1; out.write('('); p += 1
            case ')' =>
              nest -= 1
              if (nest > 0) out.write(')')
              p += 1
            case '\r' =>
              // ISO 32000 §7.3.4.2: an UNESCAPED end-of-line inside a
              // literal string reads as a single LF, whatever form it
              // took in the file
              out.write('\n'); p += 1
              if (p < end && u8(buf, p) == '\n') p += 1
            case c => out.write(c); p += 1
          }
        }
        out.toByteArray
      }
      def hexString(): Array[Byte] = {
        if (u8(buf, p) != '<') refuse()
        p += 1
        val out = new java.io.ByteArrayOutputStream()
        var hi = -1
        var go = true
        while (go) {
          if (p >= end) refuse()
          val c = u8(buf, p)
          if (c == '>') {
            if (hi >= 0) out.write(hi << 4) // odd nibble: zero-padded
            p += 1; go = false
          } else if (isWs(c)) p += 1
          else {
            val d = Character.digit(c, 16)
            if (d < 0) refuse()
            if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
            p += 1
          }
        }
        out.toByteArray
      }
      def dict(depth: Int): PVal = {
        p += 2 // <<
        val m = Map.newBuilder[String, PVal]
        var go = true
        while (go) {
          skipWs()
          if (p + 1 < end && u8(buf, p) == '>' && u8(buf, p + 1) == '>') {
            p += 2; go = false
          } else {
            val k = value(depth + 1) match {
              case PName(n) => n
              case _ => refuse()
            }
            m += (k -> value(depth + 1))
          }
        }
        val d = PDict(m.result())
        // stream?
        val save = p
        skipWs()
        if (p + 6 <= end && u8(buf, p) == 's' && u8(buf, p + 1) == 't' &&
            u8(buf, p + 2) == 'r' && u8(buf, p + 3) == 'e' && u8(buf, p + 4) == 'a' &&
            u8(buf, p + 5) == 'm') {
          p += 6
          if (p < end && u8(buf, p) == '\r') p += 1
          if (p < end && u8(buf, p) == '\n') p += 1
          PStream(d, p) // caller resolves /Length and skips the data
        } else { p = save; d }
      }
    }

    // ---- xref chain -------------------------------------------------
    // find startxref near EOF
    val tail = new String(b, math.max(0, b.length - 2048),
      math.min(2048, b.length), java.nio.charset.StandardCharsets.ISO_8859_1)
    val sxAt = tail.lastIndexOf("startxref")
    if (sxAt < 0) refuse()
    val sx = new P(b, math.max(0, b.length - 2048) + sxAt + 9, b.length)
    val firstXref = sx.number().toLong

    val offsets = new java.util.HashMap[Int, Int]() // first-seen wins
    // xref-recorded generation per direct object (absent ⇒ 0): the
    // per-object decryption key mixes the LOW 2 GEN BYTES (ISO 32000
    // Algorithm 1), so an encrypted object at gen != 0 decrypted with
    // a gen-0 key yields silent garbage — track it and verify the
    // header agrees at load time (ObjStm members are gen 0 by spec)
    val gens = new java.util.HashMap[Int, Int]()
    val inStm = new java.util.HashMap[Int, (Int, Int)]() // num → (stm, idx)
    def known(num: Int): Boolean =
      offsets.containsKey(num) || inStm.containsKey(num)
    var root = -1
    // newest trailer's /Encrypt and /ID win (incremental updates walk
    // newest-first); crypt is armed after object loading exists
    var encryptVal: PVal = null
    var docId: Array[Byte] = null
    var crypt: Option[(Array[Byte], Boolean)] = None // (file key, aes?)

    // every FlateDecode stream of the file draws on one inflation budget
    var inflated = 0
    def inflate(raw: Array[Byte]): Array[Byte] = {
      val out = Compression.inflate(raw, 0, raw.length,
        Compression.MaxInflatedBytes - inflated)
        .getOrElse(refuse())
      inflated += out.length
      out
    }
    /** PNG row unfiltering (predictors 10–15; 1 byte/px as xref
      * streams use): filter byte per row, None/Sub/Up/Average/Paeth. */
    def pngUnfilter(data: Array[Byte], cols: Int): Array[Byte] = {
      if (cols < 1 || data.length % (cols + 1) != 0) refuse()
      val rows = data.length / (cols + 1)
      val out = new Array[Byte](rows * cols)
      var r = 0
      while (r < rows) {
        val ft = data(r * (cols + 1)) & 0xff
        var i = 0
        while (i < cols) {
          val raw = data(r * (cols + 1) + 1 + i) & 0xff
          val left = if (i > 0) out(r * cols + i - 1) & 0xff else 0
          val up = if (r > 0) out((r - 1) * cols + i) & 0xff else 0
          val ul = if (i > 0 && r > 0) out((r - 1) * cols + i - 1) & 0xff
            else 0
          val recon = ft match {
            case 0 => raw
            case 1 => raw + left
            case 2 => raw + up
            case 3 => raw + (left + up) / 2
            case 4 =>
              val pa = math.abs(up - ul)
              val pb = math.abs(left - ul)
              val pc = math.abs(left + up - 2 * ul)
              raw + (if (pa <= pb && pa <= pc) left
                else if (pb <= pc) up else ul)
            case _ => refuse()
          }
          out(r * cols + i) = recon.toByte
          i += 1
        }
        r += 1
      }
      out
    }
    /** Stream payload through /Filter (FlateDecode only) and
      * /DecodeParms (PNG predictors); `resolve` supplies indirect
      * /Length — direct-only during the xref walk, full deref after. */
    def streamDataWith(s: PStream, resolve: PVal => PVal): Array[Byte] = {
      val len = resolve(s.dict.m.getOrElse("Length", refuse())) match {
        case PNum(v) if v >= 0 && v <= Int.MaxValue => v.toInt
        case _ => refuse()
      }
      if (s.dataAt + len > b.length) refuse()
      val raw0 = java.util.Arrays.copyOfRange(b, s.dataAt, s.dataAt + len)
      // stream decryption precedes filters; xref streams never pass
      // here with a num (they load outside obj()) and are never
      // encrypted per spec — the num < 0 guard encodes both facts
      val raw = crypt match {
        case Some((key, aes)) if s.num >= 0 =>
          decryptObj(key, aes, s.num, s.gen, raw0)
        case _ => raw0
      }
      s.dict.m.get("Filter") match {
        case None => raw
        case Some(f) =>
          val name = resolve(f) match {
            case PName(n) => n
            case PArr(Vector(one)) => resolve(one) match {
              case PName(n) => n
              case _ => refuse()
            }
            case _ => refuse()
          }
          if (name != "FlateDecode") refuse()
          val flat = inflate(raw)
          s.dict.m.get("DecodeParms") match {
            case None => flat
            case Some(pv) => resolve(pv) match {
              case pd: PDict =>
                val pred = pd.m.get("Predictor") match {
                  case Some(PNum(v)) => v.toInt
                  case None => 1
                  case _ => refuse()
                }
                if (pred == 1) flat
                else if (pred >= 10 && pred <= 15) {
                  pd.m.get("Colors").foreach {
                    case PNum(v) if v.toInt == 1 => ()
                    case _ => refuse()
                  }
                  pd.m.get("BitsPerComponent").foreach {
                    case PNum(v) if v.toInt == 8 => ()
                    case _ => refuse()
                  }
                  val cols = pd.m.get("Columns") match {
                    case Some(PNum(v)) if v >= 1 && v <= (1 << 20) => v.toInt
                    case None => 1
                    case _ => refuse()
                  }
                  pngUnfilter(flat, cols)
                } else refuse() // TIFF predictor 2: out of envelope
              case _ => refuse()
            }
          }
      }
    }
    val directOnly: PVal => PVal = {
      case PRef(_) => refuse() // xref-stream /Length must be direct
      case v => v
    }

    val seenXref = new java.util.HashSet[Long]()

    /** Parse a cross-reference STREAM object at `at`, recording its
      * entries (first-seen-wins) and returning its trailer dict. */
    def xrefStreamAt(at: Long): PDict = {
      if (at < 0 || at >= b.length || !seenXref.add(at)) refuse()
      val px = new P(b, at.toInt, b.length)
      px.number(); px.number()
      if (px.word() != "obj") refuse()
      px.value(0) match {
        case s: PStream
            if s.dict.m.get("Type").contains(PName("XRef")) =>
          val d = s.dict
          val data = streamDataWith(s, directOnly)
          val w = d.m.getOrElse("W", refuse()) match {
            case PArr(vs) if vs.length == 3 => vs.map {
              case PNum(v) if v >= 0 && v <= 4 => v.toInt
              case _ => refuse()
            }
            case _ => refuse()
          }
          val size = d.m.get("Size") match {
            case Some(PNum(v)) if v >= 0 && v <= MaxObjects => v.toLong
            case _ => refuse()
          }
          val index: Vector[(Long, Long)] = d.m.get("Index") match {
            case Some(PArr(vs)) if vs.length % 2 == 0 =>
              vs.grouped(2).map {
                case Vector(PNum(a), PNum(c)) => (a.toLong, c.toLong)
                case _ => refuse()
              }.toVector
            case None => Vector((0L, size))
            case _ => refuse()
          }
          val rowLen = w.sum
          if (rowLen == 0) refuse()
          var pos = 0
          index.foreach { case (start, count) =>
            if (count < 0 || start < 0 || start + count > MaxObjects)
              refuse()
            var i = 0L
            while (i < count) {
              if (pos + rowLen > data.length) refuse()
              def fld(k: Int): Long = beN(data, pos + w.take(k).sum, w(k))
              val t = if (w(0) == 0) 1L else fld(0)
              val num = (start + i).toInt
              if (!known(num)) t match {
                case 1 =>
                  val off = fld(1)
                  if (off > Int.MaxValue) refuse()
                  offsets.put(num, off.toInt)
                  val g = if (w(2) > 0) fld(2) else 0L
                  if (g > 0xffff) refuse()
                  if (g != 0) gens.put(num, g.toInt)
                case 2 =>
                  val stm = fld(1); val idx = fld(2)
                  if (stm > MaxObjects || idx > MaxObjects) refuse()
                  inStm.put(num, (stm.toInt, idx.toInt))
                case _ => () // 0 = free; higher types: ignore (spec)
              }
              pos += rowLen
              i += 1
            }
          }
          d
        case _ => refuse()
      }
    }

    var xat = firstXref
    while (xat >= 0) {
      if (xat >= b.length) refuse()
      val px = new P(b, xat.toInt, b.length)
      px.skipWs()
      val trailer: PDict =
        if (px.p + 4 <= b.length && u8(b, px.p) == 'x' &&
            u8(b, px.p + 1) == 'r' && u8(b, px.p + 2) == 'e' &&
            u8(b, px.p + 3) == 'f') {
          if (!seenXref.add(xat)) refuse()
          // classic cross-reference table
          px.p += 4
          var inTable = true
          while (inTable) {
            px.skipWs()
            if (px.p + 7 <= b.length && u8(b, px.p) == 't' &&
                u8(b, px.p + 1) == 'r') {
              if (px.word() != "trailer") refuse()
              inTable = false
            } else {
              val start = px.number().toLong
              val count = px.number().toLong
              if (count < 0 || count > MaxObjects || start < 0 ||
                  start + count > MaxObjects) refuse()
              var i = 0L
              while (i < count) {
                px.skipWs()
                if (px.p + 18 > b.length) refuse()
                val off = px.number().toLong
                val gen = px.number().toLong
                px.skipWs()
                val kind = u8(b, px.p); px.p += 1
                if (kind == 'n') {
                  if (off < 0 || off > Int.MaxValue ||
                      gen < 0 || gen > 0xffff) refuse()
                  val num = (start + i).toInt
                  if (!known(num)) {
                    offsets.put(num, off.toInt)
                    if (gen != 0) gens.put(num, gen.toInt)
                  }
                } else if (kind != 'f') refuse()
                i += 1
              }
            }
          }
          val tr = px.value(0) match { case d: PDict => d; case _ => refuse() }
          // hybrid-reference files (the Acrobat compatibility shape):
          // the classic table marks compressed objects FREE and
          // /XRefStm points at the stream carrying their entries
          tr.m.get("XRefStm") match {
            case Some(PNum(v)) => xrefStreamAt(v.toLong)
            case None => ()
            case _ => refuse()
          }
          tr
        } else {
          // cross-reference STREAM (PDF 1.5+, the modern default)
          xrefStreamAt(xat)
        }
      if (encryptVal == null)
        trailer.m.get("Encrypt").foreach(encryptVal = _)
      if (docId == null) trailer.m.get("ID") match {
        case Some(PArr(vs)) if vs.nonEmpty => vs.head match {
          case PStr(id0) => docId = id0
          case _ => ()
        }
        case _ => ()
      }
      if (root < 0) trailer.m.get("Root") match {
        case Some(PRef(n)) => root = n
        case _ => ()
      }
      xat = trailer.m.get("Prev") match {
        case Some(PNum(v)) => v.toLong
        case None => -1L
        case _ => refuse()
      }
    }
    if (root < 0) refuse()

    // ---- object loading --------------------------------------------
    val cache = new java.util.HashMap[Int, PVal]()
    val objStmCache =
      new java.util.HashMap[Int, (Array[Byte], Int, Array[(Int, Int)])]()
    val resolving = new java.util.HashSet[Int]()
    def obj(num: Int): PVal = {
      val hit = cache.get(num)
      if (hit != null) return hit
      if (cache.size > MaxObjects) refuse()
      if (!resolving.add(num)) refuse() // an object defined via itself
      try {
        val v = {
          // java.util.HashMap[Int, Int].get unboxes a missing key to
          // 0 in Scala — the null check can never fire; key presence
          // must be asked explicitly
          if (offsets.containsKey(num)) {
            val pp = new P(b, offsets.get(num), b.length)
            if (pp.number().toInt != num) refuse()
            val xgen = if (gens.containsKey(num)) gens.get(num) else 0
            // a header/xref generation split only matters when the
            // per-object key depends on it: refuse rather than
            // decrypt with a guessed gen; tolerate it unencrypted
            if (pp.number().toInt != xgen && crypt.isDefined) refuse()
            if (pp.word() != "obj") refuse()
            pp.value(0) match {
              // attach the owning object number + generation: the
              // security handler's per-object key derives from both
              case s: PStream => s.copy(num = num, gen = xgen)
              case v => v
            }
          } else inStm.get(num) match {
            case null => refuse()
            case (stm, idx) =>
              val (data, first, pairs) = objStm(stm)
              if (idx < 0 || idx >= pairs.length) refuse()
              val (onum, ooff) = pairs(idx)
              if (onum != num || ooff < 0 ||
                  first.toLong + ooff > data.length) refuse()
              val vp = new P(data, first + ooff, data.length)
              vp.value(0) match {
                case _: PStream => refuse() // streams cannot nest in ObjStm
                case inner => inner
              }
          }
        }
        cache.put(num, v)
        v
      } finally resolving.remove(num)
    }
    /** Decompress an object stream once: (bytes, /First, header pairs
      * of (objnum, offset)). */
    def objStm(stm: Int): (Array[Byte], Int, Array[(Int, Int)]) = {
      val hit = objStmCache.get(stm)
      if (hit != null) return hit
      val s = obj(stm) match {
        case s: PStream
            if s.dict.m.get("Type").contains(PName("ObjStm")) => s
        case _ => refuse()
      }
      val data = streamData(s)
      val n = s.dict.m.get("N") match {
        case Some(PNum(v)) if v >= 0 && v <= MaxObjects => v.toInt
        case _ => refuse()
      }
      val first = s.dict.m.get("First") match {
        case Some(PNum(v)) if v >= 0 && v <= data.length => v.toInt
        case _ => refuse()
      }
      val hp = new P(data, 0, first)
      val pairs = Array.fill(n)((hp.number().toInt, hp.number().toInt))
      val tup = (data, first, pairs)
      objStmCache.put(stm, tup)
      tup
    }
    def deref(v: PVal): PVal = v match {
      case PRef(n) => deref(obj(n))
      case other => other
    }
    def streamData(s: PStream): Array[Byte] = streamDataWith(s, deref)

    // ---- arm decryption (standard security handler) -------------------
    if (encryptVal != null) {
      val ed = deref(encryptVal) match { case d: PDict => d.m; case _ => refuse() }
      def ednum(k: String, dflt: Long): Long = ed.get(k) match {
        case Some(PNum(x)) => x.toLong
        case None => dflt
        case _ => refuse()
      }
      if (!ed.get("Filter").contains(PName("Standard"))) refuse()
      val v = ednum("V", 0)
      val r = ednum("R", 0)
      val oRaw = ed.get("O") match {
        case Some(PStr(x)) if x.length >= 32 => x
        case _ => refuse()
      }
      val uRaw = ed.get("U") match {
        case Some(PStr(x)) if x.length >= 32 => x
        case _ => refuse()
      }
      val o = oRaw.take(32)
      val u = uRaw.take(32)
      val perm = ednum("P", 0).toInt
      val encMeta = ed.get("EncryptMetadata") match {
        case Some(PBool(x)) => x
        case None => true
        case _ => refuse()
      }
      if (docId == null) refuse() // Algorithm 2 needs the first /ID element
      // key length in BYTES, and whether V4's crypt filter is AES
      val (nBytes, aes) = v match {
        case 1 => (5, false)
        case 2 =>
          val bits = ednum("Length", 40)
          if (bits < 40 || bits > 128 || bits % 8 != 0) refuse()
          (bits.toInt / 8, false)
        case 4 =>
          // /CF << /StdCF << /CFM /V2|/AESV2 /Length n >> >>, with
          // /StmF /StrF naming StdCF (or Identity = no decryption)
          val stmf = ed.get("StmF").getOrElse(PName("Identity"))
          if (stmf == PName("Identity")) {
            crypt = None
            (-1, false) // streams unencrypted: nothing to arm
          } else if (stmf != PName("StdCF")) refuse()
          else {
            val cf = deref(ed.getOrElse("CF", refuse())) match {
              case d: PDict => deref(d.m.getOrElse("StdCF", refuse())) match {
                case sd: PDict => sd.m
                case _ => refuse()
              }
              case _ => refuse()
            }
            val cfm = cf.get("CFM") match {
              case Some(PName(x)) => x
              case _ => refuse()
            }
            val isAes = cfm match {
              case "AESV2" => true
              case "V2" => false
              case _ => refuse() // AESV3 etc.: out of envelope
            }
            // crypt-filter /Length: bytes per PDF 1.5, but bit counts
            // occur in the wild — values over 40 read as bits
            val l = cf.get("Length") match {
              case Some(PNum(x)) => if (x > 40) x.toLong / 8 else x.toLong
              case None => 16L
              case _ => refuse()
            }
            if (l < 5 || l > 16) refuse()
            (l.toInt, isAes)
          }
        case 5 =>
          // AES-256 (ISO 32000-2, the Acrobat-X+ default): /CFM
          // AESV3, 48-byte /U carrying hash + validation/key salts,
          // /UE wrapping the file key. R6 hashes via Algorithm 2.B;
          // R5 is the deprecated single-SHA-256 extension.
          if (r != 5 && r != 6) refuse()
          if (uRaw.length < 48) refuse()
          val ue = ed.get("UE") match {
            case Some(PStr(x)) if x.length >= 32 => x.take(32)
            case _ => refuse()
          }
          val stmf = ed.get("StmF").getOrElse(PName("Identity"))
          if (stmf == PName("Identity")) ()
          else if (stmf != PName("StdCF")) refuse()
          else {
            val cf = deref(ed.getOrElse("CF", refuse())) match {
              case d: PDict => deref(d.m.getOrElse("StdCF", refuse())) match {
                case sd: PDict => sd.m
                case _ => refuse()
              }
              case _ => refuse()
            }
            if (!cf.get("CFM").contains(PName("AESV3"))) refuse()
            // empty-password check + file-key unwrap live together
            crypt = Some((fileKeyV5(uRaw.take(48), ue, r), true))
          }
          (-1, false) // legacy derivation below: skipped
        case _ => refuse() // exotic V3: refused
      }
      if (nBytes > 0) {
        if (r < 2 || r > 4) refuse()
        val key = fileKey(o, perm, docId, r, nBytes, encMeta)
        // the empty-user-password check: a mismatch means a REAL
        // password protects this document — refuse, don't guess
        val exp = expectU(key, docId, r)
        val got = if (r == 2) u else u.take(16)
        if (!java.util.Arrays.equals(exp.take(got.length), got)) refuse()
        crypt = Some((key, aes))
      }
    }

    // ---- page tree ---------------------------------------------------
    val pages = Vector.newBuilder[PDict]
    var nPages = 0
    def walk(v: PVal, depth: Int): Unit = {
      if (depth > 32) refuse()
      deref(v) match {
        case d: PDict => d.m.get("Type") match {
          case Some(PName("Pages")) =>
            deref(d.m.getOrElse("Kids", refuse())) match {
              case PArr(kids) => kids.foreach(walk(_, depth + 1))
              case _ => refuse()
            }
          case Some(PName("Page")) =>
            if (nPages >= MaxPages) refuse()
            pages += d; nPages += 1
          case _ => refuse()
        }
        case _ => refuse()
      }
    }
    val rootDict = deref(obj(root)) match { case d: PDict => d; case _ => refuse() }
    walk(rootDict.m.getOrElse("Pages", refuse()), 0)

    // ---- ToUnicode CMaps (§9.10.3) -------------------------------------
    // Composed fonts (Type0/Identity-H) show 2-byte character CODES
    // that mean nothing without the font's /ToUnicode CMap; simple
    // fonts may carry one too. Parse the bfchar/bfrange forms into a
    // code → string table; wider CMap machinery (usecmap, surrogate
    // CID ranges) stays out of envelope.
    def parseCMap(data: Array[Byte]): (Boolean, Map[Int, String]) = {
      var p = 0
      val n = data.length
      def skip(): Unit = {
        var again = true
        while (again) {
          while (p < n && isWs(u8(data, p))) p += 1
          if (p < n && u8(data, p) == '%') {
            while (p < n && u8(data, p) != '\n' && u8(data, p) != '\r') p += 1
          } else again = false
        }
      }
      /** next token: Left(hex bytes) for <..>, Right(word/name/other). */
      def tok(): Option[Either[Array[Byte], String]] = {
        skip()
        if (p >= n) return None
        u8(data, p) match {
          case '<' =>
            p += 1
            val out = new java.io.ByteArrayOutputStream()
            var hi = -1
            while ({ if (p >= n) refuse(); u8(data, p) != '>' }) {
              val c = u8(data, p)
              if (!isWs(c)) {
                val d = Character.digit(c, 16)
                if (d < 0) refuse()
                if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
              }
              p += 1
            }
            if (hi >= 0) out.write(hi << 4)
            p += 1
            Some(Left(out.toByteArray))
          case '[' | ']' => p += 1; Some(Right(u8(data, p - 1).toChar.toString))
          case _ =>
            val s = p
            if (u8(data, p) == '/' || u8(data, p) == '(') p += 1
            while (p < n && !isWs(u8(data, p)) && !isDelim(u8(data, p))) p += 1
            if (p == s) refuse()
            Some(Right(new String(data, s, p - s,
              java.nio.charset.StandardCharsets.ISO_8859_1)))
        }
      }
      def hexOf(t: Option[Either[Array[Byte], String]]): Array[Byte] =
        t match { case Some(Left(h)) => h; case _ => refuse() }
      def codeOf(h: Array[Byte]): Int = {
        if (h.isEmpty || h.length > 2) refuse()
        beN(h, 0, h.length).toInt
      }
      def utf16(h: Array[Byte]): String =
        new String(h, java.nio.charset.StandardCharsets.UTF_16BE)
      /** dst string for code lo+k under the incrementing-bfrange rule:
        * the LAST UTF-16 unit increments. */
      def bump(dst: Array[Byte], k: Int): String = {
        if (dst.length < 2 || dst.length % 2 != 0) refuse()
        val d = dst.clone()
        val last = be16(d, d.length - 2)
        val v = last + k
        if (v > 0xffff) refuse()
        putBe(d, d.length - 2, v, 2)
        utf16(d)
      }
      var twoByte = false
      val m = scala.collection.mutable.Map.empty[Int, String]
      var t = tok()
      while (t.isDefined) {
        t match {
          case Some(Right("begincodespacerange")) =>
            var inner = tok()
            while (inner.exists(_.isLeft)) {
              val lo = hexOf(inner)
              val hi = hexOf(tok())
              if (lo.length != hi.length || lo.length > 2) refuse()
              if (lo.length == 2) twoByte = true
              inner = tok()
            }
          case Some(Right("beginbfchar")) =>
            var inner = tok()
            while (inner.exists(_.isLeft)) {
              val src = codeOf(hexOf(inner))
              m(src) = utf16(hexOf(tok()))
              if (m.size > 65536) refuse()
              inner = tok()
            }
          case Some(Right("beginbfrange")) =>
            var inner = tok()
            while (inner.exists(_.isLeft)) {
              val lo = codeOf(hexOf(inner))
              val hi = codeOf(hexOf(tok()))
              if (hi < lo || hi - lo > 65535) refuse()
              tok() match {
                case Some(Left(dst)) =>
                  var k = 0
                  while (k <= hi - lo) { m(lo + k) = bump(dst, k); k += 1 }
                case Some(Right("[")) =>
                  var k = 0
                  var el = tok()
                  while (el.exists(_.isLeft)) {
                    if (lo + k > hi) refuse()
                    m(lo + k) = utf16(hexOf(el))
                    k += 1
                    el = tok()
                  }
                  if (!el.contains(Right("]")) || k != hi - lo + 1) refuse()
                case _ => refuse()
              }
              if (m.size > 65536) refuse()
              inner = tok()
            }
          case _ => ()
        }
        t = tok()
      }
      (twoByte, m.toMap)
    }

    /** Simple-font /Encoding (§9.6.5): a base-encoding NAME or a dict
      * with optional /BaseEncoding (absent → StandardEncoding) and a
      * /Differences array (integers set the code, names fill
      * consecutive slots through the AGL subset). Only simple font
      * subtypes qualify — a Type0's /Encoding names a CMap, not a
      * byte table. Malformed Differences (out-of-range codes, name
      * before any code, non-int/non-name elements) refuse whole-file;
      * an unknown GLYPH NAME — or an unrecognized base-encoding
      * name — is a content-level gap and decodes as U+FFFD (refusing
      * the whole document over one exotic font would erase every
      * other font's text). All four Annex D base encodings
      * (WinAnsi/MacRoman/Standard/MacExpert) are supported. */
    def simpleEnc(f: PDict): Option[FontDec] = {
      val simple = deref(f.m.getOrElse("Subtype", POther)) match {
        case PName("Type1") | PName("TrueType") | PName("Type3") |
             PName("MMType1") => true
        case _ => false
      }
      if (!simple) None
      else {
        def base(n: String): Array[String] = n match {
          case "WinAnsiEncoding" => winAnsiTable
          case "MacRomanEncoding" => macRomanTable
          case "StandardEncoding" => standardTable
          case "MacExpertEncoding" => macExpertTable
          case _ => new Array[String](256) // unknown name → U+FFFD
        }
        deref(f.m.getOrElse("Encoding", POther)) match {
          case PName(n) => Some(SimpleDec(base(n)))
          case ed: PDict =>
            val t = (deref(ed.m.getOrElse("BaseEncoding", POther)) match {
              case PName(n) => base(n)
              case POther => standardTable
              case _ => refuse()
            }).clone()
            deref(ed.m.getOrElse("Differences", POther)) match {
              case PArr(vs) =>
                var code = -1
                vs.foreach { v =>
                  deref(v) match {
                    case PNum(x) =>
                      if (x < 0 || x > 255 || x != Math.floor(x)) refuse()
                      code = x.toInt
                    case PName(g) =>
                      if (code < 0 || code > 255) refuse()
                      t(code) = glyphUni(g)
                      code += 1
                    case _ => refuse()
                  }
                }
              case POther => ()
              case _ => refuse()
            }
            Some(SimpleDec(t))
          case _ => None
        }
      }
    }

    /** Per-page font-resource name → text decoder: /ToUnicode CMap
      * when present (it takes precedence, §9.10.2), else the
      * simple-font /Encoding table. */
    def fontMapsOf(pg: PDict): Map[String, FontDec] =
      deref(pg.m.getOrElse("Resources", POther)) match {
        case rd: PDict => deref(rd.m.getOrElse("Font", POther)) match {
          case fd: PDict =>
            fd.m.flatMap { case (fname, fv) =>
              deref(fv) match {
                case f: PDict =>
                  deref(f.m.getOrElse("ToUnicode", POther)) match {
                    case s: PStream =>
                      val (tw, m) = parseCMap(streamData(s))
                      Some(fname -> CMapDec(tw, m))
                    case _ => simpleEnc(f).map(fname -> _)
                  }
                case _ => None
              }
            }
          case _ => Map.empty
        }
        case _ => Map.empty
      }

    // ---- content text scan -------------------------------------------
    val runs = Vector.newBuilder[Run]
    var emitted = 0
    def latin1(s: Array[Byte]): String =
      new String(s, java.nio.charset.StandardCharsets.ISO_8859_1)
    def emit(page: Int, runIdx: Int, s: String): Int = {
      if (emitted >= MaxRuns) refuse()
      runs += Run(page, runIdx, s)
      emitted += 1
      runIdx + 1
    }
    pages.result().zipWithIndex.foreach { case (pg, pageIdx) =>
      val fontMaps = fontMapsOf(pg)
      // current font's decoder, tracked across Tf operators;
      // null = no map, bytes read as Latin-1 as before
      var curMap: FontDec = null
      def decodeText(t: Array[Byte]): String = curMap match {
        case null => latin1(t)
        case SimpleDec(tab) =>
          val sb = new java.lang.StringBuilder()
          var i = 0
          while (i < t.length) {
            val c = t(i) & 0xff
            val s = tab(c)
            // undefined codes and unknown glyph names degrade to
            // U+FFFD (content-level gap), matching the CMap rule —
            // EXCEPT literal tab/LF/CR, which Annex D leaves
            // undefined but real crawled Tj strings carry as layout
            // whitespace; they pass through (matching the no-
            // /Encoding Latin-1 path) unless /Differences remapped
            // that code to a glyph.
            sb.append(
              if (s != null) s
              else if (c == 0x09 || c == 0x0a || c == 0x0d) c.toChar.toString
              else "�")
            i += 1
          }
          sb.toString
        case CMapDec(twoByte, m) =>
          val w = if (twoByte) 2 else 1
          if (t.length % w != 0) refuse()
          val sb = new java.lang.StringBuilder()
          var i = 0
          while (i < t.length) {
            val code =
              if (w == 2) be16(t, i) else t(i) & 0xff
            // unmapped codes degrade to U+FFFD (content-level gap,
            // not a structural fault — don't refuse the file)
            sb.append(m.getOrElse(code, "�"))
            i += w
          }
          sb.toString
      }
      val parts: Vector[PVal] = pg.m.get("Contents") match {
        case None => Vector.empty
        case Some(c) => deref(c) match {
          case PArr(vs) => vs
          case one => Vector(one)
        }
      }
      // the parts joined by newlines in one builder (linear in their
      // bytes); an empty prefix takes no separator
      val streams = parts.map { part =>
        deref(part) match {
          case s: PStream => streamData(s)
          case _ => refuse()
        }
      }
      val content = if (streams.size == 1) streams.head else {
        val joined = new java.io.ByteArrayOutputStream()
        streams.foreach { c => if (joined.size > 0) joined.write('\n'); joined.write(c) }
        joined.toByteArray
      }
      // token scan: operands collect until an operator consumes them
      val cp = new P(content, 0, content.length)
      // re-bind the parser over the CONTENT bytes, not the file
      var operands = List.empty[PVal]
      var runIdx = 0
      var go = true
      def cSkipWs(): Unit = {
        var again = true
        while (again) {
          while (cp.p < content.length && isWs(u8(content, cp.p))) cp.p += 1
          if (cp.p < content.length && u8(content, cp.p) == '%') {
            while (cp.p < content.length && u8(content, cp.p) != '\n' &&
              u8(content, cp.p) != '\r') cp.p += 1
          } else again = false
        }
      }
      // a tiny content-level value parser sharing the file parser's
      // string/number grammar by copying spans into it would double
      // the byte plumbing; content streams are small (budgeted), so
      // parse via a P over a copy appended to nothing — instead,
      // reuse P by constructing it over the content array through a
      // local adapter: simplest correct form is to re-implement the
      // few content token shapes here against `content` directly.
      def cLiteral(): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        cp.p += 1
        var nest = 1
        while (nest > 0) {
          if (cp.p >= content.length) refuse()
          u8(content, cp.p) match {
            case '\\' =>
              if (cp.p + 1 >= content.length) refuse()
              u8(content, cp.p + 1) match {
                case 'n' => out.write('\n'); cp.p += 2
                case 'r' => out.write('\r'); cp.p += 2
                case 't' => out.write('\t'); cp.p += 2
                case 'b' => out.write('\b'); cp.p += 2
                case 'f' => out.write('\f'); cp.p += 2
                case '(' => out.write('('); cp.p += 2
                case ')' => out.write(')'); cp.p += 2
                case '\\' => out.write('\\'); cp.p += 2
                case '\r' =>
                  cp.p += 2
                  if (cp.p < content.length && u8(content, cp.p) == '\n') cp.p += 1
                case '\n' => cp.p += 2
                case d if d >= '0' && d <= '7' =>
                  var v = 0; var k = 0; cp.p += 1
                  while (k < 3 && cp.p < content.length &&
                      u8(content, cp.p) >= '0' && u8(content, cp.p) <= '7') {
                    v = v * 8 + (u8(content, cp.p) - '0'); cp.p += 1; k += 1
                  }
                  out.write(v & 0xff)
                case other => out.write(other); cp.p += 2
              }
            case '(' => nest += 1; out.write('('); cp.p += 1
            case ')' =>
              nest -= 1; if (nest > 0) out.write(')'); cp.p += 1
            case '\r' =>
              // unescaped EOL in a literal string reads as LF (§7.3.4.2)
              out.write('\n'); cp.p += 1
              if (cp.p < content.length && u8(content, cp.p) == '\n') cp.p += 1
            case c => out.write(c); cp.p += 1
          }
        }
        out.toByteArray
      }
      def cHex(): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        cp.p += 1
        var hi = -1
        var inHex = true
        while (inHex) {
          if (cp.p >= content.length) refuse()
          val c = u8(content, cp.p)
          if (c == '>') {
            if (hi >= 0) out.write(hi << 4)
            cp.p += 1; inHex = false
          } else if (isWs(c)) cp.p += 1
          else {
            val d = Character.digit(c, 16)
            if (d < 0) refuse()
            if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
            cp.p += 1
          }
        }
        out.toByteArray
      }
      while (go) {
        cSkipWs()
        if (cp.p >= content.length) go = false
        else u8(content, cp.p) match {
          case '(' => operands ::= PStr(cLiteral())
          case '<' =>
            if (cp.p + 1 < content.length && u8(content, cp.p + 1) == '<') {
              // inline dict (e.g. BDC properties): balanced skip
              var lvl = 0
              var scanning = true
              while (scanning) {
                if (cp.p + 1 >= content.length) refuse()
                if (u8(content, cp.p) == '<' && u8(content, cp.p + 1) == '<') {
                  lvl += 1; cp.p += 2
                } else if (u8(content, cp.p) == '>' && u8(content, cp.p + 1) == '>') {
                  lvl -= 1; cp.p += 2
                  if (lvl == 0) scanning = false
                } else cp.p += 1
              }
              operands = Nil
            } else operands ::= PStr(cHex())
          case '[' =>
            cp.p += 1
            val vs = Vector.newBuilder[PVal]
            var inArr = true
            while (inArr) {
              cSkipWs()
              if (cp.p >= content.length) refuse()
              u8(content, cp.p) match {
                case ']' => cp.p += 1; inArr = false
                case '(' => vs += PStr(cLiteral())
                case '<' => vs += PStr(cHex())
                case _ =>
                  // numbers (kerning) and anything else scalar
                  val s = cp.p
                  while (cp.p < content.length && !isWs(u8(content, cp.p)) &&
                    !isDelim(u8(content, cp.p))) cp.p += 1
                  if (cp.p == s) refuse()
                  vs += POther
              }
            }
            operands ::= PArr(vs.result())
          case '/' =>
            cp.p += 1
            val ns = cp.p
            while (cp.p < content.length && !isWs(u8(content, cp.p)) &&
              !isDelim(u8(content, cp.p))) cp.p += 1
            // keep the name: Tf needs its font operand for ToUnicode
            operands ::= PName(new String(content, ns, cp.p - ns,
              java.nio.charset.StandardCharsets.ISO_8859_1))
          case c if c == '+' || c == '-' || c == '.' ||
              (c >= '0' && c <= '9') =>
            while (cp.p < content.length && !isWs(u8(content, cp.p)) &&
              !isDelim(u8(content, cp.p))) cp.p += 1
            operands ::= POther
          case '%' =>
            while (cp.p < content.length && u8(content, cp.p) != '\n' &&
              u8(content, cp.p) != '\r') cp.p += 1
          case _ =>
            val s = cp.p
            while (cp.p < content.length && !isWs(u8(content, cp.p)) &&
              !isDelim(u8(content, cp.p))) cp.p += 1
            if (cp.p == s) refuse() // stray delimiter: refuse
            val op = new String(content, s, cp.p - s,
              java.nio.charset.StandardCharsets.ISO_8859_1)
            op match {
              case "Tj" | "'" => operands match {
                case PStr(t) :: _ => runIdx = emit(pageIdx, runIdx, decodeText(t))
                case _ => refuse()
              }
              case "\"" => operands match {
                case PStr(t) :: _ => runIdx = emit(pageIdx, runIdx, decodeText(t))
                case _ => refuse()
              }
              case "TJ" => operands match {
                case PArr(vs) :: _ =>
                  vs.foreach {
                    case PStr(t) => runIdx = emit(pageIdx, runIdx, decodeText(t))
                    case _ => () // kerning numbers
                  }
                case _ => refuse()
              }
              case "Tf" => operands match {
                // `/F1 12 Tf`: operands push in reverse (size on top)
                case _ :: PName(f) :: _ =>
                  curMap = fontMaps.getOrElse(f, null)
                case _ => () // malformed Tf: font state unchanged
              }
              case _ => ()
            }
            operands = Nil
        }
      }
    }
    runs.result()
  }
}
