package graft.sources

/** WARC 1.0/1.1 (ISO 28500) record codec — the Common Crawl wire
  * format, and the ingest front door of every web-scale LLM corpus
  * (C4, RefinedWeb, FineWeb all start from `.warc.gz`). The
  * reference's ingest is EE-export → GCS objects (ee_pipeline.py,
  * monthly.py:738-749); WARC is the same "bucket of self-describing
  * shards" idea in the form production crawls actually ship.
  *
  * Public format, from the spec: a WARC file is a sequence of
  * records; each record is a version line (`WARC/1.0` CRLF), named
  * header fields (`Name: value` CRLF) up to an empty line, exactly
  * `Content-Length` octets of block, and a CRLF CRLF trailer. In
  * `.warc.gz` each record is its own gzip member ([[GzipCodec]]'s
  * multi-member decode concatenates them back — RFC 1952 §2.2, the
  * very property Common Crawl relies on for random access).
  *
  * Same contract discipline as the other container codecs: the walk
  * is fully bounds-checked, header/record counts and block sizes are
  * capped, and ANY structural violation refuses the whole file with
  * None (one corrupt object in a 100 TB bucket costs its shard, not
  * the job). Per-RECORD payload decoding ([[httpResponse]]) degrades
  * per record: a response block with an undecodable body skips that
  * record, not the file.
  */
object WarcCodec {

  /** One parsed record: positional index, the standard headers, and
    * the raw block octets. Missing optional headers are "". */
  case class WarcRecord(
      idx: Int, warcType: String, recordId: String, date: String,
      targetUri: String, contentType: String, block: Array[Byte])

  /** Decoded HTTP response payload from a `response` record block:
    * status code, Content-Type (as sent, ""-default), and the entity
    * bytes AFTER reversing Transfer-Encoding: chunked and
    * Content-Encoding: gzip — the order HTTP applies them. */
  case class HttpResponse(status: Int, contentType: String, payload: Array[Byte])

  /** Per-record block ceiling and whole-file record ceiling: a scan
    * over untrusted buckets bounds memory per task. */
  val MaxBlockBytes: Int = Compression.MaxInflatedBytes
  val MaxRecords: Int = 100000
  private val MaxHeaderLine = 8192
  private val MaxHeaders = 64

  /** Parse an UNCOMPRESSED WARC buffer into its records. None on any
    * structural violation in any record — truncated version line or
    * block, non-CRLF line ending, header-line overflow, missing or
    * malformed Content-Length, missing record trailer — never throws. */
  def parse(bytes: Array[Byte]): Option[Vector[WarcRecord]] = {
    val out = Vector.newBuilder[WarcRecord]
    var pos = 0
    var idx = 0
    while (pos < bytes.length) {
      if (idx >= MaxRecords) return None
      parseRecord(bytes, pos, idx) match {
        case None => return None
        case Some((rec, next)) => out += rec; pos = next; idx += 1
      }
    }
    if (idx == 0) None else Some(out.result())
  }

  /** Read one CRLF-terminated line starting at `pos`; returns (text
    * without CRLF, offset after CRLF). None on overflow/truncation
    * or a bare LF (the spec mandates CRLF). */
  private def line(bytes: Array[Byte], pos: Int): Option[(String, Int)] = {
    var p = pos
    val cap = math.min(bytes.length, pos + MaxHeaderLine)
    while (p < cap && bytes(p) != '\n') p += 1
    if (p >= cap || p == pos || bytes(p - 1) != '\r') return None
    Some((new String(bytes, pos, p - 1 - pos, "ISO-8859-1"), p + 1))
  }

  private def parseRecord(
      bytes: Array[Byte], start: Int, idx: Int): Option[(WarcRecord, Int)] = {
    var pos = start
    val (ver, p0) = line(bytes, pos).getOrElse(return None)
    if (ver != "WARC/1.0" && ver != "WARC/1.1") return None
    pos = p0
    var warcType = ""; var recordId = ""; var date = ""
    var targetUri = ""; var contentType = ""
    var contentLength = -1L
    var nHdr = 0
    var done = false
    while (!done) {
      val (l, p) = line(bytes, pos).getOrElse(return None)
      pos = p
      if (l.isEmpty) done = true
      else {
        nHdr += 1
        if (nHdr > MaxHeaders) return None
        // continuation lines (obs-fold) are obsolete and crawls don't
        // emit them in WARC headers — refuse rather than mis-join
        if (l.charAt(0) == ' ' || l.charAt(0) == '\t') return None
        val ci = l.indexOf(':')
        if (ci <= 0) return None
        val name = l.substring(0, ci).trim.toLowerCase
        val value = l.substring(ci + 1).trim
        name match {
          case "warc-type" => warcType = value
          case "warc-record-id" => recordId = value
          case "warc-date" => date = value
          case "warc-target-uri" => targetUri = value
          case "content-type" => contentType = value
          case "content-length" =>
            if (value.isEmpty || !value.forall(_.isDigit) ||
                value.length > 18) return None
            contentLength = value.toLong
          case _ => () // other headers (digests, IP, concurrent-to) pass
        }
      }
    }
    if (contentLength < 0 || contentLength > MaxBlockBytes) return None
    if (warcType.isEmpty) return None
    val blockEnd = pos.toLong + contentLength
    // block + the mandatory CRLF CRLF record trailer must fit
    if (blockEnd + 4 > bytes.length) return None
    val block = java.util.Arrays.copyOfRange(bytes, pos, blockEnd.toInt)
    val t = blockEnd.toInt
    if (bytes(t) != '\r' || bytes(t + 1) != '\n' ||
        bytes(t + 2) != '\r' || bytes(t + 3) != '\n') return None
    Some((WarcRecord(idx, warcType, recordId, date, targetUri, contentType,
      block), t + 4))
  }

  /** Decode a `response` record block: HTTP status line + headers +
    * entity, reversing `Transfer-Encoding: chunked` then
    * `Content-Encoding: gzip` (HTTP's application order). None on a
    * non-HTTP block, malformed chunking, failed gzip, or an encoding
    * this codec doesn't carry (per-RECORD skip, not per-file). */
  def httpResponse(block: Array[Byte]): Option[HttpResponse] = {
    val (status0, p0) = line(block, 0).getOrElse(return None)
    if (!status0.startsWith("HTTP/1.")) return None
    val parts = status0.split(' ')
    if (parts.length < 2 || parts(1).length != 3 ||
        !parts(1).forall(_.isDigit)) return None
    val status = parts(1).toInt
    var pos = p0
    var contentType = ""; var transferEnc = ""; var contentEnc = ""
    var nHdr = 0
    var done = false
    while (!done) {
      val (l, p) = line(block, pos).getOrElse(return None)
      pos = p
      if (l.isEmpty) done = true
      else {
        nHdr += 1
        if (nHdr > MaxHeaders) return None
        val ci = l.indexOf(':')
        if (ci <= 0) return None
        l.substring(0, ci).trim.toLowerCase match {
          case "content-type" => contentType = l.substring(ci + 1).trim
          case "transfer-encoding" => transferEnc = l.substring(ci + 1).trim.toLowerCase
          case "content-encoding" => contentEnc = l.substring(ci + 1).trim.toLowerCase
          case _ => ()
        }
      }
    }
    var body = java.util.Arrays.copyOfRange(block, pos, block.length)
    if (transferEnc == "chunked") body = dechunk(body).getOrElse(return None)
    else if (transferEnc.nonEmpty && transferEnc != "identity") return None
    if (contentEnc == "gzip" || contentEnc == "x-gzip")
      body = GzipCodec.decode(body).getOrElse(return None).data
    else if (contentEnc.nonEmpty && contentEnc != "identity") return None
    Some(HttpResponse(status, contentType, body))
  }

  /** Reverse RFC 9112 §7.1 chunked transfer coding: hex size line
    * (extensions after `;` ignored), data, CRLF, …, a zero-size
    * chunk, optional trailer fields, final CRLF. */
  private def dechunk(body: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(math.min(body.length, 1 << 20))
    var pos = 0
    var lastSize = -1L
    while (lastSize != 0L) {
      val (l, p) = line(body, pos).getOrElse(return None)
      val sizeHex = l.takeWhile(_ != ';').trim
      if (sizeHex.isEmpty || sizeHex.length > 8 ||
          !sizeHex.forall(c => Character.digit(c, 16) >= 0)) return None
      val size = java.lang.Long.parseLong(sizeHex, 16)
      pos = p
      if (size > 0) {
        if (pos.toLong + size + 2 > body.length) return None
        if (out.size().toLong + size > MaxBlockBytes) return None
        out.write(body, pos, size.toInt)
        pos += size.toInt
        if (body(pos) != '\r' || body(pos + 1) != '\n') return None
        pos += 2
      }
      lastSize = size
    }
    // trailer section: zero or more header lines, then the blank line
    var done = false
    while (!done) {
      val (l, p) = line(body, pos).getOrElse(return None)
      pos = p
      if (l.isEmpty) done = true
    }
    if (pos != body.length) return None
    Some(out.toByteArray)
  }
}
