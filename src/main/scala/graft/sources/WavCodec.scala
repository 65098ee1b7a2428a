package graft.sources

import Bytes._

/** RIFF/WAVE 16-bit PCM codec — the audio arm of the multimodal-column
  * mandate (BASELINE.json; completes the modality set next to PPM/TIFF
  * rasters, npy arrays, and tar shards). Same contract discipline as
  * [[NpyCodec]]: [[encode]] is byte-identical to Python's stdlib
  * `wave` module (golden-pinned in WavSpec), [[decode]] reads real
  * external output and returns None — never throws — for anything it
  * cannot faithfully represent (non-PCM, non-16-bit, truncated or
  * overrunning chunks). Unknown RIFF chunks (LIST, fact, ...) are
  * skipped per spec, so files from arbitrary writers still load.
  */
object WavCodec {

  /** Decoded audio: interleaved 16-bit samples widened to Int. */
  case class Wav(sampleRate: Int, channels: Int, samples: Array[Int])

  /** Strict-but-skipping decode: walks the RIFF chunk list, requires
    * one PCM (format 1) 16-bit `fmt ` chunk and one `data` chunk,
    * skips everything else (word-aligned, per spec). */
  def decode(bytes: Array[Byte]): Option[Wav] = refusing(run(bytes)).flatten

  private def run(bytes: Array[Byte]): Option[Wav] = {
    if (bytes.length < 44) return None
    if (fourcc(bytes, 0) != "RIFF" || fourcc(bytes, 8) != "WAVE") return None
    val riffLen = le32(bytes, 4)
    if (riffLen + 8 > bytes.length) return None
    var pos = 12
    var rate = -1; var channels = -1
    var dataOff = -1; var dataLen = -1L
    while (pos + 8 <= bytes.length) {
      val id = fourcc(bytes, pos)
      val len = le32(bytes, pos + 4)
      if (len < 0 || pos + 8 + len > bytes.length) return None
      id match {
        case "fmt " =>
          if (len < 16) return None
          if (le16(bytes, pos + 8) != 1) return None // PCM only
          channels = le16(bytes, pos + 10)
          rate = le32(bytes, pos + 12).toInt
          if (le16(bytes, pos + 22) != 16) return None // 16-bit only
          if (channels < 1 || channels > 2 || rate <= 0) return None
        case "data" =>
          dataOff = pos + 8; dataLen = len
        case _ => () // unknown chunk: skip
      }
      pos += 8 + len.toInt + (len % 2).toInt // chunks are word-aligned
    }
    if (rate < 0 || dataOff < 0) return None
    if (dataLen % 2 != 0 || dataLen / 2 > Int.MaxValue / 4) return None
    if (channels == 2 && dataLen % 4 != 0) return None // whole frames only
    val n = (dataLen / 2).toInt
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = le16(bytes, dataOff + 2 * i).toShort.toInt
      i += 1
    }
    Some(Wav(rate, channels, out))
  }

  /** Canonical 44-byte-header PCM encode — byte-identical to Python
    * `wave` output for the same (rate, channels, samples). Samples
    * are truncated to 16-bit two's complement. */
  def encode(sampleRate: Int, channels: Int, samples: Array[Int]): Array[Byte] = {
    require(channels == 1 || channels == 2, s"channels $channels")
    require(channels == 1 || samples.length % 2 == 0, "stereo needs whole frames")
    val dataLen = 2 * samples.length
    val out = new Array[Byte](44 + dataLen)
    def wtag(o: Int, s: String): Unit =
      s.getBytes("US-ASCII").copyToArray(out, o)
    wtag(0, "RIFF"); putLe(out, 4, 36L + dataLen, 4); wtag(8, "WAVE")
    wtag(12, "fmt "); putLe(out, 16, 16, 4)
    putLe(out, 20, 1, 2); putLe(out, 22, channels, 2); putLe(out, 24, sampleRate, 4)
    putLe(out, 28, sampleRate.toLong * channels * 2, 4) // byte rate
    putLe(out, 32, channels * 2, 2); putLe(out, 34, 16, 2) // block align, bits
    wtag(36, "data"); putLe(out, 40, dataLen, 4)
    var i = 0
    while (i < samples.length) {
      putLe(out, 44 + 2 * i, samples(i), 2)
      i += 1
    }
    out
  }
}
