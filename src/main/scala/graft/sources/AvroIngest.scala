package graft.sources

import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}

/** Avro object-container scan — the data-engineering interchange
  * format (Kafka archives, warehouse exports) on its way into a
  * training corpus. Decoding uses the Avro runtime ALREADY on Spark's
  * own classpath (`org.apache.avro`, the same platform-provided-codec
  * stance as java.util.zip for inflate); the cross-writer pin comes
  * from fixtures hand-encoded per the Avro 1.11 spec in Python
  * (tools/avro_golden.py) — two independent implementations meeting
  * over the wire bytes.
  *
  * Contract discipline as the other container codecs: ANY decode
  * fault — bad magic, unknown codec, sync-marker damage, truncated
  * block, record count over cap — refuses the whole FILE with None
  * (the records already read are discarded: a partially-readable
  * object is treated as corrupt, not half-ingested).
  *
  * Each record flattens to one row per FIELD (per element for array
  * fields): primitives keyed by `vtype`, with float/double carried as
  * their raw IEEE bits so the grade is bit-exact.
  */
object AvroIngest {

  val MaxRecords: Int = 100000

  /** Decoded-cell byte budget (strings/bytes at their length, scalars
    * at 8): the deflate codec inflates blocks executor-side before any
    * record cap applies, so the budget is checked after EVERY record —
    * a bomb file refuses at the first over-budget record instead of
    * accumulating the whole container (same MaxInflatedBytes stance as
    * the gzip/bz2/zstd/zip codecs). */
  val MaxDecodedBytes: Long = Compression.MaxInflatedBytes.toLong

  /** (field, elem_idx, vtype, long_val, float_bits, double_bits,
    * str_val, bytes_val) — elem_idx is None for scalar fields. */
  case class Cell(
      field: String, elem_idx: Option[Int], vtype: String,
      long_val: Option[Long], float_bits: Option[Int],
      double_bits: Option[Long], str_val: Option[String],
      bytes_val: Option[Array[Byte]])

  def decode(bytes: Array[Byte]): Option[Vector[(Int, Cell)]] = {
    try {
      val reader = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(bytes),
        new GenericDatumReader[GenericRecord]())
      try {
        val out = Vector.newBuilder[(Int, Cell)]
        var idx = 0
        var budget = MaxDecodedBytes
        while (reader.hasNext) {
          if (idx >= MaxRecords) return None
          val rec = reader.next()
          rec.getSchema.getFields.forEach { f =>
            cells(f.name, rec.get(f.pos)).foreach { c =>
              budget -= 8L + c.str_val.fold(0)(_.length) +
                c.bytes_val.fold(0)(_.length)
              out += ((idx, c))
            }
          }
          if (budget < 0) return None
          idx += 1
        }
        Some(out.result())
      } finally reader.close()
      // NonFatal only: OOM/LinkageError must propagate, not become a
      // silent per-file skip
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def cells(field: String, v: Any): Seq[Cell] = v match {
    case arr: java.util.Collection[_] =>
      val it = arr.iterator()
      val out = Seq.newBuilder[Cell]
      var i = 0
      while (it.hasNext) {
        out += scalar(field, it.next()).copy(elem_idx = Some(i))
        i += 1
      }
      out.result()
    case other => Seq(scalar(field, other))
  }

  private def scalar(field: String, v: Any): Cell = {
    val none = Cell(field, None, "", None, None, None, None, None)
    v match {
      case null => none.copy(vtype = "null")
      case b: java.lang.Boolean =>
        none.copy(vtype = "boolean", long_val = Some(if (b) 1L else 0L))
      case i: java.lang.Integer =>
        none.copy(vtype = "int", long_val = Some(i.longValue))
      case l: java.lang.Long =>
        none.copy(vtype = "long", long_val = Some(l))
      case f: java.lang.Float => none.copy(vtype = "float",
        float_bits = Some(java.lang.Float.floatToRawIntBits(f)))
      case d: java.lang.Double => none.copy(vtype = "double",
        double_bits = Some(java.lang.Double.doubleToRawLongBits(d)))
      case s: CharSequence =>
        none.copy(vtype = "string", str_val = Some(s.toString))
      case bb: java.nio.ByteBuffer =>
        val a = new Array[Byte](bb.remaining())
        bb.duplicate().get(a)
        none.copy(vtype = "bytes", bytes_val = Some(a))
      case fx: org.apache.avro.generic.GenericFixed =>
        none.copy(vtype = "fixed", bytes_val = Some(fx.bytes()))
      case e: org.apache.avro.generic.GenericEnumSymbol[_] =>
        none.copy(vtype = "enum", str_val = Some(e.toString))
      case other =>
        // nested record/map: out of the flattened surface — carried as
        // an opaque rendering so presence is still graded
        none.copy(vtype = "opaque", str_val = Some(other.toString))
    }
  }
}
