package graft

import org.apache.spark.sql.{DataFrame, Row}

/** Canonical digest of a DataFrame's rows: `rows:md5` of the sorted,
  * canonically rendered rows, so one pinned constant says a query or a
  * reader still gives the same rows under any partitioning. */
object RowDigest {

  /** Canonical text of one value: doubles and floats by their bits,
    * binaries as hex, maps with sorted entries. */
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case f: Float => "f" + Integer.toHexString(java.lang.Float.floatToIntBits(f))
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  /** `rows:md5` of the sorted rendered rows. */
  def of(df: DataFrame): String = {
    val rows = df.collect().map(render).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    rows.length + ":" + md.digest().map("%02x".format(_)).mkString
  }
}
