package graft

/** Folds decoder results under fuzz into one digest, so a fuzz loop
  * pins what the decoder returned for every hostile input, not only
  * that it did not throw. Each result contributes its `isDefined` and
  * a content digest that walks case classes, collections and arrays by
  * value (arrays have identity hashCodes, so `hashCode` would not do).
  *
  * {{{
  *   val d = new FuzzDigest
  *   inputs.foreach(b => d.add(Codec.decode(b)))
  *   assert(d.hex == "…")
  * }}}
  */
final class FuzzDigest {
  private var h = 0xcbf29ce484222325L // FNV-1a 64 offset basis
  private var n = 0
  private var some = 0

  private def mix(x: Long): Unit = { h = (h ^ x) * 0x100000001b3L }

  private def mixStr(s: String): Unit = {
    mix(s.length)
    var i = 0
    while (i < s.length) { mix(s.charAt(i)); i += 1 }
  }

  private def walk(v: Any): Unit = v match {
    case null => mix(-1)
    case b: Boolean => mix(if (b) 1 else 0)
    case x: Byte => mix(x)
    case x: Short => mix(x)
    case x: Char => mix(x)
    case x: Int => mix(x)
    case x: Long => mix(x)
    case x: Float => mix(java.lang.Float.floatToIntBits(x))
    case x: Double => mix(java.lang.Double.doubleToLongBits(x))
    case s: String => mixStr(s)
    case x: BigInt => mixStr(x.toString)
    case x: BigDecimal => mixStr(x.toString)
    case a: Array[_] =>
      mixStr(a.getClass.getComponentType.getName); mix(a.length)
      var i = 0
      while (i < a.length) { walk(a(i)); i += 1 }
    case p: Product =>
      mixStr(p.productPrefix); mix(p.productArity)
      p.productIterator.foreach(walk)
    case it: Iterable[_] =>
      mix(it.size); it.foreach(walk)
    case other =>
      throw new IllegalArgumentException(
        s"FuzzDigest cannot walk ${other.getClass.getName}")
  }

  /** Fold one decoder result. */
  def add(r: Option[Any]): Unit = {
    n += 1
    if (r.isDefined) some += 1
    mix(if (r.isDefined) 1 else 0)
    r.foreach(walk)
  }

  /** `results/defined:digest`, so a pinned constant also reads as how
    * many hostile inputs still decoded. */
  def hex: String = f"$n%d/$some%d:$h%016x"
}

object FuzzDigest {
  /** Digest of `decode` over every truncation and every single-byte
    * `^ 0x66` flip of `good`; past 4 KiB, 512 evenly spaced cut points
    * and 512 flips keep the sweep's cost flat. */
  def sweep(good: Array[Byte])(decode: Array[Byte] => Option[Any]): String = {
    val n = good.length
    val at = if (n > 4096) (0 until 512).map(i => (i.toLong * n / 512).toInt)
      else 0 until n
    val fz = new FuzzDigest
    at.foreach(k => fz.add(decode(good.take(k))))
    at.foreach { j =>
      val m = good.clone(); m(j) = (m(j) ^ 0x66).toByte
      fz.add(decode(m))
    }
    fz.hex
  }
}
