package graft

/** Hex SHA-256 over an encoder's outputs, each length-prefixed, so one
  * pinned constant says the encoder still writes the same bytes. */
object Sha256 {
  def hex(outputs: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    outputs.foreach { b =>
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
