package graft.plans

/** Lowercase hex of a byte array — the rendering of Spark's `md5`/`sha2`
  * and of `git hash-object` — through a 16-entry table instead of a
  * `String.format` call per byte. */
object Hex {

  private val digits = "0123456789abcdef".toCharArray

  def lower(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(2 * i) = digits(b >>> 4)
      out(2 * i + 1) = digits(b & 0xf)
      i += 1
    }
    new String(out)
  }
}
