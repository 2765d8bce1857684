package graftbench

/** Payload digests: a served payload is checked by its SHA-256. */
object Digest {
  def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  def sha256(s: String): String = sha256(s.getBytes("UTF-8"))

  /** True when `actual` is the payload whose digest is `expected`. */
  def matches(expected: String, actual: Array[Byte]): Boolean =
    expected != null && expected == sha256(actual)
}
