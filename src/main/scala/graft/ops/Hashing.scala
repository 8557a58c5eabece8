package graft.ops

/** Hash helpers shared by the streaming sketch queries (q272, q286). */
object Hashing {

  /** 48-bit md5-prefix hash, JVM-side: must equal the SQL device
    * `conv(substring(md5(v), 1, 12), 16, 10)` used by q263's oracle. */
  private[ops] def md5Prefix48(v: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8"))
    // first 6 bytes = first 12 hex chars
    (0 until 6).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
  }
}
