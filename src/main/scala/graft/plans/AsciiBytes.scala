package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** The ASCII precondition of the byte-walking text kernels
  * (`graft_minhash16`, `graft_shingles3/13`, `graft_fingerprint`,
  * `graft_winnow13/13p`, `graft_simhash32`). They walk UTF-8 bytes while
  * their declarative twins and the DuckDB oracles walk code points; the
  * two agree only when every byte is below 0x80, so any other byte throws
  * rather than return an answer the oracle would not reproduce. Called
  * from both eval paths (generated code calls the static forwarder).
  */
object AsciiBytes {

  /** The bytes of `text`; IllegalArgumentException naming `fn` on the
    * first byte >= 0x80. */
  def of(text: UTF8String, fn: String): Array[Byte] = {
    val b = text.getBytes
    var j = 0
    while (j < b.length) {
      if (b(j) < 0) throw new IllegalArgumentException(
        s"$fn expects ASCII text: byte ${b(j) & 0xff} at offset $j")
      j += 1
    }
    b
  }
}
