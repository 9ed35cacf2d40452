package graft.functions

/** Universal-hash constants for MinHash / SimHash.
  *
  * Engine-native hash() differs between Spark and DuckDB, so all sketch
  * hashing uses explicit `(a*code + b) mod P` over integer codes derived
  * from `ascii()` — computable identically in any SQL engine (SURVEY.md §4).
  * Constants are fixed (no RNG) so every run and both engines agree.
  */
object HashFunctions {
  /** Mersenne prime 2^31 - 1. A constant (`final`, no type), so the
    * `graft.plans` kernels compile `% P` against a literal the JIT turns
    * into multiplies instead of a hardware divide per hash. */
  final val P = 2147483647L

  /** Multiplier/offset for permutation i (i >= 0); values in [1, P). */
  def permA(i: Int): Long = (1299721L * (i + 1) + 104729L) % P
  def permB(i: Int): Long = (15485863L * (i + 3) + 7919L) % P

  /** SQL text: universal hash of an integer-code SQL expression.
    * `codeSql` must already be a BIGINT in [0, P) to avoid 64-bit overflow:
    * a < 2^31 and code < 2^31 keeps a*code+b < 2^63.
    */
  def hashSql(i: Int, codeSql: String): String =
    s"(${permA(i)} * $codeSql + ${permB(i)}) % $P"
}
