package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (Schleimer et al.) in ONE fused pass:
  * n-gram rolling hashes -> packed selection keys
  * `(h mod hmod) * c + (c-1-pos)` -> sliding-window minimum over every
  * full window of `w` keys -> sorted distinct fingerprints
  * (`minkey / c`). The packed key makes the required rightmost-argmin a
  * plain MIN; `pos` is 1-based and must stay below `c`. ASCII only: any
  * byte >= 0x80 throws on both eval paths ([[AsciiBytes]]), since the
  * twin walks code points.
  *
  * Declarative twin (what the DuckDB oracle replays, see
  * t25_winnow_overlap): positional Horner hashes + windowed MIN over the
  * packed keys + distinct. This expression exists because the interpreted
  * 13-fold zip_with chain plus the per-position explode and window
  * shuffle measured 10.2 s at sf0.1 — the whole selection is
  * position-local, so none of those rows need to leave the scan.
  *
  * Window minima use the naive O(w) inner loop: w is 8; a monotonic deque
  * would only obscure the arithmetic the oracle must replay.
  *
  * `keepPos = true` (graft_winnow13p) emits the distinct PACKED minkeys
  * instead of `minkey / c`: fp = key div c, selected 1-based gram
  * position = (c-1) - key mod c. t37's position-bounded span confirm
  * needs the selection positions — a shared >=20-char span selects a
  * common fp at the same relative offset in both docs, so the exact
  * 20-gram confirm join only has to look at the w positions behind each
  * shared-fp occurrence instead of gram-exploding whole documents.
  */
case class WinnowFps(child: Expression, n: Int, base: Long, mod: Long,
    w: Int, hmod: Long, c: Long, keepPos: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n > 0 && base > 0 && mod > 0 &&
        w > 0 && hmod > 0 && c > 1 &&
        (mod & (mod - 1)) == 0 && (hmod & (hmod - 1)) == 0 && // mask-reducible
        mod - 1 <= (Long.MaxValue - 255) / base && // Horner can't wrap
        hmod - 1 <= (Long.MaxValue / c))           // packed key can't wrap
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_winnow expects (string) with positive params, mod and hmod " +
        s"powers of two, base*(mod-1)+255 < 2^63 and hmod*c < 2^63; got " +
        s"${child.dataType.simpleString}, n=$n, base=$base, mod=$mod, " +
        s"w=$w, hmod=$hmod, c=$c")

  override def nullSafeEval(input: Any): Any =
    WinnowFps.compute(input.asInstanceOf[UTF8String], n, base, mod, w, hmod, c, keepPos)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.WinnowFps.compute(" +
        s"$t, $n, ${base}L, ${mod}L, $w, ${hmod}L, ${c}L, $keepPos);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFps {
  /** Shared by interpreted eval and codegen. `mod` and `hmod` are powers
    * of two (checked at analysis), reduced by mask as in
    * [[ShingleHashes.compute]]. */
  def compute(text: UTF8String, n: Int, base: Long, mod: Long,
      w: Int, hmod: Long, c: Long, keepPos: Boolean): GenericArrayData = {
    val b = AsciiBytes.of(text, "graft_winnow")
    val cnt = b.length - n + 1
    // position-packing precondition enforced, not assumed: pos (1-based,
    // <= cnt) must stay below c or (c-1-pos) goes negative, silently
    // corrupting rightmost-argmin selection AND making minkey/c diverge
    // from the oracle's floor division. Fail loudly — a 100 TB run wants
    // the document surfaced, not a wrong fingerprint.
    if (cnt >= c) throw new IllegalArgumentException(
      s"graft_winnow: document with ${b.length} bytes exceeds the " +
        s"position-packing capacity (need n-grams < c=$c)")
    val wins = cnt - w + 1
    if (wins <= 0) return new GenericArrayData(Array.emptyLongArray)
    val k = new Array[Long](cnt)
    val mask = mod - 1
    val hmask = hmod - 1
    var i = 0
    while (i < cnt) {
      var acc = 0L
      var j = 0
      while (j < n) { acc = ((b(i + j) & 0xff) + base * acc) & mask; j += 1 }
      k(i) = (acc & hmask) * c + (c - 1 - (i + 1))
      i += 1
    }
    val f = new Array[Long](wins)
    var s = 0
    while (s < wins) {
      var mn = k(s)
      var t = 1
      while (t < w) { if (k(s + t) < mn) mn = k(s + t); t += 1 }
      f(s) = if (keepPos) mn else mn / c
      s += 1
    }
    java.util.Arrays.sort(f)
    var m = 1
    var r = 1
    while (r < wins) {
      if (f(r) != f(m - 1)) { f(m) = f(r); m += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(f, m))
  }
}
