package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Sorted distinct n-gram rolling hashes of an ASCII text column in ONE
  * fused pass: `hash(i) = fold_j((byte(i+j) + base·acc) mod m)`, then
  * sort + in-place dedupe — no per-position substring (O(offset) on UTF8
  * strings → quadratic), no intermediate char/code arrays, no interpreted
  * lambda chain.
  *
  * Declarative twins (bit-equal, spec-proven, and what the DuckDB oracles
  * replay): `Dedup.shingleCodesArraySql` for (n=3, base=256, m=2^62 —
  * mod never fires, so values are the exact 24-bit packed codes) and
  * TextQueries' 13-gram Horner fold for (n=13, base=31, m=2^56). Byte
  * walk == codepoint walk on ASCII text; any byte >= 0x80 throws on both
  * eval paths ([[AsciiBytes]]). Short texts (< n chars) yield an empty array, matching
  * the sliced zip_with forms.
  *
  * Hot-path justification (CLAUDE.md doctrine): measured 7.8 s (t14) and
  * the shingling share of 7.2 s (d02) at sf0.1 — the two largest
  * text-pipeline bench items — spent mostly in the interpreted
  * slice/zip_with chains this replaces.
  */
case class ShingleHashes(child: Expression, n: Int, base: Long, mod: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    // overflow-safe form of base*(mod-1)+255 < 2^63 (the naive product
    // can itself wrap positive and wave bad params through); a
    // power-of-two mod lets `compute` reduce with a mask
    if (child.dataType == StringType && n > 0 && base > 0 && mod > 0 &&
        (mod & (mod - 1)) == 0 && mod - 1 <= (Long.MaxValue - 255) / base)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects (string) with n > 0, mod a power of two and " +
        s"base*(mod-1)+255 < 2^63, " +
        s"got ${child.dataType.simpleString}, n=$n, base=$base, mod=$mod")

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String], n, base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ShingleHashes.compute($c, $n, ${base}L, ${mod}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  /** Shared by interpreted eval and codegen. `mod` is a power of two
    * (checked at analysis), so `x mod m` is the mask `x & (m-1)`: the JIT
    * folds only a literal divisor, and `%` by this argument would cost a
    * hardware divide per byte. */
  def compute(text: UTF8String, n: Int, base: Long, mod: Long): GenericArrayData = {
    val b = AsciiBytes.of(text, "graft_shingles")
    val count = b.length - n + 1
    if (count <= 0) return new GenericArrayData(Array.emptyLongArray)
    val h = new Array[Long](count)
    val mask = mod - 1
    var i = 0
    while (i < count) {
      var acc = 0L
      var j = 0
      while (j < n) { acc = ((b(i + j) & 0xff) + base * acc) & mask; j += 1 }
      h(i) = acc
      i += 1
    }
    java.util.Arrays.sort(h)
    var m = 1
    var r = 1
    while (r < count) {
      if (h(r) != h(m - 1)) { h(m) = h(r); m += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(h, m))
  }
}
