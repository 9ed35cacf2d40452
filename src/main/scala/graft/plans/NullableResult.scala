package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, ExprCode}
import org.apache.spark.sql.types.DataType

/** Generated code storing a kernel's `compute` call whose result can be
  * SQL NULL, returned as a null reference (a primitive result comes back
  * boxed): a dot kernel's null element, an empty `graft_argmin_sqdist`
  * codebook, `graft_minhash16` on text under 3 chars. For nullable
  * expressions only, where `ev.isNull` is a declared variable. The block
  * scopes its one local, so several kernels can share a generated method.
  */
private[plans] object NullableResult {
  def assign(ev: ExprCode, dataType: DataType, call: String): String =
    s"""{
       |  ${CodeGenerator.boxedType(dataType)} graftResult = $call;
       |  if (graftResult == null) ${ev.isNull} = true; else ${ev.value} = graftResult;
       |}""".stripMargin
}
