package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit SimHash of a token array as a native Catalyst expression —
  * `simhash64` over xxhash64, `simhash64_md5` over md5-low64 ([[BaseHash]]).
  *
  * Semantically identical to the declarative construction (per-token base
  * hash, ±1 bit votes, positive-vote bits set — equivalence asserted in
  * DedupSpec for both families, including each family's null-token
  * convention), but evaluated in ONE fused per-row loop with full
  * whole-stage-codegen support. The higher-order-function form allocates
  * a 64-element vote array per TOKEN and runs interpreted (HOFs are
  * CodegenFallback); this runs at memory bandwidth — the round-3
  * measurement was 5.8 s → sub-second for d05 at sf0.1.
  *
  * This is the engine's one custom-Expression showcase: built-ins express
  * every reference semantic (SURVEY §2-I), so Catalyst extension is
  * reserved for exactly this case — a hot per-row kernel the built-in
  * vocabulary can only express interpretively.
  */
case class SimHash64(child: Expression, base: BaseHash) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64" + base.suffix
  // the family is in the name; keep it out of the argument list
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.hashTokens(input.asInstanceOf[ArrayData], base)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val baseRef = ctx.addReferenceObj("base", base, classOf[BaseHash].getName)
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHash64.hashTokens($c, $baseRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** One-pass SimHash kernel, shared by interpreted eval and generated
    * code. A null token votes `base.simhashNullVote` on every bit.
    */
  def hashTokens(arr: ArrayData, base: BaseHash): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        val v = base.simhashNullVote
        if (v != 0) {
          var b = 0
          while (b < 64) { votes(b) += v; b += 1 }
        }
      } else {
        val h = base.hash(arr.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
