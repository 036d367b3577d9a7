package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Order-sensitive rolling polynomial fingerprint of a token array —
  * acc·1000003 + base(token) per element, wrapping 64-bit arithmetic —
  * fused into one codegen'd loop: `rolling_hash64` over xxhash64,
  * `rolling_hash64_md5` over md5-low64 ([[BaseHash]]).
  *
  * Bit-identical to the declarative folds
  * [[graft.analytics.TextAnalysis.rollingHashFromTokens]] and
  * [[graft.analytics.TextAnalysis.rollingHashPortableFromTokens]]
  * (equivalence asserted in TextAnalysisSpec) INCLUDING their null-token
  * conventions, which differ: `xxhash64(null)` leaves the seed, 42, while
  * `md5Low64(null)` is null and null poisons the rest of the fold — so an
  * md5 fingerprint of an array holding ANY null token is NULL, and only
  * that family's expression is nullable beyond its input. The tokenizer
  * emits no nulls, so live rows never hit the edge; the spec pins it
  * anyway.
  */
case class RollingHash64(child: Expression, base: BaseHash) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable || base.rollingNullTerm.isEmpty
  override def prettyName: String = "rolling_hash64" + base.suffix
  // the family is in the name; keep it out of the argument list
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override protected def nullSafeEval(input: Any): Any =
    RollingHash64.hashOrNull(input.asInstanceOf[ArrayData], base)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val baseRef = ctx.addReferenceObj("base", base, classOf[BaseHash].getName)
    def call(c: String) = s"graft.plans.RollingHash64.hashOrNull($c, $baseRef)"
    if (base.rollingNullTerm.isDefined) defineCodeGen(ctx, ev, c => s"${call(c)}.longValue()")
    else nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("rhBoxed")
      s"""
         |Object $boxed = ${call(c)};
         |if ($boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ((Long) $boxed).longValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): RollingHash64 =
    copy(child = newChild)
}

object RollingHash64 {

  /** Boxed so the md5 family's null-poisoning fold is expressible: null ⇔
    * a null token under a base whose `rollingNullTerm` is None.
    */
  def hashOrNull(arr: ArrayData, base: BaseHash): java.lang.Long = {
    var h = 0L
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val tok =
        if (!arr.isNullAt(i)) base.hash(arr.getUTF8String(i))
        else base.rollingNullTerm match {
          case Some(t) => t
          case None => return null
        }
      h = h * 1000003L + tok
      i += 1
    }
    java.lang.Long.valueOf(h)
  }
}
