package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** k-element MinHash signature of a token array in ONE fused pass:
  * word-n-gram shingling, the per-shingle base hash (`minhash_sig`:
  * xxhash64 with Spark's default seed 42; `minhash_sig_md5`: md5-low64 —
  * [[BaseHash]]), and the k-way running minimum of the universal hashes
  * h_i(x) = a_i·x + b_i — without materializing the shingle array, the
  * base-hash array, or a per-shingle accumulator array.
  *
  * Bit-identical to the declarative chain (shinglesFromTokens →
  * transform(base hash) → [[graft.analytics.Dedup.minhashFromHashes]];
  * equivalence asserted in DedupSpec for both families): `concat_ws`
  * null-skip inside a shingle window is replicated via
  * `UTF8String.concatWs` (so neither family sees a null shingle),
  * fewer-than-n tokens yield the all-MaxValue signature, and
  * `array_distinct` needs no replication because duplicate shingles
  * cannot change a minimum. The declarative form evaluates three
  * interpreted higher-order functions allocating O(shingles + k·shingles)
  * per row; this is one codegen'd loop with a k-long accumulator.
  */
case class MinHashSig(child: Expression, n: Int, ab: Array[Long], base: BaseHash)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig" + base.suffix
  // the family is in the name; keep it out of the argument list
  override protected def stringArgs: Iterator[Any] = Iterator(child, n, ab)

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.sig(input.asInstanceOf[ArrayData], n, ab, base)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val abRef = ctx.addReferenceObj("ab", ab, "long[]")
    val baseRef = ctx.addReferenceObj("base", base, classOf[BaseHash].getName)
    defineCodeGen(ctx, ev, c => s"graft.plans.MinHashSig.sig($c, $n, $abRef, $baseRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  private val Space = UTF8String.fromString(" ")

  /** The (a, b) constant pairs for k universal hashes, interleaved
    * [a0, b0, a1, b1, …] — delegates to the ONE generator in
    * [[graft.analytics.Dedup.minhashConstants]] shared with the
    * declarative operator and the d10 oracle builder.
    */
  def abConstants(k: Int, seed: Long): Array[Long] =
    graft.analytics.Dedup.minhashConstants(k, seed)
      .flatMap { case (a, b) => Seq(a, b) }.toArray

  /** Shared kernel for interpreted eval and generated code. Overflow wraps
    * exactly like Spark's non-ANSI long arithmetic in the declarative form.
    */
  def sig(ws: ArrayData, n: Int, ab: Array[Long], base: BaseHash): ArrayData = {
    val k = ab.length / 2
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    val len = ws.numElements()
    if (len >= n) {
      val parts = new Array[UTF8String](n)
      var i = 0
      while (i <= len - n) {
        var j = 0
        while (j < n) {
          parts(j) = if (ws.isNullAt(i + j)) null else ws.getUTF8String(i + j)
          j += 1
        }
        // concatWs skips null inputs — exactly concat_ws(" ", …)
        val h = base.hash(UTF8String.concatWs(Space, parts: _*))
        var p = 0
        while (p < k) {
          val v = h * ab(2 * p) + ab(2 * p + 1)
          if (v < out(p)) out(p) = v
          p += 1
        }
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}
