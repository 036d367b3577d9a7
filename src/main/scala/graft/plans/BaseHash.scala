package graft.plans

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** The per-token base hash of the fused sketch kernels ([[SimHash64]],
  * [[MinHashSig]], [[RollingHash64]]) — each kernel is ONE loop, and this
  * parameter picks the hash family it runs over. Fixed when the expression
  * is built (the SQL name selects it) and bound into generated code as a
  * referenced constant; the loops call its `hash` and test no family flag
  * per token.
  *
  * Each family also pins the null-token convention of the declarative
  * chain its kernels reproduce bit-for-bit (DedupSpec / TextAnalysisSpec):
  * the xx chain's `xxhash64(null)` is the seed 42, the md5 chain's
  * `md5Low64(null)` is null — and the two SimHash folds treat a null
  * token differently again (see [[simhashNullVote]]).
  */
sealed abstract class BaseHash(
    /** Appended to each kernel's SQL name (`simhash64` / `simhash64_md5`). */
    val suffix: String,
    /** The vote a null token casts on every SimHash bit: the xx fold skips
      * it (0); the md5 fold's `bitVotes(null)` falls to −1 on every bit.
      */
    val simhashNullVote: Int,
    /** A null token's rolling-hash term: the xx fold adds the seed
      * (`xxhash64(null)` = 42); the md5 fold's `null + x` poisons the whole
      * fingerprint to NULL (None).
      */
    val rollingNullTerm: Option[Long]) extends Serializable {

  def hash(s: UTF8String): Long
}

object BaseHash {

  /** Spark's `xxhash64(string)` with its default seed 42 — the fast family. */
  case object Xx64 extends BaseHash("", simhashNullVote = 0, rollingNullTerm = Some(42L)) {
    def hash(s: UTF8String): Long =
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
  }

  /** [[Md5Low64]] — the portable family any SQL engine with md5 reproduces. */
  case object Md5 extends BaseHash("_md5", simhashNullVote = -1, rollingNullTerm = None) {
    def hash(s: UTF8String): Long = Md5Low64.hash(s)
  }

  val all: Seq[BaseHash] = Seq(Xx64, Md5)
}
