package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The engine's `SparkSessionExtensions` entry point — the documented way
  * to add Catalyst extensions without forking the session builder. Register
  * with `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Injects the native expressions below and nothing else: no optimizer
  * rule and no custom `SparkStrategy` — no operator has outgrown the
  * DataFrame vocabulary (SURVEY §4). The engine's one kernel mechanism is
  * to call these functions by name (`call_function`), so every session
  * must come from [[graft.GraftSession.builder]], which installs this
  * class; each kernel's declarative twin stays in the analytics code as
  * the reference its bit-identity spec compares against.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // ── the three sketch kernels, once per base-hash family: simhash64,
    // rolling_hash64, minhash_sig over xxhash64, and their _md5 names over
    // the PORTABLE md5-low64 hash. The md5 family is fused in place of the
    // declarative md5→hex→conv chains that back every oracle-checked
    // dedup/fingerprint operator (d08/d10/d11/t07…): those run the
    // five-node chain per TOKEN or per SHINGLE inside interpreted
    // higher-order functions; each kernel is one codegen'd loop,
    // bit-identical (DedupSpec / TextAnalysisSpec). ──
    for (base <- BaseHash.all) {
      val family = if (base == BaseHash.Xx64) "xxhash64" else "md5-low64"

      ext.injectFunction((
        FunctionIdentifier("simhash64" + base.suffix),
        new ExpressionInfo(
          classOf[SimHash64].getName, null, "simhash64" + base.suffix,
          s"_FUNC_(tokens) - 64-bit SimHash of a string array ($family votes).",
          ""),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          require(children.length == 1, s"simhash64${base.suffix} takes 1 argument")
          SimHash64(children.head, base)
        }))

      ext.injectFunction((
        FunctionIdentifier("rolling_hash64" + base.suffix),
        new ExpressionInfo(
          classOf[RollingHash64].getName, null, "rolling_hash64" + base.suffix,
          "_FUNC_(tokens) - order-sensitive rolling polynomial fingerprint " +
            s"(base 1000003 over $family).",
          ""),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          require(children.length == 1, s"rolling_hash64${base.suffix} takes 1 argument")
          RollingHash64(children.head, base)
        }))

      // minhash_sig[_md5](tokens, n, k, seed): n/k/seed must be foldable
      // literals — the universal-hash constants are generated once at plan
      // time, from the same source for both families.
      ext.injectFunction((
        FunctionIdentifier("minhash_sig" + base.suffix),
        new ExpressionInfo(
          classOf[MinHashSig].getName, null, "minhash_sig" + base.suffix,
          "_FUNC_(tokens, n, k, seed) - k-element MinHash signature over word n-gram " +
            s"shingles ($family base).",
          ""),
        (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          require(children.length == 4, s"minhash_sig${base.suffix} takes 4 arguments")
          require(children.drop(1).forall(_.foldable),
            s"minhash_sig${base.suffix} n/k/seed must be literals")
          def longArg(i: Int): Long =
            children(i).eval(null) match { case num: Number => num.longValue() }
          val n = longArg(1).toInt
          val k = longArg(2).toInt
          val seed = longArg(3)
          MinHashSig(children.head, n, MinHashSig.abConstants(k, seed), base)
        }))
    }

    ext.injectFunction((
      FunctionIdentifier("parse_bitrate_mbps"),
      new ExpressionInfo(
        classOf[ParseBitrate].getName, null, "parse_bitrate_mbps",
        "_FUNC_(str) - 3GPP BitRate string to Mbps (6-dp), null when unparseable.",
        ""),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "parse_bitrate_mbps takes 1 argument")
        ParseBitrate(children.head)
      }))

    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(
        classOf[VecDot].getName, null, "vec_dot",
        "_FUNC_(a, b) - dot product of two float/double arrays (strict left-to-right double accumulation).",
        ""),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "vec_dot takes 2 arguments")
        VecDot(children(0), children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("byte_range_sum"),
      new ExpressionInfo(
        classOf[ByteRangeSum].getName, null, "byte_range_sum",
        "_FUNC_(bin, pos, len) - sum of unsigned byte values over a 1-based range; null when the range leaves the payload.",
        ""),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 3, "byte_range_sum takes 3 arguments")
        ByteRangeSum(children(0), children(1), children(2))
      }))

    // bloom_agg / bloom_contains: Spark's OWN runtime-filter bloom
    // machinery (catalyst BloomFilterAggregate / BloomFilterMightContain,
    // the expressions behind spark.sql.optimizer.runtimeFilter) exposed as
    // SQL functions. This is the 100 TB decontamination path: d13's
    // broadcast shingle-universe array stops fitting executor memory long
    // before the corpus does, while a fixed-size bloom filter (built by
    // one aggregation, shipped as a scalar-subquery constant) keeps the
    // corpus side a single codegen'd scan. One-sided error only: no false
    // negatives, so bloom-flagged ⊇ exact-flagged always holds (the d16
    // contract flag). bloom_contains requires a CONSTANT filter (scalar
    // subquery or literal) — enforced by the expression's own type check.
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        null, "bloom_agg",
        "_FUNC_(xxhash64_value, est_items, num_bits) - binary bloom filter aggregate over long hashes.",
        ""),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 3, "bloom_agg takes 3 arguments")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2))
      }))

    ext.injectFunction((
      FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        null, "bloom_contains",
        "_FUNC_(bloom, xxhash64_value) - might-contain probe; false has no false negatives.",
        ""),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "bloom_contains takes 2 arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("md5_low64"),
      new ExpressionInfo(
        classOf[Md5Low64].getName, null, "md5_low64",
        "_FUNC_(str) - low 8 md5 digest bytes as a signed big-endian long (the portable base hash).",
        ""),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "md5_low64 takes 1 argument")
        Md5Low64(children.head)
      }))

    // gram_hashes_md5(tokens, k): k must be a foldable literal.
    ext.injectFunction((
      FunctionIdentifier("gram_hashes_md5"),
      new ExpressionInfo(
        classOf[GramHashesMd5].getName, null, "gram_hashes_md5",
        "_FUNC_(tokens, k) - per-position word-k-gram md5-low64 hashes (element i = gram starting at token i).",
        ""),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "gram_hashes_md5 takes 2 arguments")
        require(children(1).foldable, "gram_hashes_md5 k must be a literal")
        val k = children(1).eval(null) match { case num: Number => num.intValue() }
        GramHashesMd5(children.head, k)
      }))

    // lsh_sign_buckets(vec, seed, nTables, planesPerTable, dim): the trailing
    // four arguments must be foldable literals — the seeded hyperplane
    // matrix is built once at plan time and rides into codegen as a
    // referenced object.
    ext.injectFunction((
      FunctionIdentifier("lsh_sign_buckets"),
      new ExpressionInfo(
        classOf[SignBuckets].getName, null, "lsh_sign_buckets",
        "_FUNC_(vec, seed, nTables, planesPerTable, dim) - per-table LSH sign-pattern buckets.",
        ""),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 5, "lsh_sign_buckets takes 5 arguments")
        require(children.drop(1).forall(_.foldable),
          "lsh_sign_buckets seed/nTables/planesPerTable/dim must be literals")
        def longArg(i: Int): Long =
          children(i).eval(null) match { case n: Number => n.longValue() }
        val seed = longArg(1)
        val nTables = longArg(2).toInt
        val planesPerTable = longArg(3).toInt
        val dim = longArg(4).toInt
        val planes = (0 until nTables).flatMap(t =>
          graft.analytics.Similarity.hyperplanes(planesPerTable, dim, seed + t)).toArray
        SignBuckets(children.head, planes, planesPerTable)
      }))
  }
}
