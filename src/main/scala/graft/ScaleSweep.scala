package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog-wide scaling-exponent sweep (r16 verdict task 3): run EVERY
  * `SparkEntry.queries` entry on ×1/×4/×16 synthesized corpora and emit
  * per-query (seconds, shuffle-bytes) with fitted exponents, flagging
  * anything super-linear in shuffle bytes — the "would it survive 100×"
  * measurement the fixed-sf bench cannot give. This is the general
  * scaling gate; ScaleSmoke keeps only the adversarial probes this sweep
  * cannot express.
  *
  * Corpus synthesis (from sf0.001 by default, so ×16 ≈ sf0.016): each copy
  * i is a PARALLEL UNIVERSE of the base —
  *  - every TPC-H key FAMILY (region/nation/cust/order/part/supp) shifts by
  *    i·(max(key)+1) consistently across primary AND foreign keys, so joins
  *    scale linearly instead of fanning out ×N against the original dims;
  *  - documents get per-copy token salting (every space becomes ` s{i}x `):
  *    copies share NO shingles, so duplicate/near-dup mass grows ×N like a
  *    real corpus — an unsalted id-shift union would manufacture ×N² pair
  *    mass (that ADVERSARIAL shape is ScaleSmoke's deliberate probe for
  *    the dedup and cluster paths, not a scaling measurement);
  *  - embeddings get per-copy hash-derived element noise (copies are
  *    distinct vectors, not ×N-deep LSH bucket pileups). Copy 0 is salted/
  *    perturbed too, so every multiplier draws from one distribution.
  *
  * Flags: shuffle-bytes exponent > [[FlagExponent]] over the ×1→×16 span
  * AND ×16 shuffle above [[FlagFloorBytes]] (noise floor). Time exponents
  * are informational (sub-second queries are overhead-dominated); shuffle
  * bytes are deterministic.
  *
  * Usage: `runMain graft.ScaleSweep [mult...] [queryName...]` (defaults
  * 1 4 16, all queries). Writes SCALE_SWEEP.json in the cwd ONLY for
  * full-catalog runs (the BENCH_DETAIL clobber lesson: ad-hoc subsets must
  * not overwrite the committed receipt).
  */
object ScaleSweep {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** key column → family (shift unit = family-owning table's max+1). */
  private val KeyFamilies: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "regionkey"),
    "nation" -> Seq("n_nationkey" -> "nationkey", "n_regionkey" -> "regionkey"),
    "customer" -> Seq("c_custkey" -> "custkey", "c_nationkey" -> "nationkey"),
    "supplier" -> Seq("s_suppkey" -> "suppkey", "s_nationkey" -> "nationkey"),
    "part" -> Seq("p_partkey" -> "partkey"),
    "orders" -> Seq("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
    "lineitem" -> Seq("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
      "l_suppkey" -> "suppkey"),
    "events" -> Seq("event_id" -> "eventkey", "user_id" -> "userkey"),
    "documents" -> Seq("doc_id" -> "dockey"),
    "embeddings" -> Seq("vec_id" -> "veckey"))

  /** family → (owning table, key column) for shift derivation. */
  private val FamilyOwner: Map[String, (String, String)] = Map(
    "regionkey" -> ("region", "r_regionkey"),
    "nationkey" -> ("nation", "n_nationkey"),
    "custkey" -> ("customer", "c_custkey"),
    "suppkey" -> ("supplier", "s_suppkey"),
    "partkey" -> ("part", "p_partkey"),
    "orderkey" -> ("orders", "o_orderkey"),
    "eventkey" -> ("events", "event_id"),
    "userkey" -> ("events", "user_id"),
    "dockey" -> ("documents", "doc_id"),
    "veckey" -> ("embeddings", "vec_id"))

  val FlagExponent = 1.15
  val FlagFloorBytes: Long = 50L << 20

  private def copyOf(table: String, df: DataFrame, i: Int,
      shifts: Map[String, Long]): DataFrame = {
    val keyed = KeyFamilies(table).foldLeft(df) { case (d, (colName, fam)) =>
      val t = df.schema(colName).dataType
      d.withColumn(colName, (col(colName).cast("long") + lit(i * shifts(fam))).cast(t))
    }
    table match {
      case "documents" =>
        // ` c{i}_` PREFIXES every following word with the copy tag, so
        // copies carry DISJOINT vocabularies (word sets AND shingles).
        // The first attempt inserted a standalone salt token between
        // words — that decorrelates shingles but leaves token SETS
        // near-identical across copies, and the set-similarity family
        // (d32 PPJoin) then sees ×N² manufactured near-dup pairs: the
        // first full sweep flagged d32 at shuffle exponent 1.78 purely
        // from that corpus artifact (within-copy structure is what a
        // real ×N corpus grows).
        keyed
          .withColumn("text", regexp_replace(col("text"), " ", s" c${i}_"))
          .withColumn("n_chars", length(col("text")))
      case "embeddings" =>
        keyed.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            (x + (pmod(xxhash64(col("vec_id") * lit(131L) + j.cast("long") * lit(7L)
                + lit(i * 1000003L)), lit(1000L)).cast("double") / 500.0 - 1.0)
              * lit(0.2)).cast("float")))
      case _ => keyed
    }
  }

  /** Write the ×mult universe under `$outRoot/x$mult/`; returns the dir. */
  def synthesize(spark: SparkSession, baseDir: String, outRoot: String,
      mult: Int): String = {
    val dir = s"$outRoot/x$mult"
    val done = new java.io.File(s"$dir/_SWEEP_DONE")
    if (done.exists()) return dir
    val bases = Tables.map(t =>
      t -> spark.read.parquet(s"$baseDir/$t.parquet")).toMap
    val shifts = FamilyOwner.map { case (fam, (tbl, key)) =>
      fam -> (bases(tbl).agg(max(col(key).cast("long"))).head.getLong(0) + 1L)
    }
    Tables.foreach { t =>
      (0 until mult).map(i => copyOf(t, bases(t), i, shifts))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    done.createNewFile()
    dir
  }

  def main(args: Array[String]): Unit = {
    val (multArgs, nameFilter) = args.partition(_.forall(_.isDigit))
    val mults = if (multArgs.isEmpty) Seq(1, 4, 16) else multArgs.map(_.toInt).toSeq
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_BASE_DIR", "/root/testdata/sf0.001")
    val outRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROOT", "/tmp/graft_scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => nameFilter.isEmpty || nameFilter.contains(n) }
    val unknown = nameFilter.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val dirs = mults.map(m => m -> synthesize(spark, baseDir, outRoot, m)).toMap
    System.err.println(s"[sweep] corpora ready: ${dirs.values.mkString(", ")}")

    // per query per mult: (seconds, shuffleBytes)
    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, Map[Int, (Double, Long)]]
    selected.foreach { case (name, fn) =>
      // untimed warmup at the smallest mult: the first execution of a
      // query JIT-compiles its codegen — measured 4.9 s vs 0.7 s steady
      // on q01 — which would DEFLATE every time exponent
      try fn(spark, dirs(mults.min)).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      val per = mults.map { m =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        val (bytes, _) = ShuffleReceipt.measure(spark) {
          // operator construction inside the measured region (iterative
          // operators run driver-coordinated rounds while building); noop
          // sink so no projected column is prunable (ScaleSmoke rationale)
          fn(spark, dirs(m)).write.format("noop").mode("overwrite").save()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        m -> (sec, bytes)
      }.toMap
      results(name) = per
      System.err.println(s"[sweep] $name " + mults.map(m =>
        f"x$m=${per(m)._1}%.2fs/${per(m)._2 / 1048576.0}%.1fMB").mkString(" "))
    }

    val lo = mults.min
    val hi = mults.max
    val span = math.log(hi.toDouble / lo)
    def expOf(a: Double, b: Double): Double =
      if (a <= 0 || b <= 0) 0.0 else math.log(b / a) / span
    def q(s: String) = "\"" + s + "\""
    val rows = results.map { case (name, per) =>
      val (tLo, sLo) = per(lo)
      val (tHi, sHi) = per(hi)
      val eT = expOf(tLo, tHi)
      val eS = expOf(sLo.toDouble, sHi.toDouble)
      val flagged = eS > FlagExponent && sHi > FlagFloorBytes
      (name, per, eT, eS, flagged)
    }
    val flaggedNames = rows.collect { case (n, _, _, eS, true) => s"$n(${f"$eS%.2f"})" }
    val json = rows.map { case (name, per, eT, eS, flagged) =>
      val perJson = mults.map(m =>
        s"${q("x" + m)}: {${q("sec")}: ${f"${per(m)._1}%.3f"}, ${q("shuffle_bytes")}: ${per(m)._2}}")
        .mkString(", ")
      s"  ${q(name)}: {$perJson, ${q("exp_time")}: ${f"$eT%.3f"}, " +
        s"${q("exp_shuffle")}: ${f"$eS%.3f"}, ${q("flagged")}: $flagged}"
    }.mkString("{\n", ",\n", "\n}")
    if (nameFilter.isEmpty) {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("SCALE_SWEEP.json"), json)
      System.err.println("[sweep] wrote SCALE_SWEEP.json")
    }
    println(s"[sweep] ${results.size} queries at x${mults.mkString("/x")}; " +
      s"flagged super-linear shuffle: ${if (flaggedNames.isEmpty) "none"
      else flaggedNames.mkString(", ")}")
    spark.stop()
  }
}
