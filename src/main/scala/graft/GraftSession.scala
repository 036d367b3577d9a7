package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's session semantics are defined — Verify,
  * Bench, and the test suite all build their sessions here, so the
  * correctness gate, the benchmark, and the tests cannot drift apart
  * (round-3 review finding: the 9-setting block was copy-pasted four ways).
  * build.sbt's javaOptions mirror these as -D defaults for ad-hoc runs.
  */
object GraftSession {

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      // ANSI off: reference parity (int() of garbage → null not error,
      // SURVEY.md §7.4) and DuckDB-oracle cast semantics.
      .config("spark.sql.ansi.enabled", "false")
      // …but keep size(NULL) = NULL (ansi=false flips the legacy -1 default).
      .config("spark.sql.legacy.sizeOfNull", "false")
      // Older testdata generations carried INT64 TIMESTAMP(NANOS) — keep
      // reading those as LongType; current generations ship timestamp[us]
      // (TIMESTAMP_NTZ), untouched by this flag. EventTime dispatches on
      // whichever dtype arrives.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Engine Catalyst extensions: the native kernels (parse_bitrate_mbps,
      // the simhash/minhash/rolling-hash families, md5_low64, vec_dot,
      // lsh_sign_buckets, …). The engine calls its kernels by name and has
      // no declarative fallback, so every session must come from this
      // builder.
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // InferFiltersFromGenerate synthesizes size(arr)>0 below every explode;
      // predicate pushdown then substitutes the alias chain into the filter
      // with no cost guard, re-running whole per-row pipelines inside scan
      // filters (round-3 profiling: 5× wall-time on the shingle explodes).
      // Our generators never see null arrays — the rule only costs.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.adaptive.enabled", "true")
      // No AQE on stateless streaming queries (the NEF data plane of
      // Stream.runIngest). In Spark 4.1 `QueryExecution.explainString`
      // builds a fresh IncrementalExecution for a streaming plan, so every
      // AQE plan update re-optimizes the whole data plane: a counting
      // optimizer rule saw 100 optimizations of it over 20 micro-batches
      // with AQE on, 40 with it off. The remaining second optimization per
      // batch comes from Spark's SQL execution-start event and cannot be
      // switched off. Batch queries, including foreachBatch's per-batch
      // grouping, keep AQE.
      .config("spark.sql.adaptive.streaming.stateless.enabled", "false")
      .config("spark.ui.enabled", "false")
}
