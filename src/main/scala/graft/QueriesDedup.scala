package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.analytics.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.functions.NetFunctions
import graft.QueryHelpers._

/** Deduplication family (d01-d27): exact/fingerprint, MinHash+LSH,
  * SimHash, span/CDC dedup, decontamination, incremental variants, and
  * their quality evaluations.
  *
  * Extracted from the original single-file SparkEntry catalog; the
  * driver contract is unchanged — [[SparkEntry.queries]] and
  * [[SparkEntry.oracleSql]] concatenate the family maps. Shared
  * helpers (including the numeric-portability conventions documented
  * on [[SparkEntry]]) live in [[QueryHelpers]].
  */
private[graft] object QueriesDedup {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // Dedup: exact (hash groupBy on full text).
    "d01_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))
    }),


    // Dedup: md5 content fingerprint (constant-width shuffle keys at scale).
    "d02_dedup_fingerprint" -> ((s, dir) => {
      analytics.Par.spreadForCpu(t(s, dir, "documents"))
        .select(col("doc_id"), TextAnalysis.contentFingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),


    // Dedup: exact word-3-gram Jaccard via inverted shingle index.
    "d03_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramJaccardPairs(docs.where(col("doc_id") < 50), docs, n = 3, threshold = 0.2,
        maxDf = 1000L) // finite cap = skew guard; exact here (corpus max DF 25 << 1000)
        .orderBy(col("a_id"), col("b_id"))
    }),


    // Dedup THRESHOLD operating curve (s25's tuning-artifact pattern for
    // the dedup family): pair count and affected-doc count at Jaccard
    // thresholds {0.05, 0.5, 0.9} from ONE shared pair table (built once
    // at the lowest level; each level is a filter + two bounded
    // aggregates) — THE curve a dedup deployment picks its threshold
    // from: how many documents does each setting actually touch. The
    // corpus's pair mass is BIMODAL (near-1.0 duplicates + ~0.05 weak
    // overlaps), so the levels bracket both modes; both measures are
    // monotone non-increasing in the threshold (asserted in DedupSpec).
    "d35_dedup_sweep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // Single-pass restructure (r17 optimization round; guide §2.4):
      // thresholds nest (jaccard ≥ th is monotone), so the whole curve is
      // conditional sums over ONE pass — per doc, count the pairs it
      // leads (side a) per threshold and its max jaccard; a doc is
      // "affected" at th iff its max pair jaccard reaches th. The former
      // shape ran TWO aggregates (count + exploded countDistinct) plus a
      // crossJoin PER LEVEL over a persisted pair table — six passes and
      // three broadcasts; with a single consumer the persist is gone too.
      val ths = Seq(0.05, 0.5, 0.9)
      val pairs = Dedup.ngramJaccardPairs(docs.where(col("doc_id") < 50), docs,
        n = 3, threshold = 0.05, maxDf = 1000L)
      val exploded = pairs.select(col("jaccard").as("j"),
          explode(array(struct(col("a_id").as("d"), lit(true).as("lead")),
            struct(col("b_id").as("d"), lit(false).as("lead")))).as("x"))
        .select(col("j"), col("x.d").as("d"), col("x.lead").as("lead"))
      val perDoc = exploded.groupBy(col("d")).agg(
        max(col("j")).as("mj"),
        ths.indices.map(i => sum(when(col("lead") && col("j") >= ths(i), 1L)
          .otherwise(0L)).as(s"np_$i")): _*)
      val aggCols = ths.indices.flatMap(i => Seq(
        coalesce(sum(col(s"np_$i")), lit(0L)).as(s"n_pairs_$i"),
        count(when(col("mj") >= ths(i), lit(1))).as(s"nd_$i")))
      perDoc.agg(aggCols.head, aggCols.tail: _*)
        .select(explode(array(ths.indices.map(i =>
          struct(lit(ths(i)).as("threshold"), col(s"n_pairs_$i").as("n_pairs"),
            col(s"nd_$i").as("n_docs_affected"))): _*)).as("l"))
        .select(col("l.threshold").as("threshold"), col("l.n_pairs").as("n_pairs"),
          col("l.n_docs_affected").as("n_docs_affected"))
        .orderBy(col("threshold"))
    }),


    // LSH band/row operating curve (r15 verdict task 3): d26 evaluates
    // ONE (bands, rowsPerBand) config; this is the tuning artifact a
    // dedup deployment actually reads — precision/recall at every
    // (bands, k/bands) point of a power-of-two grid over the SAME k=64
    // signatures, against the SAME exact-Jaccard ground truth, from ONE
    // shared signature pass (the s25/d35 shared-pass pattern). Coarser
    // bands are concatenations of finer ones on this grid, so candidate
    // sets nest and recall/n_est are non-decreasing in bands BY
    // CONSTRUCTION (the DedupSpec monotonicity pin); precision decays as
    // narrower bands admit weaker collisions.
    // Threshold 0.05 (d35's lowest bracket), NOT d26's 0.4: the corpus
    // pair mass is bimodal and at 0.4 every level finds exactly the
    // near-1.0 duplicates (a flat all-1.0 curve measures nothing). At
    // 0.05 the ~0.05-Jaccard weak-overlap mode is in scope, where band
    // width decides collision probability — the curve actually moves.
    "d36_lsh_sweep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val truth = Dedup.ngramJaccardPairs(docs, docs, n = 3, threshold = 0.05,
          maxDf = 1000L)
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
      Dedup.lshBandSweep(docs, truth, n = 3, k = 64,
          bandsGrid = Seq(4, 8, 16, 32), threshold = 0.05, portableHash = true)
        .orderBy(col("bands"))
    }),


    // SimHash Hamming-radius operating curve — the fingerprint family's
    // tuning artifact next to d36's band/row grid: precision/recall of
    // "near-dup = hd <= r" for r in 0..3 against the exact Jaccard >=
    // 0.4 truth, from ONE fingerprint pass. Candidates by the
    // Manku-style 4x16-bit block pigeonhole (hd <= 3 forces >= 1 equal
    // block), so every level's pair set is EXACT and never an all-pairs
    // scan; radii nest, so recall/n_est are non-decreasing (DedupSpec
    // pin). n_cand is the measured block-collision volume — the cost
    // column the curve is read against.
    "d37_simhash_sweep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val truth = Dedup.ngramJaccardPairs(docs, docs, n = 3, threshold = 0.4,
          maxDf = 1000L)
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
      Dedup.simhashRadiusSweep(docs, truth, radii = Seq(0, 1, 2, 3))
        .orderBy(col("radius"))
    }),


    // Dedup impact report — the release-accounting artifact between d02's
    // fingerprint election and q38's curation: per duplicate-group SIZE,
    // how many groups/docs exist, how many docs and how much token mass
    // exact dedup DROPS, and the kept-vs-dropped mean quality (the
    // exact-decimal mean recipe, so the doubles are addition-order-free).
    // This is what answers "what did dedup cost us" in a data release.
    // The corpus carries no byte-identical copies (its duplication is
    // near-dup), so the fixture replicates every 5th doc verbatim at a
    // shifted id (the d24 synthesized-corruption convention) — the
    // report then has a real size-2 mass to account.
    // Scale shape: one fingerprint-keyed window (the d02 shuffle) + one
    // group-size-keyed aggregate; quality rides the shared qualityScored
    // chain, no second tokenize.
    "d38_dedup_impact" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      // replica ids shift by max(doc_id)+1 DERIVED from the corpus (1-row
      // broadcast scalar, mirrored as a scalar subquery in the oracle) —
      // a fixed constant would collide with real doc_ids at >= that many
      // documents and silently fan the doc_id join out 2x2
      val mx = base.agg((max(col("doc_id")) + 1L).as("shift"))
      val docs = analytics.Par.spreadForCpu(base.unionByName(
        base.where(pmod(col("doc_id"), lit(5L)) === 0)
          .crossJoin(broadcast(mx))
          .select((col("doc_id") + col("shift")).as("doc_id"), col("lang"), col("text"))))
      val fpd = docs.select(col("doc_id"),
        TextAnalysis.contentFingerprint(col("text")).as("fp"))
      val w = Window.partitionBy(col("fp"))
      val mem = qualityScored(docs).join(fpd, Seq("doc_id"))
        .withColumn("grp_size", count(lit(1)).over(w))
        .withColumn("keep_id", min(col("doc_id")).over(w))
        .withColumn("dropped", col("doc_id") =!= col("keep_id"))
      mem.groupBy(col("grp_size").cast("long").as("grp_size"))
        .agg(countDistinct(col("fp")).as("n_groups"),
          count(lit(1)).as("n_docs"),
          sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
          sum(col("n_tokens")).as("tokens_total"),
          sum(when(col("dropped"), col("n_tokens")).otherwise(0L)).as("tokens_dropped"),
          round(sum(when(!col("dropped"), dec(col("quality"), 28, 10)))
            .cast("double") / count(when(!col("dropped"), 1)), 6)
            .as("mean_quality_kept"),
          when(sum(when(col("dropped"), 1L).otherwise(0L)) > 0,
            round(sum(when(col("dropped"), dec(col("quality"), 28, 10)))
              .cast("double") / count(when(col("dropped"), 1)), 6))
            .as("mean_quality_dropped"))
        .orderBy(col("grp_size"))
    }),


    // Dedup: ASYMMETRIC containment |A∩B|/|A| — sub-document duplication
    // (a doc contained in a larger one scores ~1.0 while its symmetric
    // Jaccard can be near 0). Same inverted-index candidate generation.
    "d09_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.containmentPairs(docs.where(col("doc_id") < 50), docs, n = 3, threshold = 0.4)
        .orderBy(col("a_id"), col("b_id"))
    }),


    // Dedup: the MinHash CORE, oracle-checked — signatures over the
    // PORTABLE md5-low64 shingle hash, one row per (doc, position). With
    // d08 this proves both sketch families' machinery (universal-hash
    // running minimum here; vote/fold there) bit-exact cross-engine; the
    // production operators (d04/d05) swap in xxhash64 for speed.
    "d10_minhash_portable" -> ((s, dir) => {
      val tok = analytics.Par.spreadForCpu(t(s, dir, "documents"))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
        .where(size(col("ws")) >= 3)
      // fused minhash_sig_md5 kernel (bit-identical to the declarative
      // chain — DedupSpec; same kernel as d04/d11's shared
      // Dedup.minhashSignaturesPortable, inlined here because this query
      // keeps doc_id)
      tok.select(col("doc_id"),
          call_function("minhash_sig_md5", col("ws"), lit(3), lit(16), lit(42L)).as("sig"))
        .select(col("doc_id"), posexplode(col("sig")))
        .toDF("doc_id", "pos", "min_hash")
        .orderBy(col("doc_id"), col("pos"))
    }),


    // Dedup: MinHash + banded LSH candidates. BOTH families run — the
    // xxhash64 production variant exercises the fast path every round —
    // but the VALUE-compared rows are the PORTABLE (md5-low64) pair set,
    // scoped like d11's: banded-MinHash membership near the 0.4
    // est_jaccard threshold is hash-family-dependent (the same
    // non-invariance d05 documents for fingerprint cardinality), so
    // hash-matching the xx rows against an md5 oracle would let a benign
    // data refresh flip a boundary pair and redden the gate with no real
    // regression. The xx family rides as the MONITORED `portable_agree`
    // statistic instead: symmetric difference vs the portable set ≤ 2
    // pairs. est_jaccard stays family-internal; d11 below carries the
    // hash-matched estimates.
    "d04_minhash_lsh" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val xx = Dedup.minhashCandidates(docs, n = 3, k = 64, bands = 16, threshold = 0.4)
        .select(col("a_id"), col("b_id"))
      val md5 = Dedup.minhashCandidates(docs, n = 3, k = 64, bands = 16, threshold = 0.4,
          portableHash = true)
        .select(col("a_id"), col("b_id"))
      val agree = xx.union(md5).groupBy(col("a_id"), col("b_id")).count()
        .where(col("count") === 1) // pairs found by exactly one family
        .agg((count(lit(1)) <= 2).as("portable_agree"))
      md5.crossJoin(agree) // 1-row scalar broadcast
        .orderBy(col("a_id"), col("b_id"))
    }),


    // Dedup: the FULL LSH pair pipeline, oracle-checked end-to-end —
    // signatures over the portable md5-low64 shingle hash (as d10), then
    // the SAME banding / bucket self-join / signature-agreement estimate
    // code path as d04 (Dedup.minhashCandidates, portableHash=true). The
    // DuckDB twin rebuilds signatures from the shared constant generator
    // and expresses each band as slice equality, so candidate generation
    // AND est_jaccard are hash-matched cross-engine.
    "d11_minhash_lsh_portable" -> ((s, dir) => {
      Dedup.minhashCandidates(t(s, dir, "documents"), n = 3, k = 64, bands = 16,
          threshold = 0.4, portableHash = true)
        .orderBy(col("a_id"), col("b_id"))
    }),


    // Dedup: the 100 TB cluster path DECLARED — LSH candidate pairs
    // (portable twin of d04's generation) → connected components → the
    // same (cluster_id, cluster_size, is_survivor) resolution as d07.
    // Oracle = d11's pair chain feeding d07's recursive-CTE closure.
    "d12_dedup_clusters_approx" -> ((s, dir) => {
      Dedup.dedupClustersApprox(t(s, dir, "documents"), n = 3, k = 64, bands = 16,
          threshold = 0.4, portableHash = true)
        .orderBy(col("doc_id"))
    }),


    // Content-defined chunking + chunk dedup (Rabin/FastCDC family on
    // token streams): content-keyed cut points survive insertions that
    // shift every fixed block; shared chunk fingerprints localize WHICH
    // PARTS of near-dup documents coincide. Pure integer/md5 gate.
    "d23_cdc_chunks" -> ((s, dir) =>
      Dedup.cdcChunkDedup(t(s, dir, "documents"), w = 4, divisor = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))),


    // Soft dedup: reweight near-duplicate clusters instead of dropping
    // them — each doc in a cluster of size s gets weight 1/s (9 dp), so
    // every cluster contributes one document's worth of training mass.
    // Same d12 cluster chain; the weight is a pure projection on top.
    "d22_soft_dedup" -> ((s, dir) =>
      Dedup.softDedupWeights(
          Dedup.dedupClustersApprox(t(s, dir, "documents"), n = 3, k = 64,
            bands = 16, threshold = 0.4, portableHash = true))
        .orderBy(col("doc_id"))),


    // Decontamination: flag corpus documents sharing ANY 3-gram shingle
    // with a contamination set (stand-in: doc_id < 20 as the "benchmark"
    // docs). Broadcast contamination shingle universe, one corpus scan —
    // the eval-overlap hygiene step of a training-data build.
    "d13_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationFlags(docs, docs.where(col("doc_id") < 20), n = 3)
        .select(col("id").as("doc_id"), col("contaminated"))
        .orderBy(col("doc_id"))
    }),


    // Semantic dedup clusters: the embedding-space sibling of d12 — sign-
    // LSH buckets generate candidates over the FULL corpus, exact cosine
    // (rounded, d06 boundary convention) filters them, and d07's CC/
    // survivor machinery resolves clusters. The oracle chains the s02-
    // style plane/bucket twin into the d07 recursive-CTE closure, so the
    // whole semantic path is hash-matched end-to-end like the lexical one.
    // LSH config is the CLUSTER trade, not s02's top-k trade: 8 tables ×
    // 8 planes collides ~0.4% of orthogonal pairs per table (~3% OR-ed)
    // while keeping ~93% recall at cos 0.9 — s02's 16×4 recall-first
    // config collides ~63% of ALL pairs, degenerating candidate gen to
    // near-all-pairs (measured 71 s vs ~2 s at sf0.1).
    "d14_dedup_clusters_semantic" -> ((s, dir) => {
      Similarity.semanticClusters(t(s, dir, "embeddings"), threshold = 0.5,
          nTables = 8, planesPerTable = 8, dim = 64)
        .orderBy(col("vec_id"))
    }),


    // Dedup: duplicate n-gram SPAN coverage (exact-substring dedup family,
    // Lee et al. 2022) — positions covered by a word 8-gram shared with
    // another document; the keep/trim signal for span-level dedup.
    "d15_spans" -> ((s, dir) => {
      Dedup.duplicateSpanCoverage(t(s, dir, "documents"), n = 8)
        .orderBy(col("doc_id"))
    }),


    // Dedup: duplicate-span TRIM — d15's output side (Lee et al. REMOVE
    // the spans): merged dup islands per doc, kept-position complement,
    // reconstructed clean text. n_toks − n_kept ≡ d15's dup_tokens
    // (spec-asserted), so coverage and trim cannot drift.
    "d18_trim" -> ((s, dir) => {
      Dedup.duplicateSpanTrim(t(s, dir, "documents"), n = 8)
        .orderBy(col("doc_id"))
    }),


    // Dedup: incremental — classify a new batch against the existing
    // corpus (the rolling-build step). The batch re-submits docs 390–399
    // (id-shifted → dup_corpus) and double-submits 495–499 (→ the copy is
    // dup_batch, the original keeps 'new').
    "d17_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val batch = docs.where(col("doc_id") >= 400)
        .unionByName(docs.where(col("doc_id").between(390, 399))
          .withColumn("doc_id", col("doc_id") + 10000))
        .unionByName(docs.where(col("doc_id").between(495, 499))
          .withColumn("doc_id", col("doc_id") + 20000))
      Dedup.incrementalDedup(docs.where(col("doc_id") < 400), batch)
        .orderBy(col("doc_id"))
    }),


    // Dedup: cross-snapshot incremental SPAN coverage — d15 composed with
    // d17's rolling-build shape: the new batch's grams probe the corpus
    // gram index (plus the within-batch ≥2-distinct-docs rule); corpus
    // rows are never re-scored. Same batch construction as d17: shifted
    // copies of 390–399 are fully corpus-covered, double-submitted
    // 495–499 duplicate within the batch.
    "d20_span_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val batch = docs.where(col("doc_id") >= 400)
        .unionByName(docs.where(col("doc_id").between(390, 399))
          .withColumn("doc_id", col("doc_id") + 10000))
        .unionByName(docs.where(col("doc_id").between(495, 499))
          .withColumn("doc_id", col("doc_id") + 20000))
      Dedup.incrementalSpanCoverage(docs.where(col("doc_id") < 400), batch, n = 8)
        .orderBy(col("doc_id"))
    }),


    // Dedup: incremental NEAR-dup gate — d17's rolling-build shape lifted
    // to MinHash/LSH (portable md5 family so the twin replays the
    // signatures bit-exactly): each batch doc classifies dup_corpus /
    // dup_batch / new against the corpus band index + lower-id batch
    // peers; corpus-corpus pairs never form. Same batch construction as
    // d17/d20: shifted copies of 390–399 are exact corpus dups (est 1.0),
    // double-submitted 495–499 duplicate within the batch.
    "d21_incr_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val batch = docs.where(col("doc_id") >= 400)
        .unionByName(docs.where(col("doc_id").between(390, 399))
          .withColumn("doc_id", col("doc_id") + 10000))
        .unionByName(docs.where(col("doc_id").between(495, 499))
          .withColumn("doc_id", col("doc_id") + 20000))
      Dedup.incrementalNearDup(docs.where(col("doc_id") < 400), batch,
          n = 3, k = 64, bands = 16, threshold = 0.4, portableHash = true)
        .orderBy(col("doc_id"))
    }),


    // Crawl hygiene: URL → registered-domain extraction + per-domain doc
    // quota. URLs are synthesized deterministically from driver data (the
    // t05 PII-injection precedent) with rotating www/cdn/bare subdomains
    // AND rotating public suffixes — single-label (net), multi-label
    // (co.uk, github.io), and a listed private domain (example.com) — so
    // the PSL longest-match rule has real work to do; the cap is the q36
    // deterministic-permutation quota on the domain key — one shuffle,
    // per-domain window, reproducible under any partitioning.
    "d19_domain" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("url", concat(lit("https://"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("www."))
            .when(pmod(col("doc_id"), lit(3)) === 1, lit(""))
            .otherwise(lit("cdn.")),
          col("source"), lit("."),
          element_at(array(lit("example.com"), lit("co.uk"),
            lit("github.io"), lit("net")),
            (pmod(col("doc_id"), lit(4)) + 1).cast("int")),
          lit("/"), col("lang"), lit("/"), col("doc_id").cast("string")))
      analytics.Domains.domainQuota(docs, urlCol = "url",
          psl = SparkEntry.d19Psl, k = 15)
        .select(col("domain"), col("sample_rank"), col("doc_id"), col("host"))
        .orderBy(col("domain"), col("sample_rank"))
    }),


    // Dedup: bloom-filter decontamination — d13's 100 TB scale path (the
    // contamination shingles fold into Spark's runtime-filter bloom sketch
    // instead of a broadcast array). Contract twin: `contaminated` is the
    // EXACT d13 flag (hash-matched by the oracle); `bloom_ok` asserts the
    // bloom's one-sided-error contract — every exactly-contaminated doc is
    // bloom-flagged (no false negatives) — and must be TRUE on every row.
    "d16_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val contam = docs.where(col("doc_id") < 20)
      val exact = Dedup.contaminationFlags(docs, contam, n = 3)
      val bloom = Dedup.contaminationFlagsBloom(s, docs, contam, n = 3,
        estItems = 1L << 14, numBits = 1L << 18)
      exact.join(bloom, Seq("id"))
        .select(col("id").as("doc_id"), col("contaminated"),
          (col("bloom_hit") || !col("contaminated")).as("bloom_ok"))
        .orderBy(col("doc_id"))
    }),


    // Dedup: 64-bit SimHash, xxhash64 family (the native-expression
    // production path). Contract twin: the fingerprints themselves are
    // family-internal — d08 carries the hash-matched md5 values, and
    // distinct-fingerprint CARDINALITY is NOT a sound cross-family
    // invariant (near-dup collapse is what simhash is for, and whether
    // two near-dups collide depends on the token-hash bits: measured 496
    // xx vs 498 md5 distinct at sf0.001). What IS checkable end-to-end:
    // the native codegen'd `simhash64` expression and the declarative
    // vote/fold produce bit-identical fingerprints over the whole corpus
    // (the q30-style flag recipe), anchored per row by oracle-checked
    // n_tokens.
    "d05_simhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nat = Dedup.simhashed(docs).withColumnRenamed("simhash", "fp_n")
      val dec = Dedup.simhashedDeclarativeXx(docs).withColumnRenamed("simhash", "fp_d")
      val flag = nat.join(dec, Seq("doc_id"))
        .agg(count(when(col("fp_n") =!= col("fp_d"), 1)).as("n_diff"))
        .select((col("n_diff") === 0).as("native_eq_declarative"))
      analytics.Par.spreadForCpu(docs)
        .select(col("doc_id"),
          TextAnalysis.tokenCountFromTokens(TextAnalysis.tokens(col("text"))).as("n_tokens"))
        .crossJoin(flag) // 1-row scalar broadcast
        .orderBy(col("doc_id"))
    }),


    // Dedup: embedding-cosine near-dup pairs (probe block vs corpus);
    // sim is rounded to 6 dp inside the operator BEFORE thresholding,
    // matching the oracle's round-then-filter order.
    "d06_embedding_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.cosineNearDupPairs(e, e.where(col("vec_id") < 100), threshold = 0.35)
        .select(col("a_id"), col("b_id"), col("sim"))
        .orderBy(col("a_id"), col("b_id"))
    }),


    // Dedup: cluster resolution — exact Jaccard pairs → connected
    // components (iterative min-label propagation) → per-doc cluster id,
    // size, and min-id survivor flag. The step between near-dup PAIRS and
    // an actual keep/drop decision.
    "d07_dedup_clusters" -> ((s, dir) => {
      Dedup.dedupClusters(t(s, dir, "documents"), n = 3, threshold = 0.2,
        maxDf = 1000L) // finite skew cap, exact here (corpus max DF 25 << 1000 — see d03)
        .orderBy(col("doc_id"))
    }),


    // URL canonicalization + URL-level dedup: the same logical page
    // arrives under noise variants (utm tracking params, fragments,
    // explicit :443, trailing slash, host case) — canonicalize
    // per-row, then d01's hash-groupBy on the canonical form. The
    // fixture synthesizes the noise deterministically (doc_id mod
    // classes) over a path space coarsened to doc_id%100 so variants
    // GENUINELY collide; keep = min doc_id per canonical URL. One
    // shuffle on the canonical key; the regex chain is scan-parallel.
    "d30_url_canon" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val host0 = concat(
        when(pmod(col("doc_id"), lit(3)) === 0, lit("www."))
          .when(pmod(col("doc_id"), lit(3)) === 1, lit(""))
          .otherwise(lit("cdn.")),
        col("source"), lit("."),
        element_at(array(lit("example.com"), lit("co.uk"),
          lit("github.io"), lit("net")),
          (pmod(col("doc_id"), lit(4)) + 1).cast("int")))
      // noise axes beyond the round-12 fixture (which only emitted
      // lowercase https and thereby hid the anchoring defects): mixed-
      // case scheme, plain http with its OWN default port (:80), a path
      // segment containing ':443' (must survive the port collapse), and
      // an 'xutm_keep' param (must survive the utm strip)
      val scheme = when(pmod(col("doc_id"), lit(11)) === 0, lit("HTTPS://"))
        .when(pmod(col("doc_id"), lit(7)) === 0, lit("http://"))
        .otherwise(lit("https://"))
      val port = when(pmod(col("doc_id"), lit(9)) === 0,
        when(pmod(col("doc_id"), lit(11)) =!= 0 &&
          pmod(col("doc_id"), lit(7)) === 0, lit(":80")).otherwise(lit(":443")))
        .otherwise(lit(""))
      val url = concat(scheme,
        when(pmod(col("doc_id"), lit(8)) === 0, upper(host0)).otherwise(host0),
        port,
        lit("/"), col("lang"), lit("/"), pmod(col("doc_id"), lit(100)).cast("string"),
        when(pmod(col("doc_id"), lit(12)) === 0, lit("/c:443")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("/")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit("?utm_source=feed&x="), pmod(col("doc_id"), lit(7)).cast("string"),
            lit("&xutm_keep=1")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(6)) === 0, lit("#section2")).otherwise(lit("")))
      val canon = docs.select(col("doc_id"), url.as("url"))
        .withColumn("canon", analytics.Domains.canonicalizeUrl(col("url")))
      val groups = canon.groupBy(col("canon"))
        .agg(count(lit(1)).as("n_dup"), min(col("doc_id")).as("rep"))
      canon.join(groups, Seq("canon"))
        .select(col("doc_id"), col("canon"), col("n_dup"),
          (col("doc_id") === col("rep")).as("keep"))
        .orderBy(col("doc_id"))
    }),


    // Quality-aware canonical selection: d07's dup clusters, but the
    // survivor is the HIGHEST-QUALITY member (q37's scorer; min-id
    // tie-break) instead of the arbitrary min-id — what a curation
    // pipeline actually keeps from a duplicate family (the min-id
    // convention keeps whichever copy was crawled first, including
    // truncated or boilerplate-wrapped ones). Survivor selection is two
    // CLUSTER-keyed aggregations over the membership table (max quality
    // → min attaining id, together ≡ max(struct) lexicographic) —
    // cluster-sized, never pair-sized; the cluster-resolution cost IS
    // d07's. DedupSpec asserts the choice genuinely diverges from
    // min-id on this corpus.
    "d29_quality_survivors" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.dedupClusters(docs, n = 3, threshold = 0.2,
          maxDf = 1000L)
        .select(col("doc_id"), col("cluster_id"))
      val q = qualityScored(docs).select(col("doc_id"), col("quality"))
      val cq = clusters.join(q, Seq("doc_id"))
      // ONE cluster-keyed window instead of max-quality aggregate + gate
      // join + min-id aggregate + final join (r17 optimization round,
      // guide §2.4): the survivor IS the first row in (quality desc,
      // doc_id asc) order within the cluster — same election, one
      // shuffle, and the unpersisted cq chain executes once instead of
      // three times. Partition state is cluster-sized, as before.
      val byCluster = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      cq.withColumn("survivor_id", first(col("doc_id")).over(byCluster))
        .select(col("doc_id"), col("cluster_id"), col("survivor_id"),
          (col("doc_id") === col("survivor_id")).as("keep"))
        .orderBy(col("doc_id"))
    }),


    // Dedup: 64-bit SimHash with the PORTABLE md5-low64 token hash — the
    // oracle-checked representative of the simhash family (d05 is the fast
    // xxhash64 one; same vote/fold construction, hash-for-hash comparable
    // with DuckDB's md5).
    "d08_simhash_portable" -> ((s, dir) => {
      Dedup.simhashedPortable(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),


    // Sparse TF-IDF cosine near-dup — the weighted-lexical similarity
    // BETWEEN d03's unweighted set Jaccard and d06's dense-embedding
    // cosine: w(t,d) = tf · smooth-idf (the t16 formula, 9-dp), doc
    // norms and per-pair dot products folded in TERM order (buffers
    // bounded by doc vocabulary / shared-term count), candidate pairs
    // ONLY from the inverted term index (probes doc_id < 30; never
    // all-pairs), cosine rounded at 6 dp before the 0.5 gate.
    "d27_tfidf_cosine" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      // DECLARED stop-listing: terms in > 40% of documents leave the
      // vector space entirely (their idf is the floor anyway, and
      // token-level postings for ubiquitous terms are what turns the
      // inverted index into all-pairs — measured 9.5 s → ~1 s at sf0.1).
      // Both engines share the cap, so the operator stays exact for the
      // similarity it DECLARES (cosine over the df-capped space).
      val dfAll = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val df = dfAll.crossJoin(broadcast(nDocs))
        .where(col("df") * 5 <= col("n_docs") * 2)
        .select(col("term"), col("df"))
      val w = tf.join(df, Seq("term")).crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"),
          round(col("tf").cast("double") *
            (log((lit(1.0) + col("n_docs").cast("double")) /
              (lit(1.0) + col("df").cast("double"))) + 1.0), 9).as("w"))
      val norms = w.groupBy(col("doc_id"))
        .agg(collect_list(struct(col("term"), col("w"))).as("tw"))
        .select(col("doc_id"),
          sqrt(aggregate(transform(array_sort(col("tw")), x =>
            x.getField("w") * x.getField("w")), lit(0.0), (a, x) => a + x))
            .as("norm"))
      val dots = w.where(col("doc_id") < 30)
        .select(col("doc_id").as("a_id"), col("term"), col("w").as("wa"))
        .join(w.select(col("doc_id").as("b_id"), col("term"), col("w").as("wb")),
          Seq("term"))
        .where(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(collect_list(struct(col("term"), (col("wa") * col("wb")).as("p"))).as("ps"))
        .select(col("a_id"), col("b_id"),
          aggregate(transform(array_sort(col("ps")), x => x.getField("p")),
            lit(0.0), (a, x) => a + x).as("dot"))
      dots
        .join(norms.select(col("doc_id").as("a_id"), col("norm").as("na")), Seq("a_id"))
        .join(norms.select(col("doc_id").as("b_id"), col("norm").as("nb")), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          round(col("dot") / (col("na") * col("nb")), 6).as("cosine"))
        .where(col("cosine") >= 0.5)
        .orderBy(col("a_id"), col("b_id"))
    }),


    // d27's DECLARED 40% stop-listing cap, MEASURED (the d26 discipline
    // applied to the cap instead of the sketch): the capped cosine pair
    // set vs the UNCAPPED-vector-space ground truth on the same probe
    // set — tp as exact set counts, precision/recall as single
    // divisions, regression-guarded by the oracle replaying BOTH chains
    // off one shared tf/df frame. Probes doc_id < 10 keep the uncapped
    // chain affordable — both chains restrict identically.
    // The MEASURED verdict (sf0.01): the uncapped threshold SATURATES —
    // 3,856 of ~4,900 candidate pairs pass raw cosine ≥ 0.5 (ubiquitous-
    // term mass aligns every same-language doc pair), while the capped
    // space keeps 24 with 0.92 precision against even that saturated
    // truth. I.e. the cap is not an approximation of raw tf-idf cosine;
    // it is what makes the metric discriminative for near-dup work —
    // recall-vs-raw (~0.006) records the size of the declared semantic
    // change, not a quality loss.
    "d28_tfidf_cap_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val dfAll = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // ONE weight table for both variants (r17 optimization round): the
      // cap only FILTERS terms (df·5 ≤ n·2) — it does not change the
      // weight of a surviving term, so the capped run is a row filter of
      // the uncapped weights, not a second tokenize→tf→df→weight
      // pipeline. Persisted: each variant reads it 3× (norms + both dot
      // sides); without the cut the whole chain re-executed ~6×
      // (session-owned cache, dropped by clearCache()).
      val wAll = tf.join(dfAll, Seq("term")).crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"),
          (col("df") * 5 <= col("n_docs") * 2).as("under_cap"),
          round(col("tf").cast("double") *
            (log((lit(1.0) + col("n_docs").cast("double")) /
              (lit(1.0) + col("df").cast("double"))) + 1.0), 9).as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def cosinePairs(capped: Boolean): DataFrame = {
        val w = (if (capped) wAll.where(col("under_cap")) else wAll)
          .select(col("doc_id"), col("term"), col("w"))
        val norms = w.groupBy(col("doc_id"))
          .agg(collect_list(struct(col("term"), col("w"))).as("tw"))
          .select(col("doc_id"),
            sqrt(aggregate(transform(array_sort(col("tw")), x =>
              x.getField("w") * x.getField("w")), lit(0.0), (a, x) => a + x))
              .as("norm"))
        val dots = w.where(col("doc_id") < 10)
          .select(col("doc_id").as("a_id"), col("term"), col("w").as("wa"))
          .join(w.select(col("doc_id").as("b_id"), col("term"), col("w").as("wb")),
            Seq("term"))
          .where(col("a_id") < col("b_id"))
          .groupBy(col("a_id"), col("b_id"))
          .agg(collect_list(struct(col("term"), (col("wa") * col("wb")).as("p"))).as("ps"))
          .select(col("a_id"), col("b_id"),
            aggregate(transform(array_sort(col("ps")), x => x.getField("p")),
              lit(0.0), (a, x) => a + x).as("dot"))
        dots
          .join(norms.select(col("doc_id").as("a_id"), col("norm").as("na")), Seq("a_id"))
          .join(norms.select(col("doc_id").as("b_id"), col("norm").as("nb")), Seq("b_id"))
          .select(col("a_id"), col("b_id"),
            round(col("dot") / (col("na") * col("nb")), 6).as("cosine"))
          .where(col("cosine") >= 0.5)
          .select(col("a_id"), col("b_id"))
      }
      val est = cosinePairs(capped = true).select(col("a_id"), col("b_id"),
        lit(1L).as("e"))
      val truth = cosinePairs(capped = false).select(col("a_id"), col("b_id"),
        lit(1L).as("t"))
      est.join(truth, Seq("a_id", "b_id"), "full_outer")
        .select(coalesce(col("e"), lit(0L)).as("e"),
          coalesce(col("t"), lit(0L)).as("t"))
        .agg(sum(col("t")).as("n_true"), sum(col("e")).as("n_est"),
          sum(col("e") * col("t")).as("tp"))
        .select(col("n_true"), col("n_est"), col("tp"),
          (col("tp").cast("double") / col("n_est").cast("double")).as("precision"),
          (col("tp").cast("double") / col("n_true").cast("double")).as("recall"))
    }),

    // LSH dedup quality (the s04-style recall receipt for the DEDUP
    // family): d11's banded-MinHash pair set measured against the exact
    // n-gram-Jaccard ≥ 0.4 ground truth — tp/fp/fn as exact set counts,
    // precision/recall as single divisions. The number a pipeline tunes
    // (bands, k) against instead of trusting the S-curve on faith.
    "d26_lsh_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val truth = Dedup.ngramJaccardPairs(docs, docs, n = 3, threshold = 0.4,
          maxDf = 1000L)
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), lit(1L).as("t"))
      val est = Dedup.minhashCandidates(docs, n = 3, k = 64, bands = 16,
          threshold = 0.4, portableHash = true)
        .select(col("a_id"), col("b_id"), lit(1L).as("e"))
      est.join(truth, Seq("a_id", "b_id"), "full_outer")
        .select(coalesce(col("e"), lit(0L)).as("e"),
          coalesce(col("t"), lit(0L)).as("t"))
        .agg(sum(col("t")).as("n_true"), sum(col("e")).as("n_est"),
          sum(col("e") * col("t")).as("tp"))
        .select(col("n_true"), col("n_est"), col("tp"),
          (col("tp").cast("double") / col("n_est").cast("double")).as("precision"),
          (col("tp").cast("double") / col("n_true").cast("double")).as("recall"))
    }),


    // Cross-document boilerplate-line removal (the corpus-level CCNet
    // pass, distinct from t15's within-document one): lines repeating in
    // ≥ 3 documents drop everywhere. Lines synthesized as in t15 (token
    // slices + a shared "cookie banner" so a guaranteed cross-doc hit
    // exists); near-dup corpus texts make ORGANIC hits too.
    "d25_cross_doc_lines" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("ws", TextAnalysis.tokens(col("text")))
      val p1 = array_join(slice(col("ws"), 1, 6), " ")
      val p2 = array_join(slice(col("ws"), 7, 6), " ")
      val multi = concat_ws("\n", lit("accept all cookies to continue"),
        p1, p2, lit("(c) example corp all rights reserved"))
      TextAnalysis.stripCrossDocLines(
          docs.withColumn("mtext", multi), "mtext", minDf = 3)
        .orderBy(col("doc_id"))
    }),


    // Blocked fuzzy entity resolution: a deterministically corrupted copy
    // of the customer master (one digit of the 9-digit name suffix
    // replaced with 'X', position drawn from the portable md5-u32) is
    // linked back by multi-pass blocking — two disjoint interleaved-digit
    // keys, so a 1-char corruption leaves at least one key intact
    // (guaranteed recall at edit distance 1, NO all-pairs scan) — then a
    // levenshtein ≤ 1 gate and a (dist, c_id)-minimal winner per record.
    // Ambiguity is real here (custkeys differing in one digit collide at
    // the corrupted position) and surfaces as n_cands > 1 + is_source
    // false on the unlucky ties — exactly what an ER pipeline reports.
    "d24_entity_resolution" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      // corrupted digit position: 10 + (md5-u32(custkey) mod 9), 1-indexed
      val p = conv(substring(md5(col("c_custkey").cast("string")), 1, 8), 16, 10)
        .cast("long") % 9
      val dirty = cust.select(col("c_custkey").as("d_id"),
        concat(col("c_name").substr(lit(1), lit(9L) + p), lit("X"),
          col("c_name").substr(lit(11L) + p, lit(8L) - p)).as("d_name"))
      val clean = cust.select(col("c_custkey").as("c_id"), col("c_name"))
      // INTERLEAVED digit positions, not contiguous halves: zero-padded
      // ids put all their entropy in the low digits, and a contiguous
      // high-digit key degenerates to one giant block (measured 13×
      // superlinear at ScaleSmoke 20×). Odd/even picks stay disjoint
      // (the recall guarantee) while both keys carry the low digits.
      def pick(ps: Seq[Int]): Column => Column =
        nm => concat(ps.map(p => nm.substr(lit(p), lit(1))): _*)
      val keys: Seq[Column => Column] =
        Seq(pick(Seq(10, 12, 14, 16, 18)), pick(Seq(11, 13, 15, 17)))
      analytics.EntityResolution.blockedFuzzyMatch(dirty, clean, keys, maxDist = 1)
        .withColumn("is_source", col("matched_id") === col("d_id"))
        .orderBy(col("d_id"))
    }),


    // Winnowing (MOSS) fingerprint dedup — the sub-document overlap
    // detector between d15's EXACT positional gram index (every gram
    // indexed) and d04's MinHash (document-level sketch): per-row
    // winnowed selection keeps ~2/(w+1) of the k-gram hashes while
    // GUARANTEEING any shared token run of ≥ w+k−1 tokens still
    // collides (k=5, w=4 → runs of ≥ 8 tokens, d15's n). Cross-doc
    // pairs come from the winnowed inverted index with d04's df cap
    // (2..10) so a boilerplate fingerprint never fans out n². fp_frac
    // is the measured index-size reduction — the receipt that the
    // index the 100 TB variant ships is ~40% of d15's. Scale: per-row
    // HOF selection (no gram explode), ONE fingerprint-keyed shuffle.
    "d31_winnowing" -> ((s, dir) => {
      val fps = Dedup.winnowedFingerprints(t(s, dir, "documents"), k = 5, w = 4)
      val stats = fps.groupBy(col("doc_id"))
        .agg(first(col("n_grams")).as("g"), count(lit(1)).as("f"))
        .agg(round(sum(col("f")).cast("double") /
          sum(col("g")).cast("double"), 6).as("fp_frac"))
      val fpd = fps.select(col("doc_id"), col("h")).distinct()
      val dfc = fpd.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .where(col("df").between(2, 10))
      val idx = fpd.join(dfc.select(col("h")), Seq("h"))
      idx.as("a")
        .join(idx.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .crossJoin(broadcast(stats))
        .select(col("doc_a"), col("doc_b"), col("n_shared"), col("fp_frac"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),


    // Exact set-similarity join (Jaccard ≥ ½, recall 1.0 — d04 trades
    // recall for speed; this keeps it) with the execution regime picked
    // by the MEASURED vocabulary (Dedup.jaccardSelfJoin): this corpus
    // has 31 distinct tokens with median df = 77% of the corpus, the
    // regime where prefix filtering is provably counterproductive
    // (round 12 measured its prefix index fanning out 112.6M candidate
    // rows vs 12.5M all-pairs — 9× WORSE than brute force, 213 s). The
    // dense path collapses documents to distinct token-set bitmasks
    // first (5000 docs → 3935 masks), evaluates the integer gate
    // 3·∩ ≥ |A|+|B| as bit_count arithmetic over broadcast masks — no
    // token self-join in the plan — and expands winners back to doc
    // pairs (output-sized: the answer itself is 8.9M pairs at sf0.1).
    // Sparse vocabularies route to Dedup.ppjoinPairs: canonical PPJoin
    // WITH the length + positional filters round 12 omitted (recall-1.0
    // proven in DedupSpec). Receipt: cand_full = Σ df·(df−1)/2 (the
    // inverted-index fan-out a token join would generate) vs cand_eval
    // = M·(M−1)/2 over the M distinct token sets (the pairs actually
    // evaluated) — honest numbers, replayed by the oracle.
    "d32_prefix_filter_join" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // persisted before the total ORDER BY: the range partitioner's
      // sampling pass would otherwise re-execute the whole pair
      // pipeline a second time (measured 15 s vs 4 s at sf0.1). Output-
      // sized and spill-safe (MEMORY_AND_DISK); lifecycle follows the
      // d03/d04 convention — session-owned, dropped by clearCache()
      val pairs = analytics.Dedup.jaccardSelfJoin(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tokset = analytics.Par.spreadForCpu(docs)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
        .select(col("doc_id"), explode(array_distinct(col("ws"))).as("tok"))
      val rec = tokset.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .agg(expr("sum(df * (df - 1)) DIV 2").as("cand_full"))
        .crossJoin(analytics.Par.spreadForCpu(docs)
          .select(array_join(array_sort(array_distinct(
            TextAnalysis.tokens(col("text")))), " ").as("key"))
          .where(col("key") =!= "").distinct()
          .agg(count(lit(1)).as("m"))
          .select(expr("m * (m - 1) DIV 2").as("cand_eval")))
      pairs.crossJoin(broadcast(rec))
        .orderBy(col("doc_a"), col("doc_b"))
    }),


    // Edit-distance join (Levenshtein ≤ 2) — the STRING-metric
    // similarity join next to d32's set-metric one: typo families, OCR
    // variants. Fixture: deterministic per-doc mutations of the 24-char
    // lowercase text prefix (doc_id%3 picks delete / substitute-'z' /
    // keep at a doc_id-derived position), so sibling mutations of the
    // same prefix are genuine ed ≤ 2 neighbors that are NOT exact
    // duplicates. Engine: EntityResolution.editDistancePairs — q-gram
    // prefix filter (q=4, the measured candidate-minimizing gram size on
    // this char space: 1.0M candidate rows vs 4.7M at q=2) with inline
    // length filter and in-join threshold-levenshtein verification;
    // identical
    // strings collapse before pair generation (the d32 discipline).
    // The oracle computes the SEMANTICS as brute-force all-pairs
    // levenshtein — any pair the gram filter wrongly drops fails the
    // hash (recall is also proven against ground truth in
    // EntityResolutionSpec).
    "d33_edit_distance_join" -> ((s, dir) => {
      val strs = t(s, dir, "documents")
        .withColumn("b", expr("substr(lower(text), 1, 24)"))
        .withColumn("str", expr(
          """CASE WHEN doc_id % 3 = 0 THEN
            |  substr(b, 1, CAST(doc_id % 10 AS INT) + 3) ||
            |  substr(b, CAST(doc_id % 10 AS INT) + 5)
            |WHEN doc_id % 3 = 1 THEN
            |  substr(b, 1, CAST(doc_id % 10 AS INT) + 3) || 'z' ||
            |  substr(b, CAST(doc_id % 10 AS INT) + 5)
            |ELSE b END""".stripMargin))
      analytics.EntityResolution.editDistancePairs(strs, "doc_id", "str",
          k = 2, q = 4)
        .orderBy(col("doc_a"), col("doc_b"))
    }),


    // Maximal EXACT repeated substrings (Lee et al. 2022's ExactSubstr
    // semantics, d34) — the step past d15/d18's fixed-gram coverage:
    // emits the maximal token runs repeated verbatim (across OR within
    // documents), verified token-for-token, with 0-based offsets in both
    // occurrences. Winnowing anchors (k=5, w=4 → every repeat of
    // ≥ 8 tokens is anchored), adjacent-occurrence pairing (linear in
    // occurrences — never Σ df² on boilerplate fingerprints), per-row
    // slice-compare extension. minLen = w+k−1 = 8, the anchor guarantee
    // threshold. The oracle replays anchor selection, adjacency, and
    // extension relationally; DedupSpec proves the planted ground truth.
    "d34_exact_repeats" -> ((s, dir) => {
      Dedup.maximalExactRepeats(t(s, dir, "documents"), k = 5, w = 4,
          minLen = 8)
        .orderBy(col("doc_a"), col("a_start"), col("doc_b"), col("b_start"),
          col("rep_len"))
    }),
  )

  // ── DuckDB oracle twins ──

  val oracle: Map[String, String] = Map(


    "d01_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents
        |GROUP BY text ORDER BY keep_id""".stripMargin,


    "d02_dedup_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,


    "d03_ngram_jaccard" -> (
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
         |  THEN list_distinct(list_transform(range(len(ws) - 2), i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))
         |  ELSE [] END AS sh FROM tok),
         |e AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM g),
         |inter AS (
         | SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS a_size, b.sz AS b_size, count(*) AS n_inter
         | FROM e a JOIN e b USING (shingle)
         | WHERE a.doc_id < 50 AND a.doc_id <> b.doc_id
         | GROUP BY 1, 2, 3, 4)
         |SELECT a_id, b_id, jaccard FROM (
         | SELECT a_id, b_id, CAST(n_inter AS DOUBLE) / (a_size + b_size - n_inter) AS jaccard FROM inter)
         |WHERE jaccard >= 0.2 ORDER BY a_id, b_id""".stripMargin),


    // Dedup-sweep twin (d35): d03's pair chain at the lowest level, then
    // per-threshold conditional aggregates unioned into the curve.
    "d35_dedup_sweep" -> (
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
         |  THEN list_distinct(list_transform(range(len(ws) - 2), i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))
         |  ELSE [] END AS sh FROM tok),
         |e AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM g),
         |inter AS (
         | SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS a_size, b.sz AS b_size, count(*) AS n_inter
         | FROM e a JOIN e b USING (shingle)
         | WHERE a.doc_id < 50 AND a.doc_id <> b.doc_id
         | GROUP BY 1, 2, 3, 4),
         |p AS MATERIALIZED (SELECT a_id, b_id, jaccard FROM (
         | SELECT a_id, b_id, CAST(n_inter AS DOUBLE) / (a_size + b_size - n_inter) AS jaccard FROM inter)
         |WHERE jaccard >= 0.05),
         |lv(threshold) AS (VALUES (0.05), (0.5), (0.9))
         |SELECT lv.threshold,
         |  (SELECT CAST(count(*) AS BIGINT) FROM p
         |     WHERE p.jaccard >= lv.threshold) AS n_pairs,
         |  (SELECT CAST(count(DISTINCT d) AS BIGINT) FROM (
         |     SELECT a_id AS d FROM p WHERE jaccard >= lv.threshold
         |     UNION ALL SELECT b_id FROM p WHERE jaccard >= lv.threshold))
         |    AS n_docs_affected
         |FROM lv ORDER BY lv.threshold""".stripMargin),


    "d09_containment" -> (
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
         |  THEN list_distinct(list_transform(range(len(ws) - 2), i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))
         |  ELSE [] END AS sh FROM tok),
         |e AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM g),
         |inter AS (
         | SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sz AS a_size, count(*) AS n_inter
         | FROM e a JOIN e b USING (shingle)
         | WHERE a.doc_id < 50 AND a.doc_id <> b.doc_id
         | GROUP BY 1, 2, 3)
         |SELECT a_id, b_id, containment FROM (
         | SELECT a_id, b_id, CAST(n_inter AS DOUBLE) / a_size AS containment FROM inter)
         |WHERE containment >= 0.4 ORDER BY a_id, b_id""".stripMargin),


    // Transitive closure via recursive CTE: the UNION (distinct) bounds the
    // state space, and a label only propagates to strictly larger ids —
    // every path out of a component's min vertex visits only larger ids, so
    // the min label reaches every member. The `ef` index side mirrors the
    // operator's maxDf=1000 hot-shingle cap (index rows whose shingle DF
    // exceeds the cap are dropped; set sizes stay UNcapped) so operator and
    // oracle express the same algorithm on any corpus — at this one the cap
    // is inert (max DF 25).
    "d07_dedup_clusters" -> (
      s"""${dedupClusterCtes(threshold = 0.2, maxDf = 1000L)}
         |SELECT doc_id, cluster_id,
         | count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         | doc_id = cluster_id AS is_survivor
         |FROM cc ORDER BY doc_id""".stripMargin),

    // URL-canon twin (d30): same noise fixture (mixed-case scheme, http
    // with :80, ':443' path decoy, 'xutm_keep' param decoy), same
    // separator-anchored regex chain stepwise ('g' flags where Spark
    // replaces all), same rep choice.
    "d30_url_canon" ->
      """WITH h0 AS (SELECT doc_id, lang,
        |  (CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN '' ELSE 'cdn.' END)
        |  || source || '.' ||
        |  (CASE doc_id % 4 WHEN 0 THEN 'example.com' WHEN 1 THEN 'co.uk'
        |        WHEN 2 THEN 'github.io' ELSE 'net' END) AS h
        |  FROM documents),
        |u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 11 = 0 THEN 'HTTPS://'
        |        WHEN doc_id % 7 = 0 THEN 'http://' ELSE 'https://' END) ||
        |  (CASE WHEN doc_id % 8 = 0 THEN upper(h) ELSE h END) ||
        |  (CASE WHEN doc_id % 9 = 0 THEN
        |    (CASE WHEN doc_id % 11 <> 0 AND doc_id % 7 = 0 THEN ':80'
        |          ELSE ':443' END) ELSE '' END) ||
        |  '/' || lang || '/' || CAST(doc_id % 100 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 12 = 0 THEN '/c:443' ELSE '' END) ||
        |  (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&x=' || CAST(doc_id % 7 AS VARCHAR) || '&xutm_keep=1' ELSE '' END) ||
        |  (CASE WHEN doc_id % 6 = 0 THEN '#section2' ELSE '' END) AS url
        |  FROM h0),
        |s1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS v FROM u),
        |sc AS (SELECT doc_id, v,
        |  lower(regexp_extract(v, '^([A-Za-z]+)://', 1)) AS sch FROM s1),
        |s1b AS (SELECT doc_id, sch, CASE WHEN sch = '' THEN v
        |  ELSE sch || '://' || regexp_replace(v, '^[A-Za-z]+://', '') END AS v
        |  FROM sc),
        |s2 AS (SELECT doc_id, sch, regexp_replace(regexp_replace(regexp_replace(
        |  v, '&utm_[^&#]*', '', 'g'), '\?utm_[^&#]*&', '?'),
        |  '\?utm_[^&#]*', '') AS v FROM s1b),
        |s3 AS (SELECT doc_id, sch, regexp_replace(v, '[?&]+$', '') AS v FROM s2),
        |s4 AS (SELECT doc_id, sch, v,
        |  regexp_extract(v, '^https?://([^/?]*)', 1) AS auth FROM s3),
        |s5 AS (SELECT doc_id, CASE WHEN sch IN ('http', 'https')
        |  THEN sch || '://' ||
        |    (CASE WHEN sch = 'https' THEN regexp_replace(lower(auth), ':443$', '')
        |          ELSE regexp_replace(lower(auth), ':80$', '') END) ||
        |    regexp_replace(v, '^https?://[^/?]*', '')
        |  ELSE v END AS v FROM s4),
        |c AS (SELECT doc_id, regexp_replace(v, '/$', '') AS canon FROM s5),
        |g AS (SELECT canon, CAST(count(*) AS BIGINT) AS n_dup, min(doc_id) AS rep
        |  FROM c GROUP BY canon)
        |SELECT c.doc_id, c.canon, g.n_dup, c.doc_id = g.rep AS keep
        |FROM c JOIN g USING (canon) ORDER BY c.doc_id""".stripMargin,

    // Quality-survivor twin (d29): d07's shared cluster chain + the q37
    // quality formula, two-step argmax (max quality, then min id among
    // attainers — exactly max(struct) lexicographic).
    "d29_quality_survivors" -> (
      s"""${dedupClusterCtes(threshold = 0.2, maxDf = 1000L)},
         |qf AS (SELECT t.doc_id, d.text, t.ws FROM tok t JOIN documents d USING (doc_id)),
         |qq AS (SELECT doc_id,
         |  0.4 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
         |  + 0.4 * (CASE WHEN len(ws) = 0 THEN 0.0 ELSE CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / len(ws) END)
         |  + 0.2 * (1.0 - (CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / length(text) END)) AS quality
         |  FROM qf),
         |cq AS (SELECT cc.doc_id, cc.cluster_id, qq.quality FROM cc JOIN qq USING (doc_id)),
         |mq AS (SELECT cluster_id, max(quality) AS mxq FROM cq GROUP BY cluster_id),
         |surv AS (SELECT cq.cluster_id, min(cq.doc_id) AS survivor_id
         |  FROM cq JOIN mq ON cq.cluster_id = mq.cluster_id AND cq.quality = mq.mxq
         |  GROUP BY cq.cluster_id)
         |SELECT cq.doc_id, cq.cluster_id, surv.survivor_id,
         |  cq.doc_id = surv.survivor_id AS keep
         |FROM cq JOIN surv ON cq.cluster_id = surv.cluster_id
         |ORDER BY cq.doc_id""".stripMargin),


    // MinHash core twin: signature values per (doc, position) from the
    // shared CTE builder (constants, base hash, and wrapping arithmetic
    // documented at portableMinhashCtes).
    "d10_minhash_portable" ->
      s"""WITH ${portableMinhashCtes(16)}
         |SELECT doc_id, pos, CAST(list_min(list_transform(hl, h -> $minhashSwExpr)) AS BIGINT) AS min_hash
         |FROM hs CROSS JOIN consts
         |ORDER BY doc_id, pos""".stripMargin,


    // Full LSH pair twin of d11: the same signature chain at k=64, then
    // banding expressed as band-slice equality. Spark's internal
    // xxhash64(band, slice) bucket key is a pure partitioning key: slice
    // equality implies bucket equality, and the converse holds modulo
    // 64-bit hash collisions between distinct (band, slice) pairs — a
    // collision could admit a Spark-only candidate pair this twin lacks
    // (visible only if its est_jaccard also clears the threshold);
    // negligible at 2^-64 but worth considering if this oracle mismatches.
    "d11_minhash_lsh_portable" ->
      s"""WITH ${portableMinhashCtes(64)},
         |${portableLshPairCtes(64, 16, 0.4)}
         |SELECT a_id, b_id, est_jaccard FROM pairs ORDER BY a_id, b_id""".stripMargin,


    // LSH pair-set contract (d04): the oracle rebuilds the PORTABLE pair
    // set; value-compare then asserts the xx-family pair set (Spark's
    // output rows) is identical, and the TRUE flag is asserted against
    // Spark's own symmetric-difference check between the two families.
    "d04_minhash_lsh" ->
      s"""WITH ${portableMinhashCtes(64)},
         |${portableLshPairCtes(64, 16, 0.4)}
         |SELECT a_id, b_id, TRUE AS portable_agree FROM pairs
         |ORDER BY a_id, b_id""".stripMargin,


    // Approx-cluster twin of d12: d11's pair chain as the edge set feeding
    // the SAME recursive-CTE transitive closure as d07 (min-label
    // reachability, see the d07 comment), then the identical
    // (cluster_id, cluster_size, is_survivor) resolution.
    "d12_dedup_clusters_approx" ->
      s"""WITH RECURSIVE ${portableMinhashCtes(64)},
         |${portableLshPairCtes(64, 16, 0.4)},
         |bidir AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
         |reach(id, label) AS (
         | SELECT doc_id, doc_id FROM documents
         | UNION
         | SELECT b.dst, r.label FROM reach r JOIN bidir b ON r.id = b.src WHERE r.label < b.dst),
         |cc AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id, cluster_id,
         | count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         | doc_id = cluster_id AS is_survivor
         |FROM cc ORDER BY doc_id""".stripMargin,


    // CDC-chunking twin (d23): same w-gram cut predicate (md5-low64
    // HUGEINT ≡ 0 mod 16 — sign-irrelevant for the zero test), same
    // span assembly, same chunk md5 fingerprints and corpus-wide counts.
    "d23_cdc_chunks" ->
      s"""WITH tok AS (SELECT doc_id, ws FROM (
         |  SELECT doc_id, $tokensSqlExpr AS ws FROM documents) WHERE len(ws) >= 1),
         |g AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_tokens,
         |  list_transform(range(4, len(ws) + 1), p ->
         |    array_to_string(ws[p-3:p], ' ')) AS grams FROM tok),
         |h AS (SELECT doc_id, ws, n_tokens,
         |  list_transform(grams, s -> $md5Low64SqlExpr) AS hs FROM g),
         |cu AS (SELECT doc_id, ws, n_tokens,
         |  list_filter(range(4, len(ws) + 1), (p, i) -> hs[i] % 16 = 0) AS cuts FROM h),
         |sp0 AS (SELECT doc_id, ws, n_tokens,
         |  list_concat([CAST(1 AS BIGINT)], list_transform(cuts, c -> c + 1)) AS starts,
         |  list_concat(cuts, [n_tokens]) AS ends FROM cu),
         |sp AS (SELECT doc_id, ws, n_tokens,
         |  list_filter(list_transform(range(1, len(starts) + 1),
         |    i -> {'st': starts[i], 'en': ends[i]}), x -> x.st <= x.en) AS spans FROM sp0),
         |e AS (SELECT doc_id, ws, unnest(spans) AS c,
         |  generate_subscripts(spans, 1) - 1 AS chunk_idx FROM sp),
         |f AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  c.st AS start_pos, c.en - c.st + 1 AS chunk_len,
         |  md5(array_to_string(ws[c.st:c.en], ' ')) AS chunk_fp FROM e),
         |n AS (SELECT chunk_fp, count(*) AS fp_n FROM f GROUP BY chunk_fp)
         |SELECT doc_id, chunk_idx, start_pos, chunk_len, chunk_fp, fp_n > 1 AS is_dup
         |FROM f JOIN n USING (chunk_fp)
         |ORDER BY doc_id, chunk_idx""".stripMargin,


    // Soft-dedup twin (d22): d12's cluster chain + the same 1/size
    // division of exact operands, rounded to 9 dp.
    "d22_soft_dedup" ->
      s"""WITH RECURSIVE ${portableMinhashCtes(64)},
         |${portableLshPairCtes(64, 16, 0.4)},
         |bidir AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
         |reach(id, label) AS (
         | SELECT doc_id, doc_id FROM documents
         | UNION
         | SELECT b.dst, r.label FROM reach r JOIN bidir b ON r.id = b.src WHERE r.label < b.dst),
         |cc AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
         |sz AS (SELECT doc_id, cluster_id,
         | count(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM cc)
         |SELECT doc_id, cluster_id, cluster_size,
         | round(CAST(1.0 AS DOUBLE) / CAST(cluster_size AS DOUBLE), 9) AS weight
         |FROM sz ORDER BY doc_id""".stripMargin,


    // TF-IDF-cosine twin (d27): same weights, same term-ordered folds,
    // same gate.
    "d27_tfidf_cosine" -> (
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
         |tf AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf FROM
         |  (SELECT doc_id, unnest(ws) AS t FROM tok) GROUP BY doc_id, t),
         |dfa AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |dfr AS (SELECT term, df FROM dfa CROSS JOIN nn WHERE df * 5 <= n_docs * 2),
         |w AS (SELECT doc_id, term,
         |    round(CAST(tf AS DOUBLE) * (ln((1.0 + CAST(n_docs AS DOUBLE))
         |      / (1.0 + CAST(df AS DOUBLE))) + 1.0), 9) AS w
         |  FROM tf JOIN dfr USING (term) CROSS JOIN nn),
         |norms AS (SELECT doc_id,
         |    sqrt(list_reduce(list_prepend(0.0, list_transform(
         |      list(struct_pack(term := term, w := w) ORDER BY term, w),
         |      x -> x.w * x.w)), (a, b) -> a + b)) AS norm
         |  FROM w GROUP BY doc_id),
         |dots AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    list_reduce(list_prepend(0.0, list_transform(
         |      list(struct_pack(term := a.term, p := a.w * b.w) ORDER BY a.term, a.w * b.w),
         |      x -> x.p)), (x, y) -> x + y) AS dot
         |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
         |  WHERE a.doc_id < 30 GROUP BY a.doc_id, b.doc_id)
         |SELECT a_id, b_id, cosine FROM (
         |  SELECT a_id, b_id,
         |    round(dot / (na.norm * nb.norm), 6) AS cosine
         |  FROM dots JOIN norms na ON na.doc_id = a_id
         |  JOIN norms nb ON nb.doc_id = b_id)
         |WHERE cosine >= 0.5 ORDER BY a_id, b_id""".stripMargin),


    // Cap-eval twin (d28): the capped and uncapped cosine chains off
    // ONE shared tf/df frame, then the d26 set compare.
    "d28_tfidf_cap_eval" -> (
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
         |tf AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf FROM
         |  (SELECT doc_id, unnest(ws) AS t FROM tok) GROUP BY doc_id, t),
         |dfa AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |dfc AS (SELECT term, df FROM dfa CROSS JOIN nn WHERE df * 5 <= n_docs * 2),
         |wc AS (SELECT doc_id, term,
         |    round(CAST(tf AS DOUBLE) * (ln((1.0 + CAST(n_docs AS DOUBLE))
         |      / (1.0 + CAST(df AS DOUBLE))) + 1.0), 9) AS w
         |  FROM tf JOIN dfc USING (term) CROSS JOIN nn),
         |wf AS (SELECT doc_id, term,
         |    round(CAST(tf AS DOUBLE) * (ln((1.0 + CAST(n_docs AS DOUBLE))
         |      / (1.0 + CAST(df AS DOUBLE))) + 1.0), 9) AS w
         |  FROM tf JOIN dfa USING (term) CROSS JOIN nn),
         |nc AS (SELECT doc_id,
         |    sqrt(list_reduce(list_prepend(0.0, list_transform(
         |      list(struct_pack(term := term, w := w) ORDER BY term, w),
         |      x -> x.w * x.w)), (a, b) -> a + b)) AS norm
         |  FROM wc GROUP BY doc_id),
         |nf AS (SELECT doc_id,
         |    sqrt(list_reduce(list_prepend(0.0, list_transform(
         |      list(struct_pack(term := term, w := w) ORDER BY term, w),
         |      x -> x.w * x.w)), (a, b) -> a + b)) AS norm
         |  FROM wf GROUP BY doc_id),
         |dc AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    list_reduce(list_prepend(0.0, list_transform(
         |      list(struct_pack(term := a.term, p := a.w * b.w) ORDER BY a.term, a.w * b.w),
         |      x -> x.p)), (x, y) -> x + y) AS dot
         |  FROM wc a JOIN wc b ON a.term = b.term AND a.doc_id < b.doc_id
         |  WHERE a.doc_id < 10 GROUP BY a.doc_id, b.doc_id),
         |df2 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    list_reduce(list_prepend(0.0, list_transform(
         |      list(struct_pack(term := a.term, p := a.w * b.w) ORDER BY a.term, a.w * b.w),
         |      x -> x.p)), (x, y) -> x + y) AS dot
         |  FROM wf a JOIN wf b ON a.term = b.term AND a.doc_id < b.doc_id
         |  WHERE a.doc_id < 10 GROUP BY a.doc_id, b.doc_id),
         |pc AS (SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, round(dot / (na.norm * nb.norm), 6) AS cosine
         |    FROM dc JOIN nc na ON na.doc_id = a_id JOIN nc nb ON nb.doc_id = b_id)
         |  WHERE cosine >= 0.5),
         |pf AS (SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, round(dot / (na.norm * nb.norm), 6) AS cosine
         |    FROM df2 JOIN nf na ON na.doc_id = a_id JOIN nf nb ON nb.doc_id = b_id)
         |  WHERE cosine >= 0.5),
         |u AS (SELECT
         |    CASE WHEN pc.a_id IS NOT NULL THEN 1 ELSE 0 END AS e,
         |    CASE WHEN pf.a_id IS NOT NULL THEN 1 ELSE 0 END AS t
         |  FROM pc FULL OUTER JOIN pf ON pc.a_id = pf.a_id AND pc.b_id = pf.b_id),
         |agg AS (SELECT CAST(sum(t) AS BIGINT) AS n_true,
         |    CAST(sum(e) AS BIGINT) AS n_est,
         |    CAST(sum(e * t) AS BIGINT) AS tp FROM u)
         |SELECT n_true, n_est, tp,
         |  CAST(tp AS DOUBLE) / CAST(n_est AS DOUBLE) AS precision,
         |  CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall
         |FROM agg""".stripMargin),

    // LSH band-sweep twin (d36): one shared sig CTE, per-level
    // band/candidate/estimate chains vs the SHARED exact truth.
    "d36_lsh_sweep" -> lshSweepOracleSql(k = 64,
      bandsGrid = Seq(4, 8, 16, 32), threshold = 0.05),

    // SimHash radius-sweep twin (d37): shared shingle/truth CTEs + the
    // d08 vote/fold chain + block pigeonhole + per-radius compares.
    "d37_simhash_sweep" -> simhashSweepOracleSql(radii = Seq(0, 1, 2, 3),
      threshold = 0.4),

    // Dedup-impact twin (d38): q38's fingerprint + the shared quality
    // CTEs, fp-windowed membership, per-group-size accounting with the
    // exact-decimal means.
    "d38_dedup_impact" -> (
      s"""${qualityScoreCtes(
        """WITH corp AS (SELECT doc_id, lang, text FROM documents
          |  UNION ALL SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, lang, text
          |  FROM documents WHERE doc_id % 5 = 0),
          |d AS (SELECT doc_id, lang, text FROM corp)""".stripMargin)},
         |fpd AS (SELECT doc_id,
         |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM corp),
         |mem AS (SELECT q.doc_id, q.n_tokens, q.quality, f.fp,
         |    count(*) OVER (PARTITION BY f.fp) AS grp_size,
         |    min(q.doc_id) OVER (PARTITION BY f.fp) AS keep_id
         |  FROM q JOIN fpd f USING (doc_id))
         |SELECT CAST(grp_size AS BIGINT) AS grp_size,
         |  CAST(count(DISTINCT fp) AS BIGINT) AS n_groups,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
         |  CAST(sum(CASE WHEN doc_id <> keep_id THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_dropped,
         |  round(CAST(sum(CASE WHEN doc_id = keep_id THEN CAST(quality AS DECIMAL(28,10)) END) AS DOUBLE)
         |    / count(CASE WHEN doc_id = keep_id THEN 1 END), 6) AS mean_quality_kept,
         |  CASE WHEN sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) > 0 THEN
         |    round(CAST(sum(CASE WHEN doc_id <> keep_id THEN CAST(quality AS DECIMAL(28,10)) END) AS DOUBLE)
         |      / count(CASE WHEN doc_id <> keep_id THEN 1 END), 6) END AS mean_quality_dropped
         |FROM mem GROUP BY grp_size ORDER BY grp_size""".stripMargin),


    // LSH-eval twin (d26): the d11 pair chain and the exact-Jaccard
    // chain REUSE the same shingle CTE `g`, then the set compare.
    "d26_lsh_eval" -> (
      s"""WITH ${portableMinhashCtes(64)},
         |${portableLshPairCtes(64, 16, 0.4)},
         |${exactTruthPairCtes(0.4)},
         |u AS (SELECT
         |    CASE WHEN p.a_id IS NOT NULL THEN 1 ELSE 0 END AS e,
         |    CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END AS t
         |  FROM (SELECT a_id, b_id FROM pairs) p
         |  FULL OUTER JOIN truth t ON p.a_id = t.a_id AND p.b_id = t.b_id),
         |agg AS (SELECT CAST(sum(t) AS BIGINT) AS n_true,
         |    CAST(sum(e) AS BIGINT) AS n_est,
         |    CAST(sum(e * t) AS BIGINT) AS tp FROM u)
         |SELECT n_true, n_est, tp,
         |  CAST(tp AS DOUBLE) / CAST(n_est AS DOUBLE) AS precision,
         |  CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall
         |FROM agg""".stripMargin),


    // Cross-doc-lines twin (d25): same synthesized lines, same
    // fingerprint DF gate, same positional reassembly.
    "d25_cross_doc_lines" -> (
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
         |m AS (SELECT doc_id, 'accept all cookies to continue' || chr(10) ||
         |  array_to_string(ws[1:6], ' ') || chr(10) ||
         |  array_to_string(ws[7:12], ' ') || chr(10) ||
         |  '(c) example corp all rights reserved' AS mtext FROM tok),
         |ls AS (SELECT doc_id, string_split(mtext, chr(10)) AS lines FROM m),
         |ex AS (SELECT doc_id, unnest(lines) AS line,
         |    unnest(range(1, len(lines) + 1)) AS pos FROM ls),
         |nb AS (SELECT doc_id, pos, line,
         |    md5(regexp_replace(trim(lower(line)), '\\s+', ' ', 'g')) AS fp
         |  FROM ex WHERE trim(line) <> ''),
         |boiler AS (SELECT fp FROM nb GROUP BY fp
         |  HAVING count(DISTINCT doc_id) >= 3),
         |kept AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    array_to_string(list(line ORDER BY pos), chr(10)) AS clean_text
         |  FROM nb ANTI JOIN boiler USING (fp) GROUP BY doc_id),
         |tot AS (SELECT doc_id,
         |    CAST(len(list_filter(string_split(mtext, chr(10)),
         |      l -> trim(l) <> '')) AS BIGINT) AS n_lines FROM m)
         |SELECT doc_id, n_lines, coalesce(n_kept, 0) AS n_kept,
         |  coalesce(clean_text, '') AS clean_text
         |FROM tot LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin),


    // Entity-resolution twin (d24): the same corruption, the same two
    // blocking passes (UNION dedups the pair), the same levenshtein gate
    // and (dist, c_id)-minimal winner.
    "d24_entity_resolution" ->
      """WITH cust AS (SELECT c_custkey, c_name FROM customer),
        |dirty AS (SELECT c_custkey AS d_id,
        |  substring(c_name, 1, CAST(9 + pp AS INTEGER)) || 'X' ||
        |  substring(c_name, CAST(11 + pp AS INTEGER), CAST(8 - pp AS INTEGER)) AS d_name
        |  FROM (SELECT c_custkey, c_name,
        |    CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS UBIGINT) % 9 AS pp
        |    FROM cust)),
        |clean AS (SELECT c_custkey AS c_id, c_name FROM cust),
        |cands AS (
        |  SELECT d_id, d_name, c_id, c_name FROM dirty JOIN clean
        |    ON substring(d_name, 10, 1) || substring(d_name, 12, 1) ||
        |       substring(d_name, 14, 1) || substring(d_name, 16, 1) ||
        |       substring(d_name, 18, 1)
        |     = substring(c_name, 10, 1) || substring(c_name, 12, 1) ||
        |       substring(c_name, 14, 1) || substring(c_name, 16, 1) ||
        |       substring(c_name, 18, 1)
        |  UNION
        |  SELECT d_id, d_name, c_id, c_name FROM dirty JOIN clean
        |    ON substring(d_name, 11, 1) || substring(d_name, 13, 1) ||
        |       substring(d_name, 15, 1) || substring(d_name, 17, 1)
        |     = substring(c_name, 11, 1) || substring(c_name, 13, 1) ||
        |       substring(c_name, 15, 1) || substring(c_name, 17, 1)),
        |scored AS (SELECT d_id, c_id,
        |    CAST(levenshtein(d_name, c_name) AS BIGINT) AS dist
        |  FROM cands WHERE levenshtein(d_name, c_name) <= 1),
        |ranked AS (SELECT d_id, c_id, dist,
        |    row_number() OVER (PARTITION BY d_id ORDER BY dist, c_id) AS rn,
        |    count(*) OVER (PARTITION BY d_id) AS n_cands
        |  FROM scored)
        |SELECT d_id, c_id AS matched_id, dist, n_cands, c_id = d_id AS is_source
        |FROM ranked WHERE rn = 1 ORDER BY d_id""".stripMargin,


    // Decontamination twin (d13): the d10 shingle CTE on both sides —
    // contamination shingle universe from doc_id < 20, hit = any shared
    // shingle, LEFT JOIN back to the full corpus for the total decision.
    // Sub-n-token documents have no shingles and stay false on both
    // engines.
    "d13_decontaminate" -> (
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
         |g AS (SELECT doc_id, list_distinct(list_transform(range(len(ws) - 2),
         |  i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
         |  FROM tok WHERE len(ws) >= 3),
         |cs AS (SELECT DISTINCT unnest(sh) AS sh FROM g WHERE doc_id < 20),
         |hit AS (SELECT DISTINCT doc_id FROM
         |  (SELECT doc_id, unnest(sh) AS sh FROM g) ds JOIN cs USING (sh))
         |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
         |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
         |ORDER BY d.doc_id""".stripMargin),


    // Semantic-cluster twin (d14): the s02-style plane/bucket CTEs at the
    // operator's own cluster config (8 tables × 8 planes) generate the
    // same candidate pairs, exact cosine at round-6dp filters them (the
    // d06 boundary convention), and d07's recursive-CTE closure resolves
    // the clusters over the embeddings id universe.
    "d14_dedup_clusters_semantic" -> (
      s"""WITH RECURSIVE planes(tbl, pl, w) AS (VALUES ${lshPlanesValues(8, 8, 64, 42L)}),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
         |bk AS (SELECT vec_id, tbl,
         |  SUM(CASE WHEN list_dot_product(ev, w) >= 0 THEN 1::BIGINT << pl ELSE 0 END)::BIGINT AS bucket
         |  FROM v CROSS JOIN planes GROUP BY vec_id, tbl),
         |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |pairs AS (SELECT a_id, b_id FROM (
         |  SELECT a_id, b_id, round(list_cosine_similarity(av.ev, bv.ev), 6) AS sim
         |  FROM cand JOIN v av ON av.vec_id = a_id JOIN v bv ON bv.vec_id = b_id)
         |  WHERE sim >= 0.5),
         |bidir AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs),
         |reach(id, label) AS (
         | SELECT vec_id, vec_id FROM embeddings
         | UNION
         | SELECT b.dst, r.label FROM reach r JOIN bidir b ON r.id = b.src WHERE r.label < b.dst),
         |cc AS (SELECT id AS vec_id, min(label) AS cluster_id FROM reach GROUP BY id)
         |SELECT vec_id, cluster_id,
         | count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         | vec_id = cluster_id AS is_survivor
         |FROM cc ORDER BY vec_id""".stripMargin),


    // Incremental-dedup twin (d17): same fingerprint, same id-shifted
    // batch construction, same corpus-membership + within-batch-min rules.
    "d17_incr" ->
      """WITH batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 400
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id BETWEEN 390 AND 399
        |  UNION ALL SELECT doc_id + 20000, text FROM documents WHERE doc_id BETWEEN 495 AND 499),
        |cf AS (SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id < 400),
        |bf AS (SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp FROM batch),
        |j AS (SELECT doc_id, fp IN (SELECT fp FROM cf) AS in_corpus,
        |  min(doc_id) OVER (PARTITION BY fp) AS first_id FROM bf)
        |SELECT doc_id, CASE WHEN in_corpus THEN 'dup_corpus'
        |  WHEN doc_id <> first_id THEN 'dup_batch' ELSE 'new' END AS status
        |FROM j ORDER BY doc_id""".stripMargin,


    // Bloom decontamination twin (d16): the exact column IS d13's oracle;
    // the bloom column is checked through its one-sided-error contract
    // (exact ⊆ bloom ⇒ bloom_ok TRUE everywhere), the q30/q35 recipe.
    "d16_bloom" ->
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
         |g AS (SELECT doc_id, list_distinct(list_transform(range(len(ws) - 2),
         |  i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
         |  FROM tok WHERE len(ws) >= 3),
         |cs AS (SELECT DISTINCT unnest(sh) AS sh FROM g WHERE doc_id < 20),
         |hit AS (SELECT DISTINCT doc_id FROM
         |  (SELECT doc_id, unnest(sh) AS sh FROM g) ds JOIN cs USING (sh))
         |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated,
         | TRUE AS bloom_ok
         |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
         |ORDER BY d.doc_id""".stripMargin,


    // Duplicate-span twin (d15): same md5 gram keys, same ≥2-distinct-docs
    // rule, and the same lag-window union of overlapping spans (first
    // start contributes 8, each later one min(8, pos−prev)).
    "d15_spans" ->
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
         |gr AS (SELECT doc_id, i AS pos, md5(array_to_string(ws[i+1:i+8], ' ')) AS g
         |  FROM tok, UNNEST(range(len(ws) - 7)) AS u(i) WHERE len(ws) >= 8),
         |dup AS (SELECT g FROM gr GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         |ds AS (SELECT doc_id, pos,
         |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM gr WHERE g IN (SELECT g FROM dup)),
         |cov AS (SELECT doc_id,
         |    CAST(SUM(CASE WHEN prev IS NULL THEN 8 ELSE LEAST(8, pos - prev) END) AS BIGINT) AS dup_tokens
         |  FROM ds GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(ws) AS BIGINT) AS n_toks,
         | COALESCE(c.dup_tokens, 0) AS dup_tokens,
         | round(CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE) / greatest(len(ws), 1), 6) AS dup_ratio
         |FROM tok t LEFT JOIN cov c USING (doc_id) ORDER BY t.doc_id""".stripMargin,


    // Incremental-span twin (d20): corpus gram index as a DISTINCT CTE,
    // batch rebuilt with the d17 unions, dup = corpus membership OR the
    // within-batch min≠max window, then d15's lag-window span union.
    // Incremental near-dup twin (d21): corpus (<400) and the d17-shaped
    // batch unify into one id-disjoint table, the d11 portable
    // signature/band/pair chain runs over it, and the classification
    // reads the generic pair set by id range (corpus ids < 400 ≤ batch
    // ids, so corpus-batch pairs are exactly (a<400, b≥400) and
    // batch-peer pairs (a≥400, b≥400) with a the lower peer).
    "d21_incr_neardup" -> (
      s"""WITH alldocs AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 400
         |  UNION ALL SELECT doc_id, text FROM documents WHERE doc_id >= 400
         |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id BETWEEN 390 AND 399
         |  UNION ALL SELECT doc_id + 20000, text FROM documents WHERE doc_id BETWEEN 495 AND 499),
         |${portableMinhashCtes(64, "alldocs")},
         |${portableLshPairCtes(64, 16, 0.4)},
         |bm AS (SELECT doc_id FROM alldocs WHERE doc_id >= 400),
         |cbest AS (SELECT b_id AS id, a_id AS match_id, est_jaccard,
         |    row_number() OVER (PARTITION BY b_id ORDER BY est_jaccard DESC, a_id) AS r
         |  FROM pairs WHERE a_id < 400 AND b_id >= 400),
         |pbest AS (SELECT b_id AS id, a_id AS match_id, est_jaccard,
         |    row_number() OVER (PARTITION BY b_id ORDER BY est_jaccard DESC, a_id) AS r
         |  FROM pairs WHERE a_id >= 400 AND b_id >= 400)
         |SELECT bm.doc_id,
         |  CASE WHEN c.id IS NOT NULL THEN 'dup_corpus'
         |       WHEN p.id IS NOT NULL THEN 'dup_batch' ELSE 'new' END AS status,
         |  CASE WHEN c.id IS NOT NULL THEN c.match_id ELSE p.match_id END AS match_id,
         |  CASE WHEN c.id IS NOT NULL THEN c.est_jaccard ELSE p.est_jaccard END AS est_jaccard
         |FROM bm
         |LEFT JOIN (SELECT * FROM cbest WHERE r = 1) c ON bm.doc_id = c.id
         |LEFT JOIN (SELECT * FROM pbest WHERE r = 1) p ON bm.doc_id = p.id
         |ORDER BY bm.doc_id""".stripMargin),


    "d20_span_incr" ->
      s"""WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400
         |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id BETWEEN 390 AND 399
         |  UNION ALL SELECT doc_id + 20000, text FROM documents WHERE doc_id BETWEEN 495 AND 499),
         |tok_c AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents WHERE doc_id < 400),
         |ci AS (SELECT DISTINCT md5(array_to_string(ws[i+1:i+8], ' ')) AS g
         |  FROM tok_c, UNNEST(range(len(ws) - 7)) AS u(i) WHERE len(ws) >= 8),
         |tok_b AS (SELECT doc_id, $tokensSqlExpr AS ws FROM b),
         |gr AS (SELECT doc_id, i AS pos, md5(array_to_string(ws[i+1:i+8], ' ')) AS g
         |  FROM tok_b, UNNEST(range(len(ws) - 7)) AS u(i) WHERE len(ws) >= 8),
         |d AS (SELECT doc_id, pos,
         |    (min(doc_id) OVER (PARTITION BY g) <> max(doc_id) OVER (PARTITION BY g))
         |      OR g IN (SELECT g FROM ci) AS dup
         |  FROM gr),
         |ds AS (SELECT doc_id, pos,
         |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM d WHERE dup),
         |cov AS (SELECT doc_id,
         |    CAST(SUM(CASE WHEN prev IS NULL THEN 8 ELSE LEAST(8, pos - prev) END) AS BIGINT) AS dup_tokens
         |  FROM ds GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(ws) AS BIGINT) AS n_toks,
         | COALESCE(c.dup_tokens, 0) AS dup_tokens,
         | round(CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE) / greatest(len(ws), 1), 6) AS dup_ratio
         |FROM tok_b t LEFT JOIN cov c USING (doc_id) ORDER BY t.doc_id""".stripMargin,


    // Domain-quota twin (d19): same deterministic URL synthesis, the same
    // host regex (no lookaround — RE2-safe), the same PSL literal with
    // longest-proper-suffix matching (suffixes generated longest-first,
    // first list member present in the PSL wins, registered domain =
    // suffix + one label, two-label fallback for unlisted TLDs), and
    // q36's md5-permutation quota on the domain key.
    "d19_domain" -> (
      s"""WITH u AS (SELECT doc_id,
        |  'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.'
        |                     WHEN doc_id % 3 = 1 THEN '' ELSE 'cdn.' END
        |   || source || '.' ||
        |   CASE doc_id % 4 WHEN 0 THEN 'example.com' WHEN 1 THEN 'co.uk'
        |     WHEN 2 THEN 'github.io' ELSE 'net' END
        |   || '/' || lang || '/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |h AS (SELECT doc_id, regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host FROM u),
        |m AS (SELECT doc_id, host, labels,
        |  list_filter(list_transform(range(1, len(labels)),
        |      k -> array_to_string(labels[k+1:], '.')),
        |    s -> list_contains([${d19Psl.map("'" + _ + "'").mkString(",")}], s)) AS matched
        |  FROM (SELECT doc_id, host, string_split(host, '.') AS labels FROM h)),
        |d AS (SELECT doc_id, host,
        |  CASE WHEN len(labels) < 2 THEN host
        |       WHEN len(matched) >= 1 THEN
        |         array_to_string(labels[len(labels) - len(string_split(matched[1], '.')):], '.')
        |       ELSE array_to_string(labels[len(labels)-1:], '.') END AS domain
        |  FROM m),
        |r AS (SELECT domain, doc_id, host,
        |  CAST(row_number() OVER (PARTITION BY domain
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank
        |  FROM d)
        |SELECT domain, sample_rank, doc_id, host FROM r
        |WHERE sample_rank <= 15 ORDER BY domain, sample_rank""".stripMargin),


    // Span-trim twin (d18): d15's gram/dup CTEs, then the same
    // gaps-and-islands merge (new island when pos−prev > 8, running-sum
    // island id), interval complement via nested list_filter, and the
    // same kept-token reconstruction.
    "d18_trim" ->
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
         |gr AS (SELECT doc_id, i AS pos, md5(array_to_string(ws[i+1:i+8], ' ')) AS g
         |  FROM tok, UNNEST(range(len(ws) - 7)) AS u(i) WHERE len(ws) >= 8),
         |dup AS (SELECT g FROM gr GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         |ds AS (SELECT doc_id, pos,
         |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM gr WHERE g IN (SELECT g FROM dup)),
         |si AS (SELECT doc_id, pos,
         |    sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS isl
         |  FROM ds),
         |iv AS (SELECT doc_id, isl, min(pos) AS lo, max(pos) + 7 AS hi
         |  FROM si GROUP BY doc_id, isl),
         |ivs AS (SELECT doc_id, list(struct_pack(lo := lo, hi := hi) ORDER BY lo) AS ivs
         |  FROM iv GROUP BY doc_id),
         |k AS (SELECT t.doc_id, ws,
         |    list_filter(range(len(ws)), p -> i.ivs IS NULL OR
         |      len(list_filter(i.ivs, v -> p >= v.lo AND p <= v.hi)) = 0) AS kept
         |  FROM tok t LEFT JOIN ivs i USING (doc_id))
         |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_toks,
         | CAST(len(kept) AS BIGINT) AS n_kept,
         | COALESCE(array_to_string(list_transform(kept, p -> ws[p+1]), ' '), '') AS trimmed_text
         |FROM k ORDER BY doc_id""".stripMargin,


    // Portable simhash: DuckDB reproduces the md5-low64 token hash exactly
    // (hex→UBIGINT, re-centered to signed 64-bit), then the identical
    // per-bit vote + fold. The 64 vote/fold terms are generated.
    "d08_simhash_portable" ->
      s"""WITH $portableSimhashCtes
         |SELECT doc_id, simhash FROM fps ORDER BY doc_id""".stripMargin,


    // SimHash contract twin (d05): the fingerprint values are xx-family-
    // internal (see the query comment — cardinality across families is
    // NOT invariant), so the twin anchors each row by token count and
    // asserts Spark's own native≡declarative equality flag TRUE.
    "d05_simhash" ->
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents)
         |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         | TRUE AS native_eq_declarative
         |FROM tok ORDER BY doc_id""".stripMargin,


    "d06_embedding_neardup" ->
      """WITH p AS (SELECT vec_id AS a_id, embedding::DOUBLE[] AS av FROM embeddings WHERE vec_id < 100),
        |c AS (SELECT vec_id AS b_id, embedding::DOUBLE[] AS bv FROM embeddings)
        |SELECT a_id, b_id, sim FROM (
        | SELECT a_id, b_id, round(list_cosine_similarity(av, bv), 6) AS sim
        | FROM p JOIN c ON a_id < b_id)
        |WHERE sim >= 0.35 ORDER BY a_id, b_id""".stripMargin,


    // Winnowing twin (d31): the same md5-low64 k-gram hashes; selection
    // replayed RELATIONALLY (windows × grams range join, min hash then
    // rightmost position — the oracle is allowed the O(G·w) join shape
    // the engine's per-row fold avoids), then the same capped inverted
    // index and pair counts.
    "d31_winnowing" ->
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
         |tk AS (SELECT doc_id, ws FROM tok WHERE len(ws) >= 5),
         |gr0 AS (SELECT doc_id, i AS pos, array_to_string(ws[i+1:i+5], ' ') AS s
         |  FROM tk, UNNEST(range(len(ws) - 4)) AS u(i)),
         |gr AS (SELECT doc_id, pos, CAST(($md5Low64SqlExpr) AS BIGINT) AS h FROM gr0),
         |gc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS g FROM gr GROUP BY doc_id),
         |w0 AS (SELECT doc_id, j FROM gc,
         |  UNNEST(range(greatest(g - 4, 0) + 1)) AS u(j)),
         |cand AS (SELECT w0.doc_id, w0.j, gr.pos, gr.h FROM w0 JOIN gr
         |  ON gr.doc_id = w0.doc_id AND gr.pos BETWEEN w0.j AND w0.j + 3),
         |mn AS (SELECT doc_id, j, min(h) AS mh FROM cand GROUP BY 1, 2),
         |sel AS (SELECT c.doc_id, c.j, max(c.pos) AS pos, min(c.h) AS h
         |  FROM cand c JOIN mn ON c.doc_id = mn.doc_id AND c.j = mn.j
         |    AND c.h = mn.mh
         |  GROUP BY c.doc_id, c.j),
         |fp AS (SELECT DISTINCT doc_id, pos, h FROM sel),
         |st AS (SELECT round(CAST((SELECT count(*) FROM fp) AS DOUBLE) /
         |  CAST((SELECT sum(g) FROM gc) AS DOUBLE), 6) AS fp_frac),
         |fpd AS (SELECT DISTINCT doc_id, h FROM fp),
         |dfc AS (SELECT h FROM fpd GROUP BY h
         |  HAVING count(*) BETWEEN 2 AND 10),
         |idx AS (SELECT doc_id, h FROM fpd WHERE h IN (SELECT h FROM dfc)),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared, fp_frac FROM pairs CROSS JOIN st
         |ORDER BY doc_a, doc_b""".stripMargin,


    // Exact-Jaccard join twin (d32): the oracle computes the SEMANTICS
    // directly — all pairs sharing a token, exact intersection, the
    // same integer 3·∩ ≥ |A|+|B| gate — with no knowledge of the
    // engine's bitmask/PPJoin regime split; any candidate the engine
    // wrongly drops or invents hash-mismatches here. Receipts replayed
    // independently: cand_full from the df table, cand_eval from the
    // distinct-token-set count.
    "d32_prefix_filter_join" ->
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
         |ts AS (SELECT DISTINCT doc_id, tok FROM tok, UNNEST(ws) AS u(tok)),
         |dfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM ts GROUP BY tok),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ts GROUP BY doc_id),
         |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS inter
         |  FROM ts a JOIN ts b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sets AS (SELECT DISTINCT
         |    array_to_string(list_sort(list_distinct(ws)), ' ') AS key
         |  FROM tok WHERE len(ws) > 0),
         |rec AS (SELECT
         |  (SELECT CAST(sum(df * (df - 1)) // 2 AS BIGINT) FROM dfr) AS cand_full,
         |  (SELECT CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) FROM sets)
         |    AS cand_eval)
         |SELECT i.doc_a, i.doc_b, i.inter, sa.sz + sb.sz - i.inter AS un,
         |  round(CAST(i.inter AS DOUBLE) /
         |    CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 9) AS jaccard,
         |  rec.cand_full, rec.cand_eval
         |FROM i JOIN sz sa ON sa.doc_id = i.doc_a
         |JOIN sz sb ON sb.doc_id = i.doc_b CROSS JOIN rec
         |WHERE 3 * i.inter >= sa.sz + sb.sz
         |ORDER BY i.doc_a, i.doc_b""".stripMargin,


    // Edit-distance twin (d33): identical mutation fixture, then the
    // semantics DIRECTLY — brute-force all-pairs levenshtein ≤ 2 over
    // the same length gate. The oracle knows nothing about q-grams.
    "d33_edit_distance_join" ->
      """WITH s0 AS (SELECT doc_id, substr(lower(text), 1, 24) AS b
        |  FROM documents),
        |s AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN
        |    substr(b, 1, CAST(doc_id % 10 AS INT) + 3) ||
        |    substr(b, CAST(doc_id % 10 AS INT) + 5)
        |  WHEN doc_id % 3 = 1 THEN
        |    substr(b, 1, CAST(doc_id % 10 AS INT) + 3) || 'z' ||
        |    substr(b, CAST(doc_id % 10 AS INT) + 5)
        |  ELSE b END AS s FROM s0),
        |f AS (SELECT doc_id, s FROM s WHERE length(s) > 11)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM f a JOIN f b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin,


    // Exact-repeats twin (d34): d31's winnowing selection replayed
    // relationally (same md5-low64 k=5 gram hashes, w=4 windows,
    // rightmost-min rule), the SAME context-key adjacency (lead over the
    // fingerprint key ordered by anchor+24-token context, then doc/pos),
    // the same anchor-token verification, and the extension as
    // list-comprehension equality scans — first mismatch index ≡ the
    // operator's zip_with/array_position fold; same canonical
    // orientation swap.
    "d34_exact_repeats" ->
      s"""WITH tok AS (SELECT doc_id, $tokensSqlExpr AS ws FROM documents),
         |tk AS (SELECT doc_id, ws FROM tok WHERE len(ws) >= 5),
         |gr0 AS (SELECT doc_id, i AS pos, array_to_string(ws[i+1:i+5], ' ') AS s
         |  FROM tk, UNNEST(range(len(ws) - 4)) AS u(i)),
         |gr AS (SELECT doc_id, pos, CAST(($md5Low64SqlExpr) AS BIGINT) AS h FROM gr0),
         |gc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS g FROM gr GROUP BY doc_id),
         |w0 AS (SELECT doc_id, j FROM gc,
         |  UNNEST(range(greatest(g - 4, 0) + 1)) AS u(j)),
         |cand AS (SELECT w0.doc_id, w0.j, gr.pos, gr.h FROM w0 JOIN gr
         |  ON gr.doc_id = w0.doc_id AND gr.pos BETWEEN w0.j AND w0.j + 3),
         |mn AS (SELECT doc_id, j, min(h) AS mh FROM cand GROUP BY 1, 2),
         |sel AS (SELECT c.doc_id, c.j, max(c.pos) AS pos, min(c.h) AS h
         |  FROM cand c JOIN mn ON c.doc_id = mn.doc_id AND c.j = mn.j
         |    AND c.h = mn.mh
         |  GROUP BY c.doc_id, c.j),
         |fp0 AS (SELECT DISTINCT doc_id, pos, h FROM sel),
         |fp AS (SELECT fp0.doc_id, fp0.pos, fp0.h,
         |    array_to_string(t.ws[fp0.pos+1 : fp0.pos+29], ' ') AS ctx
         |  FROM fp0 JOIN tok t ON t.doc_id = fp0.doc_id),
         |pr AS (SELECT doc_id AS id_a, pos AS pa,
         |    lead(doc_id) OVER (PARTITION BY h ORDER BY ctx, doc_id, pos) AS id_b,
         |    lead(pos) OVER (PARTITION BY h ORDER BY ctx, doc_id, pos) AS pb
         |  FROM fp),
         |pp AS (SELECT DISTINCT id_a, pa, id_b, pb FROM pr WHERE id_b IS NOT NULL),
         |jn AS (SELECT pp.*, ta.ws AS wsa, len(ta.ws) AS na,
         |    tb.ws AS wsb, len(tb.ws) AS nb
         |  FROM pp JOIN tok ta ON ta.doc_id = pp.id_a
         |    JOIN tok tb ON tb.doc_id = pp.id_b
         |  WHERE wsa[pa+1 : pa+5] = wsb[pb+1 : pb+5]),
         |e AS (SELECT id_a, pa, id_b, pb, wsa, wsb,
         |    greatest(least(na - pa - 5, nb - pb - 5), 0) AS mr,
         |    least(pa, pb) AS ml FROM jn),
         |z AS (SELECT id_a, pa, id_b, pb, mr, ml,
         |    list_transform(range(mr),
         |      i -> list_extract(wsa, pa + 6 + i) = list_extract(wsb, pb + 6 + i)) AS zr,
         |    list_transform(range(ml),
         |      i -> list_extract(wsa, pa - i) = list_extract(wsb, pb - i)) AS zl
         |  FROM e),
         |-- list_position returns 0 (not NULL) when no mismatch exists:
         |-- 0 means the whole slice matched, i.e. the full extension
         |x AS (SELECT id_a, pa, id_b, pb,
         |    CASE WHEN list_position(zr, false) = 0 THEN mr
         |      ELSE list_position(zr, false) - 1 END AS extr,
         |    CASE WHEN list_position(zl, false) = 0 THEN ml
         |      ELSE list_position(zl, false) - 1 END AS extl
         |  FROM z),
         |y AS (SELECT id_a, id_b, pa - extl AS sa, pb - extl AS sb,
         |    extl + 5 + extr AS rl FROM x WHERE extl + 5 + extr >= 8),
         |c AS (SELECT
         |    CASE WHEN id_b < id_a OR (id_b = id_a AND sb < sa) THEN id_b ELSE id_a END AS doc_a,
         |    CASE WHEN id_b < id_a OR (id_b = id_a AND sb < sa) THEN sb ELSE sa END AS a_start,
         |    CASE WHEN id_b < id_a OR (id_b = id_a AND sb < sa) THEN id_a ELSE id_b END AS doc_b,
         |    CASE WHEN id_b < id_a OR (id_b = id_a AND sb < sa) THEN sa ELSE sb END AS b_start,
         |    rl AS rep_len FROM y)
         |SELECT DISTINCT doc_a, CAST(a_start AS BIGINT) AS a_start,
         |  doc_b, CAST(b_start AS BIGINT) AS b_start,
         |  CAST(rep_len AS BIGINT) AS rep_len
         |FROM c
         |ORDER BY doc_a, a_start, doc_b, b_start, rep_len""".stripMargin,
  )
}
