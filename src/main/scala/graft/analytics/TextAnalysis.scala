package graft.analytics

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, token-count estimates, quality scoring, n-gram language ID,
  * and document fingerprinting. All are per-row column expressions —
  * embarrassingly parallel, no shuffle — which is exactly the shape that
  * survives a 100 TB scan.
  *
  * Two forms per operator: a `…FromTokens` version over an already-
  * materialized token-array ATTRIBUTE (the hot-path form — several features
  * read the token array more than once, and an inlined `tokens(text)` tree
  * would re-tokenize per reference), and a convenience wrapper over raw
  * text for single-use contexts. Pipelines should project
  * `tokens(text).as("ws")` once and feed the attribute (see SparkEntry's
  * t01–t04).
  */
object TextAnalysis {

  /** Whitespace tokenization of normalized text (lowercase, collapsed
    * whitespace). Empty tokens filtered.
    */
  def tokens(text: Column): Column =
    filter(split(trim(lower(text)), "\\s+"), t => length(t) > 0)

  /** Exact whitespace token count. */
  def tokenCountFromTokens(toks: Column): Column = size(toks).cast(LongType)
  def tokenCount(text: Column): Column = tokenCountFromTokens(tokens(text))

  /** Shared kernel of [[Bpe.encodeCounts]] / [[Unigram.encodeCounts]]
    * (r18): per document the SUM of per-word segmentation lengths from a
    * broadcast (word, space-joined-segments) table — the count-only twin
    * of a full subword encode for consumers that never read the token
    * sequence. Partial-aggregates map-side; words absent from `segTable`
    * are dropped (the encode-the-training-corpus contract); token-less
    * documents count 0.
    */
  private[analytics] def segmentCountSums(docs: org.apache.spark.sql.DataFrame,
      segTable: org.apache.spark.sql.DataFrame, segCol: String, outCol: String,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val wordLens = segTable.select(col("word"),
      size(split(col(segCol), " ")).cast(LongType).as("n_sub"))
    val enc = Par.spreadForCpu(docs)
      .select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .join(broadcast(wordLens), Seq("word"))
      .groupBy(col(idCol))
      .agg(sum(col("n_sub")).as(outCol))
    docs.select(col(idCol)).join(enc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(outCol), lit(0L)).as(outCol))
  }

  /** BPE-ish subword-count estimate: each word contributes
    * ceil(len/4) units — the classic "~4 chars per token" heuristic,
    * computed exactly so it is oracle-checkable.
    */
  def bpeTokenEstimateFromTokens(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => acc + ceil(length(t).cast(DoubleType) / 4.0).cast(LongType))
  def bpeTokenEstimate(text: Column): Column = bpeTokenEstimateFromTokens(tokens(text))

  /** RAW word n-grams, order-preserving and NOT deduplicated — the
    * within-document repetition signal needs multiplicity, unlike
    * [[Dedup.shinglesFromTokens]]'s distinct shingle SET (cross-document
    * similarity needs set semantics). Space-joined like the shingles so
    * the two gram spaces stay comparable.
    *
    * `ws` MUST be a materialized attribute, not an inlined `tokens(text)`
    * tree: the transform lambda reads it per element, and Spark
    * re-evaluates embedded subtrees per element — an inlined tokenizer
    * here is O(tokens²) per row (measured 80× on t08).
    */
  def ngramsFromTokens(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + j + 1)): _*)))
      .otherwise(array().cast(ArrayType(StringType)))

  /** Within-document repetition fraction: 1 − distinct/total over raw
    * n-grams (0.0 for documents shorter than n tokens). The classic
    * pre-training quality rule — boilerplate and low-quality generated
    * text repeats itself — applied per row with no shuffle; rounded to
    * 6 dp BEFORE any threshold comparison so the keep/drop boundary is
    * bit-identical cross-engine (the d06/s01 rounding convention).
    * The count form is the ONE formula definition; the t08 query and its
    * DuckDB twin both consume it over materialized gram counts.
    */
  def repetitionFraction(nGrams: Column, nDistinct: Column): Column =
    when(nGrams === 0, lit(0.0))
      .otherwise(round(
        lit(1.0) - nDistinct.cast(DoubleType) / nGrams.cast(DoubleType), 6))

  def repetitionFractionFromTokens(ws: Column, n: Int): Column = {
    val g = ngramsFromTokens(ws, n)
    repetitionFraction(size(g), size(array_distinct(g)))
  }

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column = {
    val total = length(text)
    when(total === 0, lit(0.0)).otherwise(
      (total - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast(DoubleType)
        / total.cast(DoubleType))
  }

  /** Small closed stopword sets per language for the n-gram(1) language-ID
    * heuristic and the stopword-ratio quality feature.
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "zu", "ein", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "que", "un", "est"))

  private def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*))).cast(LongType)

  /** Stopword ratio against the English set (quality feature). */
  def stopwordRatioFromTokens(toks: Column): Column =
    when(size(toks) === 0, lit(0.0)).otherwise(
      stopwordHits(toks, Stopwords("en")).cast(DoubleType)
        / size(toks).cast(DoubleType))
  def stopwordRatio(text: Column): Column = stopwordRatioFromTokens(tokens(text))

  /** Mean word length in characters. */
  def avgWordLenFromTokens(toks: Column): Column =
    when(size(toks) === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast(DoubleType)
        / size(toks).cast(DoubleType))
  def avgWordLen(text: Column): Column = avgWordLenFromTokens(tokens(text))

  /** Composite quality score in [0,1]: rewards reasonable length and
    * stopword presence, penalizes punctuation density. Weights are part of
    * the operator's declared semantics (deterministic, oracle-checkable).
    */
  def qualityScoreFromTokens(text: Column, toks: Column): Column = {
    val lenScore = least(length(text).cast(DoubleType) / 500.0, lit(1.0))
    lit(0.4) * lenScore + lit(0.4) * stopwordRatioFromTokens(toks) +
      lit(0.2) * (lit(1.0) - punctRatio(text))
  }
  def qualityScore(text: Column): Column = qualityScoreFromTokens(text, tokens(text))

  /** Language-ID by stopword-marker voting: argmax of per-language hit
    * counts with a fixed priority order (en, es, de, fr) breaking ties;
    * "und" when no marker hits at all.
    */
  def langIdFromTokens(toks: Column): Column = {
    val scores = Seq("en", "es", "de", "fr").map(l => l -> stopwordHits(toks, Stopwords(l)))
    val best = greatest(scores.map(_._2): _*)
    scores.foldLeft(when(best === 0, lit("und"))) { case (acc, (lang, s)) =>
      acc.when(s === best, lit(lang))
    }.otherwise(lit("und"))
  }
  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** [[langIdFromTokens]] plus a confidence: best-language marker hits
    * over total marker hits PLUS a pseudo-count of 2 (Laplace-style —
    * a 3-of-3 vote is weaker evidence than 30-of-30, and without the
    * smoothing every single-language doc scores exactly 1.0 and the
    * t27 reliability diagram collapses to one bin). Rounded at 6 dp so
    * downstream sums can be exact decimal (the t27 discipline). Null
    * confidence when no marker hits at all ('und' — no evidence, no
    * calibration point). Struct fields: `pred`, `conf`.
    */
  def langIdWithConfidence(toks: Column): Column = {
    val scores = Seq("en", "es", "de", "fr").map(l => l -> stopwordHits(toks, Stopwords(l)))
    val best = greatest(scores.map(_._2): _*)
    val total = scores.map(_._2).reduce(_ + _)
    val pred = scores.foldLeft(when(best === 0, lit("und"))) {
      case (acc, (lang, s)) => acc.when(s === best, lit(lang))
    }.otherwise(lit("und"))
    struct(pred.as("pred"),
      when(total === 0, lit(null).cast(DoubleType))
        .otherwise(round(best.cast(DoubleType) /
          (total.cast(DoubleType) + lit(2.0)), 6))
        .as("conf"))
  }

  /** Content fingerprint: md5 of normalized text (lowercased, whitespace
    * collapsed). Exact-dedup key that is portable across engines.
    */
  def contentFingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Rolling polynomial hash over the token stream (base 1000003 over
    * per-token xxhash64) — an order-sensitive 64-bit document fingerprint,
    * computed in one pass per row. The reference definition of the fused
    * `rolling_hash64` kernel the queries call (bit-identical —
    * TextAnalysisSpec).
    */
  def rollingHashFromTokens(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc * lit(1000003L) + xxhash64(t))
  def rollingHash(text: Column): Column = rollingHashFromTokens(tokens(text))

  /** Rolling hash over the PORTABLE md5-low64 token hash — the same
    * base-1000003 multiply-add fold as [[rollingHashFromTokens]] with
    * [[Dedup.md5Low64]] substituted for xxhash64, so any engine with md5
    * and 128-bit integer arithmetic can reproduce the fingerprint
    * bit-for-bit (the t07 oracle path; cf. d08/d10 for the simhash and
    * minhash families). Production uses the xxhash64 variant. The
    * reference definition of the fused `rolling_hash64_md5` kernel
    * (bit-identical, null-token edge included — TextAnalysisSpec).
    */
  def rollingHashPortableFromTokens(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc * lit(1000003L) + Dedup.md5Low64(t))

  // ── PII scrubbing (training-data hygiene) ──

  /** PII patterns scrubbed from training text. Kept to constructs shared by
    * Java regex and RE2 (DuckDB) so the operator stays oracle-checkable:
    * no backreferences, no lookaround.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"))

  /** Replace every PII occurrence with its placeholder token (applied in
    * declaration order — email first, so its digits never half-match the
    * later numeric patterns). Pure per-row regexp projection: no shuffle,
    * scan-parallel, the 100 TB shape.
    */
  def scrubPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (acc, (_, re, token)) =>
      regexp_replace(acc, re, token)
    }

  /** Redaction audit: occurrences of each placeholder token in the
    * SCRUBBED text. Counting tokens (a literal split) instead of re-running
    * the PII regexes halves the regex passes per row, and counts what was
    * actually redacted — e.g. digits inside an already-replaced email are
    * not double-counted as an SSN.
    */
  def piiCounts(scrubbed: Column): Seq[(String, Column)] =
    PiiPatterns.map { case (name, _, token) =>
      name -> (size(split(scrubbed, java.util.regex.Pattern.quote(token), -1)) - 1)
    }

  /** Corpus-self-trained unigram language-model score — the perplexity
    * proxy of the classic quality filters (CCNet/Gopher lineage): train
    * unigram frequencies over the corpus itself, then score each document
    * by its mean token log-probability `avg(ln(c_token / total))`. Highly
    * repetitive or boilerplate-heavy documents score HIGH (common tokens);
    * gibberish scores LOW — a complementary signal to the rule-based
    * [[qualityScoreFromTokens]].
    *
    * Float determinism across engines is engineered, not hoped for:
    * per-token log-probs are rounded to 9 dp BEFORE summation (ln may
    * differ by 1 ulp between libm implementations), each document's values
    * are summed in TOKEN-POSITION order via an explicit left fold over a
    * sorted array (aggregate-in-partition order is nondeterministic, array
    * folds are not), and the final mean is display-rounded to 6 dp — the
    * repo's standard similarity-score convention.
    *
    * Scale shape: the frequency table is vocabulary-sized (Zipf — millions
    * of rows at 100 TB, a feature-store artifact built once per corpus
    * snapshot); the token→frequency join is the one big shuffle and its
    * key distribution IS Zipf (stopwords are hot keys) — AQE skew-join
    * splits them, and the d03-style salting is the manual fallback. The
    * grand total broadcasts as a 1-row scalar.
    */
  /** Per-document n-gram NOVELTY (t33): the share of a doc's distinct
    * n-gram shingles whose FIRST corpus occurrence (min id — ingestion
    * order) is this document. The corpus-growth diagnostic behind
    * dedup-budget decisions: a crawl snapshot whose marginal docs score
    * near 0 is re-crawling what the corpus already holds. Scale shape:
    * the per-gram table collapses to (gram, first_id) and then to a
    * doc-sized (first_id, n_novel) BEFORE anything joins — two gram-keyed
    * partial+final aggregates plus one doc-sized join; no pair space,
    * and the exploded gram table is never join-probed.
    */
  def noveltyScores(docs: org.apache.spark.sql.DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    // the shingle projection feeds two plan branches (the gram aggregate
    // and the n_grams base side) — persist the compact (id, shingles)
    // form so the tokenize→shingle pass runs once (the Dedup
    // intersectionCounts idiom)
    val sh = Dedup.shingleSets(docs, n, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val novel = sh.select(col("id"), explode(col("sh")).as("g"))
      .groupBy(col("g")).agg(min(col("id")).as("first_id"))
      .groupBy(col("first_id")).agg(count(lit(1)).as("n_novel"))
    sh.select(col("id").as(idCol), size(col("sh")).cast(LongType).as("n_grams"))
      .join(novel, col(idCol) === col("first_id"), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams") > 0,
          round(coalesce(col("n_novel"), lit(0L)).cast(DoubleType) / col("n_grams"), 9))
          .as("novelty"))
  }

  /** Greedy bigram rollout (t34) — deterministic synthetic-text
    * generation from the corpus-trained bigram LM (t10's model,
    * argmax-decoded): from each of the `nSeeds` most frequent corpus
    * words, follow next(w) = argmax c(w, ·) (count DESC, next-word ASC —
    * the portable tie) for `steps` transitions, freezing at a dead end
    * (a word never seen in prev position). The output carries the
    * distinct-word ratio of each rollout — greedy decoding enters short
    * CYCLES, and this is that degenerate-repetition hazard (t08's
    * lesson) measured on the generator's own output, the quality gate a
    * synthetic-data pipeline watches before admitting generations.
    *
    * Scale shape: the transition function is ONE vocabulary-keyed
    * partial+final min_by over the bigram table (a Heaps-bounded model
    * artifact, persisted — every rollout step joins it) and the state
    * is nSeeds rows; after the one corpus pass, all work is
    * control-plane-sized.
    */
  def greedyBigramRollout(docs: org.apache.spark.sql.DataFrame,
      nSeeds: Int, steps: Int,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val toks = Par.spreadForCpu(docs).select(tokens(col(textCol)).as("ws"))
    val seeds = toks.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(nSeeds)
      .select(col("w").as("seed"))
    val bg = toks.where(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("ws")) - 2),
        i => struct(element_at(col("ws"), i + 1).as("prev"),
          element_at(col("ws"), i + 2).as("cur")))).as("b"))
      .select(col("b.prev").as("prev"), col("b.cur").as("cur"))
    // argmax next word: minimize (-count, word) — max count, lex-min tie
    val nxt = bg.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c"))
      .groupBy(col("prev"))
      .agg(min_by(col("cur"), struct(negate(col("c")), col("cur"))).as("next"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var st = seeds.select(col("seed"), array(col("seed")).as("gen"),
      col("seed").as("last"))
    for (_ <- 1 to steps) {
      // a dead-end `last` keeps finding no transition: gen freezes
      st = st.join(nxt.withColumnRenamed("prev", "last"), Seq("last"), "left")
        .select(col("seed"),
          when(col("next").isNotNull, concat(col("gen"), array(col("next"))))
            .otherwise(col("gen")).as("gen"),
          coalesce(col("next"), col("last")).as("last"))
    }
    st.select(col("seed"), concat_ws(" ", col("gen")).as("gen_text"),
        size(col("gen")).cast(LongType).as("n_words"),
        size(array_distinct(col("gen"))).cast(LongType).as("n_distinct"))
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast(DoubleType) / col("n_words"), 6))
  }

  def unigramLogProbScores(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val toks = Par.spreadForCpu(docs)
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
    val freqs = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val total = freqs.agg(sum(col("c")).as("total"))
    // per-TYPE model table (r18, guide §2.3): lp depends only on the
    // token, so the log+round runs once per vocabulary entry instead of
    // once per corpus token, and the token stream probes ONE model join
    // instead of a count join + a scalar crossJoin — value-identical by
    // construction (same formula, same operands, per type)
    val model = freqs.crossJoin(broadcast(total))
      .select(col("token"),
        round(log(col("c").cast(DoubleType) / col("total").cast(DoubleType)), 9).as("lp"))
    val perTok = toks
      .join(model, Seq("token"))
      .select(col(idCol), col("pos"), col("lp"))
    val scored = perTok.groupBy(col(idCol))
      .agg(collect_list(struct(col("pos"), col("lp"))).as("lps"))
      .select(col(idCol),
        aggregate(transform(array_sort(col("lps")), x => x.getField("lp")),
          lit(0.0), (a, x) => a + x).as("s"),
        size(col("lps")).cast(LongType).as("n"))
      .select(col(idCol), col("n"), round(col("s") / col("n"), 6).as("lp_avg"))
    // token-less docs carry a null score (nothing to average), count 0
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n"), lit(0L)).as("n_tokens"), col("lp_avg"))
  }

  /** Bigram LM average log-probability with add-½ smoothing — t09's
    * unigram model one order deeper (the CCNet recipe trains n-gram LMs;
    * the bigram captures local word order a unigram cannot). For bigram
    * (prev, cur): `P = (c(prev,cur) + ½) / (c(prev·) + ½·V)` with V the
    * corpus vocabulary size; ½ is exactly representable, both counts are
    * integers, so the only float ops on the cross-engine gate are the
    * division and the log — handled by t09's determinism recipe (round
    * the per-bigram log-prob to 9 dp, sum by a position-sorted fold,
    * round the average to 6 dp).
    *
    * Scale shape: bigram rows join their c(prev,cur) and c(prev·) counts
    * — two hash-key joins whose key distribution is Zipf (AQE skew-join
    * handles the hot stopword contexts, as in t09); vocabulary size
    * broadcasts as a 1-row scalar. Documents with < 2 tokens have no
    * bigrams: count 0, null score.
    */
  def bigramLogProbScores(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val toks = Par.spreadForCpu(docs)
      .select(col(idCol), tokens(col(textCol)).as("ws"))
    val bg = toks
      .where(size(col("ws")) >= 2)
      .select(col(idCol), posexplode(transform(sequence(lit(0), size(col("ws")) - 2),
        i => struct(element_at(col("ws"), i + 1).as("prev"),
          element_at(col("ws"), i + 2).as("cur")))).as(Seq("pos", "b")))
      .select(col(idCol), col("pos"),
        col("b").getField("prev").as("prev"), col("b").getField("cur").as("cur"))
    val c2 = bg.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy(col("prev")).agg(count(lit(1)).as("c1"))
    val vocab = toks.select(explode(col("ws")).as("t"))
      .agg(countDistinct(col("t")).cast(DoubleType).as("vsz"))
    // per-TYPE model table (r18, guide §2.3 — the t09 restructure): lp
    // depends only on (prev, cur), so the smoothed log runs once per
    // distinct bigram instead of once per corpus bigram, and the bigram
    // stream probes ONE model join instead of two count joins + a scalar
    // crossJoin — value-identical by construction
    val model = c2
      .join(c1, Seq("prev"))
      .crossJoin(broadcast(vocab))
      .select(col("prev"), col("cur"),
        round(log((col("c2").cast(DoubleType) + lit(0.5)) /
          (col("c1").cast(DoubleType) + lit(0.5) * col("vsz"))), 9).as("lp"))
    val perBg = bg
      .join(model, Seq("prev", "cur"))
      .select(col(idCol), col("pos"), col("lp"))
    val scored = perBg.groupBy(col(idCol))
      .agg(collect_list(struct(col("pos"), col("lp"))).as("lps"))
      .select(col(idCol),
        aggregate(transform(array_sort(col("lps")), x => x.getField("lp")),
          lit(0.0), (a, x) => a + x).as("s"),
        size(col("lps")).cast(LongType).as("n"))
      .select(col(idCol), col("n"), round(col("s") / col("n"), 6).as("lp2_avg"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n"), lit(0L)).as("n_bigrams"), col("lp2_avg"))
  }

  /** PMI phrase mining (the word2phrase/collocation staple): pointwise
    * mutual information of adjacent token pairs over the corpus bigram
    * stream — PMI(a,b) = ln(c(a,b)·N / (c(a,·)·c(·,b))), all marginals
    * derived from the SAME bigram frame so the probability space is
    * self-consistent; a `minCount` gate removes the low-count pairs PMI
    * notoriously over-scores, then top-k by (pmi desc, pair). Every
    * count is an exact integer and the score is ONE log of a double
    * ratio rounded at 9 dp — bit-identical cross-engine, total-ordered.
    *
    * Scale: one bigram fan-out scan, three term-keyed count
    * aggregations, one broadcast scalar, one top-k — no pair term beyond
    * the corpus's own bigram vocabulary.
    */
  def pmiBigrams(docs: org.apache.spark.sql.DataFrame, minCount: Long = 5L,
      k: Int = 20, textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val bg = Par.spreadForCpu(docs)
      .select(tokens(col(textCol)).as("ws"))
      .where(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("ws")) - 2),
        i => struct(element_at(col("ws"), i + 1).as("prev"),
          element_at(col("ws"), i + 2).as("cur")))).as("b"))
      .select(col("b").getField("prev").as("prev"),
        col("b").getField("cur").as("cur"))
    val c2 = bg.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
    val cp = bg.groupBy(col("prev")).agg(count(lit(1)).as("cp"))
    val cc = bg.groupBy(col("cur")).agg(count(lit(1)).as("cc"))
    val nb = bg.agg(count(lit(1)).as("nb"))
    c2.where(col("c2") >= minCount)
      .join(cp, Seq("prev")).join(cc, Seq("cur"))
      .crossJoin(broadcast(nb)) // 1-row scalar
      .select(col("prev"), col("cur"), col("c2"),
        round(log(col("c2").cast(DoubleType) * col("nb").cast(DoubleType) /
          (col("cp").cast(DoubleType) * col("cc").cast(DoubleType))), 9).as("pmi"))
      .orderBy(col("pmi").desc, col("prev"), col("cur"))
      .limit(k)
  }

  /** Interpolated Kneser–Ney bigram scoring — the smoothing actually
    * used by production n-gram LMs (Chen & Goodman 1999), next to t10's
    * add-k baseline: absolute discount D on the bigram MLE, mass
    * redistributed through the CONTINUATION unigram (how many distinct
    * contexts a word follows — "Francisco" is frequent but only ever
    * follows "San", so its continuation probability is tiny):
    *
    *   P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁)
    *            + D·N₁₊(w₁•)/c(w₁) · N₁₊(•w₂)/T
    *
    * Corpus-self-trained (every scored bigram was counted, so P > 0
    * always: a context's λ is positive whenever the context exists).
    * Float discipline is the t09/t10 recipe: exact integer counts, the
    * probability chain written in the same op order both engines, ln
    * rounded to 9 dp per bigram, position-ordered per-doc fold, 6-dp
    * average. Scale shape = t10's: one bigram explode, three count
    * aggregations (+ one distinct-type scalar), broadcastable model
    * joins keyed on vocabulary-sized keys.
    */
  def kneserNeyBigramScores(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val toks = Par.spreadForCpu(docs)
      .select(col(idCol), tokens(col(textCol)).as("ws"))
    val bg = toks
      .where(size(col("ws")) >= 2)
      .select(col(idCol), posexplode(transform(sequence(lit(0), size(col("ws")) - 2),
        i => struct(element_at(col("ws"), i + 1).as("prev"),
          element_at(col("ws"), i + 2).as("cur")))).as(Seq("pos", "b")))
      .select(col(idCol), col("pos"),
        col("b").getField("prev").as("prev"), col("b").getField("cur").as("cur"))
    val c2 = bg.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy(col("prev")).agg(count(lit(1)).as("c1"))
    val followers = c2.groupBy(col("prev")).agg(count(lit(1)).as("nf"))
    val predecessors = c2.groupBy(col("cur")).agg(count(lit(1)).as("np"))
    val types = c2.agg(count(lit(1)).cast(DoubleType).as("tt"))
    val d = lit(discount)
    // per-TYPE model table (r18, guide §2.3 — the t09/t10 restructure):
    // lp depends only on (prev, cur), so the KN probability chain runs
    // once per distinct bigram over the vocabulary-sized c2 table, and
    // the corpus bigram stream probes ONE model join instead of FOUR
    // count joins + a scalar crossJoin — value-identical by construction
    val model = c2
      .join(c1, Seq("prev")).join(followers, Seq("prev"))
      .join(predecessors, Seq("cur"))
      .crossJoin(broadcast(types))
      .select(col("prev"), col("cur"),
        round(log(
          greatest(col("c2").cast(DoubleType) - d, lit(0.0)) / col("c1").cast(DoubleType) +
            d * col("nf").cast(DoubleType) / col("c1").cast(DoubleType) *
              (col("np").cast(DoubleType) / col("tt"))), 9).as("lp"))
    val perBg = bg
      .join(model, Seq("prev", "cur"))
      .select(col(idCol), col("pos"), col("lp"))
    val scored = perBg.groupBy(col(idCol))
      .agg(collect_list(struct(col("pos"), col("lp"))).as("lps"))
      .select(col(idCol),
        aggregate(transform(array_sort(col("lps")), x => x.getField("lp")),
          lit(0.0), (a, x) => a + x).as("s"),
        size(col("lps")).cast(LongType).as("n"))
      .select(col(idCol), col("n"), round(col("s") / col("n"), 6).as("kn_avg"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n"), lit(0L)).as("n_bigrams"), col("kn_avg"))
  }

  /** Okapi BM25 relevance scoring (Robertson–Spärck Jones) of documents
    * against a small query set — the lexical retrieval leg a curation
    * pipeline mines hard negatives and dedups search pools with:
    *
    *   score(q,d) = Σ_{t∈q} idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·len/avgdl)),
    *   idf(t) = ln(1 + (N−df+0.5)/(df+0.5))   (the Lucene form, ≥ 0)
    *
    * over DISTINCT query terms. Shapes: one token explode to (doc, term,
    * tf) + doc lengths (the inverted-index build), df from the tf frame
    * (the t16 recipe), a term-keyed join of the query terms against the
    * index — only documents containing ≥ 1 query term ever score, the
    * inverted-index win over scoring N×Q pairs. Float discipline: tf,
    * df, N, len are exact integers; avgdl is ONE division; each term
    * contribution rounds at 9 dp and the per-(query, doc) sum folds in
    * TERM order (bounded by query length — the t09 fold); the total
    * rounds at 6 dp before any ranking.
    */
  def bm25Scores(docs: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "query_id", qtextCol: String = "qtext"): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("ws"))
    val lens = toks.select(col(idCol), size(col("ws")).cast(LongType).as("len"))
    val tf = toks.select(col(idCol), explode(col("ws")).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      (sum(col("len")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    val qterms = queries
      .select(col(qidCol), explode(array_distinct(tokens(col(qtextCol)))).as("term"))
    val contrib = qterms
      .join(tf, Seq("term"))
      .join(df, Seq("term"))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(stats))
      .select(col(qidCol), col(idCol), col("term"),
        round(
          log(lit(1.0) + (col("n_docs").cast(DoubleType) - col("df").cast(DoubleType) + 0.5) /
            (col("df").cast(DoubleType) + 0.5)) *
          (col("tf").cast(DoubleType) * (k1 + 1.0)) /
            (col("tf").cast(DoubleType) +
              lit(k1) * (lit(1.0 - b) + lit(b) * col("len").cast(DoubleType) / col("avgdl"))),
          9).as("c"))
    contrib.groupBy(col(qidCol), col(idCol))
      .agg(collect_list(struct(col("term"), col("c"))).as("cs"))
      .select(col(qidCol), col(idCol),
        round(aggregate(transform(array_sort(col("cs")), x => x.getField("c")),
          lit(0.0), (a, x) => a + x), 6).as("bm25"))
  }

  /** Retrieval-quality metrics over the [[bm25Scores]] ranking — the
    * ranking-eval family member next to q62's AUC and t27's calibration:
    * per query, nDCG@k (graded), MRR and recall@k (binary at rel ≥ 2).
    * Relevance oracle = the WEAKEST-LINK term frequency: a document's
    * grade is the minimum tf across ALL the query's distinct terms,
    * capped at 3, and 0 when any term is absent — independent of the
    * scorer under eval, and discriminative on a small-vocabulary corpus
    * where mere term COVERAGE saturates (measured: a coverage oracle
    * rated 452/491 candidates relevant and pinned nDCG = MRR = 1.0;
    * min-tf splits the same pool ~260/160/55/15 across grades 0–3).
    * Binary "relevant" = rel ≥ 2: every query term appears at least
    * twice.
    *
    * Float discipline: each DCG gain rounds to 9 dp —
    * (2^rel − 1)/(ln(pos+1)/ln 2) — and folds in rank order (ideal DCG
    * folds the rel-descending prefix by position); nDCG/MRR/recall are
    * single rounded divisions. MRR AND nDCG are 0.0 (not NULL) when no
    * relevant doc exists — the query scored, nothing found (one
    * convention for both, the r13 advice); recall alone stays NULL at
    * n_rel = 0 (a hit fraction of an empty set is undefined, not zero).
    *
    * Scale shape: rides bm25Scores' inverted-index joins (only docs
    * sharing a query term are touched); the per-query metric fold is
    * over one collected candidate list — queries are the small side by
    * construction, candidates bounded by posting-list unions.
    */
  def retrievalMetrics(docs: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, kEval: Int,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "query_id", qtextCol: String = "qtext"): org.apache.spark.sql.DataFrame = {
    val bm25 = bm25Scores(docs, queries, idCol = idCol, textCol = textCol,
      qidCol = qidCol, qtextCol = qtextCol)
    val qterms = queries.select(col(qidCol),
      explode(array_distinct(tokens(col(qtextCol)))).as("term"))
    val nq = qterms.groupBy(col(qidCol)).agg(count(lit(1)).as("nq"))
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val rel = qterms.join(tf, Seq("term")).join(nq, Seq(qidCol))
      .groupBy(col(qidCol), col(idCol))
      .agg(when(count(lit(1)) === max(col("nq")),
        least(min(col("tf")), lit(3L))).otherwise(lit(0L)).as("rel"))
    val wQ = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("bm25").desc, col(idCol).asc)
    val ranked = bm25.join(rel, Seq(qidCol, idCol))
      .withColumn("rnk", row_number().over(wQ).cast(LongType))
    def gain(r: Column, pos: Column): Column =
      round((pow(lit(2.0), r.cast(DoubleType)) - 1.0) /
        (log(pos.cast(DoubleType) + 1.0) / log(lit(2.0))), 9)
    ranked.groupBy(col(qidCol))
      .agg(array_sort(collect_list(struct(col("rnk"), col("rel")))).as("rr"))
      .select(col(qidCol),
        size(col("rr")).cast(LongType).as("n_cand"),
        size(filter(col("rr"), x => x.getField("rel") >= 2)).cast(LongType)
          .as("n_rel"),
        aggregate(filter(col("rr"), x => x.getField("rnk") <= kEval),
          lit(0.0), (a, x) => a + gain(x.getField("rel"), x.getField("rnk")))
          .as("dcg"),
        aggregate(
          zip_with(
            slice(reverse(array_sort(transform(col("rr"),
              x => x.getField("rel")))), 1, kEval),
            sequence(lit(1L), least(size(col("rr")), lit(kEval)).cast("long")),
            (r, pos) => gain(r, pos)),
          lit(0.0), (a, x) => a + x).as("idcg"),
        array_min(transform(filter(col("rr"), x => x.getField("rel") >= 2),
          x => x.getField("rnk"))).as("first_rel"),
        size(filter(col("rr"),
          x => x.getField("rnk") <= kEval && x.getField("rel") >= 2))
          .cast(LongType).as("hits"))
      .select(col(qidCol), col("n_cand"), col("n_rel"),
        round(col("dcg"), 6).as("dcg"),
        round(col("idcg"), 6).as("idcg"),
        // idcg = 0 (scored candidates, none relevant) is 0.0 by the same
        // convention as MRR below — never a NULL-by-0/0 (the r13 advice)
        when(col("idcg") > 0, round(col("dcg") / col("idcg"), 6))
          .otherwise(lit(0.0)).as("ndcg"),
        coalesce(round(lit(1.0) / col("first_rel"), 6), lit(0.0)).as("mrr"),
        when(col("n_rel") > 0,
          round(col("hits").cast(DoubleType) / col("n_rel"), 6)).as("recall"))
  }

  /** Suffix-stripping stemmer — the Porter step-1 family of rules, kept
    * to the deterministic regexp-replace subset both engines replay
    * verbatim (full Porter needs measure counting; this is the
    * Harman-style "weak stemmer" that captures most of the retrieval
    * win): sses→ss, ies→i, trailing s dropped (not after s), then
    * ing/ed stripped when ≥ 3 characters remain. Applied per token as a
    * pure projection; conflation statistics (variants per stem) are the
    * vocabulary-compression receipt an index cares about.
    */
  def stem(word: Column): Column = {
    val s1 = regexp_replace(word, "sses$", "ss")
    val s2 = regexp_replace(s1, "ies$", "i")
    val s3 = regexp_replace(s2, "([^s])s$", "$1")
    val s4 = regexp_replace(s3, "^(.{3,})ing$", "$1")
    regexp_replace(s4, "^(.{3,})ed$", "$1")
  }

  /** Canonical text normalization — the preprocessing pass every other
    * text operator assumes has happened (C4-style): lowercase, strip
    * everything outside [a-z0-9\s] to a space, collapse whitespace, trim.
    * Kept to RE2-safe character classes so the oracle replays it
    * verbatim. Pure per-row projection — no shuffle, scan-parallel.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Per-document top-k keyword extraction by tf-idf — the classic
    * relevance weighting (Salton & Buckley 1988; smooth-idf as in
    * scikit-learn): `score = tf · (ln((1+N)/(1+df)) + 1)`. The curation
    * use next to t06's per-language frequency top-k: t06 says what a
    * LANGUAGE talks about, tf-idf says what a DOCUMENT talks about
    * relative to the corpus — topic tagging / domain-mix measurement
    * over a training corpus.
    *
    * Cross-engine float determinism (the t09 recipe): tf, df, N are
    * exact integers; the one float chain (divide → ln → +1 → ×tf) is
    * written in the SAME op order in both engines and rounded to 9 dp
    * BEFORE ranking; ties rank by term ascending, so top-k is total.
    *
    * Scale shape: one token explode → (doc, term) count (one shuffle on
    * the composite key), df derived FROM the tf frame (second agg keyed
    * by term — never re-reads the corpus), tf⋈df on the Zipf-keyed term
    * (AQE skew-join absorbs stopword heat, as t09), N broadcast as a
    * 1-row scalar, and the final top-k is a window partitioned by
    * doc_id — per-doc state only, no global sort.
    */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val tf = Par.spreadForCpu(docs)
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast(DoubleType).as("n_docs"))
    val scored = tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col(idCol), col("term"),
        round(col("tf").cast(DoubleType) *
          (log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df").cast(DoubleType)))
            + lit(1.0)), 9).as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .where(col("rnk") <= k)
      .select(col(idCol), col("rnk"), col("term"), col("tfidf"))
  }

  /** Within-document repeated-line removal — the CCNet-style paragraph
    * dedup that runs BEFORE cross-document dedup: drop every repeat of a
    * line already seen earlier in the same document (templated pages
    * repeat headers/CTAs dozens of times; cross-doc operators shouldn't
    * pay for them). Keep-first is order-preserving: a line survives iff
    * no EARLIER line equals it — expressed with the index-lambda filter
    * over a materialized line array (`array_position` over the strict
    * prefix), so the whole operator is one per-row HOF chain: no
    * explode, no window, no shuffle. Quadratic in the per-document line
    * count, which is bounded by document length — the same bound d15
    * documents for its per-row interval work.
    *
    * Emits (id, n_lines, n_kept, clean_text) with lines re-joined by
    * `\n`. Blank/whitespace-only lines are dropped outright (not
    * deduped — they carry no content and would bridge distinct repeats).
    */
  def dedupLines(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String = "doc_id"): org.apache.spark.sql.DataFrame =
    docs
      .select(col(idCol),
        filter(transform(split(col(textCol), "\n"), l => trim(l)),
          l => l =!= "").as("lines"))
      .select(col(idCol),
        size(col("lines")).cast(LongType).as("n_lines"),
        filter(col("lines"), (x, i) =>
          array_position(slice(col("lines"), lit(1), i), x) === 0).as("kept"))
      .select(col(idCol), col("n_lines"),
        size(col("kept")).cast(LongType).as("n_kept"),
        array_join(col("kept"), "\n").as("clean_text"))

  /** HTML boilerplate removal — the C4/RefinedWeb-style extraction step
    * between a crawl and every text operator above: strip the head, split
    * the markup into block segments, drop LINK-DENSE segments (nav bars,
    * footers — the segments whose anchor count dominates their token
    * count), and keep the rest as cleaned text.
    *
    * Mechanics, identical in both engines (no lookaround — RE2-safe):
    * `<head>…</head>` removed; a  sentinel injected before each
    * block tag (p/nav/div/h1/footer) then split — RE2 has no lookahead,
    * so the split point is materialized instead; per segment, anchor
    * count = the `"<a "` occurrence count via the length-difference
    * idiom, text = tags → space, whitespace collapsed; keep iff
    * `links·3 ≤ tokens` (an INTEGER predicate — no float threshold on
    * the gate) and the segment has tokens at all. Tokens here are plain
    * whitespace splits of the already-collapsed text — the density
    * denominator needs any consistent proxy, not the full tokenizer.
    *
    * Emits (id, n_segments, n_kept, clean_text, clean_tokens). Pure
    * per-row projection: no join, no shuffle, no explode — segments live
    * and die inside one row's HOF chain.
    */
  def boilerplateStrip(docs: org.apache.spark.sql.DataFrame, htmlCol: String,
      idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    // (?s): real heads span lines; [^>]* : real head tags carry attrs
    val pre = regexp_replace(col(htmlCol), "(?s)<head\\b[^>]*>.*?</head>", "")
    val segs = split(
      regexp_replace(pre, "<(p|nav|div|h1|footer)\\b", "\u0001<$1"), "\u0001")
    def toks(t: Column): Column =
      when(t === "", lit(0)).otherwise(size(split(t, " ")))
    docs.select(col(idCol), segs.as("segs"))
      .select(col(idCol), transform(col("segs"), s => {
        val txt = trim(regexp_replace(regexp_replace(s, "<[^>]*>", " "), "\\s+", " "))
        val links = ((length(s) - length(regexp_replace(s, "<a ", ""))) / lit(3))
          .cast(LongType)
        struct(txt.as("txt"), links.as("links"))
      }).as("ss"))
      .select(col(idCol),
        size(col("ss")).cast(LongType).as("n_segments"),
        filter(col("ss"), x =>
          x.getField("links") * 3 <= toks(x.getField("txt")) &&
            toks(x.getField("txt")) > 0).as("kept"))
      .select(col(idCol), col("n_segments"),
        size(col("kept")).cast(LongType).as("n_kept"),
        array_join(transform(col("kept"), x => x.getField("txt")), " ").as("clean_text"))
      .withColumn("clean_tokens",
        when(col("clean_text") === "", lit(0L))
          .otherwise(size(split(col("clean_text"), " ")).cast(LongType)))
  }

  /** Sentence count: runs of sentence-final punctuation (`[.!?]+`), with
    * an unpunctuated document counting as ONE sentence (headlines, list
    * fragments — the Flesch denominator must never be zero).
    */
  def sentenceCount(text: Column): Column =
    greatest(lit(1L), size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast(LongType))

  /** Heuristic syllable count of one (lowercase) word: vowel-GROUP count
    * (`[aeiouy]+` runs), floored at 1 — all-consonant tokens ("123",
    * "xyz") still syllabify. The standard dictionary-free approximation
    * (off by silent-e and diphthong edge cases, but monotone in real
    * syllable count — exactly what a corpus-level readability GATE needs,
    * and exactly reproducible cross-engine, unlike dictionary lookups).
    */
  def syllables(word: Column): Column =
    greatest(lit(1L), size(regexp_extract_all(word, lit("[aeiouy]+"), lit(0))).cast(LongType))

  /** Flesch Reading Ease over materialized tokens:
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`.
    * Both ratios are single double divisions of exact integers and the
    * linear combination rounds once at 6 dp — the one-rounding discipline
    * every scored operator here uses. NULL for token-less documents (no
    * words → no readability, not a score of 206.835·…).
    *
    * A per-row projection (one pass over the token array) — no shuffle,
    * the shape that survives a 100 TB scan.
    */
  def fleschFromCounts(nWords: Column, nSentences: Column, nSyllables: Column): Column =
    when(nWords === 0, lit(null).cast(DoubleType))
      .otherwise(round(
        lit(206.835) -
          lit(1.015) * (nWords.cast(DoubleType) / nSentences.cast(DoubleType)) -
          lit(84.6) * (nSyllables.cast(DoubleType) / nWords.cast(DoubleType)), 6))

  /** CORPUS-level repeated-line removal (the CCNet/C4 boilerplate pass
    * [[dedupLines]] does NOT do — that one is within-document): a line
    * whose normalized fingerprint appears in ≥ `minDf` DISTINCT documents
    * is boilerplate (nav bars, cookie banners, license footers) and is
    * dropped from every document; document order is preserved through
    * positional reassembly. Blank lines drop unconditionally.
    *
    * Scale: one explode to (doc, pos, line), one fingerprint-keyed
    * DF aggregation (`count_distinct(doc)` — at 100 TB swap for an
    * approx sketch or a two-level exact count, the q30 pattern), one
    * anti join on the fingerprint, one per-doc reassembly whose buffer
    * is bounded by document length (the d15 trade).
    */
  def stripCrossDocLines(docs: org.apache.spark.sql.DataFrame, textCol: String,
      minDf: Long, idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n")))
      .toDF(idCol, "pos", "line")
      .where(trim(col("line")) =!= "")
      .withColumn("fp", md5(regexp_replace(trim(lower(col("line"))), "\\s+", " ")))
    val boiler = lines.groupBy(col("fp"))
      .agg(countDistinct(col(idCol)).as("df"))
      .where(col("df") >= minDf)
      .select(col("fp"))
    val kept = lines.join(boiler, Seq("fp"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), "\n").as("clean_text"))
    val totals = docs.select(col(idCol),
      size(filter(split(col(textCol), "\n"), l => trim(l) =!= ""))
        .cast(LongType).as("n_lines"))
    totals.join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  def fleschReadingEaseFromTokens(text: Column, toks: Column): Column =
    fleschFromCounts(size(toks).cast(LongType), sentenceCount(text),
      aggregate(toks, lit(0L), (acc, w) => acc + syllables(w)))
  def fleschReadingEase(text: Column): Column =
    fleschReadingEaseFromTokens(text, tokens(text))

  /** BLEU-style clipped bigram-precision contamination score against a
    * benchmark set — the GRADED complement of d13's binary shingle-hit
    * flag (the modified n-gram precision of Papineni et al. 2002,
    * applied to eval-set decontamination): per candidate doc,
    * overlap = Σ_g min(count_doc(g), clip(g)) / n_bigrams(doc), with
    * clip(g) = the MAX count of bigram g within any single benchmark
    * doc (BLEU's per-reference clipping — a doc can't farm credit by
    * repeating one shared bigram). A doc quoting a benchmark passage
    * scores near 1; one sharing only ubiquitous word pairs scores low,
    * so a pipeline tunes a removal threshold instead of a hard gate.
    *
    * Scale: candidate bigram counts are ONE (doc, gram) shuffle; the
    * clip table is benchmark-sized (eval sets are tiny by definition)
    * and BROADCAST into the match join — no corpus×corpus term. All
    * counts are exact integers; the only float is the final ratio
    * (round 9), so the twin needs no fold discipline.
    */
  def ngramContamination(docs: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    def bigramCounts(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      Par.spreadForCpu(df)
        .select(col(idCol), tokens(col(textCol)).as("ws"))
        .where(size(col("ws")) >= 2)
        .select(col(idCol),
          explode(transform(sequence(lit(0), size(col("ws")) - 2),
            i => concat(element_at(col("ws"), i + 1), lit(" "),
              element_at(col("ws"), i + 2)))).as("g"))
        .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
    // totals and clipped matches in ONE pass over the bigram counts
    // (left join against the broadcast clip table, both sums in the
    // same aggregate) — the round-12 version persisted docBg for two
    // separate consumers and leaked the cache into the session; one
    // consumer needs no cache at all. The when-guard matters: Spark's
    // least() SKIPS nulls, so an unmatched gram would otherwise
    // contribute c instead of 0.
    val clip = bigramCounts(bench).groupBy(col("g")).agg(max(col("c")).as("clip"))
    val agg = bigramCounts(docs).join(broadcast(clip), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("nb"),
        sum(when(col("clip").isNotNull, least(col("c"), col("clip")))
          .otherwise(lit(0L))).as("cm"))
    val overlap = when(coalesce(col("nb"), lit(0L)) === 0,
        lit(null).cast(DoubleType))
      .otherwise(round(coalesce(col("cm"), lit(0L)).cast(DoubleType) /
        col("nb").cast(DoubleType), 9))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("cm"), lit(0L)).as("clipped_matches"),
        overlap.as("overlap"),
        coalesce(overlap >= threshold, lit(false)).as("contaminated"))
  }

  /** Data selection via importance resampling (the DSIR recipe, Xie et
    * al. 2023): score every document by how much more likely its tokens
    * are under a TARGET distribution (the data you want more of —
    * `targetPred` rows, e.g. a trusted-domain slice) than under the raw
    * corpus distribution, then keep each language's top slice. Per-token
    * importance log-weight with add-1 smoothing over the shared raw
    * vocabulary `V`:
    *   w(t) = ln((c_tgt(t)+1)/(N_tgt+V)) − ln((c_raw(t)+1)/(N_raw+V))
    * and a document scores the length-normalized sum avg w(t). The two
    * unigram models live in ONE frequency table (target count is a
    * conditional sum on the same groupBy — one aggregation, one
    * token-join, t09's exact scale shape: the join key distribution is
    * Zipf, AQE skew-join splits the stopword keys). Selection is the
    * q37 stratum discipline — per-language (score desc, id) rank with an
    * integer-arithmetic keep gate `rank · denom ≤ n_lang` (exact, no
    * float threshold), never a global sort.
    *
    * Cross-engine determinism: each ln() is rounded to 9 dp before the
    * subtraction (the t09 libm convention), per-doc folds run in token-
    * position order, the average display-rounds at 6. Token-less docs
    * carry a null score and are never selected.
    *
    * Output: (doc_id, lang, n_tokens, logw_avg, n_lang, lang_rank,
    * selected) — rank and stratum size ride along so a selection flip
    * localizes to the document that moved.
    */
  def dsirSelect(docs: org.apache.spark.sql.DataFrame, targetPred: Column,
      keepNum: Int, keepDenom: Int, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang"): org.apache.spark.sql.DataFrame = {
    require(keepNum >= 1 && keepDenom >= keepNum,
      s"keep fraction must be in (0,1]: $keepNum/$keepDenom")
    val toks = Par.spreadForCpu(docs)
      .select(col(idCol), targetPred.as("is_tgt"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
    val freqs = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("ct"))
    val totals = freqs.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"),
      count(lit(1)).as("v"))
    val weights = freqs.crossJoin(broadcast(totals))
      .select(col("token"),
        (round(log((col("ct") + 1).cast(DoubleType) /
            (col("nt") + col("v")).cast(DoubleType)), 9) -
          round(log((col("cr") + 1).cast(DoubleType) /
            (col("nr") + col("v")).cast(DoubleType)), 9)).as("w"))
    val scored = toks.join(weights, Seq("token"))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("pos"), col("w"))).as("ws"))
      .select(col(idCol),
        aggregate(transform(array_sort(col("ws")), x => x.getField("w")),
          lit(0.0), (a, x) => a + x).as("s"),
        size(col("ws")).cast(LongType).as("n"))
      // + 0.0 normalizes IEEE negative zero: a doc whose weights cancel
      // to a tiny negative sum rounds to -0.0 in one engine and 0.0 in
      // the other (caught by the three-scale gate at sf0.1 row 1275)
      .select(col(idCol), col("n"),
        (round(col("s") / col("n"), 6) + lit(0.0)).as("logw_avg"))
    val base = docs.select(col(idCol), col(langCol).as("lang"))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), col("lang"),
        coalesce(col("n"), lit(0L)).as("n_tokens"), col("logw_avg"))
    val lw = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    val rw = lw.orderBy(col("logw_avg").desc_nulls_last, col(idCol).asc)
    base
      .withColumn("n_lang", count(lit(1)).over(lw))
      .withColumn("lang_rank", row_number().over(rw).cast(LongType))
      .withColumn("selected",
        col("logw_avg").isNotNull &&
          col("lang_rank") * keepDenom <= col("n_lang") * keepNum)
  }

  /** Span-corruption mask plan (t36) — the denoising-objective planner a
    * T5-style training pipeline runs between q39's packing and the
    * trainer: per document, which token spans get masked. The canonical
    * recipe samples; this is the DETERMINISTIC, oracle-replayable
    * variant: one `spanLen`-token span per `everyN`-token segment
    * (n_spans = n div everyN ⇒ mask ratio ≈ spanLen/everyN), each span's
    * start drawn inside its own segment via the portable md5-u32 of
    * (doc_id | span index) — the d24 conv recipe — so spans are
    * NON-OVERLAPPING BY CONSTRUCTION (one per disjoint segment, start ≤
    * segLen − spanLen), identical across engines, and stable under any
    * partitioning. Output per doc: token count, span count, masked-token
    * count, mask ratio, and the ordered "start:len" plan string.
    *
    * Scale shape: one map-only projection — tokenize, integer plan
    * arithmetic, a bounded per-row transform over n_spans elements; no
    * shuffle anywhere before the caller's ordering.
    */
  def spanCorruptionPlan(docs: org.apache.spark.sql.DataFrame,
      spanLen: Int = 3, everyN: Int = 20, idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(spanLen >= 1 && everyN >= spanLen,
      s"need everyN >= spanLen >= 1, got spanLen=$spanLen everyN=$everyN")
    val base = docs
      .select(col(idCol), tokenCountFromTokens(tokens(col(textCol))).as("n"))
      .select(col(idCol), col("n"),
        expr(s"n div $everyN").cast("long").as("n_spans"))
      .select(col(idCol), col("n"), col("n_spans"),
        when(col("n_spans") > 0, expr("n div n_spans")).as("seg"))
    base.select(col(idCol), col("n").as("n_tokens"), col("n_spans"),
        (col("n_spans") * spanLen).as("n_masked"),
        when(col("n") > 0,
          round(col("n_spans").cast("double") * spanLen / col("n"), 6))
          .otherwise(lit(0.0)).as("mask_ratio"),
        when(col("n_spans") > 0,
          array_join(transform(sequence(lit(0L), col("n_spans") - 1), i => {
            // md5-u32(doc_id|i) mod the segment's legal start slots —
            // conv's decimal-string u32 fits a BIGINT, so pmod is exact
            val u32 = conv(substring(md5(concat(col(idCol).cast("string"),
              lit("|"), i.cast("string"))), 1, 8), 16, 10).cast("long")
            val start = i * col("seg") +
              pmod(u32, col("seg") - lit(spanLen - 1))
            concat(start.cast("string"), lit(s":$spanLen"))
          }), ","))
          .otherwise(lit("")).as("spans_str"))
  }
}
