package graft

import org.apache.spark.sql.functions._

import graft.analytics.TextAnalysis

/** Text-analysis operator goldens: tokenization, counts, quality features,
  * language ID, and the md5 content fingerprint (checked against the JVM's
  * own MD5).
  */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](df: org.apache.spark.sql.DataFrame): T =
    df.collect().head.getAs[T](0)

  test("tokens: lowercased, whitespace-collapsed, empties dropped") {
    val r = Seq("  The  QUICK\tbrown\n fox ").toDF("t")
      .select(TextAnalysis.tokens(col("t"))).collect().head
    assert(r.getSeq[String](0) === Seq("the", "quick", "brown", "fox"))
  }

  test("tokenCount and bpe estimate") {
    val df = Seq("alpha be c").toDF("t").select(
      TextAnalysis.tokenCount(col("t")).as("n"),
      TextAnalysis.bpeTokenEstimate(col("t")).as("bpe"))
    val r = df.collect().head
    assert(r.getLong(0) === 3L)
    assert(r.getLong(1) === 2L + 1L + 1L) // ceil(5/4)+ceil(2/4)+ceil(1/4)
  }

  test("repetition: raw n-gram multiplicity counted, short docs zero") {
    val df = Seq(
      (1L, "a b a b a b"), // 4 raw 3-grams ("a b a","b a b")×2 → 2 distinct → 0.5
      (2L, "one two"),     // shorter than n → 0 grams → 0.0 by definition
      (3L, "x y z w")      // 2 grams, both distinct → 0.0
    ).toDF("doc_id", "text")
    val r = df
      .select(col("doc_id"),
        TextAnalysis.ngramsFromTokens(TextAnalysis.tokens(col("text")), 3).as("g"))
      .select(col("doc_id"), size(col("g")).as("n"),
        TextAnalysis.repetitionFraction(
          size(col("g")), size(array_distinct(col("g")))).as("f"))
      .orderBy(col("doc_id")).collect()
    assert(r(0).getInt(1) === 4 && r(0).getDouble(2) === 0.5)
    assert(r(1).getInt(1) === 0 && r(1).getDouble(2) === 0.0)
    assert(r(2).getInt(1) === 2 && r(2).getDouble(2) === 0.0)
  }

  test("punctRatio and avgWordLen goldens") {
    val r = Seq("ab, cd!").toDF("t").select(
      TextAnalysis.punctRatio(col("t")).as("p"),
      TextAnalysis.avgWordLen(col("t")).as("w")).collect().head
    assert(r.getDouble(0) === 2.0 / 7.0) // ',' and '!'
    assert(r.getDouble(1) === 3.0) // tokens "ab," "cd!" → (3+3)/2
  }

  test("langId: stopword voting with priority tie-break and und fallback") {
    val cases = Seq(
      "the cat is on the mat" -> "en",
      "el gato que duerme en la casa" -> "es",
      "der hund und die katze ist da" -> "de",
      "xyzzy plugh 12345" -> "und")
    val got = cases.map(_._1).toDF("t")
      .select(TextAnalysis.langId(col("t")).as("l"))
      .collect().map(_.getString(0)).toSeq
    assert(got === cases.map(_._2))
  }

  test("contentFingerprint equals JVM md5 of normalized text") {
    val text = "The  Quick   Brown Fox"
    val got = one[String](Seq(text).toDF("t")
      .select(TextAnalysis.contentFingerprint(col("t"))))
    val normalized = "the quick brown fox"
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(normalized.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got === expected)
  }

  test("pii scrub: all three classes replaced, counts from scrubbed text") {
    import graft.analytics.TextAnalysis
    val text = "mail a@b.com and c.d@e.org, host 10.1.2.3, ssn 123-45-6789 end"
    val r = Seq(text).toDF("t")
      .select(TextAnalysis.scrubPii(col("t")).as("scrubbed"))
      .select(Seq(col("scrubbed")) ++
        TextAnalysis.piiCounts(col("scrubbed")).map { case (n, c) => c.as(n) }: _*)
      .collect().head
    assert(r.getString(0) === "mail <EMAIL> and <EMAIL>, host <IP>, ssn <SSN> end")
    assert((r.getInt(1), r.getInt(2), r.getInt(3)) === ((2, 1, 1)))
  }

  test("native rolling_hash64 expression ≡ declarative HOF aggregate") {
    assert(spark.catalog.functionExists("rolling_hash64"))
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
    val native = real.select(col("doc_id"),
        call_function("rolling_hash64", col("ws")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val df = real.select(col("doc_id"),
      TextAnalysis.rollingHashFromTokens(col("ws")).as("fp"))
    assert(!df.queryExecution.optimizedPlan.toString.contains("rolling_hash64"),
      "the declarative side must run the declarative fold")
    val declarative = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.size === declarative.size)
    assert(native === declarative)
    // edge parity: empty array → 0; null element → seed contribution
    import spark.implicits._
    val edge = Seq((0L, Seq.empty[String]), (1L, Seq[String]("a", null, "b")))
      .toDF("id", "ws")
    val n = edge.select(col("id"), call_function("rolling_hash64", col("ws")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d = edge.select(col("id"), TextAnalysis.rollingHashFromTokens(col("ws")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(n === d)
    assert(n(0L) === 0L)
  }

  test("native rolling_hash64_md5 ≡ declarative portable fold (t07)") {
    assert(spark.catalog.functionExists("rolling_hash64_md5"))
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
    val native = real.select(col("doc_id"),
        call_function("rolling_hash64_md5", col("ws")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val declarative = real.select(col("doc_id"),
        TextAnalysis.rollingHashPortableFromTokens(col("ws")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.size === declarative.size)
    assert(native === declarative)
    // edge parity: empty array → 0; a null token POISONS the fold to NULL
    // (the md5 family's convention — md5Low64(null) is null and null + x
    // stays null — unlike the xx twin's null-as-seed)
    import spark.implicits._
    val edge = Seq((0L, Seq.empty[String]), (1L, Seq[String]("a", null, "b")))
      .toDF("id", "ws")
    def fpOf(c: org.apache.spark.sql.Column) =
      edge.select(col("id"), c.as("fp")).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)))).toMap
    val n = fpOf(call_function("rolling_hash64_md5", col("ws")))
    val d = fpOf(TextAnalysis.rollingHashPortableFromTokens(col("ws")))
    assert(n === d)
    assert(n(0L) === 0L)
    assert(n(1L) === null)
  }

  test("qualityScore composition matches its published formula") {
    val text = "the quick brown fox is a good dog"
    val r = Seq(text).toDF("t").select(
      TextAnalysis.qualityScore(col("t")).as("q"),
      TextAnalysis.stopwordRatio(col("t")).as("s"),
      TextAnalysis.punctRatio(col("t")).as("p")).collect().head
    val expected = 0.4 * math.min(text.length / 500.0, 1.0) +
      0.4 * r.getDouble(1) + 0.2 * (1.0 - r.getDouble(2))
    assert(r.getDouble(0) === expected)
  }

  test("unigram LM score: common-token docs outscore rare-token docs; empty doc is null") {
    // corpus: "the" appears 4x, every other token once (total 8) —
    // doc 0 averages ln(4/8); doc 1 averages over four ln(1/8) tokens;
    // doc 2 has no tokens at all
    val docs = Seq(
      (0L, "the the the the"), (1L, "zyx wvu tsr qpo"), (2L, "  ")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProbScores(docs).orderBy("doc_id").collect()
    val lp = (c: Long) =>
      BigDecimal(math.log(c / 8.0)).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0).getLong(1) === 4L)
    assert(out(0).getDouble(2) ===
      BigDecimal(lp(4L)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(1).getDouble(2) ===
      BigDecimal(lp(1L)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(0).getDouble(2) > out(1).getDouble(2),
      "common-token doc must outscore rare-token doc")
    assert(out(2).getLong(1) === 0L && out(2).isNullAt(2))
  }

  test("bigram LM score (t10): word order matters, golden smoothed values; sub-bigram docs null") {
    // corpus: doc 0 "a b a b a b" and doc 1 "b a b a" share a vocabulary
    // but reversed order; V = {a, b, z} = 3. Bigram rows: doc 0 → ab, ba,
    // ab, ba, ab; doc 1 → ba, ab, ba. Totals c2(ab)=4, c2(ba)=4,
    // c1(a)=4, c1(b)=4 — symmetric, so lp(ab)=lp(ba)=ln(4.5/5.5) and both
    // docs score identically (the golden); doc 2 has one token (no
    // bigrams), doc 3 none.
    val docs = Seq(
      (0L, "a b a b a b"), (1L, "b a b a"), (2L, "z"), (3L, " ")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProbScores(docs).orderBy("doc_id").collect()
    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lp = r(math.log(4.5 / 5.5), 9)
    assert(out(0).getLong(1) === 5L)
    assert(out(0).getDouble(2) === r(lp, 6))
    assert(out(1).getLong(1) === 3L)
    assert(out(1).getDouble(2) === r(lp, 6))
    assert(out(2).getLong(1) === 0L && out(2).isNullAt(2))
    assert(out(3).getLong(1) === 0L && out(3).isNullAt(2))
    // order-sensitivity: "a b" occurs 3× (z breaks the back-edge so "b a"
    // occurs only in doc 1, once) — the reversed doc must score LOWER
    val docs2 = Seq(
      (0L, "a b z a b z a b"), (1L, "b a")
    ).toDF("doc_id", "text")
    val out2 = TextAnalysis.bigramLogProbScores(docs2).orderBy("doc_id").collect()
    assert(out2(0).getDouble(2) > out2(1).getDouble(2),
      "the dominant word order must outscore its reversal")
  }

  test("classifier: per-row, deterministic, empty doc null score keep=false") {
    import graft.analytics.QualityClassifier
    val df = Seq((1L, "the table scan"), (2L, ""), (3L, "x")).toDF("doc_id", "text")
    val r = QualityClassifier.score(df).orderBy(col("doc_id")).collect()
    // n_feats = tokens + bigrams
    assert(r(0).getLong(1) === 3L + 2L)
    assert(r(1).getLong(1) === 0L && r(1).isNullAt(2) && !r(1).getBoolean(3))
    assert(r(2).getLong(1) === 1L)
    // deterministic across runs
    val r2 = QualityClassifier.score(df).orderBy(col("doc_id")).collect()
    assert(r.map(_.getAs[Any]("score")).toSeq === r2.map(_.getAs[Any]("score")).toSeq)
    // score within (0,1) and keep matches the rounded threshold
    r.filter(!_.isNullAt(2)).foreach { row =>
      val s = row.getDouble(2)
      assert(s > 0.0 && s < 1.0)
      assert(row.getBoolean(3) === (s >= 0.5))
    }
  }

  test("boilerplate strip (t14): link-dense segments drop, content links survive, " +
      "empty and all-boilerplate docs degrade cleanly") {
    import spark.implicits._
    val docs = Seq(
      // nav + content + footer: only the paragraph survives
      (1L, "<html><head><title>x</title></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/b\">Blog</a></nav>" +
        "<p>real content with many words here to keep density low" +
        " <a href=\"/ref\">see docs</a></p>" +
        "<div class=\"footer\"><a href=\"/t\">Terms</a></div></body></html>"),
      // all boilerplate: nothing survives
      (2L, "<html><body><nav><a href=\"/\">Home</a></nav></body></html>"),
      // no markup at all: one segment, all kept
      (3L, "plain text no tags"),
      // h1 is its own segment and is kept (no links)
      (4L, "<h1>Title Words</h1><p>body text</p>")
    ).toDF("doc_id", "html")
    val out = graft.analytics.TextAnalysis.boilerplateStrip(docs, "html")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_segments"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_text"), r.getAs[Long]("clean_tokens")))).toMap
    assert(out(1L)._2 === 1)
    assert(out(1L)._3 === "real content with many words here to keep density low see docs")
    assert(out(2L) === ((2L, 0L, "", 0L))) // shell + nav, both dropped
    assert(out(3L) === ((1L, 1L, "plain text no tags", 4L)))
    assert(out(4L)._3 === "Title Words body text")
    // realistic head: newlines inside, attributes on the tag, style text
    // that must NOT leak into clean_text ((?s) + <head\b[^>]*>)
    val realHead = Seq((5L,
      "<html><head lang=\"en\">\n<title>Leak</title>\n" +
        "<style>body { color: red }</style>\n</head>" +
        "<p>actual words</p></html>")).toDF("doc_id", "html")
    val r = graft.analytics.TextAnalysis.boilerplateStrip(realHead, "html")
      .collect().head
    assert(r.getAs[String]("clean_text") === "actual words",
      s"head content leaked: '${r.getAs[String]("clean_text")}'")
  }

  test("t23 stemmer: rule goldens incl. guards and conflation") {
    import graft.analytics.TextAnalysis
    val cases = Seq(
      "glasses" -> "glass",   // sses→ss
      "ponies" -> "poni",     // ies→i
      "cats" -> "cat",        // trailing s
      "glass" -> "glass",     // no strip after s
      "running" -> "runn",    // ing with ≥3 remaining
      "sing" -> "sing",       // guard: only 1 char would remain
      "batted" -> "batt",     // ed with ≥3 remaining
      "red" -> "red",         // guard
      "joins" -> "join")
    val got = cases.map(_._1).toDF("w")
      .select(TextAnalysis.stem(col("w"))).collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), s"got $got")
    // conflation: variants of one stem collapse into one family
    val fam = Seq("join", "joins", "joining", "joined").toDF("w")
      .select(TextAnalysis.stem(col("w")).as("s"))
      .groupBy("s").count().collect()
    assert(fam.length == 1 && fam.head.getLong(1) == 4L)
  }

  test("t22 BM25: idf ordering, tf saturation, and length normalization") {
    import graft.analytics.TextAnalysis
    // 'rare' appears in 1 doc, 'common' in 4; fillers keep lengths equal
    val docs = Seq(
      (1L, "rare w1 w2 w3"),
      (2L, "common x1 x2 x3"),
      (3L, "common y1 y2 y3"),
      (4L, "common z1 z2 z3"),
      (5L, "common common common common"), // high tf, same length
      (6L, "common q1 q2 q3 q4 q5 q6 q7")) // same tf=1, longer doc
      .toDF("doc_id", "text")
    val queries = Seq((100L, "rare common")).toDF("query_id", "qtext")
    val got = TextAnalysis.bm25Scores(docs, queries)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    // idf: the rare-term doc must beat any single-occurrence common doc
    assert(got(1L) > got(2L), s"rare term must outscore common: $got")
    // saturation: 4× tf is worth far less than 4× the score
    assert(got(5L) > got(2L) && got(5L) < 4 * got(2L),
      s"tf must saturate: ${got(5L)} vs ${got(2L)}")
    // length normalization: same tf, longer doc scores lower
    assert(got(6L) < got(2L), s"longer doc must score lower: $got")
  }

  test("t21: Zipf slope matches a driver-side OLS replay and is negative on real text") {
    val out = SparkEntry.queries("t21_zipf")(spark, "/root/testdata/sf0.001")
      .collect().head
    val n = out.getLong(0).toInt
    assert(n > 10, s"need a non-trivial vocabulary, got $n")
    val slope = out.getDouble(1)
    assert(slope < 0, s"rank-frequency slope must be negative: $slope")
    // driver replay from the same top-100
    val freqs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(graft.analytics.TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("t")).limit(100)
      .collect().map(_.getLong(1))
    assert(freqs.length == n)
    val xs = freqs.indices.map(i => math.log(i + 1.0))
    val ys = freqs.map(f => math.log(f.toDouble))
    val (sx, sy) = (xs.foldLeft(0.0)(_ + _), ys.foldLeft(0.0)(_ + _))
    val sxy = xs.zip(ys).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
    val sxx = xs.foldLeft(0.0)((a, x) => a + x * x)
    val exp = BigDecimal((n * sxy - sx * sy) / (n * sxx - sx * sx))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(slope == exp, s"$slope vs $exp")
  }

  test("t20: Kneser–Ney sums to 1 per context and prefers versatile continuations") {
    import graft.analytics.TextAnalysis
    val docs = Seq(
      (1L, "a day"), (2L, "a francisco"),
      (3L, "san francisco"), (4L, "san francisco"), (5L, "san francisco"),
      (6L, "san francisco"), (7L, "san francisco"), (8L, "san francisco"),
      (9L, "nice day"), (10L, "good day"), (11L, "every day"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.kneserNeyBigramScores(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the KN signature: "francisco" has the HIGHER raw count (7 > 4) but
    // follows only one context; "day" follows four. From the shared
    // context "a", the versatile continuation must score higher.
    assert(got(1L) > got(2L),
      s"KN must prefer 'a day' over 'a francisco': $got")
    // per-context probabilities over the cur-vocabulary sum to exactly 1:
    // Σ max(c−D,0)/c1 + λ·ΣPcont = (c1 − D·nf)/c1 + D·nf/c1. Recompute
    // driver-side from the same counts for context "a".
    val bigrams = Seq("a" -> "day", "a" -> "francisco", "san" -> "francisco",
      "nice" -> "day", "good" -> "day", "every" -> "day") // distinct types
    val c2 = Map(("a", "day") -> 1.0, ("a", "francisco") -> 1.0,
      ("san", "francisco") -> 6.0, ("nice", "day") -> 1.0,
      ("good", "day") -> 1.0, ("every", "day") -> 1.0)
    val tt = bigrams.size.toDouble
    val np = bigrams.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size.toDouble).toMap
    val curVocab = np.keys.toSeq
    val d = 0.75
    def p(w1: String, w2: String): Double = {
      val c1 = c2.collect { case ((a, _), n) if a == w1 => n }.sum
      val nf = c2.keys.count(_._1 == w1).toDouble
      math.max(c2.getOrElse((w1, w2), 0.0) - d, 0.0) / c1 +
        d * nf / c1 * (np.getOrElse(w2, 0.0) / tt)
    }
    Seq("a", "san", "nice").foreach { ctx =>
      val mass = curVocab.map(w2 => p(ctx, w2)).sum
      assert(math.abs(mass - 1.0) < 1e-12, s"context '$ctx' mass $mass")
    }
  }

  test("d25: cross-doc boilerplate lines drop everywhere; unique lines survive in order") {
    import graft.analytics.TextAnalysis
    val docs = Seq(
      (1L, "BANNER\nalpha one\nbeta two\nFOOTER"),
      (2L, "BANNER\ngamma three\nFOOTER"),
      (3L, "BANNER\ndelta four\nFOOTER"),
      (4L, "BANNER\nFOOTER"), // nothing but boilerplate
      (5L, "solo unique document")).toDF("doc_id", "text")
    val got = TextAnalysis.stripCrossDocLines(docs, "text", minDf = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == (4L, 2L, "alpha one\nbeta two"), "order must survive")
    assert(got(2L) == (3L, 1L, "gamma three"))
    assert(got(4L) == (2L, 0L, ""), "all-boilerplate docs empty out, not vanish")
    assert(got(5L) == (1L, 1L, "solo unique document"))
    // normalization: case/whitespace variants of the banner still collapse
    val varied = Seq((1L, "The  Banner"), (2L, "the banner"), (3L, "THE BANNER\nkeep me"))
      .toDF("doc_id", "text")
    val v = TextAnalysis.stripCrossDocLines(varied, "text", minDf = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(v == Map(1L -> "", 2L -> "", 3L -> "keep me"))
  }

  test("t18: syllable groups, sentence floor, and the Flesch formula on known text") {
    import graft.analytics.TextAnalysis
    val df = Seq(
      (1L, "The cat sat."),           // 3 words, 1 sentence, 3 syllables
      (2L, "no punctuation here"),    // floor: 1 sentence
      (3L, "123 xyz!"),               // vowel-less tokens: 1 syllable each
      (4L, "   ")                     // token-less: no score
    ).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), TextAnalysis.tokens(col("text")).as("ws"))
    val got = df.select(col("doc_id"),
        TextAnalysis.sentenceCount(col("text")).as("s"),
        aggregate(col("ws"), lit(0L),
          (a, w) => a + TextAnalysis.syllables(w)).as("syl"),
        TextAnalysis.fleschReadingEaseFromTokens(col("text"), col("ws")).as("f"))
      .orderBy("doc_id").collect()
    assert(got(0).getLong(1) == 1L && got(0).getLong(2) == 3L)
    // 206.835 − 1.015·(3/1) − 84.6·(3/3) = 119.19
    assert(got(0).getDouble(3) == 119.19)
    assert(got(1).getLong(1) == 1L, "unpunctuated text is one sentence")
    assert(got(2).getLong(2) == 2L, "vowel-less tokens floor at 1 syllable each")
    assert(got(3).isNullAt(3), "token-less documents score NULL")
  }

  test("t25 PMI: hand-computed collocation scores; exclusive pair tops the list") {
    // corpus bigrams: (aa,bb) x4 exclusive; (cc,dd)/(cc,ee)/(ff,dd)/(ff,ee)
    // x2 each (a 2x2 independence block). Nb = 12.
    // PMI(aa,bb) = ln(4*12/(4*4)) = ln 3; PMI(cc,dd) = ln(2*12/(4*4)) = ln 1.5
    val docs = (Seq.fill(4)("aa bb") ++ Seq.fill(2)("cc dd") ++
      Seq.fill(2)("cc ee") ++ Seq.fill(2)("ff dd") ++ Seq.fill(2)("ff ee"))
      .toDF("text")
    val out = TextAnalysis.pmiBigrams(docs, minCount = 2L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.head._1 == "aa" && out.head._2 == "bb" && out.head._3 == 4L,
      s"the exclusive pair must top the list: ${out.toSeq}")
    val r9 = (x: Double) => BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.head._4 == r9(math.log(3.0)), s"${out.head._4} vs ln 3")
    val cd = out.find(p => p._1 == "cc" && p._2 == "dd").get
    assert(cd._4 == r9(math.log(1.5)), s"${cd._4} vs ln 1.5")
    assert(out.forall(_._4 <= out.head._4), "total order by pmi desc")
  }

  test("t27 langIdWithConfidence: hand-computed smoothed confidence") {
    val df = Seq((1L, "the the of"),    // 3 en markers → 3/(3+2)
      (2L, "el la de"),                  // es 3, fr 2 (la, de shared) → 3/(5+2)
      (3L, "zzz qqq")                    // no markers → und, null conf
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), graft.analytics.TextAnalysis
        .langIdWithConfidence(graft.analytics.TextAnalysis.tokens(col("text"))).as("pc"))
      .select(col("doc_id"), col("pc.pred"), col("pc.conf"))
      .orderBy("doc_id").collect()
    assert(got(0).getString(1) == "en" && got(0).getDouble(2) == 0.6)
    assert(got(1).getString(1) == "es" && got(1).getDouble(2) == 0.428571,
      s"shared es/fr markers must dilute confidence: ${got(1)}")
    assert(got(2).getString(1) == "und" && got(2).isNullAt(2),
      "no evidence → no calibration point")
  }

  test("t26 ngramContamination: hand-computed clipped precision") {
    val docs = Seq(
      (0L, "the cat sat on the mat"),       // the benchmark doc itself
      (1L, "the cat sat on the mat"),       // verbatim copy → 1.0
      (2L, "the cat the cat the cat"),      // repeats ONE shared bigram
      (3L, "dogs bark loudly"),             // disjoint → 0.0
      (4L, "hello")                         // <2 tokens → null score
    ).toDF("doc_id", "text")
    val bench = docs.where(col("doc_id") === 0)
    val got = graft.analytics.TextAnalysis
      .ngramContamination(docs, bench, threshold = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))
    assert(got(0) == ((0L, 5L, 5L, Some(1.0), true)))
    assert(got(1) == ((1L, 5L, 5L, Some(1.0), true)))
    // "the cat"×3 clips to the benchmark's single occurrence: 1/5, not 3/5
    assert(got(2) == ((2L, 5L, 1L, Some(0.2), false)),
      s"clipping must stop repetition credit-farming: ${got(2)}")
    assert(got(3) == ((3L, 2L, 0L, Some(0.0), false)))
    assert(got(4) == ((4L, 0L, 0L, None, false)))
  }

  test("t33 noveltyScores: hand fixture — verbatim copy scores 0, half-overlap " +
      "0.5, within-doc repeats dedup, short docs read null") {
    val docs = Seq(
      (0L, "a b c d"),      // grams {"a b c","b c d"} — both first here
      (1L, "a b c d"),      // verbatim copy → nothing novel
      (2L, "b c d e"),      // shares "b c d" with doc0, "c d e" is new
      (3L, "x y"),          // < 3 tokens → no grams, null novelty
      (4L, "a b a b a")     // grams {"a b a","b a b"} DISTINCT (3 raw positions)
    ).toDF("doc_id", "text")
    val got = graft.analytics.TextAnalysis.noveltyScores(docs, n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(got(0) == ((0L, 2L, 2L, Some(1.0))))
    assert(got(1) == ((1L, 2L, 0L, Some(0.0))),
      s"a verbatim copy must have zero novel grams: ${got(1)}")
    assert(got(2) == ((2L, 2L, 1L, Some(0.5))))
    assert(got(3) == ((3L, 0L, 0L, None)))
    assert(got(4) == ((4L, 2L, 2L, Some(1.0))),
      s"within-doc repeat must not inflate the gram count: ${got(4)}")
  }

  test("t34 greedyBigramRollout: argmax walk on a hand LM — count beats tie, " +
      "ties break lexicographically, cycles freeze the distinct ratio, " +
      "dead ends stop the rollout") {
    val docs = Seq(
      // "a b" twice, "a c" once → next(a) = b on count; next(b): "b a"
      // once and "b c" once → lexicographic tie → a; so from seed 'a'
      // the walk cycles a→b→a→b…; 'z' is a dead end (never a prev)
      (0L, "a b a b"),
      (1L, "a c"),
      (2L, "b c"),
      (3L, "q z")
    ).toDF("doc_id", "text")
    val got = graft.analytics.TextAnalysis
      .greedyBigramRollout(docs, nSeeds = 2, steps = 4)
      .orderBy("seed").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // seeds = the 2 most frequent words: a and b tie at ×3 (beating c at
    // ×2, q/z at ×1) and the tie breaks lexicographically — the election
    // exercises BOTH the count cut and the tie rule
    assert(got.map(_._1).toSeq === Seq("a", "b"), s"seed election: ${got.toSeq}")
    assert(got(0)._2 === "a b a b a", s"a→b on count, b→a on tie: ${got(0)}")
    assert(got(1)._2 === "b a b a b")
    assert(got(0)._5 === 0.4, s"a 2-cycle over 5 words reads 2/5: ${got(0)}")

    // a dead-end continuation freezes: seed 'z' never extends
    val dead = Seq((0L, "z q")).toDF("doc_id", "text")
    val dg = graft.analytics.TextAnalysis
      .greedyBigramRollout(dead, nSeeds = 2, steps = 4)
      .orderBy("seed").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(dg.toSeq === Seq(("q", "q", 1L), ("z", "z q", 2L)),
      s"q is a dead seed; z takes one step then freezes: ${dg.toSeq}")
  }

  test("t29 dsirSelect: hand-computed importance weights; target-like docs " +
      "outrank raw-only docs; token-less docs never selected") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "alpha beta alpha"),
      (2L, "en", "alpha beta"),
      (3L, "fr", "gamma delta"),   // raw-only tokens → most negative score
      (4L, "fr", "alpha beta"),    // target-like tokens despite lang=fr
      (5L, "fr", "")               // token-less → null score
    ).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.dsirSelect(docs, col("lang") === "en",
        keepNum = 1, keepDenom = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(6)))
    // counts: alpha cr=4/ct=3, beta cr=3/ct=2, gamma cr=1/ct=0, delta
    // cr=1/ct=0; Nr=9, Nt=5, V=4 — the formula by hand, same 9-dp rounds
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def w(ct: Long, cr: Long) =
      r9(math.log((ct + 1.0) / (5 + 4))) - r9(math.log((cr + 1.0) / (9 + 4)))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val wAlpha = w(3, 4); val wBeta = w(2, 3); val wGamma = w(0, 1)
    assert(got(0)._2 === Some(r6((wAlpha + wBeta + wAlpha) / 3)))
    assert(got(2)._2 === Some(r6((wGamma + wGamma) / 2)))
    assert(got(3)._2 === Some(r6((wAlpha + wBeta) / 2)))
    assert(got(3)._2.get > got(2)._2.get,
      "target-like tokens must outscore raw-only tokens")
    // keep 1/2 per lang: en(2 docs) → rank 1; fr(3 docs) → rank 1 only
    assert(got.map(g => g._1 -> g._3).toMap ===
      Map(1L -> true, 2L -> false, 3L -> false, 4L -> true, 5L -> false))
  }

  test("t31 retrievalMetrics: hand fixture — metrics match a driver replay " +
      "from the library BM25 ranking; weakest-link rel zeroes a missing term") {
    val docs = Seq(
      (1L, "alpha beta alpha beta"),
      (2L, "alpha beta"),
      (3L, "alpha alpha alpha"), // no 'beta' → rel 0 despite high tf
      (4L, "alpha beta alpha beta alpha beta")).toDF("doc_id", "text")
    val queries = Seq((100L, "alpha beta")).toDF("query_id", "qtext")
    val got = TextAnalysis.retrievalMetrics(docs, queries, kEval = 2)
      .collect().head
    // min-tf grades: d1 min(2,2)=2, d2 min(1,1)=1, d3 absent-term→0, d4 3
    val rels = Map(1L -> 2L, 2L -> 1L, 3L -> 0L, 4L -> 3L)
    val order = TextAnalysis.bm25Scores(docs, queries).collect()
      .sortBy(r => (-r.getAs[Double]("bm25"), r.getAs[Long]("doc_id")))
      .map(_.getAs[Long]("doc_id")).toSeq
    def g(rel: Long, pos: Int): Double =
      BigDecimal((math.pow(2.0, rel.toDouble) - 1.0) /
          (math.log(pos + 1.0) / math.log(2.0)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dcg = order.take(2).zipWithIndex.map { case (d, i) => g(rels(d), i + 1) }.sum
    val idcg = rels.values.toSeq.sorted.reverse.take(2).zipWithIndex
      .map { case (r, i) => g(r, i + 1) }.sum
    assert(got.getAs[Long]("n_cand") === 4L, "all four docs share a term")
    assert(got.getAs[Long]("n_rel") === 2L, "rel ≥ 2: exactly d1 and d4")
    assert(got.getAs[Double]("dcg") === r6(dcg))
    assert(got.getAs[Double]("idcg") === r6(idcg))
    assert(got.getAs[Double]("ndcg") === r6(dcg / idcg))
    val firstRel = order.indexWhere(d => rels(d) >= 2) + 1
    assert(got.getAs[Double]("mrr") === r6(1.0 / firstRel))
    val hits = order.take(2).count(d => rels(d) >= 2)
    assert(got.getAs[Double]("recall") === r6(hits / 2.0))
    // no cutoff → every relevant doc is found
    val full = TextAnalysis.retrievalMetrics(docs, queries, kEval = 4)
      .collect().head
    assert(full.getAs[Double]("recall") === 1.0)
  }

  test("t31 retrievalMetrics: a query whose candidates are all rel=0 reads " +
      "ndcg = mrr = 0.0 (one convention, no NULL 0/0); recall stays NULL") {
    // 'gamma delta': every doc shares 'gamma' (so it IS a candidate) but
    // none carries 'delta' → weakest-link rel = 0 everywhere, idcg = 0
    val docs = Seq(
      (1L, "gamma gamma gamma"),
      (2L, "gamma alpha")).toDF("doc_id", "text")
    val queries = Seq((7L, "gamma delta")).toDF("query_id", "qtext")
    val got = TextAnalysis.retrievalMetrics(docs, queries, kEval = 2)
      .collect().head
    assert(got.getAs[Long]("n_cand") === 2L, "both docs scored")
    assert(got.getAs[Long]("n_rel") === 0L)
    assert(got.getAs[Double]("ndcg") === 0.0,
      "scored-but-nothing-relevant is 0.0 by the MRR convention, not NULL")
    assert(got.getAs[Double]("mrr") === 0.0)
    assert(Option(got.get(got.fieldIndex("recall"))).isEmpty,
      "a hit fraction of an empty relevant set stays undefined (NULL)")
  }

  test("t30 fertility: ratios recompute from the emitted integer sums; " +
      "n_bpe ≥ n_words (</w> guarantees ≥1 token per word); totals cover " +
      "the corpus") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("t30_fertility")(spark, dir).collect()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(got.map(_.getAs[Long]("n_docs")).sum === nDocs, "partition of corpus")
    got.foreach { r =>
      val (w, b, by) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe"),
        r.getAs[Long]("n_bytes"))
      assert(b >= w, s"${r.getAs[String]("lang")}: BPE can't emit <1 token/word")
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("fertility") === r6(b.toDouble / w))
      assert(r.getAs[Double]("bytes_per_token") === r6(by.toDouble / b))
    }
  }

  test("t36 span-corruption plan: spans are in-bounds, non-overlapping, " +
      "segment-confined, and the plan is partitioning-invariant") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = graft.analytics.TextAnalysis.spanCorruptionPlan(docs)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_spans"), r.getAs[String]("spans_str")))
    assert(got.nonEmpty && got.exists(_._3 >= 2))
    got.foreach { case (id, n, nSpans, plan) =>
      assert(nSpans === n / 20, s"doc $id")
      if (nSpans == 0) assert(plan === "")
      else {
        val seg = n / nSpans
        val starts = plan.split(",").map { s =>
          val Array(st, len) = s.split(":"); assert(len === "3"); st.toLong
        }
        assert(starts.length === nSpans)
        starts.zipWithIndex.foreach { case (st, i) =>
          // confined to its own segment with full span room
          assert(st >= i * seg && st + 3 <= i * seg + seg,
            s"doc $id span $i at $st escapes segment (seg=$seg n=$n)")
        }
        // segment confinement implies sorted + disjoint
        assert(starts.zip(starts.tail).forall { case (a, b) => a + 3 <= b })
      }
    }
    // determinism: a different partitioning derives the identical plan
    val re = graft.analytics.TextAnalysis.spanCorruptionPlan(docs.repartition(7))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("spans_str")))
      .toMap
    assert(got.forall { case (id, _, _, p) => re(id) == p })
  }
}
