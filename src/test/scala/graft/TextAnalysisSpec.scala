package graft

import graft.functions.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("token counting") {
    val df = Seq("the quick brown fox", "  padded  tokens  ", "", "one").toDF("t")
    val counts = df.select(TextAnalysis.tokenCount(col("t"))).as[Int].collect()
    assert(counts.toSeq === Seq(4, 2, 0, 1))
  }

  test("repetition signals: dup k-gram fractions and top-bigram fraction") {
    val df = Seq(
      (1L, "a b a b c"),  // bigrams: ab,ba,ab,bc → 4 total, 3 distinct
      (2L, "x"),          // no bigrams at all
      (3L, "w w w w"),    // bigrams: ww×3; trigrams: www×2
      (4L, "")            // empty text
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df, "text", "doc_id")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) === ((5L, 1.0 - 3.0 / 4.0, 0.0, 2.0 / 4.0)))
    assert(out(2L) === ((1L, 0.0, 0.0, 0.0)))
    assert(out(3L) === ((4L, 1.0 - 1.0 / 3.0, 0.5, 1.0)))
    assert(out(4L) === ((0L, 0.0, 0.0, 0.0)))
  }

  test("bpe-ish token counting splits words, digits and punctuation") {
    val df = Seq("hello world", "a1b2!", "don't stop").toDF("t")
    val counts = df.select(TextAnalysis.bpeishTokenCount(col("t"))).as[Int].collect()
    // "a1b2!" → a, 1, b, 2, ! = 5 ; "don't stop" → don, ', t, stop = 4
    assert(counts.toSeq === Seq(2, 5, 4))
  }

  test("ratios") {
    val df = Seq("ab, cd!").toDF("t") // 7 chars, 2 punct, 0 digits
    val r = df.select(
      TextAnalysis.punctRatio(col("t")),
      TextAnalysis.digitRatio(col("t"))).as[(Double, Double)].head()
    assert(math.abs(r._1 - 2.0 / 7.0) < 1e-12)
    assert(r._2 === 0.0)
  }

  test("stopword ratio") {
    val df = Seq("the cat and the dog").toDF("t") // the, and, the = 3 of 5
    val r = df.select(TextAnalysis.stopwordRatio(col("t"))).as[Double].head()
    assert(math.abs(r - 0.6) < 1e-12)
  }

  test("langId picks the language with most marker hits") {
    val df = Seq(
      "the cat sat on the mat and it was happy",
      "le chat est sur la table et il est content",
      "el gato está en la mesa y es feliz",
      "der Hund und die Katze sind nicht da",
      "xyzzy plugh").toDF("t")
    val langs = df.select(TextAnalysis.langId(col("t"))).as[String].collect()
    assert(langs.toSeq === Seq("en", "fr", "es", "de", "und"))
  }

  // Native one-pass LangScores/langIdNative must agree with the HOF form
  // on every fixture document plus edge cases.
  test("native langIdNative equals HOF langId") {
    val df = Seq(
      "the cat sat on the mat and it was happy",
      "le chat est sur la table et il est content",
      "el gato está en la mesa y es feliz",
      "der Hund und die Katze sind nicht da",
      "的 是 在 了 和",
      "xyzzy plugh", "", "   ", "de de la la und und" // cross-language ties
    ).toDF("t")
    val both = df.select(TextAnalysis.langId(col("t")).as("hof"),
      TextAnalysis.langIdNative(col("t")).as("native"))
    assert(both.where(col("hof") =!= col("native")).count() === 0)
    val fixture = SparkTestSession.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val bothF = fixture.select(TextAnalysis.langId(col("text")).as("hof"),
      TextAnalysis.langIdNative(col("text")).as("native"))
    assert(bothF.where(col("hof") =!= col("native")).count() === 0)
  }

  // qualityScoreFromStats must reproduce qualityScore bit-for-bit (same
  // IEEE operation order) over the fixture corpus.
  test("native quality-from-stats equals HOF qualityScore") {
    val fixture = SparkTestSession.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"), TextAnalysis.stats(col("text")).as("s"))
    val both = fixture.select(
      TextAnalysis.qualityScore(col("text")).as("hof"),
      TextAnalysis.qualityScoreFromStats(col("s")).as("native"))
    assert(both.where(col("hof") =!= col("native")).count() === 0)
  }

  test("fingerprint is stable and perturbation-sensitive") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "an utterly different document about query engines")).toDF("id", "t")
    val fps = df.select(col("id"), TextAnalysis.fingerprint(col("t")))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
  }

  test("redactPii replaces and counts each category sequentially") {
    val df = Seq(
      (1L, "mail a.b+c@ex.co and d@sub.ex.org, host 192.168.0.1, call +1-555-0100"),
      (2L, "no pii here at all"),
      (3L, "ip 10.0.0.7 twice 10.0.0.8 and number +46-8-1234567")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(df, "text", "doc_id")
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._2 ===
      "mail <EMAIL> and <EMAIL>, host <IP>, call <PHONE>")
    assert((got(1L)._3, got(1L)._4, got(1L)._5) === ((2L, 1L, 1L)))
    assert(got(2L)._2 === "no pii here at all")
    assert((got(2L)._3, got(2L)._4, got(2L)._5) === ((0L, 0L, 0L)))
    assert(got(3L)._2 === "ip <IP> twice <IP> and number <PHONE>")
    assert((got(3L)._3, got(3L)._4, got(3L)._5) === ((0L, 2L, 1L)))
  }

  test("redactPii sequencing: digits inside an email are not re-counted as IP/phone") {
    // the email pattern consumes the whole address including its dotted
    // digits; after replacement nothing digit-like remains
    val df = Seq((1L, "u.10.0.0.1@ex.com")).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(df, "text", "doc_id")
      .as[(Long, String, Long, Long, Long)].collect().head
    assert(r._2 === "<EMAIL>")
    assert((r._3, r._4, r._5) === ((1L, 0L, 0L)))
  }

  test("quality score is bounded and ranks clean text above noise") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog and it was a good day for running",
      "@@@ ### 12345 67890 !!!").toDF("t")
    val q = df.select(TextAnalysis.qualityScore(col("t"))).as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(0) > q(1))
  }

  test("normalizeText: NFC-composes, strips controls, collapses whitespace") {
    val composed = "café mañana"            // precomposed é ñ
    val decomposed = "café mañana"        // base + combining
    val df = Seq(
      decomposed,
      composed,
      "a\u0007b\u0000 c",                             // controls stripped
      "  spaced \t\n out  ").toDF("t")
    val got = df.select(TextAnalysis.normalizeText(col("t"))).as[String].collect()
    assert(got(0) === composed, "decomposed form must NFC-compose")
    assert(got(1) === composed, "already-composed text is unchanged")
    assert(got(2) === "ab c")
    assert(got(3) === "spaced out")
    // the dedup motivation: the two encodings hash identically after
    // normalization (and differently before)
    val hashes = df.limit(2).select(md5(TextAnalysis.normalizeText(col("t"))
      .cast("binary"))).as[String].collect()
    assert(hashes(0) === hashes(1))
    val raw = df.limit(2).select(md5(col("t").cast("binary"))).as[String].collect()
    assert(raw(0) !== raw(1))
    // idempotent
    val twice = df.select(TextAnalysis.normalizeText(
      TextAnalysis.normalizeText(col("t")))).as[String].collect()
    assert(twice.toSeq === got.toSeq)
  }

  test("linearScore: mean md5-bucket weight, exact numerator, blank → 0") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
      .select(col("doc_id"), col("text"))
      .union(Seq((-5L, "   "), (-6L, "")).toDF("doc_id", "text"))
    val got = docs.select(col("doc_id"),
        TextAnalysis.linearScore(col("text")).as("m"))
      .as[(Long, Double)].collect().toMap
    assert(got(-5L) === 0.0)
    assert(got(-6L) === 0.0)
    // driver replay: same md5-prefix bucket weights, ONE division
    def w(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = md.take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 512 - 256
    }
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      val norm = text.trim.toLowerCase.replaceAll("\\s+", " ")
      val expect =
        if (norm.isEmpty) 0.0
        else {
          val toks = norm.split(" ")
          toks.map(w).sum.toDouble / toks.length.toDouble
        }
      assert(got(id) === expect, s"doc $id")
    }
    // scoring must discriminate at fixture scale
    val ms = got.filterKeys(_ >= 0).values
    assert(ms.exists(_ > 0) && ms.exists(_ < 0))
  }

  test("bigramNovelty: garble scores, clean text scores 0, short docs 0") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the hat"),
      (3L, "the cat sat on the rat"),
      (4L, "the cat sat qxQX zjvk"),   // garble: bigrams only doc 4 has
      (5L, "a"),                       // too short for a bigram
      (6L, "")                         // blank
    ).toDF("doc_id", "text")
    // 4 scoring docs → threshold (4·40+99)//100 = 2 → df<2 (singleton
    // bigrams) are rare
    val got = TextAnalysis.bigramNovelty(docs, "text", "doc_id", rarePct = 40)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(5L) === ((5L, 0L, 0L, 0.0)))
    assert(got(6L) === ((6L, 0L, 0L, 0.0)))
    assert(got(4L)._4 > 0.0, s"garbled doc must score: ${got(4L)}")
    // docs 1-3 share everything except their last word — their only
    // singleton bigrams come from mat/hat/rat variations
    assert(got(4L)._4 > got(1L)._4)
    // driver replay of the whole computation
    val texts = Map(1L -> "the cat sat on the mat", 2L -> "the cat sat on the hat",
      3L -> "the cat sat on the rat", 4L -> "the cat sat qxqx zjvk")
    val sets = texts.view.mapValues(t => t.sliding(2).toSet).toMap
    val dfc = sets.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val thr = (4 * 40 + 99) / 100
    texts.foreach { case (id, _) =>
      val n = sets(id).size
      val r = sets(id).count(b => dfc(b) < thr)
      assert(got(id) === ((id, n.toLong, r.toLong, r.toDouble / n)), s"doc $id")
    }
  }

  test("gopherRules: each rule fires on its trigger doc, clean doc keeps") {
    val clean = ("the quick brown fox and all of that have with " * 6).trim
    val docs = Seq(
      (1L, clean),                                  // every rule passes
      (2L, "too few words here"),                   // word count < 50
      (3L, (1 to 60).map(_ => "a").mkString(" ")),  // mean word len 1 < 3
      (4L, (1 to 60).map(_ => "w#rd#").mkString(" ")), // 120 symbols vs 60 words
      (5L, (1 to 10).map(_ => "- item").mkString("\n")), // 100% bullet lines
      (6L, "one...\ntwo...\nthree"),                // 2/3 ellipsis lines
      (7L, (1 to 60).map(_.toString).mkString(" ")), // all-numeric words
      (8L, (1 to 60).map(_ => "cat").mkString(" ")), // no Gopher stop words
      (9L, "")                                      // blank
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    def b(id: Long, name: String): Boolean =
      got(id).getBoolean(got(id).fieldIndex(name))
    assert(b(1L, "keep"), s"clean doc must keep: ${got(1L)}")
    assert(!b(2L, "word_count_ok") && !b(2L, "keep"))
    assert(!b(3L, "mean_len_ok") && b(3L, "word_count_ok"))
    assert(!b(4L, "symbol_ok") && b(4L, "word_count_ok"))
    assert(!b(5L, "bullet_ok"))
    assert(!b(6L, "ellipsis_ok"))
    assert(!b(7L, "alpha_ok") && !b(7L, "stop_ok"))
    assert(!b(8L, "stop_ok") && b(8L, "alpha_ok"))
    assert(!b(9L, "word_count_ok") && got(9L).getLong(1) === 0L)
  }

  // The fused char-bigram kernel must be BIT-identical to the HOF
  // twin (transform(sequence(1, L-1), i -> substr(t, i, 2)) +
  // array_distinct) that bigramNovelty used before — element values AND
  // first-occurrence order — over the real documents fixture (incl.
  // multi-byte zh text) plus adversarial strings. The HOF twin is only
  // defined for L >= 2 (sequence descends below that), so the equality
  // universe is length >= 2; shorter strings pin to empty directly.
  test("DistinctCharBigramsF equals the transform+substr twin bit-for-bit") {
    val edge = Seq("ab", "aaaa", "ααββ", "日本語テキスト", "a💯b💯a", "  x  ",
      "mixé 中en glish", " a a", "ab\ncd\tef").toDF("t")
    val fixture = Tables.read(spark, SparkTestSession.Sf, "documents")
      .select(lower(trim(col("text"))).as("t"))
    Seq(edge, fixture).foreach { src =>
      val rows = src.where(length(col("t")) >= 2)
        .select(
          array_distinct(transform(
            sequence(lit(1), length(col("t")) - 1),
            i => col("t").substr(i, lit(2)))).as("hof"),
          graft.plans.DistinctCharBigramsF.distinctCharBigrams(col("t")).as("fused"))
        .as[(Seq[String], Seq[String])].collect()
      assert(rows.nonEmpty)
      rows.foreach { case (hof, fused) => assert(hof === fused) }
    }
    val short = Seq("", "a", "💯").toDF("t")
      .select(graft.plans.DistinctCharBigramsF.distinctCharBigrams(col("t")))
      .as[Seq[String]].collect()
    assert(short.forall(_.isEmpty))
  }

  test("compressionSignal separates repetitive, prose, and random text") {
    val rng = new scala.util.Random(7)
    val repetitive = "spam ham " * 200
    val prose = Tables.read(spark, SparkTestSession.Sf, "documents")
      .orderBy("doc_id").select("text").as[String].head()
    val garble = (1 to 1600).map(_ => rng.nextPrintableChar()).mkString
    val docs = Seq((1L, repetitive), (2L, prose), (3L, garble), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.compressionSignal(docs, "text", "doc_id")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // empty input still costs the 8-byte zlib wrapper; the ratio guard
    // reports 0 for zero-length docs
    assert(got(4L) === ((4L, 0L, 8L, 0.0)))
    val (rr, rp, rg) = (got(1L)._4, got(2L)._4, got(3L)._4)
    assert(rr < rp && rp < rg, s"regimes must separate: $rr $rp $rg")
    assert(rr < 0.05, s"template text compresses hard: $rr")
    assert(rg > 0.5, s"random text barely compresses: $rg")
    // the driver-side Deflater replay must agree byte-for-byte
    def deflated(s: String): Long = {
      val d = new java.util.zip.Deflater(6)
      try {
        d.setInput(s.getBytes("UTF-8")); d.finish()
        val buf = new Array[Byte](8192); var t = 0L
        while (!d.finished()) t += d.deflate(buf)
        t
      } finally d.end()
    }
    Seq(1L -> repetitive, 2L -> prose, 3L -> garble).foreach { case (id, s) =>
      assert(got(id)._3 === deflated(s), s"doc $id")
      assert(got(id)._2 === s.getBytes("UTF-8").length.toLong)
    }
  }

  test("native linearScore is bit-equal to the HOF twin, edge whitespace too") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
      .select(col("doc_id"), col("text"))
      .union(Seq(
        (-1L, "\tleading tab"), (-2L, "trailing tab\t"), (-3L, "\t"),
        (-4L, "a\t\tb"), (-5L, "  "), (-6L, ""), (-7L, " \t mixed \n ")
      ).toDF("doc_id", "text"))
    val both = docs.select(col("doc_id"),
        TextAnalysis.linearScore(col("text")).as("native"),
        ReferenceForms.linearScoreHof(col("text")).as("hof"))
      .as[(Long, Double, Double)].collect()
    both.foreach { case (id, n, h) =>
      assert(java.lang.Double.doubleToRawLongBits(n) ===
        java.lang.Double.doubleToRawLongBits(h), s"doc $id: $n vs $h")
    }
    // SQL registration
    graft.plans.SignatureExpressions.register(spark)
    docs.limit(5).createOrReplaceTempView("lin_score_docs")
    val viaSql = spark.sql(
      "SELECT graft_linear_score(text, 512) FROM lin_score_docs")
    assert(viaSql.collect().length === 5)
  }

  test("collocations: hand-computed lift, support cut, rank ties") {
    // t_uni = 6, t_bi = 4; (a,b) count 3, (b,a) count 1; c(a)=c(b)=3
    val docs = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, "text", minCount = 2L, k = 10)
      .collect()
    assert(got.length === 1) // (b,a) killed by support cut
    val r = got.head
    assert(r.getAs[String]("x") === "a" && r.getAs[String]("y") === "b")
    assert(r.getAs[Long]("c_xy") === 3L)
    // (3/4) / ((3/6)*(3/6)) = 3.0 exactly
    assert(r.getAs[Double]("lift") === 3.0)
    assert(r.getAs[Int]("rank") === 1)
    // equal lifts order lexicographically: x y / y x symmetric counts
    val sym = Seq((1L, "p q"), (2L, "q p")).toDF("doc_id", "text")
    val both = TextAnalysis.collocations(sym, "text", minCount = 1L, k = 10)
      .collect().map(r2 => (r2.getAs[Int]("rank"),
        r2.getAs[String]("x"), r2.getAs[String]("y")))
    assert(both.sorted.toSeq === Seq((1, "p", "q"), (2, "q", "p")))
  }

  test("bigram LM: hand-computed pooled likelihood, OOV prior, 1-token drop") {
    // reference: "a b a" (uni a:2 b:1; bi ab, ba), "b b" (uni b:2; bi bb)
    // → contexts a:2 b:3, V=2, bigrams ab:1 ba:1 bb:1
    val ref = Seq((10L, "a b a"), (11L, "b b")).toDF("doc_id", "text")
    val lm = TextAnalysis.buildBigramLm(ref, "text")
    assert(lm.contexts.collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap === Map("a" -> 2L, "b" -> 3L))
    assert(lm.vocab.select("vsize").as[Long].head() === 2L)
    val docs = Seq(
      (1L, "a b"),   // (a,b): (1+1)/(2+2) = 0.5, known
      (2L, "a c"),   // (a,c) unseen bigram: 1/(2+2) = 0.25
      (3L, "c a"),   // OOV context c: 1/(0+2) = 0.5
      (4L, "x"),     // single token → no bigrams → dropped
      (5L, "b b a")  // (b,b)+(b,a): (2+2)/(5+5) = 0.4, both known
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(docs, "text", "doc_id", lm)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out === Map(
      1L -> ((1L, 1L, 0.5)),
      2L -> ((1L, 0L, 0.25)),
      3L -> ((1L, 0L, 0.5)),
      5L -> ((2L, 2L, 0.4))))
  }

  test("bigram LM: hot/tail skew split is bit-equal to the plain joins") {
    // hotK=1 forces MOST keys through the tail (shuffle) route while the
    // single hottest bigram/context rides the broadcast head; hotK=0 is
    // the plain two-join plan — any routing bug breaks the equality.
    val ref = Tables.read(spark, SparkTestSession.Sf, "documents")
      .where(col("doc_id") % 3 === 0 && length(trim(col("text"))) > 0)
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
      .where(length(trim(col("text"))) > 0)
    val lm = TextAnalysis.buildBigramLm(ref, "text")
    def run(hotK: Int) =
      TextAnalysis.lmScore(docs, "text", "doc_id", lm, hotK = hotK)
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    val plain = run(0)
    assert(run(1) === plain)
    assert(run(65536) === plain)
    assert(plain.nonEmpty)
  }

  test("sentences: terminator kept, trimmed, empties dropped, order indexed") {
    val docs = Seq(
      (1L, "One. Two!  Three?"),
      (2L, "no terminal punctuation"),
      (3L, "...Leading dots. tail"),
      (4L, "Ellipsis wins... then more."),
      (5L, "")
    ).toDF("doc_id", "text")
    val got = graft.functions.TextAnalysis.sentences(docs, "doc_id", "text")
      .as[(Long, Int, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq === Seq(
      (1L, 0, "One.", 4L), (1L, 1, "Two!", 4L), (1L, 2, "Three?", 6L),
      (2L, 0, "no terminal punctuation", 23L),
      // the leading "..." is punctuation-only → no segment starts there;
      // the first match begins at 'L' and carries its '.'
      (3L, 0, "Leading dots.", 13L), (3L, 1, "tail", 4L),
      (4L, 0, "Ellipsis wins...", 16L), (4L, 1, "then more.", 10L)))
  }

  test("readability: hand-computed integer Flesch, empty-text guards") {
    val docs = Seq(
      (1L, "Hello world. Yes!"),
      (2L, ""),                    // 0 words → both guards engage
      (3L, "rhythm")               // y counts as a vowel group
    ).toDF("doc_id", "text")
    val got = graft.functions.TextAnalysis.readability(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // doc 1: words 3, sentences 2, vowel groups e|o|o|e = 4:
    //   206835 - 1015·3 div 2 - 84600·4 div 3 = 206835 - 1522 - 112800
    assert(got.toSeq === Seq(
      (1L, 3L, 2L, 4L, 92513L),
      (2L, 0L, 1L, 0L, 206835L),
      (3L, 1L, 1L, 1L, 1L * 0 + 206835L - 1015L - 84600L)))
  }

  test("sentences: multi-byte text counts code points, CJK passes through") {
    val docs = Seq((1L, "héllo wörld. 中文句子!")).toDF("doc_id", "text")
    val got = graft.functions.TextAnalysis.sentences(docs, "doc_id", "text")
      .as[(Long, Int, String, Long)].collect().sortBy(_._2)
    assert(got.toSeq === Seq(
      (1L, 0, "héllo wörld.", 12L), (1L, 1, "中文句子!", 5L)))
  }

  test("hashedFeatures: deterministic buckets, repeats sum into tf, case folds") {
    val docs = Seq((1L, "The the THE cat"), (2L, ""), (3L, "cat")).toDF("doc_id", "text")
    val got = graft.functions.TextAnalysis
      .hashedFeatures(docs, "doc_id", "text", nFeatures = 256)
      .as[(Long, Int, Long)].collect()
    // doc 2 (empty) emits nothing
    assert(!got.exists(_._1 == 2L))
    val d1 = got.filter(_._1 == 1L).map(r => r._2 -> r._3).toMap
    val d3 = got.filter(_._1 == 3L).map(r => r._2 -> r._3).toMap
    // "cat" lands in the same bucket for both docs; "the"×3 folds case
    assert(d3.size === 1 && d3.values.head === 1L)
    val catBucket = d3.keys.head
    assert(d1(catBucket) >= 1L)
    assert(d1.values.sum === 4L) // 3×the + 1×cat
    got.foreach(r => assert(r._2 >= 0 && r._2 < 256))
  }

  test("hashedFeaturesPerRow is bit-equal to the groupBy form on fixture docs") {
    val docs = Tables.read(spark, SparkTestSession.Sf, "documents")
    val a = graft.functions.TextAnalysis
      .hashedFeatures(docs, "doc_id", "text", nFeatures = 64)
      .as[(Long, Int, Long)].collect().toSet
    val b = graft.functions.TextAnalysis
      .hashedFeaturesPerRow(docs, "doc_id", "text", nFeatures = 64)
      .select("doc_id", "feature", "tf")
      .as[(Long, Int, Long)].collect().toSet
    assert(a === b)
    assert(a.nonEmpty)
  }
}
