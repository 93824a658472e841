package graft

import graft.functions.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ExactSubstr-style arbitrary-offset duplicate-span detection
  * ([[Dedup.duplicateSpans]]): window equivalence to maximal shared
  * substrings, island merging, within-doc repeats, and the native
  * positional hash expression's equality with the HOF form.
  */
class ExactSubstrSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def spans(df: org.apache.spark.sql.DataFrame, L: Int) =
    Dedup.duplicateSpans(df, "text", "doc_id", L)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet

  test("native positional hashes equal the HOF form (no dedup)") {
    val edge = Seq(
      (10L, ""), (11L, "   "), (12L, "one"), (13L, "one two"),
      (14L, "a a a a a a"), (15L, "Héllo wörld naïve café résumé"),
      (16L, "tab\tand\nnewline   spaced"),
      (17L, "p q r p q r p q r")
    ).toDF("doc_id", "text")
    val both = edge.select(
      ReferenceForms.shingleHashesAllHof(col("text"), 3).as("hof"),
      graft.plans.ShingleExpressions.wordShingleHashesAll(
        Dedup.normalizeText(col("text")), 3).as("native"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("cross-doc shared substring found at its true offsets, maximal") {
    val df = Seq(
      (1L, "x1 x2 p q r s x3 x4"), // shared run at tokens 3..6
      (2L, "p q r s y1 y2 y3")     // same run at tokens 1..4
    ).toDF("doc_id", "text")
    assert(spans(df, 3) === Set(
      (1L, 3, 4, "p q r s"),
      (2L, 1, 4, "p q r s")))
  }

  test("adjacent duplicated windows (gap == L) merge into one span") {
    // "a b c" and "d e f" are each duplicated elsewhere; in doc 3 they
    // are contiguous, so the covered tokens form ONE maximal span
    val df = Seq(
      (1L, "a b c z1 z2"),
      (2L, "z3 d e f z4"),
      (3L, "a b c d e f")
    ).toDF("doc_id", "text")
    assert(spans(df, 3) === Set(
      (1L, 1, 3, "a b c"),
      (2L, 2, 3, "d e f"),
      (3L, 1, 6, "a b c d e f")))
  }

  test("duplicated runs separated by a gap stay separate spans") {
    val df = Seq(
      (1L, "a2 b2 c2 g1 h1 i1 j1 d2 e2 f2"),
      (2L, "a2 b2 c2 q9"),
      (3L, "q8 d2 e2 f2")
    ).toDF("doc_id", "text")
    assert(spans(df, 3) === Set(
      (1L, 1, 3, "a2 b2 c2"),
      (1L, 8, 3, "d2 e2 f2"),
      (2L, 1, 3, "a2 b2 c2"),
      (3L, 2, 3, "d2 e2 f2")))
  }

  test("within-doc repeats count as duplication") {
    val df = Seq(
      (1L, "m n o w1 w2 w3 w4 m n o"),
      (2L, "unrelated filler words here")
    ).toDF("doc_id", "text")
    assert(spans(df, 3) === Set(
      (1L, 1, 3, "m n o"),
      (1L, 8, 3, "m n o")))
  }

  test("shared substrings shorter than minLen are not reported; unique corpus is empty") {
    val short = Seq(
      (1L, "u v k1 k2 k3"),
      (2L, "k4 u v k5 k6")
    ).toDF("doc_id", "text")
    assert(spans(short, 3) === Set.empty)
    val uniq = Seq(
      (1L, "only one document with words"),
      (2L, "another entirely different sentence")
    ).toDF("doc_id", "text")
    assert(spans(uniq, 3) === Set.empty)
  }

  test("docs shorter than minLen tokens never match") {
    // both docs ARE the same 2-token text, but no 3-token window exists
    val df = Seq((1L, "u v"), (2L, "u v")).toDF("doc_id", "text")
    assert(spans(df, 3) === Set.empty)
  }

  private def applied(df: org.apache.spark.sql.DataFrame, L: Int) =
    Dedup.removeDuplicateSpans(df, "text", "doc_id", L)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet

  test("apply: corpus-first occurrence survives, later copies are struck") {
    val df = Seq(
      (1L, "p q r s a1 a2"),
      (2L, "b1 p q r s b2")
    ).toDF("doc_id", "text")
    assert(applied(df, 3) === Set(
      (1L, 6, 0, "p q r s a1 a2"), // holds the first occurrence — untouched
      (2L, 6, 4, "b1 b2")))
  }

  test("apply: token kept if ANY covering window is a first occurrence") {
    val df = Seq(
      (5L, "p q r y5 z5"),        // first occurrence of "p q r"
      (6L, "p q r u6 v6"),        // pqr non-first, but "q r u6" first HERE
      (7L, "k7 q r u6 v6 m7")
    ).toDF("doc_id", "text")
    val out = applied(df, 3)
    // doc 6: token 1 covered only by the non-first "p q r" → dropped;
    // tokens 2-3 also covered by first-occurrence "q r u6" → kept
    assert(out.contains((6L, 5, 1, "q r u6 v6")))
    // doc 7: both its flagged windows are non-first → middle struck
    assert(out.contains((7L, 6, 4, "k7 m7")))
    assert(out.contains((5L, 5, 0, "p q r y5 z5")))
  }

  test("apply: fully-duplicated later doc empties; first stays whole") {
    val df = Seq(
      (8L, "w1 w2 w3"),
      (9L, "w1 w2 w3"),
      (10L, "some other unrelated words")
    ).toDF("doc_id", "text")
    assert(applied(df, 3) === Set(
      (8L, 3, 0, "w1 w2 w3"),
      (9L, 3, 3, ""),
      (10L, 4, 0, "some other unrelated words")))
  }

  test("apply: untouched docs pass through whitespace/case-normalized") {
    val df = Seq(
      (11L, "  Mixed   CASE    spacing here  "),
      (12L, "nothing shared with anyone")
    ).toDF("doc_id", "text")
    assert(applied(df, 3) === Set(
      (11L, 4, 0, "mixed case spacing here"),
      (12L, 4, 0, "nothing shared with anyone")))
  }

  private def dcSpans(cand: org.apache.spark.sql.DataFrame,
                      bench: org.apache.spark.sql.DataFrame, L: Int) =
    Dedup.decontaminateSpans(cand, bench, "text", "doc_id", L)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet

  test("decontaminateSpans locates benchmark content at arbitrary offsets") {
    val bench = Seq(
      (100L, "what is the capital of france q1 q2")
    ).toDF("doc_id", "text")
    val cand = Seq(
      (1L, "c1 c2 what is the capital of france c3"), // mid-doc leak
      (2L, "entirely original content with no overlap at all")
    ).toDF("doc_id", "text")
    assert(dcSpans(cand, bench, 4) === Set(
      (1L, 3, 6, "what is the capital of france")))
  }

  test("decontaminateSpans: candidate-internal duplication alone is NOT contamination") {
    val bench = Seq((100L, "benchmark only words here nothing shared")
      ).toDF("doc_id", "text")
    val cand = Seq(
      (1L, "r1 r2 r3 r4 x9"),
      (2L, "r1 r2 r3 r4 y9") // duplicated across candidates, absent in bench
    ).toDF("doc_id", "text")
    assert(dcSpans(cand, bench, 4) === Set.empty)
  }

  test("decontaminateSpans merges adjacent leaked windows into maximal spans") {
    val bench = Seq(
      (100L, "a1 a2 a3 a4 a5 a6 a7 a8 a9")  // long benchmark passage
    ).toDF("doc_id", "text")
    val cand = Seq(
      (1L, "pre a1 a2 a3 a4 a5 a6 a7 a8 a9 post")
    ).toDF("doc_id", "text")
    assert(dcSpans(cand, bench, 4) === Set(
      (1L, 2, 9, "a1 a2 a3 a4 a5 a6 a7 a8 a9")))
  }

  test("substr index: probe finds indexed spans, never batch-internal ones") {
    val corpus = Seq(
      (100L, "k1 k2 shared passage of text here k3")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "pre shared passage of text here post"), // indexed content
      (2L, "b1 b2 b3 b4 batch only dup"),
      (3L, "b1 b2 b3 b4 other tail") // dup WITHIN batch — not this op's job
    ).toDF("doc_id", "text")
    val idx = Dedup.buildSubstrIndex(corpus, "text", "doc_id", 4)
    val out = Dedup.probeSubstrIndex(batch, idx, "text", "doc_id", 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(out === Set((1L, 2, 5, "shared passage of text here")))
    // index round-trips through parquet unchanged
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_substr_idx_spec").toString
    idx.write.parquet(s"$tmp/idx")
    val loaded = spark.read.parquet(s"$tmp/idx")
    val viaDisk = Dedup.probeSubstrIndex(batch, loaded, "text", "doc_id", 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(viaDisk === out)
  }

  test("duplicated-token fraction: disjoint span coverage over every doc") {
    val df = Seq(
      (1L, "x1 x2 p q r s x3 x4"), // 4 of 8 tokens covered
      (2L, "p q r s y1 y2 y3"),    // 4 of 7
      (3L, "no duplication here at all")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedTokenFraction(df, "text", "doc_id", 3)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) === ((8L, 4L, 0.5)))
    assert(out(2L) === ((7L, 4L, 4.0 / 7.0)))
    assert(out(3L) === ((5L, 0L, 0.0)))
  }

  test("streaming window flagging equals batch under scrambled microbatches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val docs = Seq(
      (1L, "x1 x2 p q r s x3 x4"),
      (2L, "p q r s y1 y2 y3"),
      (3L, "m n o w1 w2 w3 w4 m n o"),
      (4L, "nothing shared in this one")
    )
    val L = 3
    val expected = spans(docs.toDF("doc_id", "text"), L)
    // windows per doc, fed in two different microbatch splits
    def winRows(d: Seq[(Long, String)]) = d.flatMap { case (id, t) =>
      val toks = t.split(" ")
      if (toks.length < L) Seq.empty
      else (0 to toks.length - L).map(i =>
        (toks.slice(i, i + L).mkString(" "), id, i + 1))
    }
    for ((name, batches) <- Seq(
        ("fwd", Seq(winRows(docs.take(2)), winRows(docs.drop(2)))),
        ("scrambled", {
          val all = winRows(docs)
          val (a, b) = all.zipWithIndex.partition(_._2 % 2 == 0)
          Seq(b.map(_._1).reverse, a.map(_._1).reverse)
        }))) {
      val in = MemoryStream[(String, Long, Int)]
      val q = graft.streaming.EventStream
        .duplicateWindowStream(in.toDS())
        .toDF().writeStream.outputMode("append").format("memory")
        .queryName(s"substr_scramble_$name").start()
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      q.stop()
      val flagged = spark.table(s"substr_scramble_$name")
        .toDF("doc_id", "p")
      val got = graft.functions.Dedup.spansFromFlagged(
          flagged, docs.toDF("doc_id", "text"), "text", "doc_id", L)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .toSet
      assert(got === expected, s"split '$name' diverged from batch")
    }
  }

  // Randomized law: on small-alphabet corpora (natural repeats
  // everywhere), the distributed operator equals an independent
  // driver-side brute-force reference — windows, flagging, island
  // boundaries, and span text all pinned at once.
  test("duplicateSpans equals a brute-force reference on random corpora") {
    val L = 3
    val alphabet = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    def bruteRef(docs: Seq[(Long, String)]): Set[(Long, Int, Int, String)] = {
      val tok = docs.map { case (id, t) => id -> t.split(" ").toVector }
      val wins = for {
        (id, ts) <- tok if ts.length >= L
        i <- 0 to ts.length - L
      } yield (ts.slice(i, i + L).mkString(" "), id, i + 1)
      val counts = wins.groupBy(_._1).map { case (w, xs) => w -> xs.size }
      val flagged = wins.collect { case (w, id, p) if counts(w) >= 2 => (id, p) }
      flagged.groupBy(_._1).flatMap { case (id, ps0) =>
        val ps = ps0.map(_._2).sorted
        val islands = ps.foldLeft(Vector.empty[Vector[Int]]) { (acc, p) =>
          if (acc.nonEmpty && p - acc.last.last <= L)
            acc.init :+ (acc.last :+ p)
          else acc :+ Vector(p)
        }
        val ts = tok.find(_._1 == id).get._2
        islands.map { isl =>
          val s = isl.head
          val len = isl.last - s + L
          (id, s, len, ts.slice(s - 1, s - 1 + len).mkString(" "))
        }
      }.toSet
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val docs = (1L to 12L).map { id =>
        val n = 4 + rnd.nextInt(20)
        id -> Vector.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString(" ")
      }
      val got = spans(docs.toDF("doc_id", "text"), L)
      assert(got === bruteRef(docs), s"trial $trial diverged")
    }
  }

  test("decontaminateSpans equals a brute-force reference on random corpora") {
    val L = 3
    val alphabet = Vector("a", "b", "c", "d", "e", "f")
    def winsOf(docs: Seq[(Long, String)]) = for {
      (id, t) <- docs
      ts = t.split(" ").toVector if ts.length >= L
      i <- 0 to ts.length - L
    } yield (ts.slice(i, i + L).mkString(" "), id, i + 1)
    def bruteRef(cand: Seq[(Long, String)], bench: Seq[(Long, String)])
        : Set[(Long, Int, Int, String)] = {
      val benchW = winsOf(bench).map(_._1).toSet
      val flagged = winsOf(cand).collect {
        case (w, id, p) if benchW(w) => (id, p)
      }
      val tok = cand.map { case (id, t) => id -> t.split(" ").toVector }.toMap
      flagged.groupBy(_._1).flatMap { case (id, ps0) =>
        val ps = ps0.map(_._2).sorted
        val islands = ps.foldLeft(Vector.empty[Vector[Int]]) { (acc, p) =>
          if (acc.nonEmpty && p - acc.last.last <= L)
            acc.init :+ (acc.last :+ p)
          else acc :+ Vector(p)
        }
        islands.map { isl =>
          val s = isl.head
          val len = isl.last - s + L
          (id, s, len, tok(id).slice(s - 1, s - 1 + len).mkString(" "))
        }
      }.toSet
    }
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      def mk(ids: Range) = ids.map { id =>
        val n = 4 + rnd.nextInt(16)
        id.toLong -> Vector.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString(" ")
      }
      val cand = mk(1 to 8)
      val bench = mk(100 to 104)
      val got = dcSpans(cand.toDF("doc_id", "text"),
        bench.toDF("doc_id", "text"), L)
      assert(got === bruteRef(cand, bench), s"trial $trial diverged")
    }
  }

  test("normalization applies before windowing (case/whitespace)") {
    val df = Seq(
      (1L, "The   Quick  Brown FOX leaps k7"),
      (2L, "k8 the quick brown fox leaps")
    ).toDF("doc_id", "text")
    assert(spans(df, 5) === Set(
      (1L, 1, 5, "the quick brown fox leaps"),
      (2L, 2, 5, "the quick brown fox leaps")))
  }
}
