package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("t1: stats match hand-computed values on a written tiny doc") {
    // "aa bb aa cc": chars=11, words=4, distinct=3, ttr=0.75,
    // mean_word_len = (11-4+1)/4 = 2.0
    val dir = java.nio.file.Files.createTempDirectory("graft_t1").toString
    Seq((1L, "aa bb aa cc", "en", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = TextOps.t1TextStats(spark, dir).collect()(0)
    assert(row.getAs[Int]("chars") === 11)
    assert(row.getAs[Int]("n_words") === 4)
    assert(row.getAs[Int]("n_distinct") === 3)
    assert(row.getAs[Double]("ttr") === 0.75)
    assert(row.getAs[Double]("mean_word_len") === 2.0)
    // corpus-wide invariants on the real fixture
    val rows = TextOps.t1TextStats(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("ttr") > 0 && r.getAs[Double]("ttr") <= 1.0)
      assert(r.getAs[Int]("n_distinct") <= r.getAs[Int]("n_words"))
    }
    // fixture consistency: the stored n_chars column matches the text
    graft.sources.Tables.documents(spark, sf)
      .select(length($"text").as("len"), $"n_chars").collect()
      .foreach(r => assert(r.getInt(0).toLong === r.getLong(1)))
  }

  test("t2: marker voting predicts 'en' on english-marker-heavy text and ties break by declaration order") {
    val preds = TextOps.t2LangId(spark, sf)
      .select($"pred_lang").distinct().as[String].collect().toSet
    // synthetic corpus vocabulary carries english markers (the/a/fast/slow)
    assert(preds.contains("en"))
    // tiebreak: a doc with zero markers anywhere must predict the FIRST
    // declared language (en), not a later one
    val zero = TextOps.t2LangId(spark, sf)
      .where($"marker_ratio" === 0.0).select($"pred_lang").as[String].collect()
    assert(zero.forall(_ == "en"))
  }

  test("t3: quality score is the sum of its four rule bits, within [0,4]") {
    val rows = TextOps.t3QualityScore(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val q = r.getAs[Int]("quality")
      assert(q >= 0 && q <= 4)
      assert(r.getAs[Boolean]("keep") === (q >= 3))
    }
  }

  test("t4: regex tokens >= whitespace tokens (punctuation splits off)") {
    val rows = TextOps.t4TokenCount(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("re_tokens") >= r.getAs[Long]("ws_tokens"))
      assert(r.getAs[Long]("docs") > 0)
    }
  }

  test("t5: fingerprint is word-order and repetition invariant") {
    val fp = (t: String) => md5(concat_ws(" ",
      array_sort(array_distinct(split(lit(t), " ")))))
    val r = spark.range(1).select(
      fp("b a c a").as("f1"), fp("a b c").as("f2"), fp("a b d").as("f3"))
      .collect()(0)
    assert(r.getString(0) === r.getString(1))
    assert(r.getString(0) !== r.getString(2))
    // group sizes on the real corpus sum to the corpus size
    val n = graft.sources.Tables.documents(spark, sf).count()
    assert(TextOps.t5Fingerprint(spark, sf).count() === n)
  }

  test("t7: repetition ratios match a Scala recount; all in [0,1)") {
    def rep(text: String, n: Int): Double = {
      val w = text.split(" ", -1)
      val g = if (n == 1) w.toSeq
        else if (w.length >= n) w.sliding(n).map(_.mkString(" ")).toSeq
        else Seq(text)
      BigDecimal(1.0 - g.distinct.size.toDouble / g.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val rows = TextOps.t7Repetition(spark, sf)
      .as[(Long, Double, Double, Double, Boolean)].collect()
    assert(rows.length === docs.size)
    rows.foreach { case (id, r1, r2, r3, flag) =>
      assert(r1 >= 0 && r1 < 1 && r2 >= 0 && r2 < 1 && r3 >= 0 && r3 < 1)
      assert(r1 === rep(docs(id), 1), s"doc $id rep1")
      assert(r2 === rep(docs(id), 2), s"doc $id rep2")
      assert(r3 === rep(docs(id), 3), s"doc $id rep3")
      assert(flag === (r2 > 0.2))
    }
  }

  test("t8: bigram LM scores match hand-computed conditional probabilities") {
    // corpus: "a b a b" + "a b c" + single-token "x"
    //   c2: ab=3, ba=1, bc=1; c1(context): a=3, b=2
    //   micro-unit p: p(b|a)=1000000, p(a|b)=500000, p(c|b)=500000
    //   doc1 avg = 2500000/3000000 ; doc2 avg = 1500000/2000000
    val dir = java.nio.file.Files.createTempDirectory("graft_t8").toString
    Seq((1L, "a b a b", "en", "s", 7L), (2L, "a b c", "en", "s", 5L),
        (3L, "x", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.t8BigramLm(spark, dir)
      .as[(Long, Long, Double, Boolean)].collect()
      .map { case (id, nb, p, f) => id -> ((nb, p, f)) }.toMap
    assert(got(1L) === ((3L, 2500000.0 / 3000000, true)))
    assert(got(2L) === ((2L, 0.75, true)))
    assert(got(3L) === ((0L, 0.0, false)))
  }

  test("t8 model persists: a warm process loads the shipped LM with zero training jobs; scores unchanged") {
    val dir = sf
    val path = TextOps.lmModelPath(spark, dir)
    // cold pass (or an earlier test's): trains and publishes the model
    val cold = TextOps.t8BigramLm(spark, dir)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(graft.sources.Layouts.completedTable(path),
      "first scoring run must publish the model table")
    val publishedAt = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(path, "_SUCCESS"))

    // warm: resolving the model is a metadata check + lazy read — no job
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      TextOps.lmModel(spark, dir) // must NOT retrain
      Thread.sleep(1000) // listener events post async; drain before asserting absence
      assert(jobs.get === 0,
        "warm model resolution must run no Spark job (no retraining)")
    } finally spark.sparkContext.removeSparkListener(listener)

    // warm scoring: identical rows, no republish
    val warm = TextOps.t8BigramLm(spark, dir)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(warm === cold, "warm scores must equal cold scores")
    assert(java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(path, "_SUCCESS")) === publishedAt,
      "warm scoring must not republish the model")
  }

  test("t15: reference-LM scores match hand-computed probabilities; OOV mass counted at 0") {
    // ref slice (doc_id % 20 == 0): docs 0 + 20 train the model —
    //   c2: ab=3, ba=1, bc=1; c1: a=3, b=2
    //   micro-unit p: p(b|a)=1000000, p(a|b)=500000, p(c|b)=500000
    // non-ref docs score against it; bx / zz are out-of-reference-vocab
    val dir = java.nio.file.Files.createTempDirectory("graft_t15").toString
    Seq((0L, "a b a b"), (20L, "a b c"),
        (1L, "a b a b"), (2L, "a b x"), (3L, "z z"), (4L, "x"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.t15RefLmScore(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, nb, oov, p) => id -> ((nb, oov, p)) }.toMap
    assert(got(0L) === ((3L, 0L, 2500000.0 / 3000000)))
    assert(got(20L) === ((2L, 0L, 0.75)))
    assert(got(1L) === ((3L, 0L, 2500000.0 / 3000000)))
    assert(got(2L) === ((2L, 1L, 0.5)))
    assert(got(3L) === ((1L, 1L, 0.0)))
    assert(got(4L) === ((0L, 0L, 0.0)))
  }

  test("t15: on the fixture, reference docs have zero OOV and the pool exposes real OOV mass") {
    val rows = TextOps.t15RefLmScore(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    val n = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length.toLong === n, "every doc scored exactly once")
    rows.foreach { case (id, nb, oov, p) =>
      assert(oov >= 0 && oov <= nb, s"doc $id oov bounds")
      assert(p >= 0.0 && p <= 1.0, s"doc $id probability range")
      if (id % TextOps.DecontMod == 0)
        assert(oov === 0L, s"ref doc $id: every bigram is in its own model")
    }
    // the cross-corpus path must actually exercise the left-join miss
    assert(rows.exists { case (id, _, oov, _) =>
      id % TextOps.DecontMod != 0 && oov > 0 })
  }

  test("t13: BM25 scores equal an independent integer recount on a tiny corpus; ranking invariants hold on the fixture") {
    // independent reimplementation of the exact integer formula
    def score(n: Long, avgdl: Long, docs: Map[Long, Seq[String]],
        terms: Seq[String]): Map[Long, Long] = {
      val df = terms.map(t => t -> docs.values.count(_.contains(t)).toLong).toMap
      docs.flatMap { case (id, toks) =>
        val dl = toks.length.toLong
        val s = terms.map { t =>
          val tf = toks.count(_ == t).toLong
          if (tf == 0) 0L
          else {
            val idfQ = (2 * (n - df(t)) + 1) * 1000000L / (2 * df(t) + 1)
            idfQ * 22 * tf * avgdl / (10 * tf * avgdl + 3 * avgdl + 9 * dl)
          }
        }.sum
        if (s > 0) Some(id -> s) else None
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_t13").toString
    val corpus = Map(
      1L -> Seq("x", "x", "y"),
      2L -> Seq("x", "z"),
      3L -> Seq("y", "z", "z"))
    corpus.toSeq.map { case (id, toks) => (id, toks.mkString(" "), "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // df(x)=df(y)=df(z)=2, ties by term asc -> query 0 = {x, y, z}
    val want = score(n = 3, avgdl = 8 / 3,
      corpus, Seq("x", "y", "z"))
    val got = TextOps.t13Bm25Topk(spark, dir)
      .as[(Int, Int, Long, Long)].collect()
    assert(got.map(_._1).toSet === Set(0), "3 distinct terms -> one query")
    assert(got.map(r => r._3 -> r._4).toMap === want,
      "engine scores must equal the independent integer recount")
    // ranks follow (score desc, doc_id asc)
    val byRank = got.sortBy(_._2).map(_._3)
    val expectedOrder = want.toSeq.sortBy { case (id, s) => (-s, id) }.map(_._1)
    assert(byRank.toSeq === expectedOrder)

    // fixture invariants: three queries, <= 10 rows each, consecutive
    // ranks, scores non-increasing within a query
    val rows = TextOps.t13Bm25Topk(spark, sf)
      .as[(Int, Int, Long, Long)].collect()
    assert(rows.map(_._1).toSet === Set(0, 1, 2))
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.length <= TextOps.Bm25TopK)
      assert(sorted.map(_._2).toSeq === (1 to sorted.length).toSeq, s"query $q ranks")
      assert(sorted.map(_._4).toSeq === sorted.map(_._4).sortBy(-_).toSeq,
        s"query $q scores must be non-increasing")
    }
  }

  test("t9: planted PII is counted and redacted; clean text passes through") {
    val dir = java.nio.file.Files.createTempDirectory("graft_t9").toString
    Seq(
      (1L, "contact alice.smith@example.com or bob@site.org today", "en", "s", 0L),
      (2L, "call 555-123-4567 from 10.0.0.1 now", "en", "s", 0L),
      (3L, "plain clean text with no identifiers", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.t9PiiRedact(spark, dir)
      .as[(Long, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) === ((2, 0, 0,
      "contact <EMAIL> or <EMAIL> today".length)))
    assert(got(2L) === ((0, 1, 1, "call <PHONE> from <IP> now".length)))
    assert(got(3L) === ((0, 0, 0,
      "plain clean text with no identifiers".length)))
    // the real corpus is PII-free by construction: counts 0, length identity
    val corpus = TextOps.t9PiiRedact(spark, sf).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { r =>
      assert(r.getAs[Int]("n_email") === 0)
      assert(r.getAs[Int]("n_phone") === 0)
      assert(r.getAs[Int]("n_ip") === 0)
    }
  }

  test("t9b: the valid-checksum card redacts, the invalid one survives; adjacent runs and pass-through hold") {
    // independent Scala Luhn (the engine's convention: 1-based from-left
    // odd positions are the doubled rail of a 16-length string)
    def luhn(s: String): Boolean = s.zipWithIndex.map { case (ch, idx) =>
      val d = ch - '0'
      if ((idx + 1) % 2 == 1) { val x = 2 * d; if (x > 9) x - 9 else x }
      else d
    }.sum % 10 == 0
    // construct the fixtures instead of trusting a memorized number:
    // solve the check digit, then break it by +1 (mod 10)
    val base15 = "452801511283036"
    val valid = (0 to 9).map(d => base15 + d).find(luhn).get
    val invalid = valid.init + ((valid.last - '0' + 1) % 10).toString
    assert(luhn(valid) && !luhn(invalid))

    val docs = Seq(
      (1L, s"pay $valid today"),
      (2L, s"invoice $invalid is not a card"),
      (3L, s"two cards $valid and $valid plus junk $invalid end"),
      (4L, "plain clean text with no digits"),
      (5L, s"adjacent $valid$invalid runs"),
      // 17-digit run whose leading 16 are Luhn-valid: a longer
      // account/reference number, NOT a card — must survive whole
      (6L, s"ref ${valid}7 is an account"),
      // a valid card flush against the end of the text (empty tail
      // part with no following candidate) still redacts
      (7L, s"ends with $valid"),
      // 33 digits: two adjacent matches plus a leftover digit — all
      // slices of one run, nothing redacts
      (8L, s"long $valid${valid}9 run"))
      .toDF("doc_id", "text")
    val got = TextOps.cardRedactOf(docs)
      .as[(Long, Int, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((1, 1, s"pay <CARD> today".length)))
    assert(got(2L) === ((1, 0, s"invoice $invalid is not a card".length)),
      "the invalid checksum must NOT redact")
    assert(got(3L) === ((3, 2,
      s"two cards <CARD> and <CARD> plus junk $invalid end".length)))
    assert(got(4L) === ((0, 0, "plain clean text with no digits".length)))
    // 32 adjacent digits = two 16-digit matches, but they are slices
    // of ONE 32-digit run — the boundary guard keeps both unredacted
    // even though the first slice's checksum happens to validate
    assert(got(5L) === ((2, 0, s"adjacent $valid$invalid runs".length)),
      "slices of a longer digit run must NOT redact")
    assert(got(6L) === ((1, 0, s"ref ${valid}7 is an account".length)),
      "a Luhn-valid 16-prefix of a 17-digit run must NOT redact")
    assert(got(7L) === ((1, 1, s"ends with <CARD>".length)))
    assert(got(8L) === ((2, 0, s"long $valid${valid}9 run".length)))
    // the real corpus plants no 16-digit runs: pure pass-through
    val corpus = TextOps.t9bPiiValidated(spark, sf).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { r =>
      assert(r.getAs[Int]("n_card_candidate") === 0)
      assert(r.getAs[Int]("n_card_valid") === 0)
    }
  }

  test("t10: planted 8-gram overlap is flagged; clean and eval docs are not") {
    val dir = java.nio.file.Files.createTempDirectory("graft_t10").toString
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8" // one full 8-gram
    val docs = Seq(
      // doc 0: eval (0 % 20 == 0) — the held-out side of the gram
      (0L, s"pre $shared post", "en", "s", 0L),
      // doc 1: training doc carrying the same 8-gram → contaminated
      (1L, s"other words here $shared trailing", "en", "s", 0L),
      // doc 2: training doc with 7 of the 8 words — NOT contaminated
      (2L, "w1 w2 w3 w4 w5 w6 w7 x8 filler filler2", "en", "s", 0L),
      // doc 3: short doc (< 8 words) — whole-text fallback, no match
      (3L, "tiny doc", "en", "s", 0L),
      // doc 20: eval again; eval docs are never flagged
      (20L, s"a b $shared c d", "en", "s", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.t10Decontaminate(spark, dir)
      .select($"doc_id", $"is_eval", $"contaminated")
      .as[(Long, Boolean, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(0L) === ((true, false)))
    assert(got(1L) === ((false, true)))
    assert(got(2L) === ((false, false)))
    assert(got(3L) === ((false, false)))
    assert(got(20L) === ((true, false)))
    // fixture run: full corpus coverage, eval slice exactly doc_id % 20 == 0
    val fix = TextOps.t10Decontaminate(spark, sf)
      .select($"doc_id", $"is_eval").as[(Long, Boolean)].collect()
    assert(fix.length === graft.sources.Tables.documents(spark, sf).count())
    fix.foreach { case (id, ev) => assert(ev === (id % 20 == 0)) }
  }

  test("t19: planted eval grams are cut with margin, islands merge, eval docs pass verbatim") {
    val dir = java.nio.file.Files.createTempDirectory("graft_t19").toString
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8" // one full 8-gram
    val pre = (1 to 10).map(i => s"p$i").mkString(" ")   // 10 tokens
    val post = (1 to 10).map(i => s"q$i").mkString(" ")  // 10 tokens
    val docs = Seq(
      // doc 0: eval — the held-out side of the gram
      (0L, s"pre $shared post", "en", "s", 0L),
      // doc 1: hit at pos 10 → cut [10-4, 10+8+4) = [6, 22) of 28 toks
      (1L, s"$pre $shared $post", "en", "s", 0L),
      // doc 2: clean — passes verbatim
      (2L, "clean words only nothing shared at all here", "en", "s", 0L),
      // doc 3: short doc equal to an eval pseudo-gram? No — eval docs
      // are all >= 8 words, so this short doc cannot match; verbatim
      (3L, "tiny doc", "en", "s", 0L),
      // doc 4: TWO separated hits → two islands
      (4L, s"$shared $pre $pre $shared", "en", "s", 0L),
      // doc 20: eval — passes verbatim even though it carries the gram
      (20L, s"a b $shared c d", "en", "s", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.t19SpanDecontaminate(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: island [6, 22): p7..p10 + gram + q1..q4 cut, 12 kept
    val r1 = got(1L)
    assert(r1.getAs[Boolean]("is_eval") === false)
    assert(r1.getAs[Int]("n_spans_cut") === 1)
    assert(r1.getAs[Int]("n_tokens_cut") === 16)
    assert(r1.getAs[Int]("n_tokens_kept") === 12)
    assert(r1.getAs[String]("clean_text") ===
      "p1 p2 p3 p4 p5 p6 q5 q6 q7 q8 q9 q10")
    // doc 2 and 3: verbatim, zero cuts
    Seq(2L, 3L).foreach { id =>
      val r = got(id)
      assert(r.getAs[Int]("n_spans_cut") === 0)
      assert(r.getAs[String]("clean_text") ===
        docs.find(_._1 == id).get._2)
    }
    // doc 4 (36 toks): hits at 0 and 28 → islands [0,12) and [24,40);
    // kept = indices 12..23 = p5..p10 of the first pre + p1..p6 of the second
    val r4 = got(4L)
    assert(r4.getAs[Int]("n_spans_cut") === 2)
    assert(r4.getAs[Int]("n_tokens_cut") === 24)
    assert(r4.getAs[Int]("n_tokens_kept") === 12)
    assert(r4.getAs[String]("clean_text") ===
      "p5 p6 p7 p8 p9 p10 p1 p2 p3 p4 p5 p6")
    // eval docs verbatim with zero counts
    Seq(0L, 20L).foreach { id =>
      val r = got(id)
      assert(r.getAs[Boolean]("is_eval") === true)
      assert(r.getAs[Int]("n_spans_cut") === 0)
      assert(r.getAs[String]("clean_text") === docs.find(_._1 == id).get._2)
    }
  }

  test("t19: fixture run equals a brute-force Scala replay") {
    val g = TextOps.DecontGram
    val m = TextOps.ScrubMargin
    val raw = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val evalGrams = raw.filter(_._1 % TextOps.DecontMod == 0).flatMap {
      case (_, t) =>
        val w = t.split(" ")
        if (w.length >= g) w.sliding(g).map(_.mkString(" ")).toSeq
        else Seq(t)
    }.toSet
    val want = raw.filter(_._1 % TextOps.DecontMod != 0).map { case (id, t) =>
      val w = t.split(" ")
      val hits =
        if (w.length >= g)
          (0 to w.length - g).filter(p =>
            evalGrams.contains(w.slice(p, p + g).mkString(" ")))
        else if (evalGrams.contains(t)) Seq(0) else Seq.empty
      // margin-expanded island merge
      val islands = hits.foldLeft(List.empty[(Int, Int)]) { case (acc, p) =>
        val (st, en) = (math.max(p - m, 0), p + g + m)
        acc match {
          case (s0, e0) :: rest if p - m <= e0 =>
            (s0, math.max(e0, en)) :: rest
          case _ => (st, en) :: acc
        }
      }.reverse
      val keep = w.zipWithIndex.collect {
        case (t2, i) if !islands.exists(iv => i >= iv._1 && i < iv._2) => t2
      }
      (id, (keep.mkString(" "), islands.length, w.length - keep.length))
    }.toMap
    val got = TextOps.t19SpanDecontaminate(spark, sf).collect()
    assert(got.length === raw.length)
    got.filterNot(_.getAs[Boolean]("is_eval")).foreach { r =>
      val (clean, nsp, ncut) = want(r.getAs[Long]("doc_id"))
      assert(r.getAs[String]("clean_text") === clean)
      assert(r.getAs[Int]("n_spans_cut") === nsp)
      assert(r.getAs[Int]("n_tokens_cut") === ncut)
    }
  }

  test("t20: planted novelty mass; fixture equals a brute-force replay") {
    val dir = java.nio.file.Files.createTempDirectory("graft_t20").toString
    val known = (1 to 12).map(i => s"k$i").mkString(" ")  // standing, 12 toks
    val fresh = (1 to 8).map(i => s"f$i").mkString(" ")   // 8 novel toks
    val docs = Seq(
      (1L, known, "en", "s", 0L),              // standing corpus
      // doc 7 (ingest): "k1..k12 f1..f8" = 20 toks, 13 windows; windows
      // 0..4 are k-windows fully inside the standing doc (seen), 5..12
      // straddle into f-tokens (novel) → n_seen=5
      (7L, s"$known $fresh", "en", "s", 0L),
      // doc 17 (ingest): all novel
      (17L, (1 to 10).map(i => s"z$i").mkString(" "), "en", "s", 0L),
      // doc 27 (ingest): verbatim copy of standing doc → fully seen
      (27L, known, "en", "s", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.t20IngestNovelty(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_seen"),
          r.getAs[Long]("novelty_micro")))).toMap
    assert(got.keySet === Set(7L, 17L, 27L))
    assert(got(7L) === ((13L, 5L, 8L * 1000000L / 13L)))
    assert(got(17L) === ((3L, 0L, 1000000L)))
    assert(got(27L) === ((5L, 5L, 0L)))

    // fixture: brute-force replay on strings
    val g = TextOps.DecontGram
    val all = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def grams(t: String): Seq[String] = {
      val w = t.split(" ")
      if (w.length >= g) w.sliding(g).map(_.mkString(" ")).toSeq else Seq(t)
    }
    val standing = all.filter(_._1 % 10 != 7).flatMap(d => grams(d._2)).toSet
    val fx = TextOps.t20IngestNovelty(spark, sf).collect()
    assert(fx.length === all.count(_._1 % 10 == 7))
    fx.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val gs = grams(all.find(_._1 == id).get._2)
      val seen = gs.count(standing.contains)
      assert(r.getAs[Long]("n_windows") === gs.length.toLong, s"doc $id")
      assert(r.getAs[Long]("n_seen") === seen.toLong, s"doc $id")
      assert(r.getAs[Long]("novelty_micro") ===
        (gs.length - seen).toLong * 1000000L / gs.length, s"doc $id")
    }
  }

  test("t11: per-source percentile equals a Scala re-rank; bottom quartile dropped") {
    val rows = TextOps.t11PerplexityFilter(spark, sf)
      .select($"doc_id", $"source", $"avg_p", $"src_pctile", $"keep")
      .as[(Long, String, Double, Double, Boolean)].collect()
    assert(rows.length === graft.sources.Tables.documents(spark, sf).count())
    rows.groupBy(_._2).foreach { case (_, docs) =>
      // recompute percent_rank: (rank - 1) / (n - 1) over (avg_p, doc_id)
      val ordered = docs.sortBy(d => (d._3, d._1))
      val n = ordered.length
      ordered.zipWithIndex.foreach { case ((id, _, _, pct, keep), i) =>
        val expect = if (n == 1) 0.0
          else math.rint(i.toDouble / (n - 1) * 1e6) / 1e6
        assert(pct === expect, s"doc $id pctile")
        assert(keep === (pct >= TextOps.DropQuantile), s"doc $id keep")
      }
      // the filter actually cuts: lowest-ranked doc dropped, highest kept
      if (n > 4) {
        assert(!ordered.head._5, "per-source minimum must be dropped")
        assert(ordered.last._5, "per-source maximum must be kept")
      }
    }
  }

  test("t8: exact integer recount on a generated random corpus") {
    val rng = new scala.util.Random(99L)
    val vocab = Seq("a", "b", "c", "dd", "eee")
    val docs = (0 until 40).map { i =>
      val n = 1 + rng.nextInt(12)
      (i.toLong, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_t8p").toString
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // Scala recount in the same integer arithmetic (string keys: the
    // operator's 60-bit hashes cannot collide on this 25-bigram vocab)
    val occ = docs.flatMap { case (id, t) =>
      val w = t.split(" ", -1)
      w.sliding(2).filter(_.length == 2)
        .map(p => (id, p(0), p.mkString(" "))).toSeq
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c2 = occ.groupBy(_._1._3).map { case (k, v) => k -> v.values.sum }
    val c1 = occ.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    val expect = docs.map { case (id, t) =>
      val mine = occ.filter(_._1._1 == id)
      val nb = mine.values.sum
      val avg =
        if (nb == 0) 0.0
        else mine.map { case ((_, c, s), m) =>
          m * ((c2(s) * 1000000L) / c1(c))
        }.sum.toDouble / (nb * 1000000L)
      id -> ((nb, avg, avg >= 0.036))
    }.toMap
    val got = TextOps.t8BigramLm(spark, dir)
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === expect)
  }

  test("t8: corpus invariants — probabilities in (0,1], bigram counts = words-1") {
    val words = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", size(split($"text", " ")).as("nw"))
      .as[(Long, Int)].collect().toMap
    val rows = TextOps.t8BigramLm(spark, sf)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(rows.length === words.size)
    rows.foreach { case (id, nb, p, fl) =>
      assert(nb === math.max(words(id) - 1, 0).toLong, s"doc $id n_bigrams")
      assert(p > 0.0 && p <= 1.0, s"doc $id avg_p=$p")
      assert(fl === (p >= 0.036))
    }
  }

  test("t12: a shared verbatim footer flags boilerplate; unique docs are all-novel") {
    // 6 docs = unique 20-word body + the SAME 10-word footer; 3 docs
    // fully unique. Footer-internal trigrams (8 of them) get df = 6 >=
    // CommonDf = 5; body and boundary trigrams are df = 1.
    val footer = (1 to 10).map(i => s"f$i").mkString(" ")
    val docs = (1 to 6).map { d =>
      (d.toLong, (1 to 20).map(i => s"b${d}w$i").mkString(" ") + " " + footer)
    } ++ (7 to 9).map { d =>
      (d.toLong, (1 to 20).map(i => s"u${d}w$i").mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_t12").toString
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = TextOps.t12Boilerplate(spark, dir)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size === 9)
    (1L to 6L).foreach { d =>
      // 30 words -> 28 distinct trigrams; 8 footer-internal common;
      // 18 body + 2 boundary novel
      assert(got(d) === ((d, 28L, 8L, 20L, true)), s"shared-footer doc $d: ${got(d)}")
    }
    (7L to 9L).foreach { d =>
      assert(got(d) === ((d, 18L, 0L, 18L, false)), s"unique doc $d: ${got(d)}")
    }
  }

  test("t12 plan: the df side broadcasts and only two hash exchanges exist") {
    val plan = TextOps.t12Boilerplate(spark, sf)
      .queryExecution.executedPlan.toString
    // (gh, df) is the bounded side — it must broadcast at fixture scale
    // so the doc-side gram stream never shuffles on gh
    assert(plan.contains("BroadcastHashJoin"), s"df side did not broadcast:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 2,
      s"expected exactly the df agg + doc agg exchanges:\n$plan")
  }

  test("t12: real-corpus output is complete and internally consistent") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val rows = TextOps.t12Boilerplate(spark, sf)
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(rows.length === docs.count())
    rows.foreach { case (id, n, c, v, fl) =>
      assert(n >= 1, s"doc $id has no grams")
      assert(c >= 0 && v >= 0 && c + v <= n, s"doc $id counts: $n/$c/$v")
      assert(fl === (5 * c >= n), s"doc $id flag")
    }
  }

  /** Independent reference for [[graft.functions.bpeTokenCount]]: the
    * naive substring-Set greedy segmenter (pre-tokenize, then per letter
    * run take the longest vocab piece at each position) — a different
    * code path from the expression's packed-long binary-search scan. */
  private def bpeReference(text: String, vocab: Seq[String]): Int = {
    val vs = vocab.toSet
    val maxLen = vocab.map(_.length).max
    val s = text.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
    var i = 0; var count = 0
    while (i < s.length) {
      val c = s(i)
      if (c == ' ') i += 1
      else if (c >= 'a' && c <= 'z') {
        var best = 1
        var l = 2
        while (l <= maxLen && i + l <= s.length &&
               s(i + l - 1) >= 'a' && s(i + l - 1) <= 'z') {
          if (vs.contains(s.substring(i, i + l))) best = l
          l += 1
        }
        count += 1; i += best
      } else { count += 1; i += Character.charCount(s.codePointAt(i)) }
    }
    count
  }

  test("t4b: greedy segmentation on hand-checked words, and edge cases") {
    val vocab = TextOps.BpeVocab
    // hand-traced greedy splits under BpeVocab (merge-only, no whole words):
    // table -> ta|ble, value -> val|ue, customer -> cu|st|om|er,
    // window -> win|dow, spark -> s|pa|r|k
    val cases = Seq(
      "table" -> 2, "value" -> 2, "customer" -> 4, "window" -> 2,
      "spark" -> 4, "" -> 0, "   " -> 0, "42" -> 2, "a" -> 1,
      "the table" -> 3, "x!y" -> 3, "TABLE" -> 2)
    val df = cases.map(_._1).toDF("text")
      .select($"text", graft.functions.bpeTokenCount($"text", vocab).as("n"))
    val got = df.as[(String, Int)].collect().toMap
    cases.foreach { case (t, want) =>
      assert(got(t) === want, s"'$t' expected $want got ${got(t)}")
      assert(bpeReference(t, vocab) === want, s"reference disagrees on '$t'")
    }
  }

  test("t4b: expression matches the independent reference on random text; codegen == interpreted") {
    val rng = new scala.util.Random(1207L)
    val alpha = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,!?-"
    val texts = Seq.fill(200)(
      Seq.fill(rng.nextInt(80))(alpha(rng.nextInt(alpha.length))).mkString)
    val df = texts.toDF("text")
    def run(): Array[Int] =
      df.select(graft.functions.bpeTokenCount($"text", TextOps.BpeVocab))
        .as[Int].collect()
    val gen = run()
    assert(gen.toSeq === texts.map(bpeReference(_, TextOps.BpeVocab)))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(gen.toSeq === run().toSeq)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("t4b: corpus totals are consistent with t4 and a driver recount") {
    val rows = TextOps.t4bBpeTokenCount(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // merge-only vocab: every pre-token yields >= 1 subword, so bpe >= pre
    rows.foreach { case (src, bpe, pre, docs) =>
      assert(docs > 0 && pre > 0 && bpe >= pre, s"$src: bpe=$bpe pre=$pre")
    }
    // exact recount of one source via the independent reference
    val (src0, bpe0, _, _) = rows.minBy(_._1)
    val want = graft.sources.Tables.documents(spark, sf)
      .where($"source" === src0).select($"text").as[String].collect()
      .map(bpeReference(_, TextOps.BpeVocab).toLong).sum
    assert(bpe0 === want, s"$src0 bpe recount")
  }

  /** Independent reference for [[graft.functions.bpeTokenIds]]: the
    * substring-Set greedy scan emitting ids under the documented id
    * space — piece rank by (length, piece), then single letters, then
    * raw code points. */
  private def bpeIdsReference(text: String, vocab: Seq[String]): Seq[Int] = {
    val pieces = vocab.distinct.sortBy(p => (p.length, p))
    val rank = pieces.zipWithIndex.toMap
    val v = pieces.size
    val maxLen = vocab.map(_.length).max
    val s = text.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
    val out = Seq.newBuilder[Int]
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == ' ') i += 1
      else if (c >= 'a' && c <= 'z') {
        var best = 1
        var l = 2
        while (l <= maxLen && i + l <= s.length &&
               s(i + l - 1) >= 'a' && s(i + l - 1) <= 'z') {
          if (rank.contains(s.substring(i, i + l))) best = l
          l += 1
        }
        out += (if (best == 1) v + (c - 'a') else rank(s.substring(i, i + best)))
        i += best
      } else {
        val cp = s.codePointAt(i)
        out += v + 26 + cp
        i += Character.charCount(cp)
      }
    }
    out.result()
  }

  /** Total decoder over the t4d id space — the lossless-up-to-spaces
    * contract's other half. */
  private def decodeIds(ids: Seq[Int], vocab: Seq[String]): String = {
    val pieces = vocab.distinct.sortBy(p => (p.length, p))
    val v = pieces.size
    ids.map { id =>
      if (id < v) pieces(id)
      else if (id < v + 26) ('a' + (id - v)).toChar.toString
      else new String(Character.toChars(id - v - 26))
    }.mkString
  }

  test("t4d: expression ids match the independent reference and re-decode to the spaceless text; codegen == interpreted") {
    val rng = new scala.util.Random(1604L)
    val alpha = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,!?-"
    val texts = Seq.fill(200)(
      Seq.fill(rng.nextInt(80))(alpha(rng.nextInt(alpha.length))).mkString) ++
      // non-ASCII case-folding chars stay RAW code points (the id space
      // folds ASCII A-Z only — full Unicode lowering would desync the
      // engines; see the bpeIdsCtesSql translate() note)
      Seq("", "   ", "the table", "TABLE42!x", "caFÉ İstanbul Δx")
    val df = texts.toDF("text")
    def run(): Array[Seq[Int]] =
      df.select(graft.functions.bpeTokenIds($"text", TextOps.BpeVocab))
        .as[Seq[Int]].collect()
    val gen = run()
    // the decode contract's fold is ASCII-only, like the engine's scan
    def asciiLower(t: String): String =
      t.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
    texts.zip(gen).foreach { case (t, ids) =>
      assert(ids === bpeIdsReference(t, TextOps.BpeVocab), s"ids of '$t'")
      // decoding reproduces the ASCII-lowercased text with spaces removed
      assert(decodeIds(ids, TextOps.BpeVocab) ===
        asciiLower(t).replace(" ", ""), s"decode of '$t'")
    }
    // the non-ASCII uppers survive as their RAW code points
    val nonAscii = gen(texts.indexOf("caFÉ İstanbul Δx"))
    val v = TextOps.BpeVocab.distinct.size
    assert(nonAscii.contains(v + 26 + 'É'.toInt))
    assert(nonAscii.contains(v + 26 + 'İ'.toInt))
    assert(nonAscii.contains(v + 26 + 'Δ'.toInt))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(gen.toSeq === run().toSeq)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("t4d: corpus relation — n_ids equals the t4b counter, the digest pins the exact sequence") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val got = TextOps.t4dTokenIds(spark, sf)
      .as[(Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(got.size === docs.length)
    docs.foreach { case (id, t) =>
      val ids = bpeIdsReference(t, TextOps.BpeVocab)
      assert(got(id)._1 === ids.size, s"doc $id n_ids")
      assert(got(id)._1 === bpeReference(t, TextOps.BpeVocab), s"doc $id vs t4b")
      assert(got(id)._2 === md5hex(ids.mkString(",")), s"doc $id ids_sig")
    }
  }

  test("t14: top-k per source equals an independent Scala TF-IDF recount") {
    val got = TextOps.t14TfidfTerms(spark, sf)
      .as[(String, Int, String, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (s, rs) => s -> rs.sortBy(_._2).toSeq }
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"source", $"text").as[(String, String)].collect()
    // occurrence-counting bigram tf per (source, term)
    val tf = collection.mutable.Map.empty[(String, String), Long]
    docs.foreach { case (src, t) =>
      val w = t.split(" ", -1)
      if (w.length >= 2) w.sliding(2).foreach { bg =>
        val k = (src, bg.mkString(" "))
        tf(k) = tf.getOrElse(k, 0L) + 1
      }
    }
    val df = tf.keys.groupBy(_._2).map { case (t, ks) => t -> ks.map(_._1).toSet.size.toLong }
    // S is the corpus source count (docs, not tf keys): a source whose
    // every doc is shorter than 2 tokens still counts toward idf's S
    val nSrc = docs.map(_._1).distinct.length.toLong
    val want = tf.keys.groupBy(_._1).map { case (src, ks) =>
      val scored = ks.toSeq.map { case k @ (_, term) =>
        (term, tf(k), df(term), tf(k) * ((nSrc * 1000000L) / df(term)))
      }.sortBy { case (term, _, _, score) => (-score, term) }
        .take(TextOps.TfidfTopK).zipWithIndex
        .map { case ((term, f, d, sc), i) => (src, i + 1, term, f, d, sc) }
      src -> scored
    }
    assert(got.keySet === want.keySet)
    got.foreach { case (src, rs) => assert(rs === want(src), src) }
  }

  test("t16: rule flags match hand-built planted docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_t16").toString
    val pass = (Seq("the", "of", "and") ++
      (1 to 57).map(i => s"word$i")).mkString(" ")   // 60 words, all rules green
    val short = "the of and tiny"                    // 4 words: r_word_count fails
    val mono = Seq.fill(60)("batch").mkString(" ")   // no stops; top word = 100%
    // the published rule keys on the MOST FREQUENT word: "it"×30 (mass
    // 60) is the top word, not the rare 80-char word (mass 80). twc =
    // 340, so 5·60 ≤ 340 passes — the max-char-mass formulation this
    // replaced failed it (5·80 > 340)
    val rareLong = (Seq.fill(30)("it") ++ Seq("x" * 80) ++
      (1 to 40).map(i => f"wd$i%03d")).mkString(" ")
    Seq((1L, pass, "en", "s", pass.length.toLong),
        (2L, short, "en", "s", short.length.toLong),
        (3L, mono, "en", "s", mono.length.toLong),
        (4L, rareLong, "en", "s", rareLong.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.t16GopherRules(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Boolean]("gopher_keep"))
    (1 to 6).foreach(i => assert(got(1L).getBoolean(i), s"doc 1 rule col $i"))
    assert(!got(2L).getAs[Boolean]("r_word_count"))
    assert(!got(2L).getAs[Boolean]("gopher_keep"))
    assert(!got(3L).getAs[Boolean]("r_stopwords"))
    assert(!got(3L).getAs[Boolean]("r_top_word_mass"))
    assert(got(3L).getAs[Boolean]("r_word_count"))
    assert(got(4L).getAs[Boolean]("r_top_word_mass"),
      "most-frequent-word rule must not be failed by a rare long word")
  }

  test("t16: fixture flags equal an independent Scala recount of all six rules") {
    val got = TextOps.t16GopherRules(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (1 to 7).map(r.getBoolean).toList).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(docs.length === got.size)
    val stops = Set("the", "be", "to", "of", "and", "that", "have", "with")
    docs.foreach { case (id, t) =>
      val w = t.split(" ", -1)
      val nw = w.length.toLong
      val twc = t.length - nw + 1
      // most frequent word's char mass, ties by mass (the published
      // rule); .iterator, not .map on the Map — same-freq words would
      // collapse by key and keep an arbitrary survivor's mass
      val topMass = w.groupBy(identity).iterator
        .map { case (x, xs) => (xs.length.toLong, xs.length.toLong * x.length) }
        .max._2
      val want = List(
        nw >= 50 && nw <= 100000,
        3 * nw <= twc && twc <= 10 * nw,
        5L * w.count(_.exists(_.isLetter)) >= 4 * nw,
        w.toSet.count(stops) >= 2,
        10L * w.count(x => x.contains("#") || x.contains("...")) <= nw,
        5L * topMass <= twc,
      )
      assert(got(id) === want :+ want.forall(identity), id)
    }
    // corpus property the scaladoc documents: only "the" of the Gopher
    // octet occurs in the synthetic vocabulary, so the stopword gate
    // (≥ 2 distinct) correctly rejects every word-soup document — while
    // the length band keeps real variance on the fixture
    assert(got.values.forall(v => !v(3) && !v.last))
    assert(got.values.exists(_.head) && got.values.exists(!_.head))
  }

  test("t17: class-cohesive bucketize on planted score layouts, ties never split") {
    val scored = Seq(
      // en: 9 distinct scores — clean thirds
      (Seq(90L, 80, 70, 60, 50, 40, 30, 20, 10), "en"),
      // de: a 5-doc tie class straddling the head target (3): the whole
      // class is head (its first doc falls at cum_prev 0), middle gets
      // the 3-doc class at cum_prev 5 < 6, tail the last
      (Seq(100L, 100, 100, 100, 100, 50, 50, 50, 10), "de"),
      // fr: single doc — all head
      (Seq(77L), "fr"),
      // xx: one giant tie class — all head, no middle, no tail
      (Seq.fill(10)(5L), "xx"),
    ).flatMap { case (ss, l) => ss.zipWithIndex.map { case (v, i) =>
      (l.hashCode.toLong * 1000 + i, l, v) } }
      .toDF("doc_id", "lang", "score_micro")
    val got = TextOps.pplBucketize(spark, scored).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("score_micro")) ->
        r.getAs[String]("ppl_bucket"))
    // ties never split: every (lang, score) class maps to ONE bucket
    assert(got.groupBy(_._1).forall(_._2.map(_._2).toSet.size == 1))
    val byClass = got.toMap
    assert(Seq(90L, 80, 70).forall(s => byClass(("en", s)) == "head"))
    assert(Seq(60L, 50, 40).forall(s => byClass(("en", s)) == "middle"))
    assert(Seq(30L, 20, 10).forall(s => byClass(("en", s)) == "tail"))
    assert(byClass(("de", 100L)) == "head")
    assert(byClass(("de", 50L)) == "middle")
    assert(byClass(("de", 10L)) == "tail")
    assert(byClass(("fr", 77L)) == "head")
    assert(byClass(("xx", 5L)) == "head")
  }

  test("t17: fixture buckets equal an independent Scala replay of the boundary rule") {
    val rows = TextOps.t17PplBuckets(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("score_micro"), r.getAs[String]("ppl_bucket")))
    // every doc exactly once
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length.toLong === nDocs)
    assert(rows.map(_._1).distinct.length === rows.length)
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val n = rs.length.toLong
      val hTarget = (n + 2) / 3
      val mTarget = (2 * n + 2) / 3
      // replay: order score classes desc, assign by cum_prev
      var cum = 0L
      val want = rs.groupBy(_._3).toSeq.sortBy(-_._1).map { case (s, docs) =>
        val b = if (cum < hTarget) "head"
          else if (cum < mTarget) "middle" else "tail"
        cum += docs.length
        s -> b
      }.toMap
      rs.foreach(r => assert(r._4 === want(r._3), s"$lang/${r._1}"))
      // buckets are contiguous in score: min(head) > max(middle) > ...
      def scoresOf(b: String) = rs.filter(_._4 == b).map(_._3)
      for ((hi, lo) <- Seq(("head", "middle"), ("middle", "tail")))
        if (scoresOf(hi).nonEmpty && scoresOf(lo).nonEmpty)
          assert(scoresOf(hi).min > scoresOf(lo).max, s"$lang $hi/$lo")
    }
    // the fixture has real score variance: at least two buckets realized
    assert(rows.map(_._4).distinct.length >= 2)
  }

  test("t2b: trained char-gram profiles beat marker voting on planted ambiguous docs") {
    // Reference slice (doc_id % 20 == 0): labeled docs per language with
    // characteristic char shapes. Test docs are SHORT and contain NONE of
    // t2's marker words — marker voting ties at 0 and defaults to 'en';
    // the trained trigram profiles must still identify them.
    val dir = java.nio.file.Files.createTempDirectory("graft_t2b").toString
    val ref = Seq(
      (0L, "schnell schreiben sprache durch macht nacht schlecht brauchen", "de"),
      (20L, "accion nacion corazon rapido cancion pasion estacion relacion", "es"),
      (40L, "the quick strong thing think through string bright knight", "en"))
    val tests = Seq(
      (3L, "sprechen schlafen", "de"),    // no 'der die das und nicht ist'
      (7L, "estacionamiento relaciones", "es"), // no 'el la los de que y'
      (11L, "throughout thinking", "en"))
    (ref ++ tests).map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // marker voting (t2) fails: all three test docs predict 'en'
    val t2pred = TextOps.t2LangId(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(t2pred(3L) === "en" && t2pred(7L) === "en",
      "fixture invariant: marker voting must be blind to these docs")
    // trained profiles (t2b) succeed on every test doc
    val t2bPred = TextOps.t2bLangIdTrained(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("pred_lang"), r.getAs[Long]("score_micro"))).toMap
    tests.foreach { case (id, _, want) =>
      assert(t2bPred(id)._1 === want, s"doc $id")
      assert(t2bPred(id)._2 > 0L, s"doc $id must have profile hits")
    }
    // reference docs classify themselves
    ref.foreach { case (id, _, want) => assert(t2bPred(id)._1 === want, s"ref $id") }
  }

  test("t2b: profile weights replay in independent Scala; fixture output consistent") {
    // profile replay on a tiny labeled reference corpus
    val docs = Seq(
      (0L, "abc abd", "aa"), (20L, "xyz xyw", "bb"), (5L, "abc xyz", "aa"))
      .map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.langProfilesOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // independent Scala: padded within-word trigrams of the % 20 == 0 docs
    def grams(t: String): Seq[String] = t.split(" ", -1).filter(_.nonEmpty)
      .flatMap { w => val p = s" $w "; (0 until w.length).map(i => p.substring(i, i + 3)) }
    val byLang = Map("aa" -> grams("abc abd"), "bb" -> grams("xyz xyw"))
    val want = byLang.flatMap { case (l, gs) =>
      val tot = gs.size.toLong
      gs.groupBy(identity).map { case (g, o) => (l, g) -> o.size.toLong * 1000000L / tot }
    }
    assert(got === want)
    // registered fixture query: one row per doc, predictions drawn from
    // the labeled language set, scores non-negative, warm-stable
    val a = TextOps.t2bLangIdTrained(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(a.length.toLong === nDocs)
    val langSet = graft.sources.Tables.documents(spark, sf)
      .where($"doc_id" % 20 === 0).select($"lang").distinct()
      .collect().map(_.getString(0)).toSet
    a.foreach { r =>
      assert(langSet.contains(r.getAs[String]("pred_lang")))
      assert(r.getAs[Long]("score_micro") >= 0L)
    }
    val b = TextOps.t2bLangIdTrained(spark, sf).collect()
    assert(a.map(_.toString).sorted.toSeq === b.map(_.toString).sorted.toSeq)
  }

  test("t4c: hand-traced Sennrich merges on a planted dictionary; trainers agree") {
    // corpus = "aaab"×2, "ab"×1. Round 1: pairs (a,a)=4, (a,b)=3 → merge
    // "aa" (aaab → [aa,a,b]). Round 2: (aa,a)=2, (a,b)=3 → "ab"
    // ([aa,a,b] → [aa,ab]; [a,b] → [ab]). Round 3: (aa,ab)=2 → "aaab".
    // Round 4: no adjacent pairs anywhere → stop.
    val dict = Seq(("aaab", 2L), ("ab", 1L))
    assert(TextOps.bpeTrainMerges(dict, 10) === Seq("aa", "ab", "aaab"))
    // budget binds: asking for fewer merges truncates the same prefix
    assert(TextOps.bpeTrainMerges(dict, 2) === Seq("aa", "ab"))
    // the distributed trainer is the same loop left distributed
    val wc = dict.toDF("w", "c")
    assert(TextOps.bpeTrainMergesDistributed(wc, 10) === Seq("aa", "ab", "aaab"))
    // the max-piece bound is respected: a dictionary of long words never
    // learns a piece past 8 letters
    val long = Seq(("abcdefghij", 5L))
    val learned = TextOps.bpeTrainMerges(long, 20)
    assert(learned.nonEmpty)
    assert(learned.forall(p => p.length >= 2 && p.length <= 8))
  }

  test("t4c: learned-vocab counts on the fixture — invariants, warm stability, spliced oracle") {
    val a = TextOps.t4cBpeVocabTrain(spark, sf).collect()
    val srcs = graft.sources.Tables.documents(spark, sf)
      .select($"source").distinct().count()
    assert(a.length.toLong === srcs)
    val vp = a.head.getAs[Int]("vocab_pieces")
    assert(vp > 0 && vp <= TextOps.BpeMerges)
    a.foreach { r =>
      assert(r.getAs[Int]("vocab_pieces") === vp, "vocab size is one constant")
      // every pre-token yields >= 1 subword token
      assert(r.getAs[Long]("bpe_tokens") >= r.getAs[Long]("pre_tokens"))
    }
    // the learned vocab satisfies the counter's piece contract
    val vocab = TextOps.learnedBpeVocab(spark, sf)
    assert(vocab.size === vp)
    assert(vocab.forall(p =>
      p.length >= 2 && p.length <= 8 && p.forall(c => c >= 'a' && c <= 'z')))
    // warm path: the persisted vocab serves identical results
    val b = TextOps.t4cBpeVocabTrain(spark, sf).collect()
    assert(a.map(_.toString).sorted.toSeq === b.map(_.toString).sorted.toSeq)
    // the trained-constants oracle is spliced once the query has run
    val sql = TextOps.oracleSql("t4c_bpe_vocab_train")
    assert(sql.contains("WITH RECURSIVE") && !sql.contains("WHERE FALSE"))
    assert(sql.contains(s"('${vocab.sorted.head}', ${vocab.sorted.head.length})"))
  }

  test("t18: trained classifier separates a planted reference-vs-pool corpus") {
    // positives (doc_id % 20 == 0) speak reference vocabulary; negatives
    // (% 20 == 1) speak pool vocabulary; the UNLABELED rest lean 2:1 one
    // way or the other — the classifier must rank them by their lean.
    val posV = Seq("crisp", "clean", "prose", "cited")
    val negV = Seq("spam", "junk", "noise", "clickbait")
    val docs = (0 until 120).map { i =>
      val id = i.toLong
      val t =
        if (id % 20 == 0) Seq.tabulate(12)(j => posV(j % 4)).mkString(" ")
        else if (id % 20 == 1) Seq.tabulate(12)(j => negV(j % 4)).mkString(" ")
        else if (id % 2 == 0) (posV ++ posV ++ negV).mkString(" ")
        else (negV ++ negV ++ posV).mkString(" ")
      (id, t, "en", "s", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val wrows = TextOps.classifierWeightsOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Array.tabulate(TextOps.ClfBuckets)(b => wrows.getOrElse(b.toLong, 0L))
    val scored = docs.select($"doc_id",
        TextOps.clfScoreExpr($"text", w).as("clf_score"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 120).map(_.toLong).foreach { id =>
      if (id % 20 >= 2) {
        if (id % 2 == 0) assert(scored(id) > 0, s"doc $id: pos-leaning must score > 0")
        else assert(scored(id) < 0, s"doc $id: neg-leaning must score < 0")
      }
    }
    // training docs themselves sit at the extremes of their own classes
    assert(scored(0L) > scored(2L) && scored(1L) < scored(3L))
  }

  test("t18: weights and scores replay in independent Scala; fixture output is consistent and warm-stable") {
    def h60(x: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val posV = Seq("alpha", "beta", "gamma")
    val negV = Seq("delta", "epsilon", "zeta")
    val raw = (0 until 60).map { i =>
      val id = i.toLong
      val t =
        if (id % 20 == 0) (posV ++ posV).mkString(" ")
        else if (id % 20 == 1) (negV ++ negV).mkString(" ")
        else (posV ++ negV ++ Seq("theta")).mkString(" ")
      (id, t)
    }
    val docs = raw.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // --- independent replay of the trainer ---
    val D = TextOps.ClfBuckets
    val cp = collection.mutable.Map.empty[Long, Long]
    val cn = collection.mutable.Map.empty[Long, Long]
    raw.foreach { case (id, t) =>
      if (id % 20 == 0) t.split(" ", -1).foreach(tok =>
        cp(h60(tok) % D) = cp.getOrElse(h60(tok) % D, 0L) + 1)
      if (id % 20 == 1) t.split(" ", -1).foreach(tok =>
        cn(h60(tok) % D) = cn.getOrElse(h60(tok) % D, 0L) + 1)
    }
    val (tp, tn) = (cp.values.sum, cn.values.sum)
    val wantW = (cp.keySet ++ cn.keySet).map(b =>
      b -> (cp.getOrElse(b, 0L) * 1000000L / tp - cn.getOrElse(b, 0L) * 1000000L / tn)).toMap
    val gotW = TextOps.classifierWeightsOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotW === wantW)
    // --- independent replay of the scorer ---
    val dense = Array.tabulate(D)(b => wantW.getOrElse(b.toLong, 0L))
    val gotS = docs.select($"doc_id", TextOps.clfScoreExpr($"text", dense).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    raw.foreach { case (id, t) =>
      val want = t.split(" ", -1).map(tok => dense((h60(tok) % D).toInt)).sum
      assert(gotS(id) === want, s"doc $id score")
    }
    // --- registered fixture query: consistent and warm-stable ---
    val a = TextOps.t18QualityClassifier(spark, sf).collect()
    assert(a.length > 0)
    a.foreach { r =>
      assert(r.getAs[Boolean]("clf_keep") === (r.getAs[Long]("clf_score") > 0L))
      assert(r.getAs[Int]("n_toks") > 0)
    }
    // second call loads the persisted model (no retrain) — identical rows
    val b = TextOps.t18QualityClassifier(spark, sf).collect()
    assert(a.map(_.toString).sorted.toSeq === b.map(_.toString).sorted.toSeq)
  }

  test("t22: planted segments — per-segment votes, majority ties ascending, evidence-free docs unflagged") {
    // breaker arithmetic (d14's rule, mod 6): "e" → 1·31+101 = 132 ≡ 0
    // closes a segment; "thick"/"thing" → 271 ≡ 1, "zhong" → 277 ≡ 1,
    // "zhu" → 215 ≡ 5, "zzz" → 215 ≡ 5 stay inside. Profile: " th" is
    // English evidence, " zh" Chinese.
    val prof = Seq(("en", " th", 10L), ("zh", " zh", 10L))
    val docs = Seq(
      (1L, "thick thing e zhong zhu e"), // seg en + seg zh → mixed, tie→en
      (2L, "thick thing e thing thick e"), // both segs en → consistent
      (3L, "zzz e"),                     // no profile evidence at all
      (4L, "thick zhong e zhong zhu e")  // seg0 ties en/zh → en; still mixed
    ).toDF("doc_id", "text")
    val got = TextOps.segmentLangMixOf(docs, prof)
      .as[(Long, Long, String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got(1L) === ((2L, "en", 1L, 500000L, true)),
      "mixed doc: one vote each, majority tie breaks ascending, flagged")
    assert(got(2L) === ((2L, "en", 2L, 1000000L, false)), "pure doc unflagged")
    assert(got(3L) === ((0L, "??", 0L, 1000000L, false)),
      "evidence-free doc is vacuously consistent")
    assert(got(4L) === ((2L, "en", 1L, 500000L, true)),
      "within-segment score tie breaks to the ascending code")
  }

  test("t22: fixture rollup invariants hold; corpus profile langs only; multi-segment docs exist") {
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    val rows = TextOps.t22SegmentLangmix(spark, sf).collect()
    assert(rows.length.toLong === nDocs, "full-corpus-rows convention")
    val langs = graft.sources.Tables.documents(spark, sf)
      .select($"lang").distinct().as[String].collect().toSet
    rows.foreach { r =>
      val (tot, maj, n, mix, flag) = (r.getAs[Long]("n_segments"),
        r.getAs[String]("majority_lang"), r.getAs[Long]("n_majority"),
        r.getAs[Long]("mix_micro"), r.getAs[Boolean]("lang_mixed"))
      assert(n <= tot)
      if (tot == 0L) assert(maj === "??" && mix === 1000000L && !flag)
      else {
        assert(langs.contains(maj))
        assert(mix === n * 1000000L / tot)
        assert(flag === (mix < 800000L))
        assert(n >= 1L)
      }
    }
    assert(rows.exists(_.getAs[Long]("n_segments") > 1L),
      "the fixture exercises multi-segment docs")
  }

  test("t24: the gate scores a doc against its OWN language's list — planted kernel cases; config covers every predictable language") {
    // kernel: distinct-hit counting keyed by pred_lang, unknown lang = 0
    val rows = Seq(
      ("en", "the group sat at the table"),        // group+table = 2
      ("en", "group group group group"),           // distinct: 1
      ("de", "customer column stream order"),      // 4
      ("de", "group table small value"),           // en words, de list: 0
      ("xx", "group table small value"))           // unknown lang: 0
      .toDF("pred_lang", "text")
      .select($"pred_lang", $"text",
        TextOps.stopHitsExpr($"pred_lang", $"text").as("h"))
      .as[(String, String, Int)].collect()
    assert(rows.map(_._3).toSeq === Seq(2, 1, 4, 0, 0))

    // every language the trained profile can PREDICT carries a list —
    // else the gate would silently kill a whole language class
    val predictable = TextOps.langProfileRows(spark, sf).map(_._1).toSet
    assert(predictable.subsetOf(TextOps.LangStops.map(_._1).toSet),
      s"unconfigured predictable langs: " +
        s"${predictable -- TextOps.LangStops.map(_._1).toSet}")

    // fixture: full-corpus rows; the gate discriminates (some fail,
    // most pass) and agrees with a driver recount per doc
    val got = TextOps.t24LangStopwords(spark, sf).collect()
    val texts = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(got.length === texts.size)
    val lists = TextOps.LangStops.toMap
    got.foreach { r =>
      val ws = texts(r.getAs[Long]("doc_id")).split(" ", -1).toSet
      val want = lists(r.getAs[String]("pred_lang")).count(ws)
      assert(r.getAs[Int]("stop_hits") === want)
      assert(r.getAs[Boolean]("stop_keep") === (want >= 2))
    }
    val fails = got.count(!_.getAs[Boolean]("stop_keep"))
    assert(fails > 0, "the gate must bite someone")
    assert(fails < got.length / 2, "and must not absorb the corpus")
  }

  test("lang kernel: t2b/t24/t22/st13/e9 equal the reference scorer") {
    // every consumer of the per-row kernel against the same rollup over
    // LangScoreReference (explode + profile join + pivot aggregate), per
    // doc (per segment for t22) over the full fixture
    import graft.sources.Tables
    val profile = TextOps.langProfileRows(spark, sf)
    val langs = TextOps.profileLangs(profile)
    val best = TextOps.bestLangStruct(langs, $"sc")
    val docs = Tables.documents(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val ref = graft.sources.Materialize(
      LangScoreReference.scores(docs, $"text", Seq($"doc_id"), profile)
        .join(docs.select($"doc_id", $"lang", $"text"), "doc_id")
        .select($"doc_id", $"lang", $"text",
          best.getField("c").as("pred_lang"),
          best.getField("s").as("score_micro"), $"sc.n_tri".as("n_tri"))
        .withColumn("conf_micro", expr("score_micro div greatest(n_tri, 1)"))
        .withColumn("stop_hits", TextOps.stopHitsExpr($"pred_lang", $"text"))
        .withColumn("block_hits", TextOps.blockHitsExpr($"pred_lang", $"text"))
        .withColumn("stop_keep", $"stop_hits" >= TextOps.LangStopsMinHits)
        .withColumn("block_keep", $"block_hits" === 0))
    assert(ref.count() === docs.count())
    // t2b
    assert(rows(TextOps.t2bLangIdTrained(spark, sf)) ===
      rows(ref.select($"doc_id", $"lang", $"pred_lang", $"score_micro")))
    // the shared relation behind t24, t26, e5 and e9, and t24 itself
    assert(rows(TextOps.langScored(spark, sf)) ===
      rows(ref.select($"doc_id", $"pred_lang", $"conf_micro", $"stop_hits",
        $"block_hits", $"stop_keep", $"block_keep")))
    assert(rows(TextOps.t24LangStopwords(spark, sf)) ===
      rows(ref.select($"doc_id", $"pred_lang", $"stop_hits", $"stop_keep")))
    // e9's signal frame reads conf_micro and both keeps from it
    assert(rows(graft.operators.PipelineOps.e9SignalFrame(spark, sf)
        .select($"doc_id", $"conf_micro", $"stop_keep", $"block_keep")) ===
      rows(ref.select($"doc_id", $"conf_micro", $"stop_keep", $"block_keep")))
    // st13 over the ingest slice
    val slice = $"doc_id" % graft.operators.DedupOps.IngestMod ===
      graft.operators.DedupOps.IngestRem
    assert(rows(graft.streaming.StreamingOps.st13StreamLangGate(spark, sf)) ===
      rows(ref.where(slice).select($"doc_id", $"pred_lang", $"score_micro",
        $"n_tri", $"conf_micro",
        ($"conf_micro" >= TextOps.LangGateTauMicro).as("lang_admit"))))
    // t22: a segment votes when the reference finds >= 1 profile hit in it
    val votes = LangScoreReference.scores(
        docs.select($"doc_id", posexplode(graft.operators.DedupOps.segmentsOf($"text"))
          .as(Seq("seg_id", "seg"))),
        $"seg", Seq($"doc_id", $"seg_id"), profile)
      .where($"sc.n_hits" > 0)
      .select($"doc_id", best.getField("c").as("seg_lang"))
      .as[(Long, String)].collect().groupBy(_._1)
    val want = docs.select($"doc_id").as[Long].collect().map { id =>
      votes.get(id) match {
        case None => (id, 0L, "??", 0L, 1000000L, false)
        case Some(vs) =>
          val (lang, n) = vs.groupBy(_._2).map { case (l, v) => (l, v.length.toLong) }
            .toSeq.minBy { case (l, c) => (-c, l) }
          val mix = n * 1000000L / vs.length
          (id, vs.length.toLong, lang, n, mix, mix < TextOps.SegMixTau)
      }
    }.sortBy(_._1).toSeq
    val got = TextOps.t22SegmentLangmix(spark, sf)
      .as[(Long, Long, String, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got === want)
    assert(want.exists(_._2 > 1L), "the fixture exercises multi-segment docs")
  }

  test("t26: any OWN-list banned entry kills — adjacency-exact phrases, word boundaries, wrong-list and unknown-lang pass") {
    // kernel: phrase = consecutive tokens of the predicted language's
    // list; substrings and non-adjacent words never match
    val rows = Seq(
      ("en", "drop the window table now"),     // phrase hit: 1
      ("en", "the window on the table"),       // words present, NOT adjacent: 0
      ("en", "a dup appeared"),                // unigram hit: 1
      ("en", "the dupe appeared"),             // substring is not a word: 0
      ("en", "window table dup"),              // both entries: 2
      ("de", "window table dup"),              // en entries, de list: 0
      ("de", "run a batch scan today"),        // de phrase: 1
      ("xx", "window table dup batch scan"))   // unknown lang: nothing banned
      .toDF("pred_lang", "text")
      .select($"pred_lang", $"text",
        TextOps.blockHitsExpr($"pred_lang", $"text").as("h"))
      .as[(String, String, Int)].collect()
    assert(rows.map(_._3).toSeq === Seq(1, 0, 1, 0, 2, 0, 1, 0))

    // every predictable language carries a list (t24's coverage rule —
    // here absence would silently EXEMPT a language class, the inverse
    // failure, still config drift)
    val predictable = TextOps.langProfileRows(spark, sf).map(_._1).toSet
    assert(predictable.subsetOf(TextOps.LangBlockWords.map(_._1).toSet),
      s"unconfigured predictable langs: " +
        s"${predictable -- TextOps.LangBlockWords.map(_._1).toSet}")

    // fixture: agrees with a driver recount; kills a measurable slice
    // without absorbing the corpus (the C4 deployment shape)
    val got = TextOps.t26LangBlockwords(spark, sf).collect()
    val texts = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(got.length === texts.size)
    val lists = TextOps.LangBlockWords.toMap
    got.foreach { r =>
      val padded = " " + texts(r.getAs[Long]("doc_id")) + " "
      val want = lists(r.getAs[String]("pred_lang"))
        .count(p => padded.contains(" " + p + " "))
      assert(r.getAs[Int]("block_hits") === want)
      assert(r.getAs[Boolean]("block_keep") === (want == 0))
    }
    val fails = got.count(!_.getAs[Boolean]("block_keep"))
    assert(fails > 0, "the gate must bite someone")
    assert(fails < got.length / 2, "and must not absorb the corpus")

    // t24 and t26 ride ONE scoring pass: predictions agree row-for-row
    val p24 = TextOps.t24LangStopwords(spark, sf)
      .select($"doc_id", $"pred_lang").as[(Long, String)].collect().toMap
    got.foreach { r =>
      assert(r.getAs[String]("pred_lang") === p24(r.getAs[Long]("doc_id")))
    }
  }

  test("t25: planted normalization cases — NFC composes, marks strip, fullwidth survives, whitespace collapses; codegen == interpreted") {
    val cases: Seq[(String, String)] = Seq(
      // NFD vs NFC twins converge on the composed form (explicit \u
      // escapes -- source-encoding-proof)
      ("cafe\u0301", "caf\u00e9"),
      ("caf\u00e9", "caf\u00e9"),
      // decomposed E + acute composes
      ("E\u0301cole", "\u00c9cole"),
      // combining tilde on w has no precomposed form: mark strips
      ("w\u0303ord", "word"),
      // fullwidth s is COMPATIBILITY-equivalent only -- canonical
      // normalization must leave it (NFKC is out of contract)
      ("\uff53ushi", "\uff53ushi"),
      // case folding is NOT normalization: I-with-dot stays itself
      ("\u0130stanbul", "\u0130stanbul"),
      // whitespace: runs collapse, lead/trail trim, tabs/newlines are
      // the \s class
      ("  a \t b\n\nc ", "a b c"),
      ("   ", ""),
      ("", ""),
      // a-acute + a SECOND combining acute: the pair composes, the
      // residual mark cannot re-compose and strips
      ("a\u0301\u0301", "\u00e1"))
    val df = cases.map(_._1).toDF("s")
      .select($"s", graft.functions.normalizeText($"s").as("n"))
    val got = df.as[(String, String)].collect().toMap
    cases.foreach { case (in, want) =>
      assert(got(in) === want, s"normalize('$in')")
    }
    // independent JVM replay through java.util.regex (a different \p{M}
    // and whitespace implementation than the kernel's hand loop)
    cases.foreach { case (in, want) =>
      val replay = java.text.Normalizer
        .normalize(in, java.text.Normalizer.Form.NFC)
        .replaceAll("\\p{M}", "")
        .replaceAll("[\t\n\f\r ]+", " ")
        .replaceAll("^ | $", "")
      assert(replay === want, s"regex replay disagrees on '$in'")
    }
    // codegen vs interpreted parity (the t4b discipline)
    def run(): Map[String, String] = df.as[(String, String)].collect().toMap
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() === got)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("t25: fixture output follows the derivation moduli; digests match a driver replay of the kernel") {
    val rows = TextOps.t25NormalizeText(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length.toLong === nDocs)
    val changed = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Boolean]("changed")).toMap
    changed.foreach { case (id, c) =>
      // classes whose derivation survives normalization unchanged:
      // %3=1 (already-composed á), %3=2 with no other active axis
      val active = id % 3 == 0 || id % 11 == 0 || id % 5 == 0 || id % 2 == 0
      if (!active && id % 3 != 1) assert(!c, s"doc $id should be untouched")
      if (id % 3 == 0 || id % 5 == 0 || id % 2 == 0 || id % 11 == 0)
        assert(c, s"doc $id has a normalizing axis; norm must differ")
    }
    // digest replay: messy through the kernel object directly
    val messy = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", org.apache.spark.sql.functions.expr(
        graft.operators.TextNorm.messyTextExprSql).as("m"))
      .as[(Long, String)].collect().toMap
    val sigs = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("norm_sig")).toMap
    sigs.foreach { case (id, sig) =>
      val n = org.apache.spark.sql.graftext.TextNormalizer.normalize(messy(id))
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(n.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      assert(md === sig, s"doc $id digest")
    }
  }
}
