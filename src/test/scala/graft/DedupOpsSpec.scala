package graft

import graft.operators.DedupOps
import graft.sources.Materialize
import org.apache.spark.sql.functions._

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  test("d1: exact dedup flags later copies, keeps min doc_id as canonical") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"), // dup of 1
      (3L, "delta epsilon zeta"),
      (4L, "alpha beta gamma")  // dup of 1
    ).toDF("doc_id", "text")
    val h = sha2($"text", 256)
    val flagged = df.select($"doc_id",
      ($"doc_id" === min($"doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy(h))).as("is_canonical"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flagged === Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
  }

  test("d1n: NFD/NFC twins dedup together under normalization; raw-byte keying provably misses them") {
    val docs = Seq(
      (1L, "cafe\u0301 menu"),   // NFD spelling (e + combining acute)
      (2L, "caf\u00e9 menu"),    // NFC spelling -- canonically equivalent
      (3L, " caf\u00e9  menu"),  // whitespace-messy twin
      (4L, "cafe menu"))          // genuinely different (no accent)
    val df = docs.toDF("doc_id", "text")
    val normed = df
      .select($"doc_id",
        md5(graft.functions.normalizeText($"text")).as("k"))
      .withColumn("is_canonical", $"doc_id" === min($"doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"k")))
      .select($"doc_id", $"is_canonical")
      .as[(Long, Boolean)].collect().toMap
    assert(normed === Map(1L -> true, 2L -> false, 3L -> false, 4L -> true),
      "the three canonically-equivalent spellings form ONE group")
    // raw-byte keying (d1's) sees four distinct documents — the exact
    // gap d1n exists to close
    val raw = df.select($"doc_id", ($"doc_id" === min($"doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy(sha2($"text", 256))))
        .as("c"))
      .as[(Long, Boolean)].collect().toMap
    assert(raw.values.forall(identity), "raw-byte dedup finds no dups here")
    // registered query: full-corpus rows convention, one row per doc
    assert(DedupOps.d1nNormalizedDedup(spark, sf).count() ===
      graft.sources.Tables.documents(spark, sf).count())
  }

  test("shingles column: distinct word trigrams; short docs fall back to whole text") {
    val got = Seq(("a b c d e", 1), ("x y", 2))
      .toDF("text", "id")
      .select(DedupOps.shingles($"text", 3).as("sh"), $"id")
      .collect().map(r => r.getInt(1) -> r.getSeq[String](0).toSet).toMap
    assert(got(1) === Set("a b c", "b c d", "c d e"))
    assert(got(2) === Set("x y"))
  }

  test("jaccardExact matches a hand-computed value") {
    val j = DedupOps.jaccardExact(Seq("a", "b", "c"), Seq("b", "c", "d"))
    assert(j === 2.0 / 4.0)
  }

  test("MinHash: identical sets -> identical signatures; estimate tracks exact jaccard") {
    import DedupOps.MinHash
    val base = (0 until 60).map(i => s"sh$i")
    val near = base.drop(6) ++ (0 until 6).map(i => s"other$i") // j = 54/66 ≈ 0.82
    val s1 = MinHash.signature(base)
    val s2 = MinHash.signature(base)
    assert(s1.toSeq === s2.toSeq)
    val s3 = MinHash.signature(near)
    val est = s1.zip(s3).count { case (a, b) => a == b }.toDouble / s1.length
    val exact = DedupOps.jaccardExact(base, near)
    assert(math.abs(est - exact) < 0.15, s"est=$est exact=$exact")
  }

  test("SimHash: native fingerprint column matches the Scala reference impl") {
    import DedupOps.SimHash
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta"),
                 (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val got = SimHash.fingerprintCol(
        df.select($"doc_id", DedupOps.shingles($"text").as("sh")))
      .as[(Long, Long)].collect().toMap
    val want = df.select($"doc_id", DedupOps.shingles($"text").as("sh"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, sh) => id -> SimHash.fingerprintRef(sh) }.toMap
    assert(got === want)
    assert(got.values.forall(fp => fp >= 0L && fp < (1L << 60)))
  }

  test("SimHash: near-identical sets at small hamming, unrelated sets far apart") {
    import DedupOps.SimHash
    val base = (0 until 80).map(i => s"sh$i")
    val near = base.drop(2) ++ (0 until 2).map(i => s"other$i")
    val far = (0 until 80).map(i => s"unrelated$i")
    val hNear = SimHash.hamming(SimHash.fingerprintRef(base), SimHash.fingerprintRef(near))
    val hFar = SimHash.hamming(SimHash.fingerprintRef(base), SimHash.fingerprintRef(far))
    assert(hNear < hFar, s"near=$hNear far=$hFar")
    assert(hFar > 15, s"far hamming $hFar")
  }

  test("d2/d3/d4 agree with brute-force ground truth on sf0.001 documents") {
    // Brute-force ground truth computed in-test from the same shingle set.
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", DedupOps.shingles($"text").as("sh"))
      .as[(Long, Seq[String])].collect()
    val expected = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      j = DedupOps.jaccardExact(sa, sb) if j >= 0.8
    } yield (a, b)).toSet
    // d3's contract additionally bounds the fingerprint Hamming distance.
    val fps = docs.map { case (id, sh) => id -> DedupOps.SimHash.fingerprintRef(sh) }.toMap
    val expected3 = expected.filter { case (a, b) =>
      DedupOps.SimHash.hamming(fps(a), fps(b)) <= DedupOps.SimHash.HammingMax }

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet

    assert(pairs(DedupOps.d2MinhashLsh(spark, sf)) === expected)
    assert(pairs(DedupOps.d3SimhashNeardup(spark, sf)) === expected3)
    val d4 = pairs(DedupOps.d4NgramJaccard(spark, sf))
    assert(expected.subsetOf(d4)) // d4 threshold is 0.5, a superset
    // the prefix-filter variant is output-identical to the naive join
    assert(pairs(DedupOps.d4PrefixJaccard(spark, sf)) === d4)
  }

  test("d4 prefix filter: one hot trigram across 1k docs stays out of the prefixes — candidates bounded, near-dups still found") {
    // the Σdf² regime the switch exists for: every doc opens with the
    // same three tokens (one stopword-grade trigram, df = 1000), the
    // rest unique. The naive inverted-index join would emit C(1000,2) =
    // 499 500 candidate pairs from that one gram; prefix filtering ranks
    // it LAST by df, so it never enters a prefix and candidate volume
    // collapses to the rare-gram collisions — here, only the planted
    // near-dup pair.
    val n = 1000
    val docs = (0 until n).map { i =>
      (i.toLong, s"hot stop word u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g")
    } :+ (n.toLong, s"hot stop word u5a u5b u5c u5d u5e u5f zz") // near-dup of doc 5
    val df = docs.toDF("doc_id", "text")

    val cands = DedupOps.prefixCandidates(df, 0.5)
      .as[(Long, Long)].collect().toSet
    assert(cands.size < 50,
      s"prefix candidates must stay bounded under the hot trigram, got ${cands.size}")
    assert(cands.contains((5L, n.toLong)),
      "prefix filtering is recall-complete: the true near-dup pair must survive")

    // and the naive join really would explode — the hot gram alone
    // contributes C(1001,2) shared-gram pairs
    val sharedHot = df.select(explode(DedupOps.shingles($"text")).as("g"))
      .where($"g" === "hot stop word").count()
    assert(sharedHot === (n + 1).toLong)
  }

  test("d15: planted doc-inside-doc pair — Jaccard below every symmetric threshold, containment 1.0; d2/d4 provably miss it") {
    // container: 120 tokens (118 trigrams); contained: its first 30
    // tokens (28 trigrams, ALL inside the container) — Broder's
    // containment case. J = 28/118 ≈ 0.237, below d4's 0.5 and d2's 0.8
    // verify thresholds, so every symmetric screen in the tier drops the
    // pair; one-sided containment of the smaller doc is exactly 1.0.
    val container = (0 until 120).map(i => s"w$i").mkString(" ")
    val contained = (0 until 30).map(i => s"w$i").mkString(" ")
    val other = (0 until 40).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, container), (2L, contained), (3L, other))
      .toDF("doc_id", "text")

    val rows = DedupOps.containmentPairsOf(docs, 0.9)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(rows.map(r => (r._1, r._2)).toSet === Set((1L, 2L)))
    val (_, _, contA, contB, j) = rows.head
    assert(contB === 1.0, "the contained side's one-sided containment")
    assert(contA === 28.0 / 118.0)
    assert(j === 28.0 / 118.0)
    // the miss proof: brute-force Jaccard over the shingle sets sits
    // below both symmetric operating points while containment ≥ τ
    val sh = docs.select($"doc_id", DedupOps.shingles($"text").as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val jExact = DedupOps.jaccardExact(sh(1L), sh(2L))
    assert(jExact < 0.5 && jExact < 0.8, s"d4/d2 would both drop j=$jExact")
    assert(contB >= 0.9)

    // prefix candidates are recall-complete for the same pair
    val cands = DedupOps.containPrefixCandidates(docs, 0.9)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))
  }

  test("d4/d15 auto-dispatch: a planted stopword-skew corpus takes the prefix arm, the fixture corpus stays naive, outputs equal either way") {
    // the fixture corpus sits far below the switch (max trigram df 25)
    assert(!DedupOps.usePrefixPlan(spark, sf),
      "the benign corpus must keep the measured-winner naive arm")

    // skewed corpus: six shared leading tokens put four trigrams at
    // df = n, pushing R = Σdf²/Σdf ≈ 300 — an order of magnitude over
    // PrefixSwitchRatio (32, sized from the D15SkewProbe crossover in
    // (10, 36)); doc n duplicates doc 5 so both operators have a true
    // pair to find
    val n = 600
    val docs = (0 until n).map { i =>
      (i.toLong, s"hot stop word very common block u${i}a u${i}b u${i}c u${i}d")
    } :+ (n.toLong, "hot stop word very common block u5a u5b u5c u5d")
    val dir = java.nio.file.Files.createTempDirectory("graft_skew").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    val (s1, s2) = DedupOps.dfSkewStats(spark, dir)
    assert(s2 / s1 > DedupOps.PrefixSwitchRatio,
      s"planted skew must cross the threshold, got R = ${s2 / s1}")
    assert(DedupOps.usePrefixPlan(spark, dir),
      "the skewed corpus must take the prefix arm")

    // the dispatched operators equal their naive arms bit-for-bit on
    // the corpus where the dispatch actually flipped
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_a", "doc_b").collect().toSeq
    val d15 = rows(DedupOps.d15Containment(spark, dir))
    assert(d15 === rows(DedupOps.containmentPairsOf(
      graft.sources.Tables.documents(spark, dir), DedupOps.ContainTau)))
    assert(d15.map(r => (r.getLong(0), r.getLong(1))).contains((5L, n.toLong)))
    val d4 = rows(DedupOps.d4NgramJaccard(spark, dir))
    assert(d4 === rows(DedupOps.d4InvertedJaccard(spark, dir)))
    assert(d4.map(r => (r.getLong(0), r.getLong(1))).contains((5L, n.toLong)))

    // re-invoking the prefix arms reuses the pair relations this test's
    // scope already cached; a new τ caches its own, which the nested
    // scope releases: afterwards the session is back at baseline
    val (rdds0, cached0) = (persistedRdds, cachedEntries)
    Materialize.scoped {
      DedupOps.d15PrefixContainment(spark, dir).count()
      DedupOps.d4PrefixJaccard(spark, dir).count()
      assert(cachedEntries === cached0, "re-invocations must reuse the cached pairs")
      DedupOps.d15PrefixContainment(spark, dir, 0.8).count()
      assert(cachedEntries === cached0 + 1)
    }
    assert(cachedEntries === cached0,
      "the scope must release the pair relation it cached, and only that one")
    assert(persistedRdds.subsetOf(rdds0))
  }

  test("dfSkewStats: decimal Σdf² is exact vs a BigInt replay (the overflow-proof path)") {
    // 40 docs sharing three leading tokens (one df=40 trigram) plus
    // unique tails — enough df spread that a wrong aggregation shows.
    val docs = (0 until 40).map(i =>
      (i.toLong, s"alpha beta gamma u${i}x u${i}y u${i}z")).toDF("doc_id", "text")
    val (s1, s2) = DedupOps.dfSkewStatsOf(DedupOps.withShingleHashes(docs))
    // driver-side replay over the same hash arrays in arbitrary precision
    val dfs = docs.select(explode(DedupOps.shingles($"text")).as("g"))
      .groupBy($"g").count().as[(String, Long)].collect().map(_._2)
    assert(s1 === dfs.sum)
    assert(BigInt(s2) === dfs.map(d => BigInt(d) * BigInt(d)).sum,
      "Σdf² must be exact — the decimal aggregate may not round or wrap")
  }

  test("d4 prefix arm at three thresholds in one scope pins nothing after it exits") {
    val docs = (0 until 60).map { i =>
      (i.toLong, s"hot stop word u${i}a u${i}b u${i}c u${i}d")
    } :+ (60L, "hot stop word u5a u5b u5c u5d")
    val dir = java.nio.file.Files.createTempDirectory("graft_tau").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    // every τ caches its own candidate pairs; the scope that owns the
    // queries releases all of them, whatever τ sequence callers use
    val (rdds0, cached0) = (persistedRdds, cachedEntries)
    Materialize.scoped {
      for (t <- Seq(0.45, 0.55, 0.65)) DedupOps.d4PrefixJaccard(spark, dir, t).count()
      assert(cachedEntries === cached0 + 3, "one pair relation per τ, inside the scope")
    }
    assert(cachedEntries === cached0, "no pair relation may outlive its scope")
    assert(persistedRdds.subsetOf(rdds0), "no cached RDD may outlive its scope")
  }

  test("d15: prefix-filter variant is output-identical on the sf0.001 corpus; output superset of symmetric j>=0.9 pairs") {
    val naive = DedupOps.d15Containment(spark, sf)
      .as[(Long, Long, Double, Double, Double)].collect().toSet
    val prefix = DedupOps.d15PrefixContainment(spark, sf)
      .as[(Long, Long, Double, Double, Double)].collect().toSet
    assert(naive === prefix)
    assert(naive.nonEmpty)
    // cont_a, cont_b ≥ jaccard always (|∩|/|A| ≥ |∩|/|∪|): every j ≥ τ
    // symmetric pair must appear here too
    naive.foreach { case (_, _, ca, cb, j) =>
      assert(ca >= j - 1e-12 && cb >= j - 1e-12)
      assert(math.max(ca, cb) >= 0.9)
    }
  }

  test("d6: keep bit equals brute-force canonical-then-greedy-drop") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val canonical = docs.groupBy(_._2).values
      .map(g => g.map(_._1).min).toSet
    def sh(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet else Set(t)
    }
    val canonDocs = docs.filter(d => canonical(d._1))
    val dropped = (for {
      (a, ta) <- canonDocs; (b, tb) <- canonDocs if a < b
      if DedupOps.jaccardExact(sh(ta).toSeq, sh(tb).toSeq) >= 0.8
    } yield b).toSet
    val expected = docs.map { case (id, _) =>
      id -> (canonical(id) && !dropped(id)) }.toMap
    val got = DedupOps.d6DedupKeep(spark, sf)
      .as[(Long, Boolean)].collect().toMap
    assert(got === expected)
    assert(got.values.exists(identity) && got.values.exists(!_))
  }

  test("connectedComponents: chain, separate components, convergence") {
    // path 10-11-12-13-14 needs multi-hop propagation (diameter 4);
    // {20,21} is a second component; 30-31-32 a triangle-free V shape
    val edges = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (20L, 21L), (30L, 31L), (31L, 32L))
      .toDF("doc_a", "doc_b")
    val got = DedupOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      14L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L, 32L -> 30L))
  }

  test("connectedComponents matches union-find on seeded random graphs") {
    val rng = new scala.util.Random(99L)
    for (trial <- 0 until 6) {
      val n = 20 + trial * 15
      val m = n / 2 + rng.nextInt(n) // below + around the connectivity knee
      val edges = Seq.fill(m) {
        val a = rng.nextInt(n).toLong; val b = rng.nextInt(n).toLong
        if (a == b) (a, (b + 1) % n) else (a, b)
      }
      // union-find ground truth over the same edges
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = touched.map(v => v -> {
        // component min among TOUCHED nodes (isolated ids never enter CC)
        val root = find(v.toInt)
        touched.filter(u => find(u.toInt) == root).min
      }).toMap
      val df = edges.toDF("doc_a", "doc_b")
      val got = DedupOps.connectedComponents(df).as[(Long, Long)].collect().toMap
      assert(got === want, s"trial=$trial n=$n m=$m")
      val ref = CcReference.propagate(df).as[(Long, Long)].collect().toMap
      assert(ref === want, s"reference: trial=$trial n=$n m=$m")
    }
  }

  test("connectedComponents: empty edge list yields empty labels") {
    val edges = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(DedupOps.connectedComponents(edges).count() === 0)
    assert(CcReference.propagate(edges).count() === 0)
  }

  test("large-star/small-star CC equals propagation CC on random graphs") {
    val rng = new scala.util.Random(123L)
    for (trial <- 0 until 4) {
      val n = 30 + trial * 20
      // includes an isolated self-loop node (n+5, n+5): both kernels must
      // label it to itself rather than dropping it
      val edges = (Seq.fill(n + rng.nextInt(n)) {
        val a = rng.nextInt(n).toLong; val b = rng.nextInt(n).toLong
        if (a == b) (a, (b + 1) % n) else (a, b)
      } :+ (n.toLong + 5, n.toLong + 5)).toDF("doc_a", "doc_b")
      val prop = CcReference.propagate(edges)
        .as[(Long, Long)].collect().toMap
      val star = DedupOps.connectedComponents(edges)
        .as[(Long, Long)].collect().toMap
      assert(prop(n.toLong + 5) === n.toLong + 5)
      assert(star === prop, s"trial=$trial n=$n")
    }
  }

  test("star CC crosses a 120-node path the propagation iteration cap cannot") {
    // 120 nodes, diameter 119 >> propagation's 30-iteration cap; the star
    // rounds need only O(log n)
    val chain = (0L until 119L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val star = DedupOps.connectedComponents(chain)
      .as[(Long, Long)].collect()
    assert(star.length === 120)
    assert(star.forall(_._2 == 0L), "every node must label to the path head")
  }

  test("connectedComponents labels are lineage-free: no parquet scan, no cached relation") {
    // edges behind a parquet scan AND a scope-owned cached relation, the
    // shape d7's candidate pipeline hands the kernel; a memo hit on the
    // labels must re-run neither once the scope has released them
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_lineage")
    try {
      Seq((1L, 2L), (2L, 3L), (3L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
        .write.parquet(s"$dir/edges.parquet")
      val edges = Materialize(graft.sources.Tables.read(spark, s"$dir/edges.parquet"))
      val labels = DedupOps.connectedComponents(edges)
      val plan = labels.queryExecution.optimizedPlan
      val leaves = plan.collectLeaves().map(_.nodeName)
      assert(leaves.nonEmpty && leaves.forall(_ == "LogicalRDD"),
        s"labels must read only checkpointed rows, no scan or InMemoryRelation:\n$plan")
      assert(labels.as[(Long, Long)].collect().toMap ===
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    } finally graft.sources.Layouts.deleteRecursively(dir)
  }

  test("d7: a 48-document near-dup chain, deeper than 30 hops, clusters to its head") {
    // doc i is a 92-token window of unique words shifted 8 tokens from
    // doc i-1: adjacent trigram Jaccard 82/98 ≈ 0.84 (an edge at 0.8),
    // two steps apart 74/106 ≈ 0.70 (none), so the verified pair graph
    // is one 47-hop path
    val n = 48
    val docs = (0 until n).map(i =>
      (i.toLong + 1, (8 * i until 8 * i + 92).map(w => s"w$w").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft_d7_chain")
    try {
      docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val got = DedupOps.d7CcDedup(spark, dir.toString)
        .as[(Long, Long, Boolean)].collect()
      assert(got.length === n)
      got.foreach { case (id, cl, keep) =>
        assert(cl === 1L, s"doc $id must cluster to the chain head")
        assert(keep === (id == 1L))
      }
    } finally graft.sources.Layouts.deleteRecursively(dir)
  }

  test("d7: cluster ids are component minima; keep set is within d6's") {
    val got = DedupOps.d7CcDedup(spark, sf)
      .as[(Long, Long, Boolean)].collect()
    assert(got.nonEmpty)
    // keep exactly when the doc IS its cluster root
    got.foreach { case (id, cl, keep) =>
      assert(cl <= id)
      assert(keep === (id == cl))
    }
    // transitive closure can only drop MORE than the greedy pair rule
    val d6Keep = DedupOps.d6DedupKeep(spark, sf)
      .as[(Long, Boolean)].collect().filter(_._2).map(_._1).toSet
    val d7Keep = got.filter(_._3).map(_._1).toSet
    assert(d7Keep.subsetOf(d6Keep))
    assert(d7Keep.nonEmpty)
  }

  test("d8: batch docs are screened against the corpus index, not each other") {
    import spark.implicits._
    val base = ("w" + (1 to 60).mkString(" w")) // 60 distinct words
    val nearOfBase = base.split(" ").drop(2).mkString(" ") // j ≈ 0.93 trigram overlap
    val docs = Seq(
      (1L, base),                       // corpus
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"), // corpus, unrelated
      // batch slice: doc_id % 10 == 7
      (7L, base),                       // exact dup of corpus doc 1
      (17L, nearOfBase),                // near dup of corpus doc 1
      (27L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"), // unique
      (37L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")) // dup of BATCH doc 27 only
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_d8").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupOps.d8IncrementalDedup(spark, dir)
      .as[(Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet === Set(7L, 17L, 27L, 37L), "exactly the batch slice")
    assert(got(7L) === ((true, true)), "exact dup: both flags")
    assert(got(17L) === ((false, true)), "near dup: near only")
    assert(got(27L) === ((false, false)), "unique")
    assert(got(37L) === ((false, false)),
      "within-batch dup must NOT be flagged against the corpus")
  }

  test("indexUpsert: folded index equals rebuilt index; second batch screens against it") {
    import spark.implicits._
    import org.apache.spark.sql.functions.sha2
    val base = ("w" + (1 to 60).mkString(" w"))
    val nearOfBase = base.split(" ").drop(2).mkString(" ")
    val b1text = "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10 y11 y12"
    val nearOfB1 = b1text.split(" ").drop(1).mkString(" ")
    val standing = Seq((1L, base), (2L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"))
      .toDF("doc_id", "text")
    val batch1 = Seq((7L, b1text)).toDF("doc_id", "text")
    val batch2 = Seq(
      (8L, nearOfB1),   // near dup of the FOLDED batch1 doc — only the
                        // updated index can catch it
      (18L, nearOfBase),                         // near dup of standing
      (28L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")) // unique
      .toDF("doc_id", "text")

    val path = java.nio.file.Files.createTempDirectory("graft_idx").toString + "/index"
    DedupOps.indexUpsert(spark, path, DedupOps.bandKeysOf(standing))
    DedupOps.indexUpsert(spark, path, DedupOps.bandKeysOf(batch1))
    def content() = DedupOps.loadIndex(spark, path)
      .select($"doc_id", $"band".cast("int"), $"key")
      .as[(Long, Int, Long)].collect().toSet
    val rebuilt = DedupOps.bandKeysOf(standing.unionByName(batch1))
    val rebuiltSet = rebuilt.select($"doc_id", $"band", $"key")
      .as[(Long, Int, Long)].collect().toSet
    val folded = content()
    assert(folded === rebuiltSet, "index ∪ batch-keys must equal a rebuild")

    // at-least-once safety: re-folding the same batch changes nothing
    DedupOps.indexUpsert(spark, path, DedupOps.bandKeysOf(batch1))
    assert(content() === folded, "re-delivery must be a no-op")

    // the second day's screen, against the UPDATED standing corpus
    val docsAll = standing.unionByName(batch1).unionByName(batch2)
    val digests = standing.unionByName(batch1)
      .select(sha2($"text", 256).as("h")).distinct()
    def flagsVia(index: org.apache.spark.sql.DataFrame) =
      DedupOps.screenBatch(docsAll, batch2, digests, index)
        .as[(Long, Boolean, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val got = flagsVia(DedupOps.loadIndex(spark, path))
    assert(got.keySet === Set(8L, 18L, 28L))
    assert(got(8L) === ((false, true)),
      "near dup of the folded batch1 doc must be caught by the updated index")
    assert(got(18L) === ((false, true)), "near dup of standing corpus")
    assert(got(28L) === ((false, false)), "unique doc")
    assert(got === flagsVia(rebuilt),
      "screen via folded index must equal screen via rebuilt index")
  }

  test("indexUpsert: a fold killed mid-write leaves the committed index fully pre-fold") {
    import spark.implicits._
    val standing = (1L to 6L).map(i => (i, s"a$i b$i c$i d$i e$i f$i g$i h$i"))
      .toDF("doc_id", "text")
    val batch = Seq((7L, "n1 n2 n3 n4 n5 n6 n7 n8")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_tear")
      .toString + "/index"
    DedupOps.indexUpsert(spark, path, DedupOps.bandKeysOf(standing))
    def content() = DedupOps.loadIndex(spark, path)
      .select($"doc_id", $"band".cast("int"), $"key")
      .as[(Long, Int, Long)].collect().toSet
    val preFold = content()

    // Inject a write-side failure that fires only on HIGH bands: the low
    // bands' partitions are written successfully before a task throws, so
    // the fold dies genuinely mid-write with a partially-populated staging
    // generation on disk — the exact torn state the pointer swap must hide.
    val boom = udf { (band: Int, key: Long) =>
      if (band >= 16) throw new RuntimeException("injected mid-fold failure")
      key
    }
    val failing = DedupOps.bandKeysOf(batch)
      .withColumn("key", boom($"band", $"key"))
    intercept[Throwable] { DedupOps.indexUpsert(spark, path, failing) }
    assert(content() === preFold,
      "a killed fold must leave the committed index exactly pre-fold")

    // recovery: the next good fold commits over the orphaned staging
    DedupOps.indexUpsert(spark, path, DedupOps.bandKeysOf(batch))
    val rebuilt = DedupOps.bandKeysOf(standing.unionByName(batch))
      .select($"doc_id", $"band", $"key").as[(Long, Int, Long)].collect().toSet
    assert(content() === rebuilt,
      "the fold after a killed fold must commit the full post-fold state")
    // retention horizon = 1: the committed generation plus its immediate
    // predecessor (kept one fold cycle for in-flight readers); a third
    // fold retires the first generation
    def gens() = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("gen-")).toList.sorted
      finally st.close()
    }
    assert(gens().size === 2, s"expected current + one retained prior, saw ${gens()}")
    DedupOps.indexUpsert(spark, path, DedupOps.bandKeysOf(batch))
    assert(content() === rebuilt, "re-fold is a no-op on content")
    val after = gens()
    assert(after.size === 2 && after.forall(g => !g.startsWith("gen-000001")),
      s"the third fold must retire generation 1, saw $after")
  }

  test("d5: sign-LSH recalls planted near-identical embeddings") {
    import DedupOps.SignLsh
    val rng = new scala.util.Random(11L)
    val v = Array.fill(64)(rng.nextGaussian().toFloat)
    val vNear = v.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    assert(SignLsh.cosine(v.toSeq, vNear.toSeq) > 0.99)
    val shared = SignLsh.bandKeys(v.toSeq).toSet
      .intersect(SignLsh.bandKeys(vNear.toSeq).toSet)
    assert(shared.nonEmpty, "near-identical vectors must share at least one band")
  }

  test("d9: embedding clusters keep exactly the min-id root; transitive chains collapse") {
    import spark.implicits._
    val rng = new scala.util.Random(31L)
    def vec() = Array.fill(64)(rng.nextGaussian())
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    // cluster A: an exact-rotation chain in the (a, u) plane — adjacent
    // members at 18° (cos 0.951 ≥ 0.9), chain ENDS at 36° (cos 0.809 <
    // 0.9): the ends pair with NO direct edge, so only CC transitivity
    // can put them in one cluster
    val aU = unit(vec())
    val u0 = vec()
    val proj = u0.zip(aU).map { case (x, ax) => x * ax }.sum
    val uU = unit(u0.zip(aU).map { case (x, ax) => x - proj * ax })
    def rot(deg: Double) = {
      val r = math.toRadians(deg)
      aU.zip(uU).map { case (ax, ux) => math.cos(r) * ax + math.sin(r) * ux }
    }
    val b = vec()
    val bNear = b.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.05 else x }
    val rows = Seq(
      10L -> rot(0), 11L -> rot(18), 12L -> rot(36),
      // cluster B: a simple near-identical pair
      20L -> b, 21L -> bNear) ++
      // singletons: independent random vectors
      (30L to 39L).map(i => i -> vec())
    val dir = java.nio.file.Files.createTempDirectory("graft_d9").toString
    rows.map { case (id, v) => (id, v.map(_.toFloat).toSeq) }
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val got = DedupOps.d9EmbeddingClusterDedup(spark, dir)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.size === rows.size, "one row per vector")
    // cluster A collapses transitively to root 10; only the root keeps
    assert(got(10L) === ((10L, true)))
    assert(got(11L) === ((10L, false)))
    assert(got(12L) === ((10L, false)), "chain end must join via transitivity")
    // cluster B roots at 20
    assert(got(20L) === ((20L, true)))
    assert(got(21L) === ((20L, false)))
    // singletons each their own kept cluster
    (30L to 39L).foreach(i => assert(got(i) === ((i, true)), s"singleton $i"))
  }

  test("d10: planted 50-token spans are located at their exact char offsets; within-doc repeats count; short docs fall back to whole text") {
    import spark.implicits._
    val span = (1 to 50).map(i => s"s$i").mkString(" ")   // shared doc1↔doc2
    val span2 = (1 to 50).map(i => s"t$i").mkString(" ")  // repeated inside doc7
    val doc1 = (1 to 10).map(i => s"p$i").mkString(" ") + " " + span + " " +
      (1 to 10).map(i => s"q$i").mkString(" ")            // 70 tokens
    val doc2 = (1 to 5).map(i => s"r$i").mkString(" ") + " " + span + " " +
      (1 to 5).map(i => s"u$i").mkString(" ")             // 60 tokens
    val doc3 = (1 to 70).map(i => s"z$i").mkString(" ")   // unique, 70 tokens
    val doc7 = (1 to 10).map(i => s"a$i").mkString(" ") + " " + span2 + " " +
      (1 to 5).map(i => s"b$i").mkString(" ") + " " + span2 // 115 tokens
    val docs = Seq(
      (1L, doc1), (2L, doc2), (3L, doc3),
      (4L, "tiny little doc"),                 // short, unique
      (5L, "same short doc"), (6L, "same short doc"), // short exact dups
      (7L, doc7))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_d10").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupOps.d10SpanDedup(spark, dir)
      .select($"doc_id", $"n_windows", $"n_dup", $"first_dup_off", $"has_dup")
      .as[(Long, Long, Long, Int, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // only the exact span window repeats (its neighbors differ per doc),
    // and the char offset is the span's indexOf in the original text
    assert(got(1L) === ((21L, 1L, doc1.indexOf(span), true)))
    assert(got(2L) === ((11L, 1L, doc2.indexOf(span), true)))
    assert(got(3L) === ((21L, 0L, -1, false)))
    assert(got(4L) === ((1L, 0L, -1, false)),
      "a short unique doc is one clean whole-text window")
    assert(got(5L) === ((1L, 1L, 0, true)))
    assert(got(6L) === ((1L, 1L, 0, true)),
      "short exact dups flag through the whole-text fallback at offset 0")
    assert(got(7L) === ((66L, 2L, doc7.indexOf(span2), true)),
      "a span repeated WITHIN one doc counts both occurrences")
  }

  test("d11: overlapping dup windows merge into one maximal interval; separated repeats stay distinct; char bounds exact") {
    import spark.implicits._
    val shared60 = (1 to 60).map(i => s"m$i").mkString(" ") // doc1↔doc2
    val span2 = (1 to 50).map(i => s"t$i").mkString(" ")    // twice in doc7
    val doc1 = (1 to 8).map(i => s"p$i").mkString(" ") + " " + shared60 + " " +
      (1 to 5).map(i => s"q$i").mkString(" ")               // 73 tokens
    val doc2 = (1 to 4).map(i => s"r$i").mkString(" ") + " " + shared60 // 64
    val doc3 = (1 to 70).map(i => s"z$i").mkString(" ")     // unique
    val doc7 = (1 to 10).map(i => s"a$i").mkString(" ") + " " + span2 + " " +
      (1 to 5).map(i => s"b$i").mkString(" ") + " " + span2 // 115 tokens
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3), (4L, "short doc"),
      (7L, doc7)).map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_d11").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupOps.d11SpanIntervals(spark, dir)
      .as[(Long, Int, Int, Int, Int)].collect().toSet
    // the 11 overlapping dup windows inside the shared 60-token run
    // merge into ONE interval spanning exactly that run
    val want = Set(
      (1L, 1, doc1.indexOf(shared60), doc1.indexOf(shared60) + shared60.length, 60),
      (2L, 1, doc2.indexOf(shared60), doc2.indexOf(shared60) + shared60.length, 60),
      (7L, 1, doc7.indexOf(span2), doc7.indexOf(span2) + span2.length, 50),
      (7L, 2, doc7.lastIndexOf(span2), doc7.lastIndexOf(span2) + span2.length, 50))
    assert(got === want,
      "clean and short docs absent; merged and separated intervals exact")
  }

  test("d10 property: output equals a driver-side brute-force recount on a seeded random corpus with planted spans") {
    import spark.implicits._
    val N = DedupOps.SpanN
    val rnd = new scala.util.Random(20260814L)
    // random base corpus (some docs below SpanN, no organic 50-token
    // repeats at this vocab), then splice spans between random doc pairs
    val base = scala.collection.mutable.Map((1L to 60L).map { id =>
      val len = 20 + rnd.nextInt(120)
      id -> Vector.fill(len)("w" + rnd.nextInt(500))
    }: _*)
    (1 to 12).foreach { _ =>
      val src = 1L + rnd.nextInt(60)
      val dst = 1L + rnd.nextInt(60)
      val s = base(src)
      if (src != dst && s.length >= N) {
        val start = rnd.nextInt(s.length - N + 1)
        val span = s.slice(start, start + N)
        val d = base(dst)
        val at = rnd.nextInt(d.length + 1)
        base(dst) = d.take(at) ++ span ++ d.drop(at)
      }
    }
    val docs = base.toSeq.sortBy(_._1).map { case (id, ts) => (id, ts.mkString(" ")) }

    def windows(text: String): Seq[(Int, String)] = {
      val w = text.split(" ")
      if (w.length >= N) (0 to w.length - N).map(i => (i, w.slice(i, i + N).mkString(" ")))
      else Seq((0, text))
    }
    val counts = docs.flatMap { case (_, t) => windows(t).map(_._2) }
      .groupBy(identity).view.mapValues(_.size).toMap
    val expect = docs.map { case (id, t) =>
      val ws = windows(t)
      val dup = ws.filter(w => counts(w._2) >= 2)
      val firstOff = dup.headOption.map { case (p, _) =>
        if (p == 0) 0 else t.split(" ").take(p).mkString(" ").length + 1
      }.getOrElse(-1)
      (id, ws.size.toLong, dup.size.toLong, firstOff, dup.nonEmpty)
    }.toSet
    assert(expect.exists(_._5), "the planted corpus must contain dup spans")
    assert(expect.exists(r => !r._5), "and clean docs")

    val dir = java.nio.file.Files.createTempDirectory("graft_d10p").toString
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupOps.d10SpanDedup(spark, dir)
      .as[(Long, Long, Long, Int, Boolean)].collect().toSet
    assert(got === expect)
  }

  test("d12: keep-first span removal — the first occurrence survives, later copies are cut, untouched docs pass through") {
    import spark.implicits._
    val shared60 = (1 to 60).map(i => s"m$i").mkString(" ") // doc1 first, doc2 later
    val span2 = (1 to 50).map(i => s"t$i").mkString(" ")    // twice in doc7
    val doc1 = (1 to 8).map(i => s"p$i").mkString(" ") + " " + shared60 + " " +
      (1 to 5).map(i => s"q$i").mkString(" ")
    val doc2 = (1 to 4).map(i => s"r$i").mkString(" ") + " " + shared60
    val doc3 = (1 to 70).map(i => s"z$i").mkString(" ")
    val doc7 = (1 to 10).map(i => s"a$i").mkString(" ") + " " + span2 + " " +
      (1 to 5).map(i => s"b$i").mkString(" ") + " " + span2
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3), (4L, "short doc"),
      (7L, doc7)).map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_d12").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupOps.d12SpanRemoval(spark, dir)
      .as[(Long, String, Int, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // doc1 holds every shared window's FIRST occurrence — fully kept
    assert(got(1L) === ((doc1, 0, 0, 73)))
    // doc2's copy of the shared run is the later occurrence — cut whole
    assert(got(2L) === (("r1 r2 r3 r4", 1, 60, 4)))
    assert(got(3L) === ((doc3, 0, 0, 70)))
    assert(got(4L) === (("short doc", 0, 0, 2)))
    // doc7 keeps its first span2 and loses the repeat
    val doc7clean = (1 to 10).map(i => s"a$i").mkString(" ") + " " + span2 +
      " " + (1 to 5).map(i => s"b$i").mkString(" ")
    assert(got(7L) === ((doc7clean, 1, 50, 65)))
  }

  test("d12 property: equals a driver-side keep-first reference on a seeded random corpus; every span class survives somewhere") {
    import spark.implicits._
    val N = DedupOps.SpanN
    val rnd = new scala.util.Random(20260815L)
    val base = scala.collection.mutable.Map((1L to 60L).map { id =>
      val len = 20 + rnd.nextInt(120)
      id -> Vector.fill(len)("w" + rnd.nextInt(500))
    }: _*)
    (1 to 12).foreach { _ =>
      val src = 1L + rnd.nextInt(60)
      val dst = 1L + rnd.nextInt(60)
      val s = base(src)
      if (src != dst && s.length >= N) {
        val start = rnd.nextInt(s.length - N + 1)
        val span = s.slice(start, start + N)
        val d = base(dst)
        val at = rnd.nextInt(d.length + 1)
        base(dst) = d.take(at) ++ span ++ d.drop(at)
      }
    }
    val docs = base.toSeq.sortBy(_._1).map { case (id, ts) => (id, ts.mkString(" ")) }

    // independent keep-first reference (token-vector arithmetic, no SQL)
    val occ = scala.collection.mutable.Map.empty[Seq[String], List[(Long, Int)]]
    docs.foreach { case (id, t) =>
      val w = t.split(" ")
      if (w.length >= N)
        (0 to w.length - N).foreach(i =>
          occ.updateWith(w.slice(i, i + N).toSeq)(o => Some((id, i) :: o.getOrElse(Nil))))
    }
    val cutStarts = occ.values.filter(_.size >= 2)
      .flatMap(_.sorted.tail).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    val expect = docs.map { case (id, t) =>
      val w = t.split(" ")
      val ivs = cutStarts.getOrElse(id, Seq.empty)
        .foldLeft(List.empty[(Int, Int)]) {
          case ((s0, e0) :: rest, p) if p <= e0 => (s0, math.max(e0, p + N)) :: rest
          case (acc, p) => (p, p + N) :: acc
        }.reverse
      val cut = ivs.map { case (s0, e0) => e0 - s0 }.sum
      val kept = w.zipWithIndex.collect {
        case (tok, i) if !ivs.exists { case (s0, e0) => i >= s0 && i < e0 } => tok
      }
      (id, (if (ivs.nonEmpty) kept.mkString(" ") else t,
        ivs.size, cut, w.length - cut))
    }.toMap
    val got = DedupOps.d12SpanRemoval(spark, {
      val dir = java.nio.file.Files.createTempDirectory("graft_d12p").toString
      docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }).as[(Long, String, Int, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got === expect)
    // keep-first invariant (provable form): a duplicated class whose
    // FIRST occurrence is untouched by its own doc's cut intervals must
    // still occur verbatim in the cleaned corpus. (The unqualified form
    // is NOT a theorem: a kept-first window can be destroyed by islands
    // of OTHER classes' later occurrences overlapping it.)
    val refIvs = docs.map { case (id, _) =>
      id -> cutStarts.getOrElse(id, Seq.empty)
        .foldLeft(List.empty[(Int, Int)]) {
          case ((s0, e0) :: rest, p) if p <= e0 => (s0, math.max(e0, p + N)) :: rest
          case (acc, p) => (p, p + N) :: acc
        }
    }.toMap
    val cleanedWindows = got.values.flatMap { case (t, _, _, _) =>
      val w = t.split(" ")
      if (w.length >= N) (0 to w.length - N).map(i => w.slice(i, i + N).toSeq)
      else Seq.empty
    }.toSet
    var checked = 0
    occ.filter(_._2.size >= 2).foreach { case (cls, os) =>
      val (fid, fp) = os.min
      val untouched = !refIvs(fid).exists { case (s0, e0) => fp < e0 && s0 < fp + N }
      if (untouched) {
        checked += 1
        assert(cleanedWindows.contains(cls),
          s"span class lost from the cleaned corpus: ${cls.take(3).mkString(" ")}…")
      }
    }
    assert(checked > 0, "fixture must exercise the survival invariant")
  }

  test("d13: the survivor is the (src_rank, doc_id) argmin of its d7 cluster, exactly one per cluster") {
    val got = DedupOps.d13PriorityDedup(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Int]("src_rank"),
          r.getAs[Boolean]("keep")))).toMap
    // clusters must be d7's verbatim
    val d7 = DedupOps.d7CcDedup(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got.keySet === d7.keySet)
    got.foreach { case (id, (c, _, _)) => assert(c === d7(id), s"doc $id cluster") }
    // independent rank + argmin replay
    val src = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"source").as[(Long, String)].collect().toMap
    got.foreach { case (id, (_, rk, _)) =>
      assert(rk === src(id).drop(3).toInt, s"doc $id rank") }
    got.toSeq.groupBy(_._2._1).foreach { case (c, xs) =>
      val best = xs.map(t => (t._2._2, t._1)).min
      xs.foreach { case (id, (_, rk, keep)) =>
        assert(keep === ((rk, id) == best), s"doc $id keep in cluster $c") }
      assert(xs.count(_._2._3) === 1, s"exactly one survivor in cluster $c")
    }
    // the fixture must exercise multi-member clusters or the argmin is vacuous
    assert(got.toSeq.groupBy(_._2._1).values.exists(_.size > 1))
  }

  // ---- d14 segment boilerplate removal

  /** Driver-side reference of [[DedupOps.segmentsOf]]'s fold. */
  private def refSegs(text: String): Vector[String] = {
    val segs = Vector.newBuilder[String]
    val cur = new StringBuilder
    for (t <- text.split(" ", -1)) {
      if (cur.nonEmpty) cur.append(' ')
      cur.append(t)
      if ((t.length * 31 + t.head.toInt) % DedupOps.SegMod == 0) {
        segs += cur.toString; cur.clear()
      }
    }
    if (cur.nonEmpty) segs += cur.toString
    segs.result()
  }

  /** Driver-side reference of the whole d14 pass. */
  private def refD14(docs: Seq[(Long, String)]): Map[Long, (String, Int, Int)] = {
    val segsByDoc = docs.map { case (id, t) => id -> refSegs(t) }.toMap
    val df = segsByDoc.toSeq
      .flatMap { case (id, ss) =>
        ss.filter(_.split(" ").length >= DedupOps.SegMinTokens)
          .distinct.map(_ -> id)
      }
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).distinct.size }
    val boiler = df.filter(_._2 >= DedupOps.SegDfMin).keySet
    docs.map { case (id, t) =>
      val ss = segsByDoc(id)
      val keep = ss.filterNot(s =>
        s.split(" ").length >= DedupOps.SegMinTokens && boiler(s))
      val cutTok = ss.map(_.split(" ").length).sum -
        keep.map(_.split(" ").length).sum
      id -> (keep.mkString(" "), ss.size - keep.size, cutTok)
    }.toMap
  }

  test("segmentsOf: re-joining reproduces text; interior breaks only at breaker tokens") {
    val texts = Seq("the fast key order sort table merge part window small",
      "a", "hash", "join a filter window row join stream customer data group")
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select($"doc_id", DedupOps.segmentsOf($"text").as("segs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) === refSegs(t), s"doc $i segments")
      assert(got(i.toLong).mkString(" ") === t, s"doc $i roundtrip")
    }
  }

  test("d14: a planted repeated footer dies in every embedding doc; the same words reordered survive") {
    // interior segments of the footer — identical wherever embedded
    // (content-defined boundaries): "visit the site spark" and
    // "all of it rights" both end at a breaker and hold >= 3 tokens
    val footer = "contact merge visit the site spark all of it rights"
    val interior = refSegs(footer).tail.filter(_.split(" ").length >= 3)
    assert(interior === Vector("visit the site spark", "all of it rights"),
      "planted footer must yield the expected interior segments")
    val docs = Seq(
      (1L, s"alpha beta gamma delta $footer"),
      (2L, s"epsilon zeta eta $footer"),
      (3L, s"theta iota $footer"),
      // control: interior-segment WORDS, different order -> unique segment
      (4L, "kappa lambda the site visit spark mu nu"),
      (5L, "xi omicron pi rho sigma tau"))
    val got = DedupOps.boilerplateRemovalOf(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    Seq(1L, 2L, 3L).foreach { id =>
      interior.foreach(s => assert(!got(id)._1.contains(s), s"doc $id keeps '$s'"))
      assert(got(id)._2 >= interior.size, s"doc $id n_segs_cut")
    }
    // the reordered segment and untouched doc survive verbatim
    assert(got(4L)._1 === "kappa lambda the site visit spark mu nu")
    assert(got(4L)._2 === 0)
    assert(got(5L)._1 === "xi omicron pi rho sigma tau")
    // token accounting: kept + cut == total, matching the text
    got.foreach { case (id, (clean, _, cut, kept)) =>
      val total = docs.find(_._1 == id).get._2.split(" ").length
      assert(cut + kept === total, s"doc $id token accounting")
      assert((if (clean.isEmpty) 0 else clean.split(" ").length) === kept,
        s"doc $id clean_text length")
    }
  }

  test("d14 property: equals the driver-side reference on a seeded random corpus with planted boilerplate") {
    val rnd = new scala.util.Random(14)
    val vocab = Vector("the", "fast", "key", "order", "sort", "table",
      "scan", "merge", "part", "window", "small", "hash", "join", "data",
      "row", "batch", "stream", "spark", "dup", "line")
    val footer = "contact merge visit the site spark all of it rights"
    val docs = (0L until 40L).map { id =>
      val body = Seq.fill(6 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
      // ~40% of docs carry the footer, some mid-text
      val t =
        if (rnd.nextDouble() < 0.2) s"$body $footer"
        else if (rnd.nextDouble() < 0.25) s"$footer $body"
        else body
      (id, t)
    }
    val want = refD14(docs)
    val got = DedupOps.boilerplateRemovalOf(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (id, w) => assert(got(id) === w, s"doc $id") }
    // the corpus must exercise actual removal or the replay is vacuous
    assert(want.values.exists(_._2 > 0))
  }
}
