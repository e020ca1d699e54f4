package graft

import graft.operators.DedupOps
import graft.sources.Materialize
import org.apache.spark.sql.functions.{lit, raise_error}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Session`: the one session factory and the one query runner. */
class SessionSpec extends SparkSpec {

  test("local applies the conf table and its overrides win") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
    assert(spark.conf.get("spark.ui.enabled") === "false")
    assert(spark.conf.get("spark.graft.scan.fillCores.minBytes") === Long.MaxValue.toString)
  }

  test("a query that throws while building reports its error class and message") {
    val out = Session.run(spark, "boom",
      (_, _) => throw new IllegalStateException("boom at build"), sf)
    assert(out === Session.Failed("java.lang.IllegalStateException", "boom at build"))
  }

  test("a query that throws while running reports its error class and message") {
    val out = Session.run(spark, "boom",
      (s, _) => s.range(3).select(raise_error(lit("boom at exec"))), sf)
    out match {
      case Session.Failed(cls, msg) =>
        assert(cls === "org.apache.spark.SparkRuntimeException")
        assert(msg.contains("boom at exec"), msg)
      case ok => fail(s"expected a failure, got $ok")
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a good query returns non-negative build, plan and exec times and leaves no cached relation") {
    var rows = -1L
    val out = Session.run(spark, "q1_agg", (s, d) => {
      val base = Materialize(graft.operators.ReferenceQueries.q1Agg(s, d))
      base.limit(5)
    }, sf, (_, df) => rows = df.count())
    out match {
      case ok @ Session.Ok(b, p, e) =>
        assert(b >= 0 && p >= 0 && e >= 0)
        assert(ok.totalS === b + e)
      case failed => fail(s"expected success, got $failed")
    }
    assert(rows > 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("passes runs one warm-up then three timed passes; median needs every pass to succeed") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val qs: Seq[(String, Session.Query)] =
      Seq("a" -> ((_, _) => null), "b" -> ((_, _) => null))
    val got = Session.passes(qs) { (phase, n, _) => seen += phase -> n; s"$phase/$n" }
    assert(seen.map(_._1).distinct === Seq("warmup", "pass1", "pass2", "pass3"))
    assert(seen.size === 8)
    assert(got === Map(
      "a" -> Vector("pass1/a", "pass2/a", "pass3/a"),
      "b" -> Vector("pass1/b", "pass2/b", "pass3/b")))

    val ok = (t: Double) => Session.Ok(t, 9.0, 0.0)
    assert(Session.median(Seq(ok(3), ok(1), ok(2))) === Some(ok(2)))
    assert(Session.median(Seq(ok(3), Session.Failed("E", "m"), ok(2))) === None)
  }

  test("no SparkSession builder in src/ outside graft.Session") {
    val builder = ("SparkSession" + """\s*\.\s*builder""").r
    val msg = "build sessions through graft.Session.local"
    assert(SourceScan.matches(builder, "src/main/scala") ===
      Map("graft/Session.scala" -> 1), msg)
    assert(SourceScan.matches(builder, "src/test/scala") === Map.empty, msg)
  }

  test("a corpus rewritten mid-session: s2, s5, s6 and src1 answer from the new files") {
    import spark.implicits._
    import graft.operators.SimilarityOps
    import graft.sources.{Layouts, Tables}
    def tmp() = java.nio.file.Files.createTempDirectory("graft_rewrite").toString
    // `dir` is rewritten in place; `copy` holds the new corpus from the
    // start, so no memo of any scope has seen an older state of it
    val (dir, copy) = (tmp(), tmp())
    // 400 vectors around 8 seeded directions: the same row count for
    // every seed, different vectors
    def embeddings(seed: Long) = {
      val rng = new scala.util.Random(seed)
      val dirs = Array.fill(8)(Array.fill(64)(rng.nextGaussian()))
      (0 until 400).map(id => (id.toLong,
        dirs(id % 8).map(x => (x + 0.15 * rng.nextGaussian()).toFloat).toSeq))
        .toDF("vec_id", "embedding")
    }
    def write(dir: String, emb: org.apache.spark.sql.DataFrame,
        docs: org.apache.spark.sql.DataFrame): Unit = {
      emb.write.mode("overwrite").parquet(Tables.path(dir, "embeddings"))
      docs.write.mode("overwrite").parquet(Tables.path(dir, "documents"))
    }
    val queries: Seq[(String, Session.Query)] = Seq(
      "s2" -> SimilarityOps.s2AnnIvf _,
      "s5" -> SimilarityOps.s5PqRerank _,
      "s6" -> SimilarityOps.s6CentroidOutlier _,
      "src1" -> Layouts.src1PartitionPrune _)
    def rows(s: org.apache.spark.sql.SparkSession, q: Session.Query, dir: String) =
      q(s, dir).collect().map(_.toString).sorted.toSeq

    val docs = Tables.documents(spark, sf)
    write(dir, embeddings(1), docs)
    val before = queries.map { case (_, q) => rows(spark, q, dir) }
    write(dir, embeddings(2), docs.where($"doc_id" % 2 === 0))
    write(copy, embeddings(2), docs.where($"doc_id" % 2 === 0))
    val fresh = spark.newSession()
    val wrong = queries.zip(before).flatMap { case ((name, q), old) =>
      val (now, want) = (rows(spark, q, dir), rows(fresh, q, copy))
      if (want == old) Some(s"$name: the rewrite did not change the answer")
      else if (now != want) Some(s"$name: answered from the old corpus")
      else None
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("every registered query leaves the CacheManager empty after Session.run") {
    assert(spark.sharedState.cacheManager.isEmpty)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val out = Session.run(spark, name, fn, sf)
      assert(out.isInstanceOf[Session.Ok], s"$name: $out")
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cached relation")
    }
  }

  test("a scope releases what it materialized; a nested scope releases only its own") {
    val base = cachedEntries
    Materialize.scoped {
      val outer = Materialize(spark.range(50).selectExpr("id * 3 AS x"))
      assert(outer.storageLevel === StorageLevel.MEMORY_AND_DISK)
      Materialize.scoped {
        Materialize(spark.range(50).selectExpr("id * 5 AS y"))
        // the outer scope's plan again: reused, not re-owned
        Materialize(spark.range(50).selectExpr("id * 3 AS x"))
        assert(cachedEntries === base + 2)
      }
      assert(cachedEntries === base + 1, "the inner scope releases its own relation")
      assert(outer.storageLevel === StorageLevel.MEMORY_AND_DISK,
        "the outer scope's relation outlives the inner scope")
    }
    assert(cachedEntries === base)
  }

  test("a scope whose body throws still releases what it materialized") {
    val base = cachedEntries
    val e = intercept[IllegalStateException](Materialize.scoped {
      Materialize(spark.range(50).selectExpr("id * 11 AS z"))
      assert(cachedEntries === base + 1)
      throw new IllegalStateException("boom in scope")
    })
    assert(e.getMessage === "boom in scope")
    assert(cachedEntries === base)
  }

  test("two d2 builds around a corpus rewrite in one scope leave nothing cached after it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_d2_rewrite").toString
    def write(tag: String): Unit = (0 until 40).map { i =>
      (i.toLong, s"$tag common words here u${i % 20}a u${i % 20}b u${i % 20}c")
    }.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (rdds0, cached0) = (persistedRdds, cachedEntries)
    Materialize.scoped {
      write("alpha")
      assert(DedupOps.d2MinhashLsh(spark, dir).count() > 0)
      write("beta gamma")
      assert(DedupOps.d2MinhashLsh(spark, dir).count() > 0)
      assert(cachedEntries > cached0)
    }
    // both builds' candidate pairs belong to the scope, the first one's
    // too, although the rewrite made it unreachable from any later query
    assert(cachedEntries === cached0, "no candidate-pair relation may outlive its scope")
    assert(persistedRdds.subsetOf(rdds0), "no cached RDD may outlive its scope")
  }

  test("eager persists go through Materialize; nothing in src/main clears the whole cache") {
    assert(SourceScan.matches("""\.persist\(""".r, "src/main/scala") === Map(
      "graft/sources/Materialize.scala" -> 1,
      // self-releasing try/finally persists: k3, k5, t4c's BPE counts
      "graft/operators/SketchOps.scala" -> 2,
      "graft/operators/TextOps.scala" -> 1),
      "materialize through graft.sources.Materialize, which a query scope releases")
    assert(SourceScan.matches("clearCache".r, "src/main/scala") === Map.empty,
      "a query releases what it owns through its Materialize scope")
  }
}

/** [[Materialize]] with no scope open: the path a harness that calls the
  * operators directly takes. Not a [[SparkSpec]], whose tests each run in
  * a scope. */
class MaterializeUnscopedSpec extends AnyFunSuite {
  test("Materialize outside any scope returns a cached, already computed frame") {
    val spark = TestSpark.spark
    val df = Materialize(spark.range(50).selectExpr("id * 13 AS w"))
    try {
      assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK)
      assert(spark.sparkContext.getRDDStorageInfo.exists(_.numCachedPartitions > 0),
        "the count must have filled the cache")
      assert(df.count() === 50)
    } finally df.unpersist(blocking = true)
    assert(df.storageLevel === StorageLevel.NONE)
  }
}
