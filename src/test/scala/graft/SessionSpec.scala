package graft

import org.apache.spark.sql.functions.{lit, raise_error}

/** `graft.Session`: the one session factory and the one query runner. */
class SessionSpec extends SparkSpec {

  test("local applies the conf table and its overrides win") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
    assert(spark.conf.get("spark.ui.enabled") === "false")
    assert(spark.conf.get("spark.graft.scan.fillCores") === "false")
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
      val base = graft.operators.ReferenceQueries.q1Agg(s, d).persist()
      base.count() // an eager materialization, as several operators do
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
}
