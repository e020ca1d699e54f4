package graft

import graft.sources.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** The one parquet read path, [[Tables.read]]: a schema inferred once
  * per (path, listing fingerprint, schema confs) and re-used, so a
  * repeated read launches no Spark job, while every read still sees
  * exactly what a plain `spark.read.parquet` would. The last test is a
  * source scan that keeps new bare read sites out of `src/main`. */
class TablesReadSpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_read_$tag").toString

  /** Jobs `f` launches, counted by a listener on its own job group. The
    * listener bus is asynchronous, so a fence job in a second group is
    * run after `f` and awaited: once the fence's start is seen, every
    * earlier job start has been delivered too. */
  private def jobsLaunchedBy(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-read-${System.nanoTime()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger(0)
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)          => counted.incrementAndGet()
          case Some(g) if g == s"$group-fence" => fenced.countDown()
          case _                      =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the fence job")
      counted.get()
    } finally sc.removeSparkListener(listener)
  }

  /** Executed plan text with expression ids blanked, so two plans over
    * the same scan compare equal. */
  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "#")

  test("a second Tables.read of a path launches no Spark job") {
    val path = s"${tmp("jobs")}/t.parquet"
    spark.range(200).selectExpr("id", "cast(id AS STRING) AS s")
      .write.parquet(path)
    val first = jobsLaunchedBy(Tables.read(spark, path).schema)
    assert(first >= 1, "the first read infers the schema with a Spark job")
    assert(jobsLaunchedBy(Tables.read(spark, path).schema) === 0)
    assert(jobsLaunchedBy(Tables.read(spark, path).where("id > 5").select("s")
      .queryExecution.executedPlan) === 0)
  }

  test("schema and pushed-down ReadSchema equal a plain spark.read.parquet, flat and partitioned") {
    val part = s"${tmp("part")}/by_k.parquet"
    spark.range(300).selectExpr("id", "id % 7 AS k", "cast(id AS STRING) AS s")
      .write.partitionBy("k").parquet(part)
    val flat = Seq("lineitem", "orders", "customer", "supplier", "part",
        "nation", "region", "events", "documents", "embeddings")
      .map(t => s"$sf/$t.parquet")
    for (path <- flat :+ part) {
      val plain = spark.read.parquet(path)
      val memo = Tables.read(spark, path)
      assert(memo.schema === plain.schema, path)
      val c = plain.columns
      def probe(df: org.apache.spark.sql.DataFrame) =
        planOf(df.select(c.head, c.last).where(df(c.last).isNotNull))
      assert(probe(memo).contains("ReadSchema: "), path)
      assert(probe(memo) === probe(plain), path)
    }
    // partition pruning survives the memoized schema
    val pruned = Tables.read(spark, part).where("k = 3")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(k"), pruned.queryExecution.executedPlan)
    assert(pruned.count() === spark.read.parquet(part).where("k = 3").count())
  }

  test("rewriting the path with an extra column is picked up") {
    val path = s"${tmp("rewrite")}/t.parquet"
    spark.range(50).selectExpr("id").write.parquet(path)
    assert(Tables.read(spark, path).columns.toSeq === Seq("id"))
    spark.range(50).selectExpr("id", "id * 2 AS extra")
      .write.mode("overwrite").parquet(path)
    assert(Tables.read(spark, path).columns.toSeq === Seq("id", "extra"))
    assert(Tables.read(spark, path).selectExpr("sum(extra)").head().getLong(0) ===
      (0 until 50).map(_ * 2L).sum)
  }

  test("events.ts surfaces as LONG under nanosAsLong and is never served across a conf flip") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a TIMESTAMP(NANOS) events file, the encoding an earlier testdata
    // generation shipped (Spark itself cannot write nanos)
    val dir = tmp("nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); required int64 user_id; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema)
      (0 until 3).foreach(i =>
        w.write(g.newGroup().append("ts", 1700000000000000000L + i * 1001L)
          .append("user_id", i.toLong)))
    } finally w.close()
    val nanos = s"$dir/events.parquet"
    val micros = s"$sf/events.parquet" // TIMESTAMP(MICROS) without UTC adjustment
    def tsType(path: String) = Tables.read(spark, path).schema("ts").dataType
    withConfs("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assert(tsType(nanos) === LongType)
      assert(tsType(micros) === TimestampNTZType)
    }
    withConfs("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      // Spark rejects nanos without the flag; the memoized LONG schema
      // must not be served in its place
      val plain = intercept[AnalysisException](spark.read.parquet(nanos))
      val memo = intercept[AnalysisException](tsType(nanos))
      assert(memo.getCondition === plain.getCondition)
      assert(tsType(micros) === TimestampNTZType)
    }
    withConfs("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assert(tsType(nanos) === LongType)
      assert(Tables.normalizeTs(Tables.read(spark, nanos)).schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampType)
    }
  }

  test("a missing path raises the same AnalysisException condition as spark.read.parquet") {
    val missing = s"${tmp("missing")}/nope.parquet"
    val plain = intercept[AnalysisException](spark.read.parquet(missing))
    val memo = intercept[AnalysisException](Tables.read(spark, missing))
    assert(memo.getCondition === plain.getCondition)
    assert(memo.getMessage === plain.getMessage)
  }

  test("Tables.fingerprint rolls on every rewrite shape and only on a rewrite") {
    import java.nio.file.{Files, Path, Paths}
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    def fp(path: String) = Tables.fingerprint(spark, path)
    def parts(dir: String): Seq[Path] = {
      val st = Files.list(Paths.get(dir))
      try st.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.sortBy(_.toString)
      finally st.close()
    }
    // the local filesystem lists no .crc checksum files, and a rewrite
    // rewrites them with their data file
    def bytesUnder(dir: String): Long = {
      val st = Files.walk(Paths.get(dir))
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum
      finally st.close()
    }

    val t = s"${tmp("fp")}/t.parquet"
    spark.range(100).coalesce(2).write.parquet(t)
    val f0 = fp(t)
    assert(fp(t) === f0, "an untouched table keeps its fingerprint")
    assert(f0.bytes === bytesUnder(t))
    // a Spark overwrite with the same row count names new part files
    spark.range(100).coalesce(2).write.mode("overwrite").parquet(t)
    val f1 = fp(t)
    assert(f1.id !== f0.id, "a same-count overwrite must roll the fingerprint")
    // a file added, then a file removed
    val extra = Paths.get(t, "part-extra.parquet")
    Files.copy(parts(t).head, extra)
    assert(fp(t).id !== f1.id, "a file added")
    assert(fp(t).files === f1.files + 1)
    Files.delete(extra)
    assert(fp(t) === f1, "the same files list to the same fingerprint")
    Files.delete(parts(t).last)
    val f2 = fp(t)
    assert(f2.id !== f1.id, "a file removed")
    assert(f2.files === f1.files - 1)
    // the same name with a different size, its mtime put back
    val a = parts(t).head
    val mtime = Files.getLastModifiedTime(a)
    Files.write(a, Files.readAllBytes(a) :+ 0.toByte)
    Files.setLastModifiedTime(a, mtime)
    val f3 = fp(t)
    assert(f3.id !== f2.id, "a resized file")
    assert(f3.bytes === f2.bytes + 1)
    // the same name and size, the mtime moved by one second
    Files.setLastModifiedTime(a, FileTime.fromMillis(mtime.toMillis + 1000))
    assert(fp(t).id !== f3.id, "a moved mtime")

    // a change inside a partitioned (nested) layout
    val p = s"${tmp("fp")}/p.parquet"
    spark.range(60).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(p)
    val g0 = fp(p)
    val nested = parts(s"$p/k=1").head
    assert(g0.files > parts(s"$p/k=1").size && g0.bytes === bytesUnder(p))
    Files.setLastModifiedTime(nested,
      FileTime.fromMillis(Files.getLastModifiedTime(nested).toMillis + 1000))
    assert(fp(p).id !== g0.id, "a nested file's change must roll the fingerprint")

    assert(fp(s"${tmp("fp")}/missing.parquet").files === 0)
  }

  test("a memo holds its session weakly: a dropped session's entries go once it is collected") {
    import java.lang.ref.WeakReference
    val memo = new graft.sources.FingerprintMemo[Array[Byte]]
    memo.getOrBuild(spark, "t", "v", "f0")(Array[Byte](1))
    // the new session is reachable only from this frame
    def buildInNewSession(): WeakReference[org.apache.spark.sql.SparkSession] = {
      val s2 = spark.newSession()
      memo.getOrBuild(s2, "t", "v", "f0")(new Array[Byte](1 << 10))
      assert(memo.getOrBuild(s2, "t", "v", "f0")(fail("a hit must not rebuild")).length === 1 << 10)
      new WeakReference(s2)
    }
    val ref = buildInNewSession()
    assert(memo.size === 2)
    var tries = 0
    while (ref.get != null && tries < 50) { System.gc(); Thread.sleep(100); tries += 1 }
    assert(ref.get == null, s"the dropped session is still reachable after $tries collections")
    assert(memo.size === 1, "the dropped session's entry must go with it")
    assert(memo.getOrBuild(spark, "t", "v", "f0")(fail("a hit must not rebuild")).head === 1)
  }

  test("one memo device and one listing: no TrieMap outside TrainedOracle, no listFiles in src/main") {
    // driver-side state is a FingerprintMemo over Tables.fingerprint;
    // TrainedOracle is Verify's ordering registry, keyed on query names
    assert(SourceScan.matches("TrieMap".r, "src/main/scala") ===
      Map("graft/sources/TrainedOracle.scala" -> 1))
    // listFiles/listLocatedStatus load each file's permissions, which
    // forks a subprocess per file on a local filesystem without native
    // Hadoop; Tables.fingerprint walks with listStatus
    assert(SourceScan.matches("""listFiles\(|listLocatedStatus\(""".r,
      "src/main/scala") === Map.empty)
  }

  test("no bare parquet read in src/main outside Tables.read and its documented exception") {
    // A bare read infers the schema with a Spark job on every call; new
    // read sites must go through Tables.read. Comments are stripped so
    // docs may still name the call.
    val bare = ("""\.read(\s*\.options?\((?:[^()]|\([^()]*\))*\))*\s*""" +
      """(\.parquet\(|\.format\(\s*"parquet"\s*\))""").r
    val found = SourceScan.matches(bare, "src/main/scala")
    val allowed = Map(
      // the inference Tables.read itself memoizes
      "graft/sources/Tables.scala" -> 1,
      // the multi-path basePath read of a generation (see its comment)
      "graft/sources/GenStore.scala" -> 1)
    assert(found === allowed,
      "a parquet read outside Tables.read infers its schema on every call; " +
        "route it through graft.sources.Tables.read")
  }
}
