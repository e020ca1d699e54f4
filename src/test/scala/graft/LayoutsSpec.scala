package graft

import graft.sources.{Layouts, Tables}
import org.apache.spark.sql.functions._

class LayoutsSpec extends SparkSpec {
  import spark.implicits._

  test("src1: partitioned scan prunes to exactly the two named sources") {
    val q = Layouts.src1PartitionPrune(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["),
      s"expected partition filters in:\n$plan")

    // the layout has all 20 source directories on disk...
    val root = new java.io.File(Layouts.documentsBySource(spark, sf))
    val dirs = root.listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("source=")).toSet
    assert(dirs.size === 20, s"layout dirs: $dirs")

    // ...but execution touches files from only the two filtered ones
    val touched = spark.read.parquet(root.toString)
      .where($"source".isInCollection(Seq("src3", "src7")))
      .select(input_file_name().as("f")).distinct().as[String].collect()
    assert(touched.nonEmpty)
    assert(touched.forall(f => f.contains("source=src3") || f.contains("source=src7")),
      s"unpruned files read: ${touched.filterNot(f =>
        f.contains("source=src3") || f.contains("source=src7")).toSeq}")

    // pruned result equals the flat-table computation
    val want = Tables.documents(spark, sf)
      .where($"source".isInCollection(Seq("src3", "src7")))
      .groupBy($"source")
      .agg(count(lit(1)).as("docs"), sum(length($"text")).as("total_chars"),
        min($"doc_id").as("min_doc_id"))
      .as[(String, Long, Long, Long)].collect().toSet
    val got = q.as[(String, Long, Long, Long)].collect().toSet
    assert(got === want)
    assert(got.size === 2)
  }

  test("src3: column z-interleave agrees with the scalar twin on the full grid") {
    val grid = for {
      ub <- 0 until Layouts.ZCells; tb <- 0 until Layouts.ZCells
    } yield (ub.toLong, tb.toLong)
    val got = grid.toDF("ub", "tb")
      .select($"ub", $"tb", Layouts.zInterleaveCol($"ub", $"tb").as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (ub, tb, z) =>
      assert(z === Layouts.zInterleave(ub, tb), s"mismatch at ($ub, $tb)")
    }
    // and the mapping is a bijection onto [0, cells^2)
    assert(got.map(_._3).toSet === (0L until
      (Layouts.ZCells.toLong * Layouts.ZCells)).toSet)
  }

  test("src3: box-to-bucket enumeration is a superset for random boxes and grids") {
    // the correctness core of the pruning: for ANY box, every point
    // inside it must land in an enumerated candidate bucket — driven
    // over seeded random grids and boxes, pure arithmetic (no Spark)
    val rng = new scala.util.Random(19L)
    for (_ <- 0 until 200) {
      val uMin = rng.nextLong(1000000) - 500000
      val tMin = rng.nextLong(1000000) - 500000
      val uSpan = 1 + rng.nextLong(100000)
      val tSpan = 1 + rng.nextLong(100000)
      val uW = math.max(1L, (uSpan + Layouts.ZCells - 1) / Layouts.ZCells)
      val tW = math.max(1L, (tSpan + Layouts.ZCells - 1) / Layouts.ZCells)
      val g = Layouts.ZGrid("", uMin, uSpan, uW, tMin, tSpan, tW)
      // random half-open box inside the domain
      val u1 = uMin + rng.nextLong(uSpan)
      val u2 = u1 + 1 + rng.nextLong(uSpan - (u1 - uMin))
      val t1 = tMin + rng.nextLong(tSpan)
      val t2 = t1 + 1 + rng.nextLong(tSpan - (t1 - tMin))
      val cands = (for {
        ub <- g.ubOf(u1) to g.ubOf(u2 - 1)
        tb <- g.tbOf(t1) to g.tbOf(t2 - 1)
      } yield Layouts.zInterleave(ub, tb)).toSet
      // sample points inside the box: all must map into the candidates
      for (_ <- 0 until 20) {
        val u = u1 + rng.nextLong(u2 - u1)
        val t = t1 + rng.nextLong(t2 - t1)
        val z = Layouts.zInterleave(g.ubOf(u), g.tbOf(t))
        assert(cands.contains(z),
          s"point ($u,$t) escapes candidates for box [$u1,$u2)x[$t1,$t2)")
      }
    }
  }

  test("src3: z-order layout prunes a 2-D box to its candidate buckets") {
    val q = Layouts.src3ZorderPrune(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["),
      s"expected partition filters in:\n$plan")
    // BOTH residual predicates must reach the parquet reader as bare
    // columns (the PushedFilters list truncates in toString, so the ts
    // range is checked via its IsNotNull pushdown + the Filter node's
    // bare-column comparison — a unix_micros-wrapped ts would produce
    // neither)
    assert(plan.contains("GreaterThanOrEqual(user_id") &&
      plan.contains("IsNotNull(ts)") &&
      "ts#\\d+ >= ".r.findFirstIn(plan).isDefined,
      s"box predicates not pushed to the scan:\n$plan")

    val g = Layouts.zorderedEvents(spark, sf)
    val (u1, u2) = (g.uMin + g.uSpan / 4, g.uMin + g.uSpan / 2)
    val (t1, t2) = (g.tMin + g.tSpan / 4, g.tMin + g.tSpan / 2)
    val cands = (for {
      ub <- g.ubOf(u1) to g.ubOf(u2 - 1)
      tb <- g.tbOf(t1) to g.tbOf(t2 - 1)
    } yield Layouts.zInterleave(ub, tb).toInt).toSet

    // a quarter-by-quarter box must map to a small fraction of the grid
    val onDisk = new java.io.File(g.path).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("zb=")).toSet
    assert(cands.size < onDisk.size,
      s"box covers ${cands.size} of ${onDisk.size} buckets — no pruning")

    // execution touches files only from candidate bucket directories
    val touched = spark.read.parquet(g.path)
      .where($"zb".isInCollection(cands) &&
        $"user_id" >= u1 && $"user_id" < u2 &&
        unix_micros($"ts") >= t1 && unix_micros($"ts") < t2)
      .select(input_file_name().as("f")).distinct().as[String].collect()
    assert(touched.nonEmpty)
    assert(touched.forall(f => cands.exists(c => f.contains(s"zb=$c/"))),
      s"files read outside candidate buckets: ${touched.filterNot(f =>
        cands.exists(c => f.contains(s"zb=$c/"))).toSeq}")

    // rows inside each bucket file really are (user_id, ts)-sorted —
    // the order the row-group-skipping claim rests on (the writer would
    // destroy it if the write sort didn't lead with zb)
    val fileOrders = spark.read.parquet(g.path)
      .select(input_file_name().as("f"), $"user_id", unix_micros($"ts").as("us"))
      .as[(String, Long, Long)].collect().groupBy(_._1)
    fileOrders.foreach { case (f, rows) =>
      val keys = rows.map(r => (r._2, r._3)).toSeq
      assert(keys === keys.sorted, s"unsorted bucket file $f")
    }

    // pruned result equals the same box computed on the flat table
    val want = Tables.events(spark, sf)
      .where($"user_id" >= u1 && $"user_id" < u2 &&
        unix_micros($"ts") >= t1 && unix_micros($"ts") < t2)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("events"), countDistinct($"user_id").as("users"),
        min($"value").as("min_value"), max($"value").as("max_value"),
        sum(floor($"value" * lit(100))).as("value_cents"))
      .as[(String, Long, Long, Double, Double, Long)].collect().toSet
    val got = q.as[(String, Long, Long, Double, Double, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("src5: the generational doc store compacts to one file per source; content and pruning survive") {
    import graft.sources.GenStore
    import scala.jdk.CollectionConverters._
    val root = Layouts.compactedDocStore(spark, sf)
    val gen = GenStore.currentGen(root).get
    // the fold ran fragmented, so compaction must have committed gen 2+
    assert(gen.stripPrefix("gen-").takeWhile(_.isDigit).toLong >= 2, gen)
    // the committed generation is manifest-carried: every source
    // partition resolves through its _MANIFEST to one owner dir
    val manifest = java.nio.file.Paths.get(root, gen, "_MANIFEST")
    assert(java.nio.file.Files.exists(manifest),
      s"no _MANIFEST in committed generation $gen")
    val owners = java.nio.file.Files.readAllLines(manifest).asScala
      .filter(_.nonEmpty).map(_.split('\t')).map(a => a(0) -> a(1)).toSeq
    assert(owners.nonEmpty && owners.forall(_._1.startsWith("source=")), owners)
    // one file per source partition after compaction
    owners.foreach { case (d, owner) =>
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(root, owner, d))
      val n = try st.iterator().asScala.count(
        _.getFileName.toString.endsWith(".parquet")) finally st.close()
      assert(n === 1, s"partition $owner/$d holds $n files after compaction")
    }
    // every data file in the store is nlink==1 — no hard links anywhere
    // (object-store portability is the point of the manifest carry)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .foreach { f =>
        val n = java.nio.file.Files.getAttribute(f, "unix:nlink")
          .asInstanceOf[Number].intValue()
        assert(n === 1, s"$f has nlink=$n — the store must not link")
      }
    finally walk.close()
    // content: every doc exactly once, equal to the raw table
    val a = GenStore.load(spark, root).select($"doc_id").as[Long].collect().sorted
    val b = Tables.documents(spark, sf).select($"doc_id").as[Long].collect().sorted
    assert(a.toSeq === b.toSeq, "compaction must preserve every row exactly once")
    // source pruning reaches the scan through the owner indirection
    val plan = GenStore.load(spark, root).where($"source" === "src3")
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*source".r.findFirstIn(plan).isDefined,
      s"expected source partition pruning on the store scan in:\n$plan")
  }

  test("src4: compaction collapses the file count with a zero-shuffle plan") {
    def parquetFiles(path: String) = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet")).size
      } finally s.close()
    }
    val frag = Layouts.fragmentedEvents(spark, sf)
    val comp = Layouts.compactedEvents(spark, sf)
    val nFrag = parquetFiles(frag)
    val nComp = parquetFiles(comp)
    assert(nFrag === Layouts.FragmentFiles, s"fragmented files: $nFrag")
    val expected = math.max(1, math.ceil(
      Tables.fingerprint(spark, frag).bytes.toDouble / Layouts.CompactTargetBytes).toInt)
    assert(nComp === expected, s"compacted files: $nComp, expected $expected")
    assert(nComp < nFrag / 10, s"no real compaction: $nFrag -> $nComp")

    // the rewrite plan is narrow: coalesce, never an exchange
    val rewritePlan = spark.read.parquet(frag)
      .coalesce(expected).queryExecution.executedPlan.toString
    assert(!rewritePlan.contains("Exchange"),
      s"compaction must not shuffle:\n$rewritePlan")

    // content preserved row-for-row (sorted multiset compare on ids)
    val a = spark.read.parquet(frag).select($"event_id").as[Long].collect().sorted
    val b = spark.read.parquet(comp).select($"event_id").as[Long].collect().sorted
    assert(a.toSeq === b.toSeq)

    // and the registered fingerprint matches the raw table
    val got = Layouts.src4Compaction(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val want = Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("events"), countDistinct($"user_id").as("users"),
        sum(floor($"value" * lit(100))).as("value_cents"),
        min(unix_micros($"ts")).as("first_us"),
        max(unix_micros($"ts")).as("last_us"))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("src2: co-bucketed join runs with no exchange on either side") {
    val q = Layouts.src2BucketedJoin(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    // exactly ONE shuffle in the whole query: the tiny final groupBy.
    // The join itself consumes the bucket partitioning of both scans.
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1,
      s"bucketed join must not shuffle its inputs:\n$plan")
    assert(plan.contains("SelectedBucketsCount"), plan)

    // values equal the flat-table join
    val want = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("line_cnt"))
      .as[(String, Long)].collect().toSet
    val got = q.select($"o_orderpriority", $"line_cnt")
      .as[(String, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  /** A temp corpus holding sf's documents, for specs that build and
    * break their own layouts. */
  private def tempDocs(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    Tables.documents(spark, sf).write.parquet(Tables.path(dir, "documents"))
    dir
  }

  /** Relative paths of the parquet files under `root`. */
  private def partFiles(root: String): Set[String] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(base.relativize(_).toString).toSet
    } finally walk.close()
  }

  test("a new session reuses a published layout: an earlier session's frame keeps its files") {
    val dir = tempDocs("graft_publish_reuse")
    val q = Layouts.src1PartitionPrune(spark, dir)
    val path = Layouts.documentsBySource(spark, dir)
    val files = partFiles(path)
    assert(Layouts.documentsBySource(spark.newSession(), dir) === path)
    assert(q.collect().length === 2,
      "the first session's frame must still read the layout it listed")
    assert(partFiles(path) === files, "the second session must not rewrite the layout")
    Seq(path, dir).foreach(p => Layouts.deleteRecursively(java.nio.file.Paths.get(p)))
  }

  test("a layout whose _SUCCESS marker is gone is rebuilt by the next session") {
    val dir = tempDocs("graft_publish_torn")
    val path = Layouts.documentsBySource(spark, dir)
    val files = partFiles(path)
    // the crashed-writer state: no marker and a part file missing
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_SUCCESS"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, files.head))
    val fresh = spark.newSession()
    assert(Layouts.documentsBySource(fresh, dir) === path)
    assert(Layouts.completedTable(path))
    val rebuilt = partFiles(path)
    assert(rebuilt.nonEmpty && (rebuilt & files).isEmpty,
      s"expected freshly written part files, kept ${rebuilt & files}")
    assert(Tables.read(fresh, path).count() === Tables.documents(spark, sf).count())
    Seq(path, dir).foreach(p => Layouts.deleteRecursively(java.nio.file.Paths.get(p)))
  }

  test("two threads racing one publish leave one complete table and no staging directory") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = java.nio.file.Files.createTempDirectory("graft_publish_race")
    val path = root.resolve("t").toString
    val racers = Seq.fill(2)(Future(Layouts.publish(path)(
      spark.range(1000).toDF().repartition(4).write)))
    racers.foreach(f => assert(Await.result(f, scala.concurrent.duration.Duration.Inf) === path))
    assert(Layouts.completedTable(path))
    assert(Tables.read(spark, path).count() === 1000)
    assert(root.toFile.list().toSet === Set("t"), "a staging directory was left behind")
    Layouts.deleteRecursively(root)
  }

  test("a publish whose write fails leaves no table and no staging directory") {
    val root = java.nio.file.Files.createTempDirectory("graft_publish_fail")
    val path = root.resolve("t").toString
    val failing = spark.range(8).toDF()
      .select(when(col("id") > 3, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
    // no shuffle before the write: the failure must come from the write
    // job's own tasks, after the staging directory exists
    intercept[Exception](Layouts.publish(path)(failing.write))
    assert(root.toFile.list().isEmpty, "a failed write left a staging directory behind")
    Layouts.deleteRecursively(root)
  }

  test("one publish gate: completedTable( only in Layouts, writeOnce nowhere in src/main") {
    assert(SourceScan.matches("""completedTable\(""".r, "src/main/scala").keySet ===
      Set("graft/sources/Layouts.scala"),
      "persist a derived table through Layouts.publish, not a hand-rolled gate")
    assert(SourceScan.matches("writeOnce".r, "src/main/scala") === Map.empty)
  }

  test("FingerprintMemo: a rolled fingerprint rebuilds and evicts the stale entry") {
    val memo = new graft.sources.FingerprintMemo[String]
    var builds = 0
    def build(v: String) = { builds += 1; v }
    assert(memo.getOrBuild(spark, "t", "v", "fpA")(build("a1")) === "a1")
    assert(memo.getOrBuild(spark, "t", "v", "fpA")(build("a2")) === "a1",
      "same fingerprint must serve the cached value without rebuilding")
    assert(builds === 1)
    // corpus regeneration rolls the fingerprint: rebuild + replace
    assert(memo.getOrBuild(spark, "t", "v", "fpB")(build("b1")) === "b1")
    assert(memo.size === 1, "at most one live entry per (session, tag, variant)")
    // the stale entry is gone: its fingerprint rebuilds rather than re-hits
    assert(memo.getOrBuild(spark, "t", "v", "fpA")(build("a3")) === "a3")
    assert(builds === 3)
    // distinct variants coexist — eviction is per slot, not per memo
    assert(memo.getOrBuild(spark, "t", "w", "fpB")(build("c1")) === "c1")
    assert(memo.size === 2)
  }
}
