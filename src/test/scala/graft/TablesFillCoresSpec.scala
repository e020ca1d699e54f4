package graft

import graft.sources.Tables

/** The round-18 scan-parallelism floor ([[Tables.fillCores]]): a
  * single-row-group parquet table yields a one-task scan at any core
  * count, so when the estimated split count cannot fill the machine the
  * documents loader hash-repartitions on doc_id to defaultParallelism.
  * These tests pin (1) the guard fires exactly when the estimated scan
  * partitions, max(data files, byte splits), are fewer than the cores
  * and the table clears the min-bytes bar, (2) column pruning
  * still reaches the scan below the added repartition, and (3) results
  * are partition-layout-independent. */
class TablesFillCoresSpec extends SparkSpec {

  test("fillCores on: sub-split-size documents gain a doc_id hash repartition; off: plain scan") {
    val on = withConfs("spark.graft.scan.fillCores.minBytes" -> "1") {
      Tables.documents(spark, sf).queryExecution.optimizedPlan.toString
    }
    assert(on.contains("RepartitionByExpression") && on.contains("doc_id"),
      s"expected a doc_id hash repartition over the sub-split-size scan:\n$on")
    val off = withConfs("spark.graft.scan.fillCores.minBytes" -> Long.MaxValue.toString) {
      Tables.documents(spark, sf).queryExecution.optimizedPlan.toString
    }
    assert(!off.contains("Repartition"), s"floor must stay off under an unreachable byte bar:\n$off")
  }

  test("guard derives from input size: silent below min-bytes and past the split threshold") {
    // below the default min-bytes bar, 256 KB (the sf0.001 fixture is
    // ~64 KB): the shuffle cannot pay for itself on a table this small
    val small = withConfs("spark.graft.scan.fillCores.minBytes" -> "262144") {
      Tables.documents(spark, sf).queryExecution.optimizedPlan.toString
    }
    assert(!small.contains("Repartition"),
      s"floor must not fire below fillCores.minBytes:\n$small")
    // past the split threshold (the at-scale condition, simulated by
    // shrinking maxPartitionBytes): the scan shape must be byte-identical
    // to the floor being off
    val atScale = withConfs("spark.graft.scan.fillCores.minBytes" -> "1",
        "spark.sql.files.maxPartitionBytes" -> "1024") {
      Tables.documents(spark, sf).queryExecution.optimizedPlan.toString
    }
    assert(!atScale.contains("Repartition"),
      s"guard must not fire when splits can fill the cores:\n$atScale")
  }

  test("column pruning reaches the scan below the added repartition") {
    withConfs("spark.graft.scan.fillCores.minBytes" -> "1") {
      val plan = Tables.documents(spark, sf)
        .select("doc_id", "lang").queryExecution.executedPlan.toString
      val read = plan.split("\n").find(_.contains("ReadSchema"))
        .getOrElse(fail(s"no ReadSchema in:\n$plan"))
      assert(read.contains("doc_id") && read.contains("lang") &&
        !read.contains("text"),
        s"scan must stay pruned to the referenced columns: $read")
    }
  }

  test("Verify-mode plan pin: under Verify's forced byte bar a registered query executes the floored plan") {
    // graft.Verify sets spark.graft.scan.fillCores.minBytes=1 (round 19,
    // closing the r18 verification gap) so the driver's DuckDB compare
    // covers the repartitioned plan shape the bench times. This pins that
    // under exactly that conf a registered documents query's EXECUTED
    // plan carries the floor's doc_id repartition — if the floor's guard
    // or Verify's conf drifts, the oracle silently stops covering the
    // floored path and this fails first.
    withConfs("spark.graft.scan.fillCores.minBytes" -> "1") {
      val p = SparkEntry.queries("t24_lang_stopwords")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("REPARTITION_BY_COL") || p.contains("hashpartitioning(doc_id"),
        s"Verify's conf must execute the floored (doc_id-repartitioned) plan:\n$p")
    }
  }

  test("results are identical with the floor on and off (layout independence)") {
    import org.apache.spark.sql.functions._
    def rollup(on: Boolean): Seq[(String, Long)] =
      withConfs("spark.graft.scan.fillCores.minBytes" ->
          (if (on) "1" else Long.MaxValue.toString)) {
        import spark.implicits._
        Tables.documents(spark, sf)
          .groupBy($"lang").agg(count(lit(1)).as("n"))
          .as[(String, Long)].collect().toSeq.sorted
      }
    assert(rollup(on = true) == rollup(on = false))
  }

  test("a rewritten documents table is sized from its new listing, not a stale count") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_floor_rewrite").toString
    def write(docs: Int): Unit = {
      val rnd = new scala.util.Random(docs)
      (0 until docs).map(i => (i.toLong, rnd.alphanumeric.take(400).mkString))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    def floored: Boolean =
      withConfs("spark.graft.scan.fillCores.minBytes" -> "65536") {
        Tables.documents(spark, dir).queryExecution.optimizedPlan.toString
          .contains("RepartitionByExpression")
      }
    write(10) // a few KB: below the bar
    assert(!floored, "a table below minBytes must not be floored")
    write(2000) // ~600 KB of random text: above the bar
    assert(floored, "the rewritten, larger table must be sized afresh and floored")
  }
  /** Writes `files` parquet part files of random text under a fresh
    * temp dir's `documents.parquet`; returns the dir. */
  private def corpus(tag: String, files: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    val rnd = new scala.util.Random(files)
    (0 until 400).map(i => (i.toLong, rnd.alphanumeric.take(400).mkString))
      .toDF("doc_id", "text")
      .repartition(files).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def floored(dir: String): Boolean =
    withConfs("spark.graft.scan.fillCores.minBytes" -> "65536") {
      Tables.documents(spark, dir).queryExecution.optimizedPlan.toString
        .contains("RepartitionByExpression")
    }

  test("a table with at least as many data files as cores scans unfloored; a one-file table of the same bytes is floored") {
    val cores = spark.sparkContext.defaultParallelism
    val many = corpus("graft_floor_many", cores)
    val one = corpus("graft_floor_one", 1)
    def dataFiles(d: String) = Tables.fingerprint(spark, Tables.path(d, "documents")).dataFiles
    try {
      assert(dataFiles(many) === cores && dataFiles(one) === 1)
      assert(!floored(many), s"$cores files already fill $cores cores: no floor")
      assert(floored(one), "one file of the same ~160 KB stays floored")
    } finally Seq(many, one).foreach(d =>
      graft.sources.Layouts.deleteRecursively(java.nio.file.Paths.get(d)))
  }

  test("_SUCCESS, .crc and hidden files are not data files") {
    val dir = corpus("graft_floor_hidden", 1)
    val root = java.nio.file.Paths.get(Tables.path(dir, "documents"))
    for (name <- Seq(".hidden", "_committed_1", "_started_1", ".extra.crc", "_tmp/part-9.parquet",
        ".staging/part-8.parquet")) {
      val f = root.resolve(name)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, Array.fill[Byte](10)(1))
    }
    val fp = Tables.fingerprint(spark, root.toString)
    try {
      assert(fp.dataFiles === 1, s"only the part file counts: $fp")
      assert(fp.files >= spark.sparkContext.defaultParallelism,
        s"the listing holds enough files to matter: $fp")
      assert(floored(dir), "skipped files must not switch the floor off")
    } finally graft.sources.Layouts.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
