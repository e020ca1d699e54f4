package graft

import graft.sources.Tables

/** The round-18 scan-parallelism floor ([[Tables.fillCores]]): a
  * single-row-group parquet table yields a one-task scan at any core
  * count, so when the estimated split count cannot fill the machine the
  * documents loader hash-repartitions on doc_id to defaultParallelism.
  * These tests pin (1) the guard fires exactly when estimated splits <
  * cores and the table clears the min-bytes bar, (2) column pruning
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
}
