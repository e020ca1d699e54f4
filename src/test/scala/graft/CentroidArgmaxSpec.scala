package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parity of [[graft.functions.centroidArgmax]] with the cross-join
  * assignment it replaced ([[CentroidArgmaxReference]]), in both
  * evaluation modes, plus the source guard that keeps that chain out of
  * `src/main`. */
class CentroidArgmaxSpec extends SparkSpec {
  import spark.implicits._

  // ConvertToLocalRelation would evaluate the planted rows' projection on
  // the driver, interpreted, whatever the codegen confs say
  private val noLocalFold =
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
  private val interpreted = Seq(noLocalFold,
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  private val codegen = Seq(noLocalFold,
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")

  /** The sf0.001 quantizer (s9's centroids) plus two planted cells: e0,
    * and e0 tilted by 1e-4 toward e1, whose cosine with e0 is 1 - 5e-9. */
  private lazy val centroids: Array[Array[Float]] = {
    val n = graft.operators.SimilarityOps.corpusCount(spark, sf)
    val trained = graft.operators.SimilarityOps
      .centroidsFor(spark, sf, graft.operators.SimilarityOps.ivfK(n)).map(_.map(_.toFloat))
    val dim = trained(0).length
    val e0 = Array.tabulate(dim)(i => if (i == 0) 1f else 0f)
    trained :+ e0 :+ e0.updated(1, 1e-4f)
  }

  private val Planted = 1000000L

  /** The sf0.001 embeddings plus planted rows: a 6-dp tie, a zero vector,
    * a null vector, a short vector, an empty one and a long one. */
  private def vectors(): DataFrame = {
    val dim = centroids(0).length
    val e0 = Seq.tabulate(dim)(i => if (i == 0) 1f else 0f)
    val planted: Seq[(Long, Seq[Float])] = Seq(
      1L -> e0,                                  // raw 1 vs 1 - 5e-9: both round to 1
      2L -> Seq.fill(dim)(0f),                   // 0/0: NaN against every cell
      3L -> null,                                // null against every cell
      4L -> Seq.tabulate(10)(i => (i - 4.5f) / 7f), // shorter than the centroids
      5L -> Seq.empty,
      6L -> Seq.tabulate(dim + 3)(i => math.sin(i.toDouble).toFloat))
    graft.sources.Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
      .union(planted.map { case (id, v) => (Planted + id, v) }.toDF("vec_id", "embedding"))
  }

  private def collect(df: DataFrame): Map[Long, (Int, Option[Double])] =
    df.collect().map { r =>
      r.getLong(0) -> (r.getInt(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }.toMap

  test("centroidArgmax equals the cross-join max_by assignment row for row, interpreted and codegen") {
    val want = withConfs(interpreted: _*)(
      collect(CentroidArgmaxReference.assign(vectors(), centroids)))
    for ((mode, confs) <- Seq("interpreted" -> interpreted, "codegen" -> codegen)) {
      val got = withConfs(confs: _*)(collect(vectors()
        .select($"vec_id", graft.functions.centroidArgmax($"embedding", centroids).as("a"))
        .select($"vec_id", $"a.cell", $"a.score")))
      assert(got.keySet === want.keySet, mode)
      for ((id, (cell, score)) <- want) {
        val (gc, gs) = got(id)
        assert(gc === cell, s"$mode: vector $id")
        // NaN != NaN: compare the bits
        assert(gs.map(java.lang.Double.doubleToLongBits) ===
          score.map(java.lang.Double.doubleToLongBits), s"$mode: vector $id score $gs vs $score")
      }
    }
    // the planted rows really exercise the shapes they name
    val k = centroids.length
    assert(want(Planted + 1) === (k - 1, Some(1.0)), "the 6-dp tie goes to the higher cell")
    assert(want(Planted + 2)._1 === k - 1 && want(Planted + 2)._2.exists(_.isNaN))
    assert(want(Planted + 3) === (k - 1, None), "a null vector scores null everywhere")
    assert(want(Planted + 4)._2.exists(s => !s.isNaN))
    assert(want(Planted + 5)._2.exists(_.isNaN), "an empty vector is 0/0")
    assert(want.count { case (id, (c, _)) => id < Planted && c < k - 2 } > 0,
      "fixture vectors land in trained cells")
  }

  test("the kernel is one never-null node in a narrow map: no exchange, no join") {
    import org.apache.spark.sql.graftext.CentroidArgmax
    val df = vectors().select($"vec_id",
      graft.functions.centroidArgmax($"embedding", centroids).as("a"))
    assert(!df.schema("a").nullable)
    object aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val exec = df.queryExecution.executedPlan
    assert(aqe.flatMap(exec)(_.expressions.flatMap(_.collect {
      case k: CentroidArgmax => k })).size === 1)
    val p = exec.toString
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("source guard: the cross-join max_by assignment stays out of src/main") {
    val chain = """max_by\(\$"cell_id"""".r
    assert(SourceScan.matches(chain, "src/main/scala") === Map.empty,
      "use graft.functions.centroidArgmax, not the cross-join max_by chain")
    assert(SourceScan.matches(chain, "src/test/scala")
      .get("graft/CentroidArgmaxReference.scala").nonEmpty,
      "the guard's pattern no longer matches the reference chain")
  }
}
