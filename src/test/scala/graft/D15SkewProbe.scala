package graft

import graft.operators.DedupOps

/** Dev probe (test scope, never shipped): sizes
  * [[DedupOps.PrefixSwitchRatio]] from measurement (the T21ScaleProbe
  * discipline) — generates corpora at increasing trigram-df skew
  * (a 9-token hot block planted in m of N docs → 7 trigrams at df = m),
  * prints each corpus's R = Σdf²/Σdf and the COLD wall time of the
  * naive inverted-index arm vs the prefix-filtered arm for d4 and d15.
  * The threshold belongs between the last R where naive wins and the
  * first where prefix does. Run:
  *   sbt "Test/runMain graft.D15SkewProbe"
  */
object D15SkewProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    import spark.implicits._

    def time(f: => org.apache.spark.sql.DataFrame): Double =
      Session.run(spark, "d15-skew-probe", (_, _) => f, "") match {
        case ok: Session.Ok => ok.totalS
        case failed => sys.error(failed.toString)
      }

    def probe(label: String, dir: String): Unit = {
      val (s1, s2) = DedupOps.dfSkewStats(spark, dir)
      val r = s2 / math.max(s1, 1L)
      val tNaive4 = time(DedupOps.d4InvertedJaccard(spark, dir))
      val tPrefix4 = time(DedupOps.d4PrefixJaccard(spark, dir))
      val tNaive15 = time(DedupOps.containmentPairsOf(
        graft.sources.Tables.documents(spark, dir), DedupOps.ContainTau))
      val tPrefix15 = time(DedupOps.d15PrefixContainment(spark, dir))
      println(f"$label%-12s R=$r%-6d d4: naive=$tNaive4%6.1fs prefix=$tPrefix4%6.1fs   " +
        f"d15: naive=$tNaive15%6.1fs prefix=$tPrefix15%6.1fs   " +
        f"dispatch=${if (r > DedupOps.PrefixSwitchRatio) "prefix" else "naive"}")
    }

    // the benign fixture corpus (max trigram df 25)
    probe("sf0.1", "/root/testdata/sf0.1")

    // planted skew: N docs of 40 unique tokens; the first m carry a
    // 9-token hot block (7 trigrams at df = m)
    val n = 20000
    val hot = (0 until 9).map(i => s"hot$i").mkString(" ")
    for (m <- Seq(2000, 5000, 10000, 20000)) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_skewprobe_$m").toString
      (0 until n).map { i =>
        val uniq = (0 until 40).map(j => s"u${i}x$j").mkString(" ")
        (i.toLong, if (i < m) s"$hot $uniq" else uniq)
      }.toDF("doc_id", "text")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      probe(s"hot m=$m", dir)
    }
    spark.stop()
  }
}
