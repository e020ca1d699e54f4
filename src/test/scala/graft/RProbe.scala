package graft

/** Dev probe: the dispatch statistic R on the fixture and the ScaleBench
  * replicas — records that content-decorrelated replication keeps R in
  * the naive band (SCALING.md round 16). */
object RProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    // the replicas resolve under this checkout's target/, where
    // ScaleBench writes them
    val dirs = if (args.nonEmpty) args.toSeq else "/root/testdata/sf0.1" +:
      Seq(10, 20, 80).map(f =>
        java.nio.file.Paths.get("target", s"scale${f}x").toAbsolutePath.toString)
    for (d <- dirs if java.nio.file.Files.exists(java.nio.file.Paths.get(d))) {
      val (s1, s2) = graft.operators.DedupOps.dfSkewStats(spark, d)
      println(s"RPROBE $d R=${s2 / math.max(s1, 1L)} sumDf=$s1 " +
        s"usePrefix=${graft.operators.DedupOps.usePrefixPlan(spark, d)}")
    }
    spark.stop()
  }
}
