package graft

import graft.operators.SimilarityOps
import graft.sources.Tables

/** Dev probe (test scope, never shipped): times t21's two paths head to
  * head on a scale replica, to size [[SimilarityOps.EvalBroadcastCap]]
  * from measurement rather than guesswork (the m10 pre-ship-probe
  * discipline). Run after a ScaleBench build; the replica defaults to
  * this checkout's `target/scale80x`, where ScaleBench writes it:
  *   sbt "Test/runMain graft.T21ScaleProbe"
  */
object T21ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      java.nio.file.Paths.get("target", "scale80x").toAbsolutePath.toString)
    val spark = Session.local()
    val emb = Tables.embeddings(spark, dir)
    println(s"N=${emb.count()}")
    def time(label: String)(f: => org.apache.spark.sql.DataFrame): Unit =
      println(Session.run(spark, label, (_, _) => f, dir) match {
        case ok: Session.Ok => f"$label%-10s ${ok.totalS}%.1f s"
        case failed => f"$label%-10s $failed"
      })
    val k = SimilarityOps.ivfK(SimilarityOps.corpusCount(spark, dir))
    val cents = SimilarityOps.centroidsFor(spark, dir, k)
    println(s"k=$k")
    time("broadcast")(SimilarityOps.semanticDecontOf(emb))
    time("probe")(SimilarityOps.semanticDecontProbe(emb, cents))
    time("broadcast")(SimilarityOps.semanticDecontOf(emb))
    time("probe")(SimilarityOps.semanticDecontProbe(emb, cents))
    // pruning power on this corpus: candidates vs the full cross size
    val (cand, evCells) = SimilarityOps.semanticProbePlan(emb, cents)
    val nc = cand.join(evCells.select("cell").groupBy("cell").count(), Seq("cell"))
      .selectExpr("sum(count)").collect()(0).getLong(0)
    val nEv = evCells.count(); val nTr = emb.count() - nEv
    println(f"pairs: probed=$nc full=${nTr * nEv} ratio=${nc.toDouble / (nTr * nEv)}%.3f")
    spark.stop()
  }
}
