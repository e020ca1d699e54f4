package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative min-label propagation over an undirected edge list: the
  * reference the random-graph specs compare [[graft.operators.DedupOps.connectedComponents]]
  * against, next to a driver-side union-find. Returns (node, lbl) for
  * every node that appears in an edge; lbl = the component's min node id.
  * Each iteration is one equi-join + min-aggregate; min-labels decrease
  * monotonically, so it converges in ≤ diameter iterations and throws
  * past `maxIter` (one iteration per hop, which is why the engine's
  * kernel is large-star/small-star instead). */
object CcReference {
  private val obsId = new java.util.concurrent.atomic.AtomicLong(0)

  def propagate(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val sym = edges
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // eager localCheckpoint truncates the label lineage each iteration
    // (each one references the labels twice); the change count rides the
    // same action as an observed metric
    def observed(df: DataFrame, metric: org.apache.spark.sql.Column): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation(s"graft_ccref_${obsId.incrementAndGet()}")
      val out = df.observe(obs, metric.as("m")).localCheckpoint(true)
      (out, obs.get.apply("m").asInstanceOf[Long])
    }
    var (labels, changed) = observed(
      sym.groupBy(col("src").as("node")).agg(min(col("dst")).as("nbl"))
        .select(col("node"), least(col("node"), col("nbl")).as("lbl")),
      count(lit(1))) // row count: 0 on an empty graph — skip the loop
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbr = sym.join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node")).agg(min(col("lbl")).as("nbl"))
      val (next, c) = observed(
        labels.withColumnRenamed("lbl", "old")
          .join(nbr, Seq("node"), "left")
          .select(col("node"), col("old"),
            least(col("old"), coalesce(col("nbl"), col("old"))).as("lbl")),
        count(when(col("lbl") =!= col("old"), lit(1))))
      changed = c
      labels = next.select(col("node"), col("lbl"))
      iter += 1
    }
    require(changed == 0, s"CcReference.propagate: not converged after $maxIter iterations")
    labels
  }
}
