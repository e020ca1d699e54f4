package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The compositional nearest-centroid assignment: the reference the specs
  * compare [[graft.functions.centroidArgmax]] against. Every vector is
  * crossed with the k-row centroid relation, scored with the 6-dp rounded
  * cosine, and merged back per `vec_id` by `max_by` over (score, cell),
  * so ties go to the higher cell, and by `max` of the score. This was
  * s9's, s10's and e8's assignment until the kernel replaced it. */
object CentroidArgmaxReference {
  def assign(emb: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cent = centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell_id", "c_vec")
    emb.crossJoin(broadcast(cent))
      .select($"vec_id", $"cell_id",
        round(graft.functions.cosineSim($"embedding", $"c_vec"), 6).as("sc"))
      .groupBy($"vec_id")
      .agg(max_by($"cell_id", struct($"sc", $"cell_id")).as("cell"),
        max($"sc").as("score"))
  }
}
