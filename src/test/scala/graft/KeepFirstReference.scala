package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The rank-window keep-first cut: the reference the specs compare
  * `DedupOps.keepFirstCuts` against. The occurrences of each duplicated
  * window class `gh` are ranked by (doc_id, pos) and every one past rank
  * 1 is cut. This was d12's cut until the class aggregate carried the
  * first occurrence; the window sorts the duplicated stream by class. */
object KeepFirstReference {
  def cuts(sh: DataFrame): DataFrame = {
    val dup = sh.groupBy(col("gh")).agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select(col("gh"))
    sh.join(dup, Seq("gh"), "left_semi")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("gh")).orderBy(col("doc_id"), col("pos"))))
      .where(col("rk") >= 2)
      .select(col("doc_id"), col("pos"))
  }
}
