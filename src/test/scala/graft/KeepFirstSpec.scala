package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** d12's keep-first cut (`DedupOps.keepFirstCuts`: the class aggregate
  * carries each class's first occurrence, the cut is a join condition)
  * against the rank-window spelling it replaced ([[KeepFirstReference]]),
  * on the sf0.001 documents plus planted shapes. */
class KeepFirstSpec extends SparkSpec {
  import spark.implicits._

  private val N = graft.operators.DedupOps.SpanN
  private val Planted = 1000000L

  private def words(n: Int, tag: String = "w"): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")

  /** (doc_id, pos, gh) windows of the sf0.001 documents plus planted docs:
    * a class repeated inside one doc (1), three docs sharing a class
    * (2, 3, 4), and one token repeated so every window overlaps its
    * neighbours and all are one class (5). */
  private def windows(): DataFrame = {
    val planted = Seq(
      1L -> (words(N, "a") + " x " + words(N, "a")),
      2L -> ("p q " + words(N + 5, "b")),
      3L -> words(N + 5, "b"),
      4L -> (words(N + 5, "b") + " r"),
      5L -> Seq.fill(N + 20)("z").mkString(" "))
    graft.sources.Tables.documents(spark, sf).select($"doc_id", $"text")
      .union(planted.map { case (id, t) => (Planted + id, t) }.toDF("doc_id", "text"))
      .select($"doc_id", posexplode(graft.functions.spanHashes($"text", N)))
      .select($"doc_id", $"pos", $"col".as("gh"))
  }

  private def cutSet(df: DataFrame): Set[(Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  test("the class-aggregate cut equals the rank-window cut") {
    val got = cutSet(graft.operators.DedupOps.keepFirstCuts(windows()))
    val want = cutSet(KeepFirstReference.cuts(windows()))
    assert(got === want, s"only new: ${(got -- want).take(5)}; only old: ${(want -- got).take(5)}")
    def in(id: Long) = want.filter(_._1 == Planted + id).map(_._2)
    // the planted rows really exercise the shapes they name
    assert(in(1) === Set(N + 1), "the later copy inside one doc is cut, the first kept")
    assert(in(2).isEmpty, "the first of three docs sharing a class keeps its windows")
    assert(in(3) === (0 to 5).toSet && in(4) === (0 to 5).toSet)
    assert(in(5) === (1 to 20).toSet, "overlapping one-class windows: all but the first")
    assert(want.exists(_._1 < Planted), "fixture documents have later copies")
  }
}
