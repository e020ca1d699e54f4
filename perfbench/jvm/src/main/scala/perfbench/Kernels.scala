package perfbench

import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Times each public `graft.functions` kernel on a cached slice of the
  * workload's own documents and embeddings, apart from scan and shuffle:
  * the same projection without the kernel is the baseline, and
  * ns/row = (kernel time - baseline time) / rows, median of `Reps`. */
object Kernels {
  /** Rows in each cached slice. */
  val Rows = 20000
  val Reps = 3

  def probe(s: SparkSession, dir: String, tracer: Tracer): Map[String, Double] = {
    import s.implicits._
    def slice(df: DataFrame, n: Long): DataFrame = {
      // repeat the table until the slice holds `Rows` rows
      val copies = math.max(1L, (Rows + n - 1) / n)
      df.crossJoin(s.range(copies).select($"id".as("rep"))).limit(Rows).drop("rep")
        .persist(StorageLevel.MEMORY_ONLY)
    }
    val rawDocs = s.read.parquet(s"$dir/documents.parquet").select($"text", $"n_chars")
    val docs = slice(rawDocs
      .withColumn("hashes", transform(split($"text", " "), w => xxhash64(w)))
      .withColumn("x", $"n_chars".cast("double")), rawDocs.count())
    val rawVecs = s.read.parquet(s"$dir/embeddings.parquet").select($"embedding")
    val vecs = slice(rawVecs, rawVecs.count())
    val nDocs = docs.count()
    val nVecs = vecs.count()

    val sample = rawVecs.limit(16).as[Seq[Float]].collect().map(_.map(_.toDouble).toArray)
    val query = typedLit(sample.head.map(_.toFloat))
    val dim = sample.head.length
    val sub = 8
    val books = Array.tabulate(dim / sub)(m => sample.map(v => v.slice(m * sub, (m + 1) * sub)))
    val vocab = rawDocs.limit(200).as[(String, Long)].collect().iterator
      .flatMap(_._1.split(" ")).filter(w => w.length >= 2 && w.forall(_.isLower)).toSeq
      .flatMap(w => (2 to math.min(8, w.length)).map(w.take)).distinct.sorted

    def timeNs(df: DataFrame): Long = {
      val ts = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        System.nanoTime() - t0
      }.sorted
      ts(ts.size / 2)
    }
    def perRow(name: String, base: DataFrame, df: DataFrame, n: Long): (String, Double) =
      tracer.timed("kernel", name) {
        name -> (timeNs(df) - timeNs(base)).toDouble / n
      }
    def proj(df: DataFrame, c: Column) = df.select(c.as("k"))

    val out = Seq(
      perRow("cosineSim", proj(vecs, $"embedding"), proj(vecs, cosineSim($"embedding", query)), nVecs),
      perRow("signLshBandKeys", proj(vecs, $"embedding"),
        proj(vecs, signLshBandKeys($"embedding", 16, 8, dim, 7L)), nVecs),
      perRow("nearestCells", proj(vecs, $"embedding"),
        proj(vecs, nearestCells($"embedding", sample, 2)), nVecs),
      perRow("pqEncodeCodes", proj(vecs, $"embedding"),
        proj(vecs, pqEncodeCodes($"embedding", books)), nVecs),
      perRow("simhashFingerprint", proj(docs, $"hashes"),
        proj(docs, simhashFingerprint($"hashes", 63)), nDocs),
      perRow("minhashBandKeys", proj(docs, $"hashes"),
        proj(docs, minhashBandKeys($"hashes", 64, 4)), nDocs),
      perRow("bpeTokenCount", proj(docs, $"text"), proj(docs, bpeTokenCount($"text", vocab)), nDocs),
      perRow("bpeTokenIds", proj(docs, $"text"), proj(docs, bpeTokenIds($"text", vocab)), nDocs),
      perRow("normalizeText", proj(docs, $"text"), proj(docs, normalizeText($"text")), nDocs),
      perRow("kllSketchAgg", proj(docs, $"x"), docs.select(kllSketchAgg($"x", 200)), nDocs)
    ).toMap
    docs.unpersist()
    vecs.unpersist()
    out
  }
}
