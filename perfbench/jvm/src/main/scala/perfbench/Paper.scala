package perfbench

import graft.Engine
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The paper's showcase program: the prime sum over a candidate range,
  * split into the paper's 40 chunks with `element_shuffle` and run through the
  * map-reduce harness — once with the exact-parity `mapReduce` (one local
  * reducer call over every chunk's output) and once with
  * `mapReduceAssociative`. Each Engine call is its own span. */
final class Paper(tracer: Tracer, seed: Long) {

  import Paper.{Chunks, add, mapper}

  private def candidates(s: SparkSession, dir: String) = {
    import s.implicits._
    s.read.parquet(s"$dir/candidates.parquet").select($"n").as[Long]
  }

  def primeSum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunked = tracer.timed("mr.chunk", "chunk") {
      Engine.chunk(candidates(s, dir), Chunks, Engine.ElementShuffle, seed)
    }
    val exact = tracer.timed("mr.map", "mapReduce") {
      Engine.mapReduce[Long, (Long, Long), (Long, Long)](chunked, mapper,
        parts => tracer.timed("mr.reduce", "reducer")(parts.reduce(add)))
    }
    val assoc = tracer.timed("mr.map", "mapReduceAssociative") {
      Engine.mapReduceAssociative[Long, (Long, Long)](chunked, mapper, add)
    }
    Seq((exact._1, exact._2, assoc._1, assoc._2))
      .toDF("prime_sum", "prime_cnt", "prime_sum_assoc", "prime_cnt_assoc")
  }

  /** Largest chunk over the mean chunk, from one extra counting job. */
  def chunkSkew(s: SparkSession, dir: String): Double = {
    import s.implicits._
    val sizes = Engine.chunk(candidates(s, dir), Chunks, Engine.ElementShuffle, seed)
      .rdd.mapPartitions(it => Iterator.single(it.size.toLong)).collect()
    if (sizes.isEmpty || sizes.sum == 0) 0.0 else sizes.max * sizes.length.toDouble / sizes.sum
  }
}

object Paper {
  val QueryName = "mr_paper_prime_sum"
  /** The paper's `chunk_num`. */
  val Chunks = 40

  /** The paper's mapper: trial-division primality over one chunk,
    * summing and counting the primes. */
  val mapper: Iterator[Long] => (Long, Long) = it => {
    var sum = 0L
    var cnt = 0L
    while (it.hasNext) {
      val k = it.next()
      if (isPrime(k)) { sum += k; cnt += 1 }
    }
    (sum, cnt)
  }

  /** The paper's reducer step. */
  val add: ((Long, Long), (Long, Long)) => (Long, Long) = (a, b) => (a._1 + b._1, a._2 + b._2)

  def isPrime(k: Long): Boolean =
    if (k < 2) false
    else if (k % 2 == 0) k == 2
    else {
      var d = 3L
      while (d * d <= k) { if (k % d == 0) return false; d += 2 }
      true
    }
}
