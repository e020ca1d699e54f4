package graft

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

import scala.reflect.ClassTag

/** Spark-native re-expression of the reference's generic map-reduce harness.
  *
  * The reference (`/root/reference/lib/MapReduce/Framework/Simple.pm:149-339`,
  * `map_reduce`) takes an array of data chunks, a mapper closure, a reducer
  * closure and a fork limit; it ships the mapper to HTTP workers, gathers the
  * per-chunk map outputs into an array indexed by chunk id, optionally drops
  * undef results (`skip_undef_result`, Simple.pm:22,328-335), and calls the
  * reducer ONCE, locally, on the whole array (Simple.pm:335-337).
  *
  * Here the whole fork/HTTP/eval/msgpack machinery dissolves into Spark
  * built-ins: closure serialization ships the mapper, `mapPartitions` runs it
  * per chunk (= partition), task retry (`spark.task.maxFailures`) replaces the
  * single-shot failover wave (Simple.pm:248-315), and the scheduler replaces
  * worker assignment (Simple.pm:54-57).
  *
  * Scale note (100 TB): [[mapReduce]] is the *exact-parity* API — like the
  * reference client it materializes one map output per chunk on the driver
  * (the reference's reducer also sees all outputs in one process,
  * Simple.pm:335). That is fine when map outputs are small summaries (every
  * documented use), and it is documented as driver-bounded. For associative
  * reductions use [[mapReduceAssociative]] (treeReduce — partial merges on
  * executors, O(log n) driver traffic) or plain DataFrame aggregation, which
  * Catalyst already splits into partial+final.
  */
object Engine {

  /** Config surface surviving translation from the reference's Mouse
    * attributes (Simple.pm:21-30). Transport/worker knobs (verify_hostname,
    * worker_log, force_plackup, port, path, …) have no meaning on Spark.
    *
    * @param skipNullResults drop null map outputs before reduce — the
    *   reference's `skip_undef_result` (default 1, Simple.pm:22, 328-335).
    */
  final case class MRConfig(skipNullResults: Boolean = true)

  /** Chunk-balancing methods of `create_assigned_data`
    * (Simple.pm:34-146). Server-capability-weighted variants
    * (`element_server_cores` / `_workers` / `_core_clock`,
    * Simple.pm:66-132) are the Spark scheduler's job and are not
    * reproduced — on Spark, chunk→executor placement is never user-visible.
    *
    * Chunking never changes query results, only balance (property-tested in
    * EngineSpec); all methods produce an exact partition of the input.
    */
  sealed trait ChunkMethod
  /** Sort elements by serialized byte size, then round-robin, so every chunk
    * gets a similar size mix (Simple.pm:133-144). */
  case object VolumeUniform extends ChunkMethod
  /** Seeded random shuffle then round-robin (Simple.pm:50-58), done
    * without sorting: one job counts each input partition, which gives
    * every element its global index i and the total N; a seeded keyed
    * bijection π on [0, N) ([[Scramble]]) then sends element i to chunk
    * π(i) mod n, and one `partitionBy` deals the elements out. Since π
    * permutes [0, N), chunk sizes differ by at most 1, exactly as
    * round-robin over a shuffled list; the assignment depends only on
    * the input order and the seed. */
  case object ElementShuffle extends ChunkMethod
  /** Deterministic round-robin in input order (Simple.pm:59-65). */
  case object ElementSequential extends ChunkMethod

  private final class ModPartitioner(n: Int) extends Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int =
      (key.asInstanceOf[Long] % n).toInt
  }

  private def roundRobin[T: ClassTag](indexed: RDD[(Long, T)], n: Int): RDD[T] =
    indexed.partitionBy(new ModPartitioner(n)).values

  /** Seeded keyed bijection on [0, size): a 4-round balanced Feistel
    * network over the smallest even bit width whose range covers `size`,
    * cycle-walked back into range (re-applied while the image is
    * ≥ `size`; each walk stays on the input's own cycle, so it ends and
    * the restriction is still a bijection). The range is at most 4×
    * `size`, so a lookup averages at most 4 walks. The round function is
    * a splitmix64 finalizer over the half and a seed-derived round key —
    * pure arithmetic, no allocation per element. */
  private[graft] final class Scramble(size: Long, seed: Long) extends Serializable {
    private val half = {
      var h = 1
      while (h < 31 && (1L << (2 * h)) < size) h += 1
      h
    }
    private val mask = (1L << half) - 1
    private val keys = Array.tabulate(4)(r => mix(seed + (r + 1) * 0x9E3779B97F4A7C15L))

    private def mix(x: Long): Long = {
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }

    private def feistel(x: Long): Long = {
      var l = x >>> half
      var r = x & mask
      var k = 0
      while (k < 4) {
        val t = l ^ (mix(r ^ keys(k)) & mask)
        l = r; r = t; k += 1
      }
      (l << half) | r
    }

    def apply(i: Long): Long = {
      require(i >= 0 && i < size, s"index $i outside [0, $size)")
      var x = feistel(i)
      while (x >= size) x = feistel(x)
      x
    }
  }

  /** Split `ds` into exactly `n` chunks (= partitions) per `method`.
    * Equivalent of `create_assigned_data` minus the worker-URL pairing,
    * which Spark's scheduler owns. */
  def chunk[T: Encoder : ClassTag](
      ds: Dataset[T], n: Int,
      method: ChunkMethod = ElementSequential,
      seed: Long = 42L): Dataset[T] = {
    require(n > 0, s"chunk count must be positive, got $n")
    val spark = ds.sparkSession
    val rdd = method match {
      case ElementSequential =>
        // element i -> chunk i % n, as Simple.pm:60-62.
        roundRobin(ds.rdd.zipWithIndex().map { case (v, i) => (i % n, v) }, n)
      case ElementShuffle =>
        // `input` is evaluated twice, by the size job and by the shuffle,
        // and must yield the same elements both times (as zipWithIndex
        // also requires); a partition that grew in between fails
        // Scramble's index check instead of walking forever.
        val input = ds.rdd
        val sizes = input.mapPartitions { it =>
          var c = 0L
          while (it.hasNext) { it.next(); c += 1 }
          Iterator.single(c)
        }.collect()
        val offsets = sizes.scanLeft(0L)(_ + _)
        val perm = new Scramble(offsets.last, seed)
        roundRobin(input.mapPartitionsWithIndex { (p, it) =>
          var i = offsets(p)
          it.map { v => val slot = perm(i) % n; i += 1; (slot, v) }
        }, n)
      case VolumeUniform =>
        // Schwartzian sort by serialized size then round-robin
        // (Simple.pm:133-144); the reference measures MessagePack bytes, we
        // measure Spark-serializer bytes — same balancing intent.
        val sized = ds.rdd.mapPartitions { it =>
          val ser = org.apache.spark.SparkEnv.get.serializer.newInstance()
          it.map(v => (ser.serialize(v)(implicitly[ClassTag[T]]).limit().toLong, v))
        }
        roundRobin(
          sized.sortByKey().values.zipWithIndex().map {
            case (v, i) => (i % n, v) }, n)
    }
    spark.createDataset(rdd)
  }

  /** Exact-parity `map_reduce` (Simple.pm:149-339): run `mapper` once per
    * chunk, collect outputs ordered by chunk id (Simple.pm:186), drop nulls
    * if configured, call `reducer` ONCE on the whole sequence
    * (Simple.pm:335-337). The reducer need not be associative — it sees
    * every map output, exactly like the reference.
    */
  def mapReduce[I, M: ClassTag, R](
      data: Dataset[I],
      mapper: Iterator[I] => M,
      reducer: IndexedSeq[M] => R,
      cfg: MRConfig = MRConfig()): R = {
    val partials: Array[M] =
      data.rdd.mapPartitions(it => Iterator.single(mapper(it))).collect()
    val kept =
      if (cfg.skipNullResults) partials.filter(_ != null) else partials
    reducer(kept.toIndexedSeq)
  }

  /** Scale path for associative reducers (every documented reference reducer
    * is one: Q1 partial merge t/01_basic.t:29-39, Q2 sum Simple.pm:912-919,
    * Q3 identity Simple.pm:808-811): partial merges happen on executors via
    * `treeReduce`, so the driver never holds more than O(log n) outputs. */
  def mapReduceAssociative[I, M: ClassTag](
      data: Dataset[I],
      mapper: Iterator[I] => M,
      merge: (M, M) => M,
      depth: Int = 2): M =
    data.rdd.mapPartitions(it => Iterator.single(mapper(it)))
      .treeReduce(merge, depth)
}
