package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession (local[4]). */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4,
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString,
    // the plan-pinning suites audit the AT-SCALE plan shape; the
    // small-input parallelism floor (Tables.fillCores, round 18) would
    // put a Repartition over every fixture scan, so its byte bar is set
    // out of reach. TablesFillCoresSpec covers the floor's own behavior
    // by lowering the bar per test.
    "spark.graft.scan.fillCores.minBytes" -> Long.MaxValue.toString)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Each test owns what it materializes: the scope releases it when the
    * test ends, so the JVM-wide session does not collect cached relations
    * across the suites. */
  override def withFixture(test: NoArgTest): Outcome =
    graft.sources.Materialize.scoped(super.withFixture(test))

  /** Relations the CacheManager holds (`numCachedEntries` is private[sql]
    * in Scala, a public method in bytecode). */
  protected def cachedEntries: Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  /** Ids of the RDDs the session keeps persisted (cached or checkpointed). */
  protected def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `f` with session confs set, restoring the previous values. */
  protected def withConfs[T](kv: (String, String)*)(f: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
