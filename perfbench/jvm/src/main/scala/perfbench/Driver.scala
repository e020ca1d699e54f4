package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs one workload against the engine and writes everything it measured
  * to a JSON file; `perfbench/run.py` turns that file into metrics.
  *
  * A run is: one set-up per input snapshot (a fresh session plus one cold
  * noop-sink pass over the workload's queries; the first also pays JVM
  * start), then timed passes over the last snapshot until `seconds` have
  * been spent in them (at least three, four when traced), then one untimed
  * warm pass that writes every query's output to `check-dir/warm`. In the
  * last set-up each query's DataFrame, once timed into the noop sink, is
  * run once more into `check-dir/cold`; that write is not part of the
  * set-up's time. Each snapshot is a separate copy of the same generated
  * corpus, so every set-up trains, indexes and publishes its artifacts
  * anew, as a user pays once per corpus snapshot. With `trace` half the
  * timed passes run with Spark's listeners attached, and kernel and Engine
  * probes run after the passes.
  *
  * Arguments: --inputs DIR,DIR,... --out FILE --check-dir DIR
  *   --queries a,b,... --seconds S --trace 0|1 --chunk-seed N
  */
object Driver {
  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val snapshots = a("inputs").split(",").toSeq
    var input = snapshots.head
    val checkDir = a("check-dir")
    val names = a("queries").split(",").toSeq
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer
    val paper = new Paper(tracer, a("chunk-seed").toLong)
    val registry: Map[String, Query] =
      graft.SparkEntry.queries + (Paper.QueryName -> (paper.primeSum _))
    val queries = names.map(n => n -> registry.getOrElse(n,
      throw new IllegalArgumentException(s"no registered query named $n")))
    val workDir = Paths.get("").toAbsolutePath

    def session(): SparkSession = {
      // graft.Bench's session: local[cores], one shuffle partition per
      // core, UTC, nanos-as-long parquet, a codegen cache sized to the fleet
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    var spark: SparkSession = null
    val stages = new StageListener(tracer)
    val plans = new PlanListener
    var traced = false
    var queryCounter = 0

    type Sink = (String, DataFrame) => Unit
    val noop: Sink = (_, df) => df.write.format("noop").mode("overwrite").save()
    def parquetTo(dir: String): Sink = (n, df) => df.write.mode("overwrite").parquet(s"$dir/$n")

    /** One query as graft.Bench times it: clear the cache, build the
      * DataFrame, run it into the noop sink (or another `sink`). With
      * `untimed`, the built DataFrame then runs once more into that sink,
      * outside the query's time. */
    def runQuery(name: String, fn: Query, sink: Sink, untimed: Option[Sink]): Map[String, Any] = {
      spark.catalog.clearCache()
      queryCounter += 1
      val group = s"q$queryCounter"
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      plans.current = group
      var buildNs, execNs = 0L
      var error: Option[Throwable] = None
      var df: DataFrame = null
      val t0 = System.nanoTime()
      tracer.timed("query", group) {
        try {
          df = tracer.timed("build", name)(fn(spark, input))
          buildNs = System.nanoTime() - t0
          tracer.timed("exec", name)(sink(name, df))
          execNs = System.nanoTime() - t0 - buildNs
        } catch { case e: Throwable => error = Some(e) }
      }
      val totalNs = System.nanoTime() - t0
      val u0 = System.nanoTime()
      for (write <- untimed if error.isEmpty)
        try write(name, df) catch { case e: Throwable => error = Some(e) }
      val untimedNs = System.nanoTime() - u0
      spark.sparkContext.clearJobGroup()
      // every query, traced or not, starts with its predecessor's events
      // delivered, so a traced query's records are complete and both kinds
      // of pass start from the same quiet state
      Bus.drain(spark.sparkContext)
      // what the query left cached once its action returned
      val storage = spark.sparkContext.getRDDStorageInfo
      Map("name" -> name, "group" -> group, "ok" -> error.isEmpty,
        "error_class" -> error.map(_.getClass.getName),
        "error" -> error.map(e => String.valueOf(e.getMessage).take(500)),
        "build_ns" -> buildNs, "exec_ns" -> execNs, "total_ns" -> totalNs,
        "untimed_ns" -> untimedNs,
        "cached_relations" -> storage.length,
        "storage_bytes" -> storage.map(r => r.memSize + r.diskSize).sum)
    }

    def pass(kind: String, sink: Sink = noop, untimed: Option[Sink] = None): Map[String, Any] = {
      val gc0 = Jvm.gcMillis()
      val cg0 = Jvm.codegen()
      val qs = tracer.timed(kind, kind)(
        queries.map { case (n, fn) => runQuery(n, fn, sink, untimed) })
      val gcMs = Jvm.gcMillis() - gc0
      val cg1 = Jvm.codegen()
      Map("kind" -> kind, "queries" -> qs, "gc_ms" -> gcMs,
        "codegen_compiles" -> (cg1._1 - cg0._1), "codegen_ms" -> (cg1._2 - cg0._2),
        "heap_live_mb" -> Jvm.liveHeapMb())
    }

    val setupRecs = ArrayBuffer.empty[Map[String, Any]]
    tracer.timed("run", "run") {
      for ((snapshot, i) <- snapshots.zipWithIndex) {
        if (i > 0) spark.stop()
        input = snapshot
        val t0 = if (i == 0) tracer.msToNs(ManagementFactory.getRuntimeMXBean.getStartTime)
                 else System.nanoTime()
        val cold = tracer.timed("setup", s"setup$i") {
          spark = session()
          val initNs = System.nanoTime() - t0
          val last = i == snapshots.size - 1
          val p = pass("cold", untimed = if (last) Some(parquetTo(s"$checkDir/cold")) else None)
          (initNs, p)
        }
        val untimedNs = cold._2("queries").asInstanceOf[Seq[Map[String, Any]]]
          .map(_("untimed_ns").asInstanceOf[Long]).sum
        setupRecs += Map("setup_ns" -> (System.nanoTime() - t0 - untimedNs),
          "session_init_ns" -> cold._1,
          "pass" -> cold._2, "artifacts" -> Jvm.artifacts(workDir))
      }

      // Passes until `seconds` have been spent in them. A traced run
      // orders its passes traced, untraced, untraced, traced, so a steady
      // warm-up drift cancels out of the tracing overhead.
      val passes = ArrayBuffer.empty[Map[String, Any]]
      var spent = 0L
      def attach(on: Boolean): Unit = if (on != traced) {
        if (on) {
          spark.sparkContext.addSparkListener(stages)
          spark.listenerManager.register(plans)
        } else {
          spark.listenerManager.unregister(plans)
          spark.sparkContext.removeSparkListener(stages)
        }
        traced = on
      }
      val minPasses = if (trace) 4 else 3
      while (spent / 1e9 < seconds || passes.size < minPasses) {
        attach(trace && passes.size % 4 % 3 == 0)
        val p = pass(if (traced) "traced_pass" else "pass")
        spent += p("queries").asInstanceOf[Seq[Map[String, Any]]]
          .map(_("total_ns").asInstanceOf[Long]).sum
        passes += p
      }
      attach(false)
      // the warm path's outputs, for the checks
      val checkPass = pass("check", parquetTo(s"$checkDir/warm"))

      val probes: Map[String, Any] = if (!trace) Map.empty else {
        spark.catalog.clearCache()
        val kernels = tracer.timed("probe", "kernels")(
          Kernels.probe(spark, input, tracer))
        val skew = if (names.contains(Paper.QueryName)) paper.chunkSkew(spark, input) else 0.0
        Map("kernels" -> kernels, "chunk_skew" -> skew)
      }

      val sc = spark.sparkContext
      val storageMemMb = sc.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0
      val oracle = graft.SparkEntry.oracleSql
      val result: Map[String, Any] = Map(
        "config" -> Map("cores" -> cores, "spark_version" -> spark.version,
          "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
          "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala,
          "spark_confs" -> spark.conf.getAll.filter(_._1.startsWith("spark.sql")),
          "storage_memory_mb" -> storageMemMb),
        "setups" -> setupRecs, "passes" -> passes, "check_pass" -> checkPass,
        "oracle_sql" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap,
        "probes" -> probes,
        "trace" -> (if (!trace) Map.empty else Map(
          "jobs" -> stages.jobRecords, "stages" -> stages.stageRecords,
          "executions" -> plans.records)))
      spark.stop()
      Files.writeString(Paths.get(a("out")), Json(result + ("spans" -> tracer.all.map(_.toMap))))
    }
  }
}

/** JVM-level figures read from the platform MXBeans and Spark's codegen
  * metrics source. */
object Jvm {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** (compiles, summed compile ms) of generated classes so far. */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }

  /** Old-generation bytes still live after a full collection. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.toLowerCase.contains("old"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** Bytes and files the engine wrote under `target/graft_*`. */
  def artifacts(workDir: Path): Map[String, Long] = {
    val root = workDir.resolve("target")
    val files = if (!Files.isDirectory(root)) Nil else
      Files.list(root).iterator().asScala.filter(_.getFileName.toString.startsWith("graft_"))
        .flatMap(p => Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))).toList
    Map("files" -> files.size.toLong, "bytes" -> files.map(Files.size).sum)
  }
}
