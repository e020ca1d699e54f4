package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way to build a session and the one way to time a query.
  *
  * Every main (`Bench`, `ScaleBench`, `Verify`, `tools.QueryProfile`), every
  * test-scope probe and the shared test session build their session through
  * [[local]]; every timed or checked query runs through [[run]]. A source
  * scan in `SessionSpec` keeps other session builders out of `src/`. */
object Session {
  type Query = (SparkSession, String) => DataFrame
  /** Where a built query's rows go; gets the query's name and its frame. */
  type Sink = (String, DataFrame) => Unit

  /** Cores of a local session: `SPARK_GRAFT_CPUS`, else the host's (a
    * literal would oversubscribe smaller machines). */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The JVM-wide generated-class cache (`spark.sql.codegen.cache.maxEntries`,
    * a static conf). Spark's default of 100 entries stopped fitting once the
    * surface passed ~100 queries: one pass over 158 queries emits several
    * hundred distinct fragments, so by the time a query's timed pass runs its
    * warm-up-compiled classes are evicted and every pass pays Janino again
    * (measured round 18: ~46 ms mean per compile, dozens of fragments on the
    * composition queries). 4096 keeps the whole surface's fragments resident,
    * so timed passes measure steady-state execution. Any long-lived session
    * serving a query fleet wants its codegen cache sized to the fleet; the
    * r19 interleaved A/B that isolated this conf's share of the r18 speedup
    * is dev/records/bench_codegen_cache_ab_r19.md. */
  private val CodegenCacheEntries = 4096

  /** A local session on [[cores]] cores; `overrides` win over the table. */
  def local(overrides: (String, String)*): SparkSession = local(cores, overrides: _*)

  def local(cores: Int, overrides: (String, String)*): SparkSession = {
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
      "spark.ui.enabled" -> "false") ++ overrides
    val spark = confs
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The timed action: a noop write, not count(). Under count()
    * ColumnPruning strips every output column the action doesn't
    * reference, so narrow-map queries timed as bare scans and k1's
    * aggregation-state blowup was invisible (found by ScaleBench round 6).
    * The noop sink evaluates every output column with zero driver
    * transfer. */
  val noop: Sink = (_, df) => df.write.format("noop").mode("overwrite").save()

  sealed trait Outcome
  /** Seconds spent building the frame (driver side: memo lookups, bounded
    * collects, eager materializations), planning it (optimization through
    * physical planning, forced on the built frame), and running it into
    * the sink. */
  final case class Ok(buildS: Double, planS: Double, execS: Double) extends Outcome {
    /** What the query costs when run once: build + exec. The sink's write
      * optimizes and plans the frame again inside its own query execution,
      * so `planS` is that same work measured on its own, not an extra
      * share of the total. */
    def totalS: Double = buildS + execS
  }
  final case class Failed(errorClass: String, message: String) extends Outcome {
    override def toString: String = s"$errorClass: $message"
  }

  /** Run one query: time build, plan and sink inside one
    * [[graft.sources.Materialize.scoped]] scope, which owns every relation
    * the query materializes and releases it when the query ends.
    *
    * CacheManager matches canonicalized plans, so a relation left cached
    * by an earlier query (d6 rebuilds d1/d2's relations) would silently
    * skip a whole stage; the scope releases each query's materializations
    * so every timing covers the full operator, and a long-lived session
    * does not keep them. */
  def run(spark: SparkSession, name: String, fn: Query, dir: String,
      sink: Sink = noop): Outcome =
    try graft.sources.Materialize.scoped {
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      sink(name, df)
      val t3 = System.nanoTime()
      Ok((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    } catch {
      case e: Throwable => Failed(e.getClass.getName, String.valueOf(e.getMessage))
    }

  /** Timed passes after the warm-up pass. */
  val TimedPasses = 3

  /** The bench method, shared by `Bench` and `ScaleBench`: one untimed
    * warm-up pass over `queries` (session init, parquet footers, one-time
    * index and layout builds, JIT and codegen all land there), then
    * [[TimedPasses]] timed passes. `each(phase, name, query)` runs one query
    * in one pass; phases are `warmup`, `pass1`, `pass2`, .... Returns each
    * query's results from the timed passes, in pass order. */
  def passes[T](queries: Seq[(String, Query)])(each: (String, String, Query) => T)
      : Map[String, IndexedSeq[T]] = {
    queries.foreach { case (n, fn) => each("warmup", n, fn) }
    val timed = (1 to TimedPasses).map(p =>
      queries.map { case (n, fn) => n -> each(s"pass$p", n, fn) }.toMap)
    queries.map { case (n, _) => n -> timed.map(_(n)) }.toMap
  }

  /** The pass with the median total, or None if any pass failed. */
  def median(outcomes: Seq[Outcome]): Option[Ok] = {
    val oks = outcomes.collect { case ok: Ok => ok }
    if (oks.size < outcomes.size) None else Some(oks.sortBy(_.totalS).apply(oks.size / 2))
  }

  /** Registered queries, narrowed to the comma list in `SPARK_GRAFT_ONLY`
    * when it is set (Verify and QueryProfile). */
  def selectedQueries: Seq[(String, Query)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.toSeq.filter { case (n, _) => only.forall(_.contains(n)) }
  }

  /** A JSON string literal: escapes backslash, quote and every control
    * char, so an error message or builder-authored SQL can never break
    * the record's json.load. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
