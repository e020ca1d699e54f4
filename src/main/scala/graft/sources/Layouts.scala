package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned storage layouts as a first-class, oracle-checked query
  * surface (SourcesSinksSpec proves the same levers at plan level; this
  * makes one visible to the driver's end-to-end gate).
  *
  * At 100 TB the corpus isn't one flat parquet: it's written once
  * partitioned by a routing column (source/date/language) so that
  * single-slice queries read only their slice — the scan's
  * `PartitionFilters` replace a full-corpus filter. [[documentsBySource]]
  * materializes that layout once per corpus state (like a real deployment's
  * one-time ETL); [[src1PartitionPrune]] then answers a two-source
  * question against it with a pruned scan (2 of 20 directories read —
  * asserted in LayoutsSpec).
  */
object Layouts {

  /** Absolute path of the driver-side artifact `name` derived from
    * `dir`'s testdata `tables`: `target/<name>_f<fingerprint>_<dirTag>`
    * under the working directory, the fingerprint being the tables'
    * [[Tables.fingerprint]]. A rewritten corpus therefore gets a new
    * path: it never overwrites a path an earlier plan still reads, and a
    * persisted artifact is never loaded stale. `name` must encode every
    * other parameter that changes the artifact's content (trainer
    * version, k, ...). Artifacts outlive the session and the process
    * that wrote them ([[publish]] reuses any complete table), so a
    * change to an artifact's producer (its rows, partitioning or file
    * shape) must rename the artifact, as the `*Version` constants in the
    * model names do; otherwise a later process serves the old
    * producer's table. A table built from a trained model names that
    * model too (`SimilarityOps.builtFrom`), so retraining renames it. */
  def artifactPath(s: SparkSession, name: String, dir: String,
      tables: String*): String =
    java.nio.file.Paths.get("target",
      s"${name}_f${Tables.tablesId(s, dir, tables: _*)}_${dirTag(dir)}")
      .toAbsolutePath.toString

  /** Recursive delete of a local path tree (no-op if absent) — shared by
    * [[publish]] (torn tables, lost staging directories), the
    * generational store's sweep and the st8 upsert store. */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }

  /** Load gate for a persisted table: only a COMPLETE write counts — the
    * committer's _SUCCESS marker must exist. A crashed writer's partial
    * directory is treated as absent and republished; it is never
    * loaded. */
  private[graft] def completedTable(path: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))

  /** The one way to persist a derived parquet table — layouts, indexes
    * and trained models alike. If `path` holds a complete table
    * ([[completedTable]]) it returns at once and never evaluates
    * `write`, so no session rewrites files under another session's
    * reader. Otherwise `write` runs into a staging sibling unique to this
    * call (pid plus a random suffix, so two threads of one JVM racing
    * the same build never share one) that is then renamed into place — a
    * same-filesystem directory move, so a concurrent or later reader
    * sees no table or the whole table, never a torn one. If a racer won
    * the rename, ours is discarded: content is deterministic per path,
    * so either copy is correct. The caller shapes the writer
    * (`df.repartition(n).write`, `df.write.partitionBy(c)`). Returns
    * `path`. */
  def publish(path: String)(write: => DataFrameWriter[Row]): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    if (!completedTable(path)) {
      val tmp = Paths.get(s"${path}_stage${ProcessHandle.current().pid()}_" +
        java.util.UUID.randomUUID().toString.take(8))
      val target = Paths.get(path)
      // a failed or interrupted write leaves no orphan staging directory
      try write.parquet(tmp.toString)
      catch { case e: Throwable => deleteRecursively(tmp); throw e }
      try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.io.IOException =>
        if (completedTable(path)) {
          // a racer won the rename; its content equals ours
          deleteRecursively(tmp)
        } else {
          // torn leftover from a crashed writer blocks the rename: clear
          // it and retry once; if a racer made the same repair, whichever
          // rename lands is complete and correct
          deleteRecursively(target)
          try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.io.IOException =>
            deleteRecursively(tmp)
            require(completedTable(path),
              s"atomic publish of $path failed with no complete table present")
          }
        }
      }
    }
    path
  }

  /** 64-bit md5-prefix tag of a source dir for on-disk layout names.
    * Distinct dirs colliding is possible in principle (any finite tag) but
    * at 2^-64 per pair it is ignorable; the point of md5 over
    * String.hashCode is distribution quality — hashCode's 32 bits over
    * similar path strings collide in practice. */
  private[graft] def dirTag(dir: String): String = Tables.md5Tag(dir)

  /** Path of the by-source partitioned copy of `documents`. */
  def documentsBySource(s: SparkSession, dir: String): String =
    publish(artifactPath(s, "graft_docs_by_source", dir, "documents"))(
      Tables.documents(s, dir).write.partitionBy("source"))

  /** src1: single-slice stats off the partitioned layout. The
    * `source IN (...)` predicate becomes a scan PartitionFilter — only
    * the two named directories are listed and read; at 100 TB that is
    * the difference between scanning ~10% and 100% of the corpus. */
  def src1PartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.read(s, documentsBySource(s, dir))
    part.where(col("source").isInCollection(Seq("src3", "src7")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(length(col("text"))).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"))
  }

  private val src1Sql =
    """SELECT source,
      |  COUNT(*) AS docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id
      |FROM documents
      |WHERE source IN ('src3', 'src7')
      |GROUP BY 1""".stripMargin

  /** Write-once bucketed copy of a testdata table, registered in the
    * session catalog (bucket metadata only exists through the catalog, so
    * this is `saveAsTable` with an explicit external path, the table's
    * [[artifactPath]]). The table name is that path's file name, so it
    * encodes EVERY layout parameter — (table, bucket key, bucket count,
    * corpus fingerprint, source dir) — so a second identical call is a
    * metadata hit while any differing parameter, or a rewritten table, is
    * a different table (same-table-different-key must never alias). The
    * gate is the catalog, which every `newSession()` shares, not
    * [[publish]]: the table exists for a reader only once registered. */
  def bucketedTable(s: SparkSession, dir: String, table: String,
                    key: String, buckets: Int): String = {
    val path = artifactPath(s, s"graft_${table}_${key}_bk$buckets", dir, table)
    val tname = java.nio.file.Paths.get(path).getFileName.toString
    if (!s.catalog.tableExists(tname)) {
      Tables.load(s, dir, table).write
        .mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .format("parquet")
        .saveAsTable(tname)
    }
    tname
  }

  /** src2: shuffle-free fact-fact join off co-bucketed layouts — lineitem
    * and orders both bucketed (and sorted) on orderkey. The join consumes
    * the tables' bucket partitioning directly: NO exchange on either side
    * (LayoutsSpec asserts it), the per-bucket sort order feeds the merge.
    * At 100 TB this is THE lever for a recurring fact-fact join: the
    * orderkey shuffle of both tables is paid once at write time, then
    * every subsequent join/aggregation on that key is exchange-free.
    * `MERGE` hint pins sort-merge so the proof doesn't silently degrade
    * into a broadcast at small SF. */
  def src2BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d182 = DecimalType(18, 2)
    val l = s.table(bucketedTable(s, dir, "lineitem", "l_orderkey", 8))
    val o = s.table(bucketedTable(s, dir, "orders", "o_orderkey", 8))
    val revenue = col("l_extendedprice").cast(d182) *
      (lit(1).cast(d182) - col("l_discount").cast(d182))
    l.hint("MERGE").join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("line_cnt"),
        sum(revenue).cast("double").as("revenue"))
  }

  private val src2Sql =
    """SELECT o_orderpriority,
      |  COUNT(*) AS line_cnt,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- src3

  /** Bits per dimension of the z-order grid: 3+3 bits -> an 8x8 grid ->
    * 64 z-buckets. The bucket COUNT is the layout's free parameter — at
    * 100 TB you size it to a healthy files-per-bucket budget and it stays
    * fixed as more dimensions join the key (take the top bits of the
    * longer z-value), where nested `partitionBy(dimA)(dimB)(...)` would
    * multiply directory counts per dimension. */
  private[graft] val ZBits = 3
  private[graft] val ZCells = 1 << ZBits // per dimension

  /** Grid geometry of the (user, time) z-order layout for one source dir:
    * the layout path plus the exact integer mapping from raw values to
    * grid cells. Memoized per dir and events fingerprint so prune-time
    * bucket enumeration uses the SAME arithmetic that wrote the layout. */
  final case class ZGrid(path: String, uMin: Long, uSpan: Long, uWidth: Long,
                         tMin: Long, tSpan: Long, tWidth: Long) {
    def ubOf(u: Long): Long = (u - uMin) / uWidth
    def tbOf(t: Long): Long = (t - tMin) / tWidth
  }

  private val zgrids = new FingerprintMemo[ZGrid]

  /** Bit-interleave two `ZBits`-wide cell coordinates into one z-value
    * (driver-side twin of the codegen'd column form in
    * [[zorderedEvents]]; Morton order: u supplies even bits, t odd). */
  private[graft] def zInterleave(ub: Long, tb: Long): Long =
    (ub & 1L) | ((tb & 1L) << 1) | ((ub & 2L) << 1) |
      ((tb & 2L) << 2) | ((ub & 4L) << 2) | ((tb & 4L) << 3)

  /** Codegen'd column twin of [[zInterleave]] (LayoutsSpec proves the two
    * agree on the full grid, so prune-time enumeration and write-time
    * assignment can never drift). */
  private[graft] def zInterleaveCol(ub: org.apache.spark.sql.Column,
                                    tb: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ub.bitwiseAND(lit(1L))
      .bitwiseOR(shiftleft(tb.bitwiseAND(lit(1L)), 1))
      .bitwiseOR(shiftleft(ub.bitwiseAND(lit(2L)), 1))
      .bitwiseOR(shiftleft(tb.bitwiseAND(lit(2L)), 2))
      .bitwiseOR(shiftleft(ub.bitwiseAND(lit(4L)), 2))
      .bitwiseOR(shiftleft(tb.bitwiseAND(lit(4L)), 3))

  /** Write-once z-ordered copy of `events`, clustered on the interleaved
    * (user grid-cell, time grid-cell) z-value and partitioned by it.
    *
    * WHY z-order instead of partitioning on either column: a layout
    * partitioned on time alone cannot prune a user-range predicate and
    * vice versa; z-interleaving the two coordinates makes ONE clustering
    * column under which any 2-D box maps to a small set of buckets, so
    * both predicates prune the scan. Grid bounds come from one min/max
    * aggregate over the corpus (a 1-row collect, like the IVF trainer's
    * bounded sample); cell widths are ceil(span/cells) so every raw value
    * lands in [0, ZCells). Rows inside each bucket are additionally
    * sorted by (user_id, ts), so parquet row-group min/max statistics
    * prune WITHIN the touched buckets too. */
  def zorderedEvents(s: SparkSession, dir: String): ZGrid =
    zgrids.getOrBuild(s, dir, "", Tables.tablesId(s, dir, "events")) {
      val b = Tables.events(s, dir)
        .agg(min(col("user_id")), max(col("user_id")),
          min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head() // 1 row: the grid's four corner scalars
      val (uMin, uMax, tMin, tMax) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val (uSpan, tSpan) = (uMax - uMin + 1, tMax - tMin + 1)
      val uW = math.max(1L, (uSpan + ZCells - 1) / ZCells)
      val tW = math.max(1L, (tSpan + ZCells - 1) / ZCells)
      val path = publish(artifactPath(s, "graft_events_zorder", dir, "events")) {
        val ub = expr(s"(user_id - ${uMin}L) div ${uW}L")
        val tb = expr(s"(unix_micros(ts) - ${tMin}L) div ${tW}L")
        // the sort MUST lead with zb: FileFormatWriter requires its
        // partition column first in the task ordering and would otherwise
        // inject its own zb-only (unstable) sort, destroying the
        // (user_id, ts) run order the row-group-skipping claim rests on
        Tables.events(s, dir)
          .withColumn("zb", zInterleaveCol(ub, tb).cast("int"))
          .repartition(col("zb"))
          .sortWithinPartitions(col("zb"), col("user_id"), col("ts"))
          .write.partitionBy("zb")
      }
      ZGrid(path, uMin, uSpan, uW, tMin, tSpan, tW)
    }

  /** src3: a 2-D box query (user range x time range) answered off the
    * z-ordered layout. The box's corner cells bound a rectangle of grid
    * cells; enumerating their z-values (a driver-side loop over at most
    * ZCells^2 = 64 ints — grid-bounded, not data-bounded) yields a
    * `zb IN (...)` predicate the scan applies as a PartitionFilter, so
    * only the buckets the box can touch are listed and read (LayoutsSpec
    * asserts the touched-file set). The exact box predicate then runs as
    * a residual filter inside those buckets. At 100 TB this is the
    * multi-dimensional analogue of src1: neither a user-partitioned nor a
    * time-partitioned layout can serve BOTH predicates; the z-layout
    * serves any box on either or both.
    *
    * The box is the middle [1/4, 1/2) of each dimension, derived from the
    * same corpus min/max the oracle recomputes with scalar subqueries —
    * identical integer arithmetic on both sides. */
  def src3ZorderPrune(s: SparkSession, dir: String): DataFrame = {
    val g = zorderedEvents(s, dir)
    val (u1, u2) = (g.uMin + g.uSpan / 4, g.uMin + g.uSpan / 2) // [u1, u2)
    val (t1, t2) = (g.tMin + g.tSpan / 4, g.tMin + g.tSpan / 2) // [t1, t2)
    val cands = for {
      ub <- g.ubOf(u1) to g.ubOf(u2 - 1)
      tb <- g.tbOf(t1) to g.tbOf(t2 - 1)
    } yield zInterleave(ub, tb).toInt
    // bare-column comparisons (timestamp literals, not unix_micros(ts))
    // so BOTH residual predicates reach the parquet reader as
    // PushedFilters and row-group stats actually skip
    Tables.read(s, g.path)
      .where(col("zb").isInCollection(cands) &&
        col("user_id") >= u1 && col("user_id") < u2 &&
        col("ts") >= timestamp_micros(lit(t1)) &&
        col("ts") < timestamp_micros(lit(t2)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("events"),
        countDistinct(col("user_id")).as("users"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        // integer cents, not SUM(double): order-insensitive, hash-stable
        sum(floor(col("value") * lit(100))).as("value_cents"))
  }

  private val src3Sql =
    """WITH b AS (
      |  SELECT min(user_id) AS umin, max(user_id) - min(user_id) + 1 AS uspan,
      |         min(epoch_us(ts)) AS tmin,
      |         max(epoch_us(ts)) - min(epoch_us(ts)) + 1 AS tspan
      |  FROM events)
      |SELECT event_type,
      |  COUNT(*) AS events,
      |  COUNT(DISTINCT user_id) AS users,
      |  MIN(value) AS min_value,
      |  MAX(value) AS max_value,
      |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events, b
      |WHERE user_id >= umin + uspan // 4 AND user_id < umin + uspan // 2
      |  AND epoch_us(ts) >= tmin + tspan // 4
      |  AND epoch_us(ts) < tmin + tspan // 2
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- src4

  /** Compaction target file size. 32 MB here (the fixture is small); a
    * production deployment targets 128–1024 MB — big enough that scan
    * tasks amortize file-open and footer-read overhead, small enough for
    * task-level parallelism and retry granularity. */
  private[graft] val CompactTargetBytes = 32L * 1024 * 1024

  /** How many tiny files the fragmented fixture simulates — the shape a
    * streaming sink or per-batch incremental append leaves behind (one
    * file per trigger per partition). */
  private[graft] val FragmentFiles = 200

  /** The fragmented ingest layout: events deliberately written as
    * [[FragmentFiles]] tiny files. */
  private[graft] def fragmentedEvents(s: SparkSession, dir: String): String =
    publish(artifactPath(s, "graft_events_fragmented", dir, "events"))(
      Tables.events(s, dir).repartition(FragmentFiles).write)

  /** Write-once compacted copy: the file count is sized from the REAL
    * byte total (ceil(bytes / target)), and the rewrite is `coalesce`,
    * not `repartition` — a narrow, zero-shuffle plan (each output task
    * drains a set of input files; LayoutsSpec asserts no Exchange).
    * Compaction that must also re-cluster (z-order, bucketing) pays the
    * shuffle instead — that path is src2/src3; THIS operator is the
    * steady-state small-files janitor, and at 100 TB zero-shuffle is the
    * difference between rewriting bytes once and moving them across the
    * cluster twice. */
  private[graft] def compactedEvents(s: SparkSession, dir: String): String =
    publish(artifactPath(s, "graft_events_compacted", dir, "events")) {
      val frag = fragmentedEvents(s, dir)
      val parts = math.max(1, math.ceil(
        Tables.fingerprint(s, frag).bytes.toDouble / CompactTargetBytes).toInt)
      Tables.read(s, frag).coalesce(parts).write
    }

  /** src4: small-file compaction, end-to-end. The registered output is a
    * content fingerprint of the COMPACTED table (per-type counts, exact
    * integer value cents, distinct users, micros time bounds) checked
    * against the raw events oracle — proving the rewrite preserved every
    * row while the spec asserts the operational half (file count drops
    * from [[FragmentFiles]] to the size-derived target; no shuffle in
    * the rewrite plan). */
  def src4Compaction(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, compactedEvents(s, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("events"),
        countDistinct(col("user_id")).as("users"),
        sum(floor(col("value") * lit(100))).as("value_cents"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))

  private val src4Sql =
    """SELECT event_type,
      |  COUNT(*) AS events,
      |  COUNT(DISTINCT user_id) AS users,
      |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
      |  min(epoch_us(ts)) AS first_us,
      |  max(epoch_us(ts)) AS last_us
      |FROM events
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- src5

  /** Write tasks of the deliberately fragmented initial fold — each
    * source partition ends up with ~this many files, the shape a steady
    * per-batch ingest loop leaves behind in a generational store. */
  private[graft] val StoreFragFiles = 24

  private val docStores = new FingerprintMemo[String]

  /** A [[GenStore]] of `documents` partitioned by source, built
    * FRAGMENTED (the initial fold runs with [[StoreFragFiles]] write
    * tasks) and then compacted ([[GenStore.foldCompacted]]) — the store
    * maintenance loop, materialized once per corpus fingerprint. The
    * fingerprint-named root means a regenerated corpus can never serve a
    * stale store. */
  private[graft] def compactedDocStore(s: SparkSession, dir: String): String = {
    val path = artifactPath(s, "graft_doc_store_m", dir, "documents")
    docStores.getOrBuild(s, dir, "", path) {
      GenStore.foldCompacted(s, path,
        Tables.documents(s, dir).repartition(StoreFragFiles),
        partCol = "source", idCol = "doc_id")
      path
    }
  }

  /** src5: generational-store compaction, end-to-end under the oracle
    * gate — src4's claim carried into the store the dedup/ANN
    * maintenance paths live on. The registered output is a per-source
    * content fingerprint of the COMPACTED store checked against the raw
    * documents oracle, proving the fold + compact round-trip preserved
    * every row. `GenStore.load` resolves the `_MANIFEST` carry references
    * into per-owner basePath-scoped scans, so this row also puts the
    * manifest read path under the driver's hash gate. LayoutsSpec
    * asserts the operational half (file count collapses to one per
    * partition; a `_MANIFEST` in the committed generation; every data
    * file nlink==1; source pruning still reaches the scan through the
    * owner indirection). `src6_store_manifest` is registered as this same
    * query, so the registered surface keeps its name. */
  def src5StoreCompaction(s: SparkSession, dir: String): DataFrame =
    GenStore.load(s, compactedDocStore(s, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(length(col("text"))).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))

  private val src5Sql =
    """SELECT source,
      |  COUNT(*) AS docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id,
      |  max(doc_id) AS max_doc_id
      |FROM documents
      |GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src1_partition_prune" -> src1PartitionPrune _,
    "src2_bucketed_join" -> src2BucketedJoin _,
    "src3_zorder_prune" -> src3ZorderPrune _,
    "src4_compaction" -> src4Compaction _,
    "src5_store_compaction" -> src5StoreCompaction _,
    "src6_store_manifest" -> src5StoreCompaction _)

  val oracleSql: Map[String, String] = Map(
    "src1_partition_prune" -> src1Sql,
    "src2_bucketed_join" -> src2Sql,
    "src3_zorder_prune" -> src3Sql,
    "src4_compaction" -> src4Sql,
    "src5_store_compaction" -> src5Sql,
    "src6_store_manifest" -> src5Sql)
}
