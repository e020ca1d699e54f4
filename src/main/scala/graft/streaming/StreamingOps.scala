package graft.streaming

import graft.sources.{Layouts, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Structured Streaming tier (SURVEY §7.2 M5). The reference is strictly
  * batch (HTTP request/response, SURVEY §2.3 "Streaming: none") — this tier
  * is the extension the `events` table exists for.
  *
  * Design rule: every transform is written ONCE against a DataFrame and
  * runs in BOTH modes — applied to `spark.read` it is a normal batch plan
  * (and that is what `SparkEntry.queries` + the DuckDB oracle check);
  * applied to `spark.readStream` it is an incremental plan with a
  * watermark bounding state. StreamingOpsSpec proves the two modes agree
  * on the same data through a MemoryStream.
  *
  * Scale: windowed aggregation state is (types × windows) rows — tiny; the
  * watermark evicts closed windows, so state never grows with stream
  * length. Sessionization state is one running session per live user key,
  * evicted by timeout — the `mapGroupsWithState` path in
  * [[StatefulOps.sessionizeStream]].
  */
object StreamingOps {

  /** Tumbling 1-hour windows per event type — counts, distinct users, and
    * order-insensitive value extrema. On a stream the 1-hour watermark
    * bounds both late data and state. */
  def hourlyTypeCounts(events: DataFrame): DataFrame = {
    val in = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    in.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"), col("n_events"),
        col("min_value"), col("max_value"))
  }

  /** st1: the streaming transform in batch mode over `events` — the oracle
    * checks the exact same plan the stream runs incrementally.
    * (`approx_users` is dropped from the oracle projection: HLL values are
    * engine-defined; the exact-checkable columns stay.) */
  def st1StreamWindow(s: SparkSession, dir: String): DataFrame =
    hourlyTypeCounts(Tables.events(s, dir))

  private val st1Sql =
    """SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |  COUNT(*) AS n_events,
      |  MIN(value) AS min_value,
      |  MAX(value) AS max_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** st2: sessionization — a new session starts after a >30-minute gap per
    * user; emits one row per session. Batch formulation: lag + running sum
    * of gap flags (two window passes over one user_id shuffle). The
    * streaming formulation of the same semantics is
    * [[StatefulOps.sessionizeStream]] (flatMapGroupsWithState), proven
    * equivalent in StreamingOpsSpec. */
  /** The batch sessionization transform, written once against a DataFrame
    * (the spec tests THIS function on fixtures — no duplicated plan).
    * Exact integer microseconds in the gap test: unix_timestamp truncates
    * to whole seconds while DuckDB's epoch() keeps fractions — a gap of
    * 1800.0005s would split a session in one engine and not the other. */
  def sessionize(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapFlag = when(
      unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)) >
        StatefulOps.GapUs, 1)
      .otherwise(0)
    events
      .withColumn("new_sess", gapFlag)
      .withColumn("session_no", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("sess_start"),
        max(col("ts")).as("sess_end"))
  }

  def st2Sessionize(s: SparkSession, dir: String): DataFrame =
    sessionize(Tables.events(s, dir))

  private val st2Sql =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts,
      |    -- CAST: DuckDB window SUM over INT yields HUGEINT -> float64 in
      |    -- the driver, dtype-mismatching Spark's bigint (r2 red row).
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      |  FROM flagged)
      |SELECT user_id, session_no, COUNT(*) AS n_events,
      |  MIN(ts) AS sess_start, MAX(ts) AS sess_end
      |FROM sess GROUP BY 1, 2""".stripMargin

  /** Streaming deduplication — `dropDuplicates` keyed on
    * (user_id, event_type), the canonical ingest-dedup shape. In batch
    * mode an arbitrary member of each group survives, so the query
    * projects ONLY the key columns: the result — the distinct key set —
    * is deterministic, oracle-checkable, and identical between modes.
    *
    * State honesty: EXACT dedup of an unbounded stream requires one state
    * entry per distinct key, and that is what this holds — deliberately no
    * watermark (a watermark here would not evict key-only dedup state, and
    * WOULD silently drop late never-seen keys, breaking batch/stream
    * agreement). When an ingestion-time bound is acceptable, Spark's
    * `dropDuplicatesWithinWatermark` is the bounded-state variant — at the
    * documented price that a key returning after eviction is emitted
    * again. */
  def dedupKeys(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")

  /** st3: the dedup transform in batch mode over `events`. */
  def st3StreamDedup(s: SparkSession, dir: String): DataFrame =
    dedupKeys(Tables.events(s, dir))

  private val st3Sql =
    "SELECT DISTINCT user_id, event_type FROM events"

  /** Attribution window for [[intervalJoin]] — purchases within this many
    * minutes AFTER a click. Single source of truth: the join's INTERVAL
    * literal and the oracle's epoch_us bound are both derived from it. */
  val AttributionMinutes: Int = 30
  private val AttributionUs: Long = AttributionMinutes * 60L * 1000 * 1000

  /** Stream-stream interval join, written once for both modes: clicks
    * joined to same-user purchases with 0 ≤ gap ≤ 30 min. In batch this
    * is a user_id equi-join with the time bound as a post-join filter;
    * on streams the SAME condition becomes Spark's watermarked
    * stream-stream join — the time bound is what lets the join evict
    * buffered rows once the watermark passes, so state is O(events in
    * the live 30-minute window) per side, not O(stream). The caller
    * supplies the two sides (batch: two filters of one table; streaming:
    * two watermarked readStreams). */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id"),
      col("event_id").as("click_id"), col("ts").as("click_ts"))
    val p = purchases.select(col("user_id").as("p_user_id"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    // The bound must be DIRECT timestamp comparisons (micros-exact, same
    // semantics as an epoch_us gap test): that is the form Spark's
    // stream-stream join recognizes as a state-eviction range condition.
    c.join(p, col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") +
          expr(s"INTERVAL $AttributionMinutes MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        // `div`, not `/`: Column./ is fractional even on longs; the
        // oracle's // is BIGINT floor division
        expr("(unix_micros(purchase_ts) - unix_micros(click_ts)) div 1000000")
          .as("gap_sec"))
  }

  /** st4: the interval join in batch mode over `events` — click→purchase
    * attribution, the canonical stream-stream join workload. */
  def st4IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    intervalJoin(
      ev.where(col("event_type") === "click"),
      ev.where(col("event_type") === "purchase"))
  }

  private val st4Sql =
    s"""SELECT c.user_id,
       |  c.event_id AS click_id,
       |  p.event_id AS purchase_id,
       |  (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_sec
       |FROM events c
       |JOIN events p ON c.user_id = p.user_id
       | AND c.event_type = 'click' AND p.event_type = 'purchase'
       | AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND $AttributionUs""".stripMargin

  /** Stream-static enrichment join, written once for both modes — each
    * event joined to a fixed dimension (nation, keyed by the event's
    * routing cohort). The canonical ingest-enrichment shape: the static
    * side is `broadcast()` (re-read per micro-batch, never shuffled), the
    * join is STATELESS — no watermark, no state store, nothing
    * accumulates at any stream length — and the stream side stays a
    * narrow map. At 100 TB/day this is the plan you want: the only data
    * in motion is the stream itself. */
  def enrichStatic(events: DataFrame, nation: DataFrame): DataFrame =
    events.join(broadcast(nation),
        pmod(col("user_id"), lit(25)) === col("n_nationkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("n_name").as("cohort_nation"))

  /** st5: the enrichment join in batch mode over `events`. */
  def st5StreamStaticJoin(s: SparkSession, dir: String): DataFrame =
    enrichStatic(Tables.events(s, dir), Tables.nation(s, dir))

  private val st5Sql =
    """SELECT e.event_id, e.user_id, e.event_type, n.n_name AS cohort_nation
      |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey""".stripMargin

  /** st6: the SINK end of the streaming story — [[hourlyTypeCounts]]
    * materialized to a parquet table partitioned by event_type and read
    * back (write-once per corpus state via the shared layout helper, the
    * same standing-in-for-a-real-table discipline as src1/s3). On a stream
    * the same materialization runs through `foreachBatch` with
    * complete-mode overwrite — each micro-batch idempotently rewrites
    * the small aggregate table, so replays after failure converge to the
    * same files (StreamingOpsSpec drives that path through a
    * MemoryStream and asserts the on-disk table equals the batch
    * result). Downstream readers get partition pruning on event_type
    * for free — the sink IS a layout. */
  def st6StreamSink(s: SparkSession, dir: String): DataFrame = {
    val path = Layouts.publish(Layouts.artifactPath(s, "graft_st6_sink", dir,
        "events"))(
      hourlyTypeCounts(Tables.events(s, dir)).write.partitionBy("event_type"))
    Tables.read(s, path).select(
      col("hour_start"), col("event_type"), col("n_events"),
      col("min_value"), col("max_value"))
  }

  // lossless roundtrip: the sink table holds exactly st1's rows
  private val st6Sql = st1Sql

  /** The ingest screen, written once for both modes (the tier's standing
    * discipline): incoming docs — a batch relation or a STREAM of new
    * documents — left-joined against the standing corpus's distinct
    * digest set. Stateless stream-static join: no watermark, no state
    * store; on a stream each micro-batch probes the static digest
    * relation as it arrives, which is exactly how an ingest gate runs in
    * front of a training-data lake ([[graft.operators.DedupOps
    * .d8IncrementalDedup]] is the batch superset with the near-dup
    * index probe; this is its always-on front door). The digest relation
    * joins 32-byte hashes, never text, and broadcasts while it fits. */
  def ingestScreen(docs: DataFrame, corpusDigests: DataFrame): DataFrame =
    docs.select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .join(corpusDigests.withColumn("dup_exact", lit(true)), Seq("h"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_exact"), lit(false)).as("dup_exact"))

  /** st7: the screen in batch mode over d8's deterministic ingest slice —
    * what the oracle checks; StreamingOpsSpec proves the same transform
    * over a MemoryStream emits identical flags. */
  def st7StreamIngestScreen(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DedupOps
    val docs = Tables.documents(s, dir)
    val isBatch =
      col("doc_id") % DedupOps.IngestMod === DedupOps.IngestRem
    ingestScreen(docs.where(isBatch),
      docs.where(!isBatch).select(sha2(col("text"), 256).as("h")).distinct())
  }

  private val st7Sql = {
    val m = graft.operators.DedupOps.IngestMod
    val r = graft.operators.DedupOps.IngestRem
    s"""WITH exact AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM documents b JOIN documents i ON b.text = i.text
       |  WHERE b.doc_id % $m = $r AND i.doc_id % $m <> $r)
       |SELECT b.doc_id, e.doc_id IS NOT NULL AS dup_exact
       |FROM (SELECT doc_id FROM documents WHERE doc_id % $m = $r) b
       |LEFT JOIN exact e ON b.doc_id = e.doc_id""".stripMargin
  }

  // -------------------------------------------------------------- st7b

  /** Bloom sizing: expected-items from the standing digest count, 1%
    * FP — the filter the front door broadcasts instead of the digest
    * set (≈1.2 GB for 10⁹ digests vs ~32 GB of sha2 keys). */
  private[graft] val BloomFpp = 0.01

  /** The standing corpus's ingest Bloom filter over xxhash64(text) keys
    * — deterministic given keys and sizing (Spark's sketch uses fixed
    * Murmur3 seeds), though the VERDICT below never depends on the
    * filter's bits. A deployment persists and incrementally maintains
    * this filter (`putLong` is associative); here it is rebuilt
    * deterministically per run. */
  private[graft] def ingestBloomOf(standing: DataFrame)
      : org.apache.spark.util.sketch.BloomFilter = {
    val keys = standing.select(xxhash64(col("text")).as("k"))
    keys.stat.bloomFilter("k", math.max(1000L, keys.count()), BloomFpp)
  }

  /** st7b: st7's exact-duplicate verdict behind a BLOOM prescreen — the
    * plan a 100 TB front door actually ships (k5b's deployable-variant
    * discipline): st7 joins EVERY incoming digest against the standing
    * digest relation, which at lake scale means shuffling the whole
    * batch; st7b probes a broadcast Bloom filter first (a narrow map —
    * no exchange for the overwhelmingly-clean traffic) and sends ONLY
    * the bloom-positive sliver (~[[BloomFpp]] of clean docs + the true
    * dups) into the exact digest join that resolves false positives.
    *
    * Exactness contract, registered under st7's own oracle: Bloom
    * filters have NO false negatives (a true dup's key was put, so
    * mightContain is true and the dup reaches the resolving join), and
    * every false positive dies in that join — the OUTPUT is
    * bit-identical to st7 no matter how the filter is sized or seeded.
    * The probe is a broadcast-sketch UDF (might_contain has no public
    * Column spelling); it costs a few Murmur3 rounds per row, dominated
    * by the sha2 the resolving sliver computes anyway. */
  def bloomScreen(incoming: DataFrame,
      bf: org.apache.spark.util.sketch.BloomFilter,
      corpusDigests: DataFrame): DataFrame = {
    val bcast = incoming.sparkSession.sparkContext.broadcast(bf)
    val might = udf((k: Long) => bcast.value.mightContain(k))
    // disjoint branches recombined by UNION, not a join: every row is
    // either bloom-negative (definitively clean — a filter has no false
    // negatives) or bloom-positive (resolved by the digest join). Keeps
    // the recombination stateless on a stream (a doc_id self-join here
    // would be stream-stream) and keeps the clean traffic out of the
    // join physically — the whole point of the prescreen.
    val keyed = incoming
      .select(col("doc_id"), col("text"), might(xxhash64(col("text"))).as("cand"))
    val pos = keyed.where(col("cand"))
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .join(corpusDigests.withColumn("dup_exact", lit(true)), Seq("h"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_exact"), lit(false)).as("dup_exact"))
    val neg = keyed.where(!col("cand"))
      .select(col("doc_id"), lit(false).as("dup_exact"))
    pos.unionByName(neg)
  }

  /** st7b in batch mode over d8's deterministic ingest slice — same
    * slices, same verdict, same oracle as st7; only the physical plan
    * differs. StreamingOpsSpec proves output equality with st7, the
    * no-false-negative contract on planted dups, and the stream parity
    * (filter built once from the standing corpus, probed per
    * micro-batch). */
  def st7bBloomIngestScreen(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DedupOps
    val docs = Tables.documents(s, dir)
    val isBatch =
      col("doc_id") % DedupOps.IngestMod === DedupOps.IngestRem
    val standing = docs.where(!isBatch)
    bloomScreen(docs.where(isBatch), ingestBloomOf(standing),
      standing.select(sha2(col("text"), 256).as("h")).distinct())
  }

  // --------------------------------------------------------------- st8

  /** Key-bucket count of the upsert store's layout: each batch's write
    * volume is its bucket footprint, not the store size. Production
    * sizes this so one bucket's live state is a few healthy files. */
  private[graft] val UpsertBuckets = 16L

  private def kbOf(key: org.apache.spark.sql.Column) =
    pmod(key, lit(UpsertBuckets))

  /** Fold ONE change batch into the keyed store at `path` — the
    * foreachBatch body of a streaming CDC sink, and the streaming twin
    * of [[graft.operators.RelationalQueries.q23MergeLatest]]:
    *
    *  1. bucket the batch by key; collect its distinct buckets (bounded
    *     by [[UpsertBuckets]], never by data);
    *  2. read ONLY those bucket partitions of the store, tag live rows
    *     op='i' at their stored version;
    *  3. merge latest-wins with tombstone drop (the shared
    *     [[graft.operators.RelationalQueries.mergeLatest]] kernel);
    *  4. rewrite exactly the touched partitions (dynamic partition
    *     overwrite; `localCheckpoint` first — Spark refuses to overwrite
    *     a path it is still reading, and the checkpoint also truncates
    *     the read-modify-write lineage the way d7 truncates its
    *     iteration).
    *
    * Idempotent per batch: re-delivery after a failure re-reads the same
    * store partitions and rewrites the same files (spec-asserted), which
    * is exactly the guarantee foreachBatch needs since it is
    * at-least-once. Write volume scales with the batch's bucket
    * footprint; at 100 TB the store stays partitioned, only touched
    * buckets are rewritten, and the merge join is co-partitioned by key
    * inside each bucket's data. */
  private[graft] def upsertBatch(s: SparkSession, path: String,
      batch: DataFrame): Unit = {
    import graft.operators.RelationalQueries.mergeLatest
    val payload = Seq("o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderpriority", "version")
    val exists = java.nio.file.Files.exists(java.nio.file.Paths.get(path))
    val touched = batch.select(kbOf(col("o_orderkey")).as("kb"))
      .distinct().collect().map(_.getLong(0)).toSeq // <= UpsertBuckets
    val log =
      if (!exists) batch
      else Tables.read(s, path)
        .where(col("kb").isInCollection(touched)).drop("kb")
        .withColumn("op", lit("i"))
        .unionByName(batch)
    val merged = mergeLatest(log, "o_orderkey", payload)
      .withColumn("kb", kbOf(col("o_orderkey")))
      .localCheckpoint(true)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("kb").parquet(path)
    // dynamic overwrite only replaces partitions PRESENT in the output —
    // a batch whose tombstones empty a bucket writes nothing there and
    // would leave the stale partition behind. Remove touched buckets the
    // merge emptied (driver loop bounded by UpsertBuckets).
    if (exists) {
      val survivors = merged.select(col("kb")).distinct()
        .collect().map(_.getLong(0)).toSet
      touched.filterNot(survivors).foreach(b =>
        Layouts.deleteRecursively(java.nio.file.Paths.get(path, s"kb=$b")))
    }
  }

  private val upsertStores = new graft.sources.FingerprintMemo[String]

  /** st8: the upsert SINK — q23's manufactured CDC stream applied batch
    * by batch (snapshot, updates, deletes) into the partitioned keyed
    * store, then the store read back. Registered with q23's IDENTICAL
    * oracle SQL, so the driver's hash compare proves the incremental
    * fold CONVERGES to the one-shot merge — the q20/q20b same-oracle
    * device applied to streaming state. StreamingOpsSpec drives the same
    * [[upsertBatch]] body through a MemoryStream's foreachBatch and
    * proves mode equality plus re-delivery idempotence. */
  def st8UpsertSink(s: SparkSession, dir: String): DataFrame = {
    val p = Layouts.artifactPath(s, "graft_st8_store", dir, "orders")
    val path = upsertStores.getOrBuild(s, dir, "", p) {
      // a fresh fold IS the operator; stale stores from prior sessions
      // would resurrect tombstones
      Layouts.deleteRecursively(java.nio.file.Paths.get(p))
      graft.operators.RelationalQueries.cdcBatches(s, dir)
        .foreach(b => upsertBatch(s, p, b))
      p
    }
    Tables.read(s, path).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderpriority"))
  }

  // --------------------------------------------------------------- st9

  /** st9: the NEAR-DUP streaming front door — st7 screens exact digests;
    * this screens incoming docs against the persisted MinHash band index
    * ([[graft.operators.DedupOps.dedupIndexKeys]]) and stored corpus
    * shingle sets, emitting one verified hit row per (incoming doc,
    * corpus near-dup). The whole probe is stateless: per-row signatures
    * plus stream-static equi-joins, so append-mode streaming runs the
    * identical plan with no state store and no watermark —
    * StreamingOpsSpec proves batch/stream set equality over a
    * MemoryStream. Registered in batch mode over d8's deterministic
    * ingest slice with the band-collision copies collapsed (same
    * jaccard on every copy; the stream leaves them to its consumer,
    * see [[graft.operators.DedupOps.nearDupHits]]). */
  def st9StreamNearDupScreen(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DedupOps
    val docs = Tables.documents(s, dir)
    val isBatch =
      col("doc_id") % DedupOps.IngestMod === DedupOps.IngestRem
    DedupOps.nearDupHits(docs.where(isBatch),
        Tables.read(s, DedupOps.dedupIndexKeys(s, dir)),
        Tables.read(s, DedupOps.dedupIndexShingles(s, dir)), 0.8)
      .dropDuplicates("doc_id", "doc_b")
  }

  private val st9Sql = {
    val m = graft.operators.DedupOps.IngestMod
    val r = graft.operators.DedupOps.IngestRem
    s"""WITH pairs AS (
       |  SELECT * FROM (${graft.operators.DedupOps.jaccardPairsSql(0.8)}))
       |SELECT CASE WHEN doc_a % $m = $r THEN doc_a ELSE doc_b END AS doc_id,
       |       CASE WHEN doc_a % $m = $r THEN doc_b ELSE doc_a END AS doc_b,
       |       jaccard
       |FROM pairs
       |WHERE (doc_a % $m = $r) <> (doc_b % $m = $r)""".stripMargin
  }

  // -------------------------------------------------------------- st10

  /** The QUALITY gate at the streaming front door, written once for
    * both modes (the tier's standing discipline): every per-document
    * quality signal the library ships that needs NO corpus context —
    * t16's Gopher rule battery, t3's quality-score battery, t7's
    * repetition screen — applied per row at ingest, with the admission
    * verdict alongside the named signals. This is the screen that runs
    * BEFORE a document enters the lake (st7/st9's dedup screens then
    * probe the standing corpus): corpus-free by construction, so the
    * streaming plan is a pure stateless narrow map — no state store, no
    * watermark, no join, nothing but the row itself at ANY scale. */
  def qualityGate(docs: DataFrame): DataFrame = {
    import graft.operators.TextOps
    val admit = TextOps.gopherKeepExpr(col("text")) &&
      TextOps.qualityKeepExpr(col("text")) &&
      !TextOps.repetitiveExpr(col("text"))
    docs.select(col("doc_id"),
      TextOps.gopherKeepExpr(col("text")).as("gopher_keep"),
      TextOps.qualityKeepExpr(col("text")).as("q_keep"),
      TextOps.repetitiveExpr(col("text")).as("repetitive"),
      admit.as("admit"))
  }

  /** st10: the gate in batch mode over d8's deterministic ingest slice
    * (st7's registration device) — what the oracle checks;
    * StreamingOpsSpec proves the same transform over a MemoryStream
    * emits identical rows. Fixture note: `gopher_keep` — and therefore
    * `admit` — is false on every fixture document (the t16 stop-word
    * corpus property, pinned there); `q_keep` and `repetitive` carry
    * real variance, and the stream spec exercises the admit path on a
    * planted natural-shaped document. */
  def st10StreamQualityGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DedupOps
    val docs = Tables.documents(s, dir)
    qualityGate(docs.where(
      col("doc_id") % DedupOps.IngestMod === DedupOps.IngestRem))
  }

  private val st10Sql = {
    val m = graft.operators.DedupOps.IngestMod
    val r = graft.operators.DedupOps.IngestRem
    s"""WITH g AS (SELECT doc_id, gopher_keep
       |           FROM (${graft.operators.TextOps.t16Sql})),
       |tq AS (SELECT doc_id, keep AS q_keep
       |       FROM (${graft.operators.TextOps.t3Sql})),
       |tr AS (SELECT doc_id, repetitive
       |       FROM (${graft.operators.TextOps.t7Sql}))
       |SELECT d.doc_id, g.gopher_keep, tq.q_keep, tr.repetitive,
       |  (g.gopher_keep AND tq.q_keep AND (NOT tr.repetitive)) AS admit
       |FROM (SELECT doc_id FROM documents WHERE (doc_id % $m) = $r) d
       |JOIN g ON d.doc_id = g.doc_id
       |JOIN tq ON d.doc_id = tq.doc_id
       |JOIN tr ON d.doc_id = tr.doc_id""".stripMargin
  }

  // -------------------------------------------------------------- st11

  /** The per-document ATTRIBUTE SHEET at the streaming front door —
    * e5's deployment shape applied to INGEST: one row per incoming
    * document carrying every signal the gate computes, so the lake can
    * store the sheet next to the admitted doc and downstream consumers
    * re-weigh rules without re-screening (the Dolma attributes-file
    * pattern at the door instead of over the standing corpus):
    *
    *   - st10's corpus-free battery (t16 `gopher_keep`, t3 `q_keep`,
    *     t7 `repetitive`) — pure narrow maps on the row itself;
    *   - st7's exact-duplicate probe (`dup_exact`) — a left join of
    *     32-byte digests against the standing corpus's DISTINCT digest
    *     set: at most one match per digest, so exactly one output row
    *     per doc, stateless;
    *   - st9's verified near-dup probe (`dup_near`) — band-key
    *     candidates from the persisted MinHash index, exact Jaccard
    *     against stored shingle sets ([[graft.operators.DedupOps
    *     .nearDupHits]]), collapsed to a per-doc flag by a left-SEMI /
    *     left-ANTI union (no distinct, no aggregation — the collapse
    *     is join-shaped);
    *   - `admit` — the full front-door verdict: every quality bit AND
    *     neither duplicate bit.
    *
    * Streaming deployment: the probes are joins against STATIC
    * relations and the signals are row-local, but the per-doc near-dup
    * collapse joins the batch against its own hit relation — a
    * stream-stream self-join Structured Streaming cannot run
    * incrementally. The sheet therefore runs through `foreachBatch`
    * (st8's device): each micro-batch executes this exact BATCH plan —
    * zero state store, nothing accumulates across batches (every row's
    * sheet depends only on itself and the static corpus), and the
    * at-least-once replay is idempotent because the sheet is a pure
    * function of (batch row, standing corpus). StreamingOpsSpec drives
    * a MemoryStream through that path and asserts row equality with
    * the batch registration plus an empty state-operator set. */
  def ingestAttributeSheet(docs: DataFrame, corpusDigests: DataFrame,
      indexKeys: DataFrame, corpusShingles: DataFrame): DataFrame = {
    import graft.operators.{DedupOps, TextOps}
    val quality = docs.select(col("doc_id"),
      TextOps.gopherKeepExpr(col("text")).as("gopher_keep"),
      TextOps.qualityKeepExpr(col("text")).as("q_keep"),
      TextOps.repetitiveExpr(col("text")).as("repetitive"))
    val exact = docs.select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .join(corpusDigests.withColumn("dup_exact", lit(true)), Seq("h"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_exact"), lit(false)).as("dup_exact"))
    val hits = DedupOps.nearDupHits(docs, indexKeys, corpusShingles, 0.8)
      .select(col("doc_id"))
    val ids = docs.select(col("doc_id"))
    val near = ids.join(hits, Seq("doc_id"), "left_semi")
        .withColumn("dup_near", lit(true))
      .unionByName(ids.join(hits, Seq("doc_id"), "left_anti")
        .withColumn("dup_near", lit(false)))
    quality.join(exact, Seq("doc_id")).join(near, Seq("doc_id"))
      .withColumn("admit",
        col("gopher_keep") && col("q_keep") && !col("repetitive") &&
          !col("dup_exact") && !col("dup_near"))
  }

  /** st11: the sheet in batch mode over d8's deterministic ingest slice
    * (st7's registration device), probing the standing corpus's digest
    * set, persisted band-key index, and stored shingle sets. */
  def st11StreamAttributeSheet(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DedupOps
    val docs = Tables.documents(s, dir)
    val isBatch =
      col("doc_id") % DedupOps.IngestMod === DedupOps.IngestRem
    ingestAttributeSheet(docs.where(isBatch),
      docs.where(!isBatch).select(sha2(col("text"), 256).as("h")).distinct(),
      Tables.read(s, DedupOps.dedupIndexKeys(s, dir)),
      Tables.read(s, DedupOps.dedupIndexShingles(s, dir)))
  }

  // Oracle: st10's battery subqueries joined to st7's exact CTE and
  // d8's brute-force cross-relation near CTE over the shared all-pairs
  // Jaccard relation.
  private val st11Sql = {
    val m = graft.operators.DedupOps.IngestMod
    val r = graft.operators.DedupOps.IngestRem
    s"""WITH g AS (SELECT doc_id, gopher_keep
       |           FROM (${graft.operators.TextOps.t16Sql})),
       |tq AS (SELECT doc_id, keep AS q_keep
       |       FROM (${graft.operators.TextOps.t3Sql})),
       |tr AS (SELECT doc_id, repetitive
       |       FROM (${graft.operators.TextOps.t7Sql})),
       |ex AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM documents b JOIN documents i ON b.text = i.text
       |  WHERE b.doc_id % $m = $r AND i.doc_id % $m <> $r),
       |pairs AS (
       |  SELECT * FROM (${graft.operators.DedupOps.jaccardPairsSql(0.8)})),
       |nr AS (
       |  SELECT DISTINCT CASE WHEN doc_a % $m = $r THEN doc_a ELSE doc_b END
       |    AS doc_id
       |  FROM pairs
       |  WHERE (doc_a % $m = $r) <> (doc_b % $m = $r))
       |SELECT d.doc_id, g.gopher_keep, tq.q_keep, tr.repetitive,
       |  ex.doc_id IS NOT NULL AS dup_exact,
       |  nr.doc_id IS NOT NULL AS dup_near,
       |  (g.gopher_keep AND tq.q_keep AND (NOT tr.repetitive)
       |    AND ex.doc_id IS NULL AND nr.doc_id IS NULL) AS admit
       |FROM (SELECT doc_id FROM documents WHERE (doc_id % $m) = $r) d
       |JOIN g ON d.doc_id = g.doc_id
       |JOIN tq ON d.doc_id = tq.doc_id
       |JOIN tr ON d.doc_id = tr.doc_id
       |LEFT JOIN ex ON d.doc_id = ex.doc_id
       |LEFT JOIN nr ON d.doc_id = nr.doc_id""".stripMargin
  }

  // -------------------------------------------------------------- st12

  /** The DECONTAMINATION screen at the streaming front door — the one
    * ingest-time check the st7/st9/st10/st11 battery lacks: does an
    * incoming document overlap the held-out eval suite? (Catching this
    * at ingest is strictly cheaper than t10/t19's corpus-wide sweeps —
    * the benchmark set is fixed and tiny, so the probe is a
    * broadcast-shaped stream-static join, and a contaminated doc never
    * enters the lake in the first place.)
    *
    * Per incoming doc: every [[graft.operators.TextOps.DecontGram]]-token
    * window hashed at the scan ([[graft.operators.DedupOps.posGrams]]
    * ladder, t10's whole-text fallback below the gram size), semi-joined
    * against the standing eval-gram digest relation, counted per doc —
    * `n_eval_hits` is the contaminated-window mass (what t19 would cut),
    * `contaminated` the st7-shaped verdict. The explode and semi-join
    * are stateless; the per-doc count is an aggregation, so the stream
    * runs through foreachBatch (st8/st11's device) — each micro-batch
    * executes this exact batch plan, zero state store, nothing
    * accumulates across batches.
    *
    * Shares t19's documented blind spot: an eval doc shorter than the
    * gram size probes only as its whole-text pseudo-gram, so short eval
    * text embedded inside a longer incoming doc passes the screen — the
    * contract is gram-window overlap, not substring containment (see
    * [[graft.operators.TextOps.t19SpanDecontaminate]]). */
  def decontScreen(incoming: DataFrame, evalGrams: DataFrame): DataFrame = {
    import graft.operators.{DedupOps, TextOps}
    val hits = incoming
      .select(col("doc_id"),
        explode(DedupOps.posGrams(col("text"), TextOps.DecontGram))
          .as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .join(evalGrams, Seq("gh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_eval_hits"))
    incoming.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        (coalesce(col("n_eval_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** st12: the screen in batch mode over d8's deterministic ingest
    * slice (st7's registration device), probing the standing corpus's
    * eval slice (t10's doc_id % DecontMod == 0 convention; the ingest
    * slice — % 10 == 7 — can never intersect it). StreamingOpsSpec
    * proves the same kernel through foreachBatch emits identical rows
    * with no state store. */
  def st12StreamDecontScreen(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{DedupOps, TextOps}
    val docs = Tables.documents(s, dir)
    val isBatch =
      col("doc_id") % DedupOps.IngestMod === DedupOps.IngestRem
    decontScreen(docs.where(isBatch),
      docs.where(col("doc_id") % TextOps.DecontMod === 0)
        .select(explode(
          DedupOps.shingles(col("text"), TextOps.DecontGram)).as("g"))
        .select(xxhash64(col("g")).as("gh")).distinct())
  }

  private val st12Sql = {
    val m = graft.operators.DedupOps.IngestMod
    val r = graft.operators.DedupOps.IngestRem
    val dm = graft.operators.TextOps.DecontMod
    val g = graft.operators.TextOps.DecontGram
    s"""WITH base AS (
       |  SELECT doc_id, string_split(text, ' ') AS w, text FROM documents),
       |ev AS (
       |  SELECT DISTINCT gram FROM (
       |    SELECT unnest(
       |      CASE WHEN len(w) >= $g
       |        THEN [array_to_string(w[i:i+${g - 1}], ' ')
       |              for i in range(1, len(w) - ${g - 2})]
       |        ELSE [text] END) AS gram
       |    FROM base WHERE doc_id % $dm = 0)),
       |ig AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(w) >= $g
       |      THEN [array_to_string(w[i:i+${g - 1}], ' ')
       |            for i in range(1, len(w) - ${g - 2})]
       |      ELSE [text] END) AS gram
       |  FROM base WHERE doc_id % $m = $r),
       |hits AS (
       |  SELECT ig.doc_id, COUNT(*) AS n
       |  FROM ig JOIN ev ON ig.gram = ev.gram GROUP BY 1)
       |SELECT b.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_eval_hits,
       |  COALESCE(h.n, 0) > 0 AS contaminated
       |FROM (SELECT doc_id FROM documents WHERE doc_id % $m = $r) b
       |LEFT JOIN hits h ON b.doc_id = h.doc_id""".stripMargin
  }

  // -------------------------------------------------------------- st13

  /** The gate threshold lives with the trained profile it calibrates
    * ([[graft.operators.TextOps.LangGateTauMicro]]); this alias keeps
    * st13's call sites and specs reading naturally — and keeps the
    * operators tier free of a dependency on this module (ADVICE-class
    * layering: streaming already depends on operators, never the
    * reverse). */
  private[graft] val LangGateTauMicro =
    graft.operators.TextOps.LangGateTauMicro

  /** The language gate at the streaming front door — the check every
    * published web pipeline runs FIRST (CCNet buckets by lang-ID before
    * anything else touches a page; mC4 drops pages under 0.7 langdetect
    * confidence): identify each incoming doc with t2b's PERSISTED
    * trained profile (zero new training) and admit only docs whose
    * average per-trigram profile weight clears [[LangGateTauMicro]] —
    * a length-invariant confidence proxy in exact integers (summed
    * profile weights div trigram occurrences; a gibberish or
    * out-of-model doc hits few profile grams and lands near 0).
    * Emits per doc: pred_lang, score_micro, n_tri, conf_micro,
    * lang_admit.
    *
    * Scale shape: t2b's per-row kernel over each micro-batch — one
    * narrow projection ([[graft.functions.langProfileScores]] carries
    * both the per-language scores and n_tri), so a batch is gated in
    * the stage that reads it: no exchange, no join, zero state store,
    * nothing accumulates across batches (st8/st11/st12's foreachBatch
    * device). One output row per incoming row. */
  def langGate(incoming: DataFrame,
      profile: Seq[(String, String, Long)]): DataFrame = {
    import graft.operators.TextOps
    val best = TextOps.bestLangStruct(TextOps.profileLangs(profile), col("sc"))
    incoming
      .select(col("doc_id"),
        graft.functions.langProfileScores(col("text"), profile).as("sc"))
      .select(col("doc_id"),
        best.getField("c").as("pred_lang"),
        best.getField("s").as("score_micro"),
        col("sc.n_tri").as("n_tri"))
      .withColumn("conf_micro", expr("score_micro div greatest(n_tri, 1)"))
      .withColumn("lang_admit", col("conf_micro") >= LangGateTauMicro)
  }

  /** st13: the gate in batch mode over d8's deterministic ingest slice
    * (st7's registration device), scoring under the standing corpus's
    * persisted t2b profile. StreamingOpsSpec proves the same kernel
    * through foreachBatch emits identical rows with no state store. */
  def st13StreamLangGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{DedupOps, TextOps}
    val docs = Tables.documents(s, dir)
    langGate(
      docs.where(col("doc_id") % DedupOps.IngestMod === DedupOps.IngestRem),
      TextOps.langProfileRows(s, dir))
  }

  // Oracle: the shared profile CTEs (t2b's spelling) scored over the
  // ingest slice, dense (doc × langs) so ties see every language, the
  // trigram-occurrence count from the same shared snippet.
  private lazy val st13Sql = {
    val m = graft.operators.DedupOps.IngestMod
    val r = graft.operators.DedupOps.IngestRem
    val tau = LangGateTauMicro
    s"WITH ${graft.operators.TextOps.profileCtesSql},\n" +
    s"""langs AS (SELECT DISTINCT p_lang FROM prof),
       |inc AS (SELECT doc_id, text FROM documents WHERE doc_id % $m = $r),
       |ig AS (
       |  SELECT doc_id, unnest(${graft.operators.TextOps.charTrigramsSql}) AS g
       |  FROM inc),
       |sc AS (
       |  SELECT ig.doc_id, p.p_lang, CAST(SUM(p.w) AS BIGINT) AS s
       |  FROM ig JOIN prof p ON ig.g = p.g GROUP BY 1, 2),
       |full_sc AS (
       |  SELECT i.doc_id, l.p_lang, COALESCE(sc.s, 0) AS s
       |  FROM inc i CROSS JOIN langs l
       |  LEFT JOIN sc ON sc.doc_id = i.doc_id AND sc.p_lang = l.p_lang),
       |best AS (
       |  SELECT doc_id, p_lang AS pred_lang, CAST(s AS BIGINT) AS score_micro
       |  FROM (
       |    SELECT doc_id, p_lang, s,
       |      row_number() OVER (PARTITION BY doc_id
       |        ORDER BY s DESC, p_lang) AS rk
       |    FROM full_sc) q
       |  WHERE rk = 1),
       |nt AS (
       |  SELECT doc_id,
       |    CAST(len(${graft.operators.TextOps.charTrigramsSql}) AS BIGINT)
       |      AS n_tri
       |  FROM inc)
       |SELECT b.doc_id, b.pred_lang, b.score_micro, nt.n_tri,
       |  CAST(b.score_micro // greatest(nt.n_tri, 1) AS BIGINT) AS conf_micro,
       |  b.score_micro // greatest(nt.n_tri, 1) >= $tau AS lang_admit
       |FROM best b JOIN nt ON b.doc_id = nt.doc_id""".stripMargin
  }

  // -------------------------------------------------------------- st14

  /** Micro-batch share-drift alarm threshold, integer micro share units
    * (15 share points). Sized from measurement: the fixtures' 50/5-doc
    * ingest slices — batches drawn from the SAME distribution as the
    * standing corpus, i.e. pure small-sample noise — measure max
    * |share_delta_micro| of 75,555 (sf0.01) and 71,111 (sf0.001), so
    * the alarm sits at ~2× the noise floor; the spec's planted source
    * switches land ≥ 300,000. Per-deployment calibration, like every
    * gate τ in the tier. */
  private[graft] val DriftAlarmMicro = 150000L

  /** The DRIFT gate at the streaming front door (round 16 — k8's
    * observability panel turned into an admit signal: the st7–st13
    * battery screens DOCUMENTS; nothing watched the BATCH): each
    * micro-batch compared per-language against the standing corpus —
    * k8's exact panel (doc counts, micro shares, signed share delta,
    * mean lengths, appeared/vanished flags) plus the verdict column
    * `drift_alarm` = appeared ∨ vanished ∨ |share delta| >
    * [[DriftAlarmMicro]]. A tripped alarm is the earliest signal of a
    * source switch, crawler bug, or encoding regression — caught
    * per batch, before it lands in the lake.
    *
    * Scale shape: k8's exactly (dictionary-encoded routing columns
    * only — text never loads; two lang-bounded map-side-combined
    * aggregates, one ≤ langs-row broadcast stitch); the aggregation
    * runs through foreachBatch (st8's device) — zero state store,
    * per-batch independence spec-asserted. */
  def driftGate(incoming: DataFrame, standing: DataFrame): DataFrame =
    graft.operators.SketchOps.ingestDriftOf(standing, incoming)
      .withColumn("drift_alarm",
        col("only_in_ingest") || col("only_in_standing") ||
          abs(col("share_delta_micro")) > DriftAlarmMicro)

  /** st14: the gate in batch mode over d8's deterministic ingest slice
    * (st7's registration device) — k8's oracle shape plus the generated
    * alarm arm. StreamingOpsSpec proves the same kernel through
    * foreachBatch emits identical rows with no state store. */
  def st14StreamDriftGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DedupOps
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val isBatch = col("doc_id") % DedupOps.IngestMod === DedupOps.IngestRem
    driftGate(docs.where(isBatch), docs.where(!isBatch))
  }

  // Oracle: k8's panel verbatim with the alarm spelled over its columns
  // — the st7b under-the-existing-gate pattern, extended by one arm.
  private lazy val st14Sql =
    s"""SELECT *,
       |  (only_in_ingest OR only_in_standing
       |    OR abs(share_delta_micro) > $DriftAlarmMicro) AS drift_alarm
       |FROM (${graft.operators.SketchOps.k8Sql})""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st1_stream_window" -> st1StreamWindow _,
    "st2_sessionize" -> st2Sessionize _,
    "st3_stream_dedup" -> st3StreamDedup _,
    "st4_interval_join" -> st4IntervalJoin _,
    "st5_stream_static_join" -> st5StreamStaticJoin _,
    "st6_stream_sink" -> st6StreamSink _,
    "st7_stream_ingest_screen" -> st7StreamIngestScreen _,
    "st7b_bloom_ingest_screen" -> st7bBloomIngestScreen _,
    "st8_upsert_sink" -> st8UpsertSink _,
    "st9_stream_neardup_screen" -> st9StreamNearDupScreen _,
    "st10_stream_quality_gate" -> st10StreamQualityGate _,
    "st11_stream_attribute_sheet" -> st11StreamAttributeSheet _,
    "st12_stream_decont_screen" -> st12StreamDecontScreen _,
    "st13_stream_lang_gate" -> st13StreamLangGate _,
    "st14_stream_drift_gate" -> st14StreamDriftGate _)

  val oracleSql: Map[String, String] = Map(
    "st1_stream_window" -> st1Sql,
    "st2_sessionize" -> st2Sql,
    "st3_stream_dedup" -> st3Sql,
    "st4_interval_join" -> st4Sql,
    "st5_stream_static_join" -> st5Sql,
    "st6_stream_sink" -> st6Sql,
    "st7_stream_ingest_screen" -> st7Sql,
    // deliberately st7's oracle text: the Bloom prescreen changes the
    // physical plan, never the verdict (no-FN + FP-resolution contract)
    "st7b_bloom_ingest_screen" -> st7Sql,
    // deliberately q23's oracle text: the hash compare proves the
    // batch-by-batch upsert fold converges to the one-shot merge
    "st8_upsert_sink" -> graft.operators.RelationalQueries.q23Sql,
    "st9_stream_neardup_screen" -> st9Sql,
    "st10_stream_quality_gate" -> st10Sql,
    "st11_stream_attribute_sheet" -> st11Sql,
    "st12_stream_decont_screen" -> st12Sql,
    "st13_stream_lang_gate" -> st13Sql,
    "st14_stream_drift_gate" -> st14Sql)
}
