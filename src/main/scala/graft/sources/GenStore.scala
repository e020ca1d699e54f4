package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generational partitioned store: the atomic-maintenance device shared
  * by the persisted dedup band index ([[graft.operators.DedupOps]]) and
  * the ANN serving index ([[graft.operators.SimilarityOps]]).
  *
  * Data files are IMMUTABLE once written — a fold never modifies the live
  * generation; it writes a new generation directory and COMMITS it by
  * creating the next numbered file in a `_commits/` log with
  * create-no-overwrite semantics (the Delta-on-HDFS commit protocol: the
  * atomic "create if absent" IS the commit, so two racing folds cannot
  * both claim a generation number — exactly one commit file wins and the
  * loser fails loudly). Readers resolve the highest commit and see
  * fully-pre-fold or fully-post-fold state, never a torn mix; a fold
  * that dies mid-write leaves only an uncommitted staging directory,
  * swept by the next successful fold — including a crashed FIRST fold,
  * which leaves no commit at all and therefore cannot brick the store.
  * A single logical WRITER per store path remains the intended
  * deployment shape (a real ingest loop serializes folds); the commit
  * log turns an accidental violation from silent data loss into a
  * loud [[ConcurrentFoldException]]. Concurrent readers are always safe.
  *
  * Partitions a fold does NOT touch carry by manifest reference —
  * link-free and object-store-portable. A generation directory holds
  * only the partitions its fold actually wrote, plus a `_MANIFEST`
  * mapping every live partition directory to the generation that owns
  * its files; untouched partitions carry as references to their
  * original writer (the Iceberg manifest-re-listing device). On a real
  * object store the commit file becomes a conditional PUT (S3
  * `If-None-Match`, GCS `ifGenerationMatch 0`), which carries its
  * content atomically; the local simulation's `CREATE_NEW` open has a
  * theoretical crash-between-create-and-write window documented on
  * [[fold]].
  *
  * Latest-wins replacement reads only the partitions the batch touches,
  * so by default a re-ingested id must keep its partition assignment
  * (true for both in-repo callers: the band index touches all bands;
  * s8's ingest slice is id-disjoint from the standing corpus). Callers
  * whose ids can MOVE partitions (e.g. a changed embedding re-assigned
  * to another cell) must pass `strictReplace = true`, which additionally
  * locates and rewrites the partitions holding the ids' old rows.
  */
object GenStore {

  /** Two folds raced onto the same generation number; this fold lost the
    * commit and its staging directory was left for the sweep. */
  final class ConcurrentFoldException(msg: String, cause: Throwable)
    extends IllegalStateException(msg, cause)

  private val CommitsDir = "_commits"
  private val ManifestFile = "_MANIFEST"
  /** Uniquifies staging-dir names across threads of one JVM (pid alone
    * cannot: two in-JVM racers would stage into the same directory). */
  private val stagingSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Children of `dir` (fully drained, stream closed — `Files.list`
    * leaks a directory FD unless explicitly closed). */
  private def children(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(dir)
    try st.iterator().asScala.toList finally st.close()
  }

  /** Commit-log entries as (number, file), newest first. */
  private def commitEntries(path: String): Seq[(Long, java.nio.file.Path)] = {
    val dir = java.nio.file.Paths.get(path, CommitsDir)
    if (!java.nio.file.Files.isDirectory(dir)) Nil
    else children(dir)
      .flatMap { p =>
        val n = p.getFileName.toString
        if (n.nonEmpty && n.forall(_.isDigit)) Some(n.toLong -> p) else None
      }
      .sortBy(-_._1)
  }

  /** Name of the committed generation under `path`, if any: the highest
    * non-empty commit-log entry. An empty commit file (a commit whose
    * content write died mid-flight — see [[fold]]) never became visible
    * and is skipped. */
  def currentGen(path: String): Option[String] =
    nonEmptyCommits(path).headOption

  /** Non-empty commit contents (generation names), newest first — the
    * ONE home of the dead-claim-skipping discipline shared by
    * [[currentGen]] and [[previousGen]] (an empty or vanished entry is
    * a claim whose content write died; it never became visible). */
  private def nonEmptyCommits(path: String): Seq[String] =
    commitEntries(path).iterator
      .map { case (_, p) =>
        try java.nio.file.Files.readString(p).trim
        catch { case _: java.nio.file.NoSuchFileException => "" }
      }
      .filter(_.nonEmpty)
      .toSeq

  private def genNumber(gen: String): Long =
    gen.stripPrefix("gen-").takeWhile(_.isDigit).toLong

  /** Number of the committed generation, if any — lets a caller that
    * folds a KNOWN sequence of batches distinguish a complete store from
    * one whose build crashed between folds (see
    * [[graft.operators.SimilarityOps.annIndexFolded]]). */
  def currentGenNumber(path: String): Option[Long] =
    currentGen(path).map(genNumber)

  /** Marks a generation committed by [[compact]] — layout-only, its
    * CONTENT is identical to the commit directly below it. The marker
    * rides the generation NAME (after the numeric prefix, so
    * [[genNumber]] and every name-based path is unaffected), which
    * makes maintenance commits distinguishable on the commit log —
    * the property [[previousGen]]'s data-view arithmetic needs. */
  private val MaintSuffix = "-maint"

  private def isMaintenance(gen: String): Boolean = gen.endsWith(MaintSuffix)

  /** Name of the newest retained generation holding the PREVIOUS DATA
    * view — the state before the latest fold — if its files are still
    * retained. [[fold]]'s sweep keeps exactly one predecessor commit
    * (snapshot-retention horizon 1), so this is the changelog window a
    * diff consumer gets for free, one fold cycle wide.
    *
    * Maintenance ([[compact]]) commits are layout-only: each is
    * content-identical to the commit directly below it, so they must
    * not masquerade as a data view. If the CURRENT commit is a
    * compaction, the fold below it is the current view's twin, not the
    * previous view — skip past every such twin, then take the next
    * retained commit (which may itself be a compaction: then it is the
    * newest, best-retained spelling of the previous DATA view). When
    * the skip exhausts the retained log — e.g. the fold→compact cycle
    * [[graft.operators.PipelineOps.cutStoreFor]] runs, whose retained
    * predecessor is only the current view's own pre-compact twin —
    * the answer is honestly None: the prior data view's files are
    * already swept, and returning the twin would make a changelog
    * silently diff current against current. */
  def previousGen(path: String): Option[String] = {
    val entries = nonEmptyCommits(path)
    // index of the newest FOLD commit — the current data view's origin;
    // everything above it is a maintenance twin of the same content
    val firstFold = entries.indexWhere(!isMaintenance(_))
    if (firstFold < 0) None else entries.drop(firstFold + 1).headOption
  }

  /** The previous data view (see [[previousGen]]) — None when the store
    * has no retained pre-latest-fold state. */
  def loadPrevious(s: SparkSession, path: String): Option[DataFrame] =
    previousGen(path).map(loadGen(s, path, _))

  /** partition-dir name -> owning generation dir, for generation `gen`,
    * read from its `_MANIFEST`. Every generation a fold or compaction
    * writes carries one, so a missing manifest fails loudly. */
  private def ownerMap(path: String, gen: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val mf = java.nio.file.Paths.get(path, gen, ManifestFile)
    require(java.nio.file.Files.exists(mf),
      s"generation $gen at $path has no $ManifestFile — not a GenStore generation")
    java.nio.file.Files.readAllLines(mf).asScala
      .filter(_.nonEmpty)
      .map { line =>
        val i = line.indexOf('\t')
        require(i > 0, s"malformed manifest line in $mf: '$line'")
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap
  }

  /** Generation `gen` as a DataFrame: its partition dirs read from their
    * owning generation dirs (one basePath-scoped read per owner, so
    * partition-column filters still prune at the scan), unioned. A
    * generation with an empty manifest is the zero-row store
    * ([[ensureLoadableGen]]) and reads its own root. */
  private def loadGen(s: SparkSession, path: String, gen: String): DataFrame = {
    val byOwner = ownerMap(path, gen).toSeq.groupBy(_._2)
    if (byOwner.isEmpty) Tables.read(s, s"$path/$gen")
    else byOwner.toSeq.sortBy(_._1).map { case (owner, dirs) =>
      // Still inferred per read, the one documented exception to
      // Tables.read: a multi-path basePath read discovers its partition
      // columns from a SUBSET of the owner's directories, and no spec
      // yet proves a schema memoized over that subset's listing equals
      // the inferred one.
      s.read.option("basePath", s"$path/$owner")
        .parquet(dirs.map { case (d, _) => s"$path/$owner/$d" }: _*)
    }.reduce(_ unionByName _)
  }

  /** The committed view of the store — resolves the commit log and reads
    * that generation only (partition dirs intact, so partition-column
    * filters still prune at the scan). */
  def load(s: SparkSession, path: String): DataFrame =
    loadGen(s, path, currentGen(path).getOrElse(
      sys.error(s"no committed generation at $path")))

  /** Fold `batch` into the store at `path`, latest-wins per `idCol`:
    *
    *  1. collect the batch's distinct touched `partCol` values (bounded
    *     by the caller's partitioning contract — band count, quantizer
    *     cell count — never by data volume); with `strictReplace`, also
    *     the partitions holding old rows of re-ingested ids (one
    *     column-pruned semi-join over the current generation — the price
    *     of ids that may move partitions);
    *  2. read ONLY those partitions of the current generation, drop rows
    *     whose `idCol` re-appears in the batch (a re-ingested id REPLACES
    *     its rows), union the batch, write as the touched partitions of
    *     a NEW generation. Reading old and writing new are different
    *     paths — no checkpoint needed, no read-overwrite hazard;
    *  3. carry the untouched partitions by `_MANIFEST` reference to
    *     the generations that own their files;
    *  4. commit by creating the next numbered `_commits/` entry with
    *     create-no-overwrite; a racing fold that lost the number throws
    *     [[ConcurrentFoldException]] and its staging directory is left
    *     for the sweep. Then sweep: uncommitted orphans and generations
    *     whose files are no longer referenced by the current or the
    *     immediately previous commit. The previous generation's files
    *     are RETAINED one fold longer — Spark readers open parquet
    *     files lazily at task time, so a reader that resolved the
    *     commit just before this one may not have opened its files yet;
    *     one-generation retention gives it a full fold cycle to finish
    *     (the Iceberg/Delta snapshot-retention discipline, horizon = 1).
    *
    * Idempotent per batch: re-folding the same rows commits a generation
    * with identical content.
    *
    * Crash safety: every pre-commit crash leaves only uncommitted
    * staging (swept later, store readable throughout); a crash after the
    * commit-file create IS a completed commit. Sole documented window:
    * the local `CREATE_NEW` simulation opens the commit file and then
    * writes its content — death exactly between the
    * two syscalls leaves an empty claim on that number. Readers skip it,
    * and the next fold SELF-HEALS by numbering PAST it: an empty claim
    * settled longer than [[DeadClaimSettleMs]] is skipped on the number
    * line (see [[nextGenNumber]]) and removed later by commit-log
    * retention; a fresh empty entry — a racer possibly mid-write — is
    * NOT skipped, so the claim collides with it and fails loudly. The
    * dead claim is deliberately never deleted in the claim path: a
    * check-then-delete repair is a TOCTOU against a second repairer
    * (the slower one's delete lands on the faster one's freshly
    * committed non-empty entry and silently replaces its generation).
    * A real object store's conditional PUT carries the content
    * atomically and has no such window. */
  def fold(s: SparkSession, path: String, batch: DataFrame,
      partCol: String, idCol: String, strictReplace: Boolean = false): Unit = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(path)
    Files.createDirectories(root)
    val curGen = currentGen(path)
    // a root holding bare `partCol=` dirs with no commit is NOT an empty
    // store — it is a foreign or pre-generational layout; treating it as
    // empty would commit a generation holding only this batch and
    // silently drop the standing data. Fail loudly instead of guessing.
    // (Bare `gen-*` dirs with no commit ARE fine: a crashed first fold's
    // staging, swept by this fold's commit.)
    if (curGen.isEmpty) {
      val stray = children(root).map(_.getFileName.toString)
        .filter(_.startsWith(s"$partCol="))
      require(stray.isEmpty,
        s"$path holds partition data ($stray) but no commit — not a " +
          "GenStore layout; migrate or clear it explicitly")
    }
    val genNum = nextGenNumber(path, curGen)
    val newGen = f"gen-$genNum%06d-p${ProcessHandle.current().pid()}" +
      s"s${stagingSeq.incrementAndGet()}"
    val newPath = s"$path/$newGen"
    val carried = curGen match {
      case None =>
        batch.write.mode("overwrite").partitionBy(partCol).parquet(newPath)
        Map.empty[String, String]
      case Some(g) =>
        val prev = loadGen(s, path, g)
        val batchIds = batch.select(col(idCol)).distinct()
        val touchedByBatch = batch.select(col(partCol)).distinct()
          .collect().map(_.get(0)).toSeq
        val touched =
          if (!strictReplace) touchedByBatch
          else (touchedByBatch ++ prev
            .join(batchIds, Seq(idCol), "left_semi")
            .select(col(partCol)).distinct()
            .collect().map(_.get(0))).distinct
        // Partition dirs on disk use Spark's ESCAPED names (space, colon,
        // '%', … are percent-encoded; null is the Hive default-partition
        // token) — a raw s"$partCol=$v" would miss such a dir here and
        // both carry AND rewrite it, silently duplicating survivor rows.
        // Escape through the same utility the writer uses, and union the
        // dirs the write actually produced (covers any residual
        // stringification drift for every partition the fold writes).
        val touchedDirs = touched.map { v =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .getPartitionPathString(partCol, if (v == null) null else v.toString)
        }.toSet
        val survivors = prev
          .where(col(partCol).isInCollection(touched))
          .join(batchIds, Seq(idCol), "left_anti")
        survivors.select(batch.columns.map(col): _*)
          .unionByName(batch)
          .write.mode("overwrite").partitionBy(partCol).parquet(newPath)
        val touchedOnDisk = touchedDirs ++ writtenParts(newPath)
        ownerMap(path, g).filterNot { case (d, _) => touchedOnDisk(d) }
    }
    ensureLoadableGen(batch, newPath, carried)
    carry(path, newGen, carried)
    commit(path, genNum, newGen)
    sweep(path, genNum, newGen, prevGen = curGen)
  }

  /** Carry the partitions a new generation did NOT rewrite: its
    * `_MANIFEST` references each carried partition's owner and records
    * the generation's own written partitions as self-owned. */
  private def carry(path: String, newGen: String,
      carried: Map[String, String]): Unit = {
    val owners = carried ++ writtenParts(s"$path/$newGen").map(_ -> newGen)
    val body = owners.toSeq.sorted.map { case (d, o) => s"$d\t$o" }
      .mkString("", "\n", "\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, newGen, ManifestFile), body)
  }

  /** Maintenance compaction — the store's small-files janitor. Steady
    * ingest folds write each touched partition with as many files as the
    * cluster has write tasks, so a hot partition accumulates per-fold
    * file counts that tax every subsequent scan with open/footer
    * overhead (the src4 problem, inside the store). `compact` rewrites
    * every partition of the CURRENT generation holding more than
    * `maxFiles` parquet files down to `targetFiles`, commits the result
    * as a new generation through the same claim/sweep protocol as
    * [[fold]], and carries already-compact partitions by manifest
    * reference — content is bit-for-bit unchanged (spec-asserted), only
    * the file layout moves. Each fragmented partition is rewritten by
    * its own narrow coalesce job: ZERO shuffle (compaction that must
    * also re-cluster is a different operation — that's what folding
    * with a new partitioning is for), and the driver loop is bounded by
    * the caller's partition contract (bands, cells), never data volume.
    * Crash anywhere pre-commit leaves the old generation committed and
    * readable; re-running converges, and a compacted store re-compacts
    * to a no-op (no new generation when nothing is fragmented). */
  def compact(s: SparkSession, path: String, targetFiles: Int = 1,
      maxFiles: Int = 4): Unit = {
    val g = currentGen(path).getOrElse(
      sys.error(s"no committed generation at $path"))
    val owners = ownerMap(path, g)
    def parquetFiles(owner: String, d: String) =
      children(java.nio.file.Paths.get(path, owner, d))
        .filter(_.getFileName.toString.endsWith(".parquet"))
    val fragmented = owners.filter { case (d, o) =>
      parquetFiles(o, d).length > math.max(targetFiles, maxFiles) }
    if (fragmented.isEmpty) return
    val genNum = nextGenNumber(path, Some(g))
    val newGen = f"gen-$genNum%06d-p${ProcessHandle.current().pid()}" +
      s"s${stagingSeq.incrementAndGet()}$MaintSuffix"
    fragmented.toSeq.sortBy(_._1).foreach { case (d, o) =>
      Tables.read(s, s"$path/$o/$d").coalesce(targetFiles)
        .write.mode("overwrite").parquet(s"$path/$newGen/$d")
    }
    carry(path, newGen, owners.filterNot { case (d, _) => fragmented.contains(d) })
    commit(path, genNum, newGen)
    sweep(path, genNum, newGen, prevGen = Some(g))
  }

  /** Build a compacted store whose content is deterministic per `path`
    * (a fingerprint-named root): fold `batch` if nothing is committed
    * yet, then [[compact]] it. A racer building the same root commits
    * identical content, so a lost claim (fold or compact) is the winner
    * doing our work — tolerated, and the committed view serves. The
    * compact is idempotent (a no-op on a compact store), so it doubles
    * as the resume step of a build that crashed between fold and
    * compact. */
  def foldCompacted(s: SparkSession, path: String, batch: => DataFrame,
      partCol: String, idCol: String): Unit = {
    def tolerateRace(body: => Unit): Unit =
      try body catch { case _: ConcurrentFoldException => () }
    if (currentGen(path).isEmpty)
      tolerateRace(fold(s, path, batch, partCol, idCol))
    tolerateRace(compact(s, path, targetFiles = 1, maxFiles = 4))
  }

  /** A zero-row fold writes NO partition directories, and a generation
    * holding no parquet at all cannot be read back — schema inference
    * has nothing to look at (hit live in round 17: a funnel ruleset
    * legitimately killed every document of a scale replica, the cut
    * store committed an empty generation, and `load` threw
    * UNABLE_TO_INFER_SCHEMA). An EMPTY corpus is a valid committed
    * state, so when the generation would otherwise be file-less —
    * nothing written AND nothing carried — write the batch's empty
    * relation un-partitioned into the generation root: an empty parquet
    * file still carries the full schema (the partition column rides as
    * a regular column), and [[loadGen]]'s empty-manifest branch reads it as
    * the zero-row store view. A later non-empty fold reads that view as
    * its `prev` (schema-compatible) and the marker's generation retires
    * through the normal sweep. */
  private def ensureLoadableGen(batch: DataFrame, newPath: String,
      carried: Map[String, String]): Unit =
    if (carried.isEmpty && writtenParts(newPath).isEmpty)
      batch.limit(0).coalesce(1).write.mode("append").parquet(newPath)

  /** Partition dirs a write just produced under `genPath`. */
  private def writtenParts(genPath: String): Seq[String] =
    children(java.nio.file.Paths.get(genPath))
      .map(_.getFileName.toString).filter(_.contains("="))

  /** An empty commit entry this much older than now is a DEAD CLAIM — a
    * crashed fold that died between the `CREATE_NEW` open
    * and the content write — not a racing writer's in-flight entry (the
    * gap between those two syscalls is microseconds; ten seconds of
    * settle is ~6 orders of magnitude of margin). */
  private[graft] val DeadClaimSettleMs = 10000L

  private def settledDead(p: java.nio.file.Path): Boolean =
    try java.nio.file.Files.size(p) == 0 &&
      System.currentTimeMillis() -
        java.nio.file.Files.getLastModifiedTime(p).toMillis > DeadClaimSettleMs
    catch { case _: java.io.IOException => false }

  /** Number for the next generation: one past BOTH the committed
    * generation and any settled dead claims above it. The crash debris
    * is never deleted or renamed here — the number line simply moves
    * on, so two folds that both observed the same dead claim race onto
    * the same FRESH number and exactly one `CREATE_NEW` wins (the old
    * check-then-delete repair was a TOCTOU: the slower repairer's
    * delete could land on the faster one's freshly committed non-empty
    * entry). Fresh empty entries — a racer possibly mid-write — are
    * deliberately NOT skipped, so the claim collides and loses loudly.
    * The dead entry itself falls to commit-log retention once two newer
    * commits exist ([[sweep]] keeps entries ≥ genNum − 1 only). */
  private def nextGenNumber(path: String, curGen: Option[String]): Long = {
    val base = curGen.map(genNumber).getOrElse(0L)
    val deadMax = commitEntries(path).iterator
      .filter { case (n, p) => n > base && settledDead(p) }
      .map(_._1).maxOption.getOrElse(0L)
    math.max(base, deadMax) + 1
  }

  /** The atomic claim-and-publish of generation `genNum`: a `CREATE_NEW`
    * write, the faithful local stand-in for an object store's
    * conditional PUT (window documented on [[fold]]). Hitting an EXISTING entry
    * is ALWAYS a loss: the number was chosen past every settled dead
    * claim ([[nextGenNumber]]), so whatever sits on it now is a true
    * concurrent writer (possibly mid-write) — or, vanishingly, a fold
    * that crashed between this fold's numbering read and its claim;
    * both fail loudly and nothing on the commit log is ever deleted or
    * renamed from the claim path (the repair-in-place alternatives are
    * TOCTOUs against a racing repairer — see [[nextGenNumber]]). */
  private def commit(path: String, genNum: Long, newGen: String): Unit = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val dir = Paths.get(path, CommitsDir)
    Files.createDirectories(dir)
    val target = dir.resolve(f"$genNum%06d")
    try Files.write(target, newGen.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentFoldException(
          s"concurrent fold detected: generation $genNum at $path was " +
            s"committed by another writer; this fold's staging directory " +
            s"$newGen is uncommitted and will be swept by the next " +
            "successful fold", e)
    }
  }

  /** Remove what no retained commit can reach: generation dirs whose
    * files are referenced by neither the new commit nor its predecessor
    * (covers retired generations, crashed-fold staging, and racing-fold
    * losers) and commit-log entries older than the predecessor. A
    * generation dir survives as long as ANY retained manifest
    * still references a partition it owns (cold partitions keep their
    * original writer alive — those files are live data, the Iceberg
    * unreferenced-file rule). */
  private def sweep(path: String, genNum: Long, newGen: String,
      prevGen: Option[String]): Unit = {
    import java.nio.file.{Files, Paths}
    val live: Set[String] =
      (Set(newGen) ++ ownerMap(path, newGen).values ++
        prevGen.toSet ++
        prevGen.toSeq.flatMap(g => ownerMap(path, g).values)).toSet
    children(Paths.get(path))
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("gen-") && !live.contains(n) && genNumber(n) <= genNum
      }
      .foreach(Layouts.deleteRecursively)
    commitEntries(path)
      .filter { case (n, _) => n < genNum - 1 }
      .foreach { case (_, p) => Files.deleteIfExists(p) }
  }
}
