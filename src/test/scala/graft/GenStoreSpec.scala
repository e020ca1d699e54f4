package graft

import graft.sources.GenStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Latches for the deterministic concurrent-fold race: the loser's batch
  * contains a UDF that signals `started` on first evaluation (proving the
  * loser has passed its generation read and entered its write) and then
  * blocks on `release` until the winner has committed. Static object so
  * the local-mode executor threads share the instances. */
object FoldRace {
  @volatile var started: java.util.concurrent.CountDownLatch = _
  @volatile var release: java.util.concurrent.CountDownLatch = _
}

class GenStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_genstore")
      .resolve("store").toString

  private def batch(rs: (Long, Int, String)*): DataFrame =
    rs.toDF("id", "part", "v")

  private def content(root: String): Set[(Long, Int, String)] =
    GenStore.load(spark, root).select($"id", $"part".cast("int"), $"v")
      .as[(Long, Int, String)].collect().toSet

  private def genDirs(root: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(java.nio.file.Paths.get(root))
    try st.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("gen-")).toList.sorted
    finally st.close()
  }

  private def parquetFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally walk.close()
  }

  test("Manifest: latest-wins fold semantics, idempotent re-fold, content equals rebuild") {
    val root = freshRoot()
    GenStore.fold(spark, root, batch((1L, 1, "a"), (2L, 2, "b"), (3L, 2, "c")),
      "part", "id")
    assert(content(root) === Set((1L, 1, "a"), (2L, 2, "b"), (3L, 2, "c")))
    // replace id 2 in place, add id 4 in a new partition
    val b2 = batch((2L, 2, "b2"), (4L, 3, "d"))
    GenStore.fold(spark, root, b2, "part", "id")
    val want = Set((1L, 1, "a"), (2L, 2, "b2"), (3L, 2, "c"), (4L, 3, "d"))
    assert(content(root) === want)
    // at-least-once delivery: re-folding the same batch changes nothing
    GenStore.fold(spark, root, b2, "part", "id")
    assert(content(root) === want, "re-fold must be a content no-op")
  }

  test("Manifest mode is link-free: untouched partitions carry by reference, not by link or copy") {
    val root = freshRoot()
    GenStore.fold(spark, root, batch((1L, 1, "a"), (2L, 2, "b")),
      "part", "id")
    GenStore.fold(spark, root, batch((1L, 1, "a2")),
      "part", "id")
    assert(content(root) === Set((1L, 1, "a2"), (2L, 2, "b")))
    val newest = genDirs(root).maxBy(_.stripPrefix("gen-").takeWhile(_.isDigit).toLong)
    val newestPath = java.nio.file.Paths.get(root, newest)
    // the untouched part=2 must NOT exist in the new generation dir —
    // its files are reachable only through the manifest reference
    assert(!java.nio.file.Files.exists(newestPath.resolve("part=2")),
      "the manifest carry must not materialize untouched partitions")
    // zero hard links anywhere in the store (the object-store-portable claim)
    val base = java.nio.file.Paths.get(root)
    parquetFiles(base).foreach { f =>
      val nlink = java.nio.file.Files.getAttribute(f, "unix:nlink")
        .asInstanceOf[Number].intValue()
      assert(nlink === 1, s"$f has $nlink links — the manifest carry must be link-free")
    }
    // and the committed view still prunes on the partition column
    val plan = GenStore.load(spark, root).where($"part" === 2)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*part".r.findFirstIn(plan).isDefined,
      s"expected partition pruning through the manifest load in:\n$plan")
  }

  test("Manifest: a fold that dies mid-write leaves the committed view fully pre-fold; the next fold recovers") {
    val root = freshRoot()
    GenStore.fold(spark, root, batch((1L, 1, "a"), (2L, 2, "b")), "part", "id")
    val boom = udf((i: Long) => {
      if (i >= 0) throw new RuntimeException("injected mid-fold failure"); i
    })
    val bad = batch((1L, 1, "a2")).withColumn("id", boom($"id"))
    intercept[Exception] {
      GenStore.fold(spark, root, bad, "part", "id")
    }
    assert(content(root) === Set((1L, 1, "a"), (2L, 2, "b")),
      "a killed fold must leave the committed store exactly pre-fold")
    GenStore.fold(spark, root, batch((1L, 1, "a2")), "part", "id")
    assert(content(root) === Set((1L, 1, "a2"), (2L, 2, "b")),
      "the fold after a killed fold must commit the full post-fold state")
  }

  test("a crashed FIRST fold (staging dir, no commit) does not brick the store; the orphan is swept") {
    val root = freshRoot()
    // fabricate what a first fold that died mid-write leaves behind: a
    // gen-* staging dir holding partition data, and NO commit anywhere
    batch((9L, 9, "orphan")).write.partitionBy("part")
      .parquet(s"$root/gen-000001-p0s0")
    assert(GenStore.currentGen(root).isEmpty)
    GenStore.fold(spark, root, batch((1L, 1, "a")), "part", "id")
    assert(content(root) === Set((1L, 1, "a")),
      "the orphan's rows must not leak into the rebuilt store")
    assert(!genDirs(root).contains("gen-000001-p0s0"),
      "the crashed first fold's staging dir must be swept")
  }

  test("a root holding bare partition dirs with no commit is a foreign layout and fails loudly") {
    val root = freshRoot()
    batch((1L, 1, "a")).write.partitionBy("part").parquet(root)
    intercept[IllegalArgumentException] {
      GenStore.fold(spark, root, batch((2L, 1, "b")), "part", "id")
    }
  }

  test("two interleaved folds: exactly one commits, the loser throws, store content is the winner's") {
    val root = freshRoot()
    GenStore.fold(spark, root, batch((1L, 1, "a")), "part", "id")
    FoldRace.started = new java.util.concurrent.CountDownLatch(1)
    FoldRace.release = new java.util.concurrent.CountDownLatch(1)
    val gate = udf((i: Long) => {
      FoldRace.started.countDown()
      FoldRace.release.await()
      i
    })
    // the LOSER: reads the current generation, then its write stalls on
    // the latch until the winner has committed the same generation number
    val loser = scala.concurrent.Future {
      GenStore.fold(spark, root,
        batch((66L, 6, "loser")).withColumn("id", gate($"id")),
        "part", "id")
    }(scala.concurrent.ExecutionContext.global)
    assert(FoldRace.started.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "loser fold never started evaluating its batch")
    // the WINNER commits while the loser is wedged inside its write
    GenStore.fold(spark, root, batch((2L, 2, "winner")), "part", "id")
    FoldRace.release.countDown()
    val err = intercept[GenStore.ConcurrentFoldException] {
      scala.concurrent.Await.result(loser, scala.concurrent.duration.Duration("120s"))
    }
    assert(err.getMessage.contains("concurrent fold"))
    assert(content(root) === Set((1L, 1, "a"), (2L, 2, "winner")),
      "store must hold exactly the winner's fold; the loser's batch must be absent")
    // the loser's staging is an uncommitted orphan: the next successful
    // fold sweeps it and the store keeps working
    GenStore.fold(spark, root, batch((3L, 3, "c")), "part", "id")
    assert(content(root) === Set((1L, 1, "a"), (2L, 2, "winner"), (3L, 3, "c")))
    assert(!genDirs(root).exists(g => parquetFiles(
        java.nio.file.Paths.get(root, g)).isEmpty),
      "no empty orphan generation dirs may survive a successful fold")
  }

  test("strictReplace: an id that moves partitions is fully replaced; the default documents the stability contract") {
    // default mode: partition-stable ids are the caller's contract — an
    // id that MOVES leaves its stale row in the untouched partition
    val lax = freshRoot()
    GenStore.fold(spark, lax, batch((1L, 1, "a"), (2L, 2, "b")), "part", "id")
    GenStore.fold(spark, lax, batch((1L, 2, "moved")), "part", "id")
    assert(content(lax) === Set((1L, 1, "a"), (1L, 2, "moved"), (2L, 2, "b")),
      "without strictReplace a moved id's old row survives (why the contract exists)")
    // strictReplace: the old partition is located and rewritten too
    val strict = freshRoot()
    GenStore.fold(spark, strict, batch((1L, 1, "a"), (2L, 2, "b")), "part", "id")
    GenStore.fold(spark, strict, batch((1L, 2, "moved")), "part", "id",
      strictReplace = true)
    assert(content(strict) === Set((1L, 2, "moved"), (2L, 2, "b")),
      "strictReplace must remove the moved id's row from its old partition")
  }

  test("a committed generation without a _MANIFEST fails loudly on load and on fold") {
    val root = freshRoot()
    GenStore.fold(spark, root, batch((1L, 1, "a"), (2L, 2, "b")), "part", "id")
    val gen = GenStore.currentGen(root).get
    val mf = java.nio.file.Paths.get(root, gen, "_MANIFEST")
    assert(java.nio.file.Files.exists(mf), s"fold must write $mf")
    java.nio.file.Files.delete(mf)
    // guessing the owners from the generation dir would silently drop
    // every partition carried from an older generation
    val onLoad = intercept[IllegalArgumentException] { GenStore.load(spark, root) }
    assert(onLoad.getMessage.contains("_MANIFEST"))
    intercept[IllegalArgumentException] {
      GenStore.fold(spark, root, batch((3L, 3, "c")), "part", "id")
    }
    assert(GenStore.currentGen(root) === Some(gen),
      "the refused fold must not commit")
  }

  test("Manifest retention: a generation owning cold partitions outlives the horizon; superseded generations retire") {
    val root = freshRoot()
    GenStore.fold(spark, root, batch((1L, 1, "g1p1"), (2L, 2, "cold")), "part", "id")
    val gen1 = genDirs(root).head
    GenStore.fold(spark, root, batch((1L, 1, "g2p1")), "part", "id") // gen2
    val gen2 = genDirs(root).filterNot(_ == gen1).head
    GenStore.fold(spark, root, batch((1L, 1, "g3p1")), "part", "id") // gen3
    GenStore.fold(spark, root, batch((1L, 1, "g4p1")), "part", "id") // gen4
    val dirs = genDirs(root)
    assert(dirs.contains(gen1),
      "gen1 owns the cold part=2 files — live data, must never be swept")
    assert(!dirs.contains(gen2),
      "gen2's only partition was superseded and is past the horizon — must retire")
    assert(content(root) === Set((1L, 1, "g4p1"), (2L, 2, "cold")))
  }

  test("Manifest: compact rewrites only fragmented partitions, preserves content exactly, and is idempotent") {
    val root = freshRoot()
    // a deliberately fragmented ingest: 8 write tasks -> 8 files in part=1
    val frag = spark.range(0, 64)
      .select($"id", lit(1).as("part"), concat(lit("v"), $"id").as("v"))
      .repartition(8)
    GenStore.fold(spark, root, frag, "part", "id")
    GenStore.fold(spark, root, batch((100L, 2, "cold")), "part", "id")
    val before = content(root)
    val genBefore = GenStore.currentGen(root).get

    GenStore.compact(spark, root, targetFiles = 1, maxFiles = 4)
    val genAfter = GenStore.currentGen(root).get
    assert(genAfter !== genBefore, "compaction must commit a new generation")
    assert(content(root) === before, "compaction must not change content")
    val compacted = parquetFiles(java.nio.file.Paths.get(root, genAfter, "part=1"))
    assert(compacted.size === 1,
      s"fragmented part=1 must compact to one file, saw ${compacted.size}")
    // the already-compact part=2 is carried by reference, not rewritten:
    // it is absent from the new generation dir
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, genAfter, "part=2")),
      "manifest compaction must carry compact partitions by reference")

    // idempotent: nothing fragmented -> no-op, no new generation
    GenStore.compact(spark, root, targetFiles = 1, maxFiles = 4)
    assert(GenStore.currentGen(root).get === genAfter,
      "a compact store must re-compact to a no-op")
    // and the store still folds normally afterwards
    GenStore.fold(spark, root, batch((200L, 2, "after")), "part", "id")
    assert(content(root) === before + ((200L, 2, "after")))
  }

  test("model check: random fold/compact sequences equal a latest-wins map") {
    // the store's whole contract in one property: after ANY sequence of
    // folds (random batches, ids re-ingested in place) interleaved with
    // compactions — carried partitions resolving their owners through
    // manifests written by either — the committed view equals a
    // driver-side latest-wins map. Seeded, deterministic.
    val rnd = new scala.util.Random(20260814L)
    val root = freshRoot()
    val model = scala.collection.mutable.Map.empty[Long, (Int, String)]
    for (step <- 1 to 8) {
      rnd.nextBoolean() // one draw per step: the seeded batches below depend on it
      val rows = (0 until (1 + rnd.nextInt(6))).map { _ =>
        val id = rnd.nextInt(12).toLong        // small id space → re-ingests
        // part = f(id): ids keep their partition, the documented contract
        (id, (id % 4 + 1).toInt, s"s$step-$id")
      }.groupBy(_._1).map(_._2.head).toSeq     // one row per id per batch
      GenStore.fold(spark, root, batch(rows: _*), "part", "id")
      rows.foreach { case (id, p, v) => model(id) = (p, v) }
      if (step % 3 == 0)
        GenStore.compact(spark, root, targetFiles = 1, maxFiles = 2)
      val want = model.map { case (id, (p, v)) => (id, p, v) }.toSet
      assert(content(root) === want, s"divergence at step $step")
    }

    // CONCURRENT fold+compact pair (the serial alternation above cannot
    // see this interleaving): fragment a partition, wedge a fold mid-
    // write, let a compact claim the generation number first. The fold
    // must lose loudly with its staging swept — compact shares fold's
    // claim protocol — and the committed view must still equal the
    // latest-wins map (now compacted); re-running the lost fold then
    // converges.
    val frag = spark.range(0, 32)
      .select($"id", (($"id" % 4) + 1).cast("int").as("part"),
        concat(lit("frag"), $"id").as("v"))
      .repartition(8)
    GenStore.fold(spark, root, frag, "part", "id")
    (0L until 32L).foreach(id => model(id) = ((id % 4 + 1).toInt, s"frag$id"))
    assert(content(root) === model.map { case (id, (p, v)) => (id, p, v) }.toSet)
    val genBeforeRace = GenStore.currentGen(root).get

    FoldRace.started = new java.util.concurrent.CountDownLatch(1)
    FoldRace.release = new java.util.concurrent.CountDownLatch(1)
    val gate = udf((i: Long) => {
      FoldRace.started.countDown()
      FoldRace.release.await()
      i
    })
    val loser = scala.concurrent.Future {
      GenStore.fold(spark, root,
        batch((99L, 4, "race")).withColumn("id", gate($"id")),
        "part", "id")
    }(scala.concurrent.ExecutionContext.global)
    assert(FoldRace.started.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "racing fold never started its write")
    GenStore.compact(spark, root, targetFiles = 1, maxFiles = 2)
    assert(GenStore.currentGen(root).get !== genBeforeRace,
      "the racing compact must have found fragmentation and committed")
    FoldRace.release.countDown()
    intercept[GenStore.ConcurrentFoldException] {
      scala.concurrent.Await.result(loser,
        scala.concurrent.duration.Duration("120s"))
    }
    assert(content(root) === model.map { case (id, (p, v)) => (id, p, v) }.toSet,
      "after a fold lost to a racing compact the view must be the compacted latest-wins map")
    // at-least-once delivery: the lost fold re-runs and converges
    GenStore.fold(spark, root, batch((99L, 4, "race")), "part", "id")
    model(99L) = (4, "race")
    assert(content(root) === model.map { case (id, (p, v)) => (id, p, v) }.toSet)
  }

  test("a settled empty claim (crashed Manifest commit) self-heals: the next fold numbers past it") {
    val root = freshRoot()
    GenStore.fold(spark, root, batch((1L, 1, "a")), "part", "id")
    // plant the documented crash debris: death between the CREATE_NEW
    // open and the content write leaves an EMPTY claim on the next
    // generation number; age it past the settle horizon
    val claim = java.nio.file.Paths.get(root, "_commits", "000002")
    java.nio.file.Files.createFile(claim)
    java.nio.file.Files.setLastModifiedTime(claim,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - GenStore.DeadClaimSettleMs - 60000))
    // before the heal this threw ConcurrentFoldException and needed
    // manual removal — a crash-recovery path misreported as a race
    GenStore.fold(spark, root, batch((2L, 2, "b")), "part", "id")
    assert(content(root) === Set((1L, 1, "a"), (2L, 2, "b")))
    // the heal must NUMBER PAST the dead claim, never delete or rename
    // it in the claim path — a check-then-delete repair is a TOCTOU:
    // two repairers can interleave so the slower one's delete lands on
    // the faster one's freshly committed NON-EMPTY entry and silently
    // replaces its generation. The debris falls to commit-log
    // retention once two newer commits exist.
    assert(GenStore.currentGenNumber(root) === Some(3L),
      "healing fold must claim the number past the dead claim")
    assert(java.nio.file.Files.exists(claim) &&
      java.nio.file.Files.size(claim) === 0,
      "the dead claim must be left untouched by the healing commit")
    GenStore.fold(spark, root, batch((3L, 3, "c")), "part", "id")
    assert(!java.nio.file.Files.exists(claim),
      "commit-log retention must sweep the settled dead claim")
    assert(content(root) === Set((1L, 1, "a"), (2L, 2, "b"), (3L, 3, "c")))
  }

  test("a FRESH empty claim is a possible in-flight racer: the fold still fails loudly") {
    val root = freshRoot()
    GenStore.fold(spark, root, batch((1L, 1, "a")), "part", "id")
    val claim = java.nio.file.Paths.get(root, "_commits", "000002")
    java.nio.file.Files.createFile(claim)
    intercept[GenStore.ConcurrentFoldException] {
      GenStore.fold(spark, root, batch((2L, 2, "b")), "part", "id")
    }
    assert(content(root) === Set((1L, 1, "a")),
      "the losing fold must leave the committed view untouched")
  }

  test("Manifest: partition values needing path escaping carry without duplication") {
    // Spark escapes partition-dir names (space -> %20, colon -> %3A); a
    // raw "part=a b" comparison misses the on-disk dir and would BOTH
    // carry and rewrite it — duplicated survivors
    val root = freshRoot()
    val b1 = Seq((1L, "a b", "v1"), (2L, "c:d", "v2"), (3L, "a b", "v3"))
      .toDF("id", "part", "v")
    GenStore.fold(spark, root, b1, "part", "id")
    // second fold touches only the space-valued partition
    GenStore.fold(spark, root,
      Seq((1L, "a b", "v1b")).toDF("id", "part", "v"), "part", "id")
    val got = GenStore.load(spark, root).select($"id", $"part", $"v")
      .as[(Long, String, String)].collect().toSeq
    assert(got.length === 3,
      s"a carried+rewritten escaped dir duplicates rows: $got")
    assert(got.toSet === Set((1L, "a b", "v1b"), (2L, "c:d", "v2"),
      (3L, "a b", "v3")))
  }

  test("an empty commit file (content write died) is invisible to readers") {
    val root = freshRoot()
    GenStore.fold(spark, root, batch((1L, 1, "a")), "part", "id")
    val cur = GenStore.currentGen(root)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(root, "_commits", "000099"))
    assert(GenStore.currentGen(root) === cur,
      "an empty claim never became a commit; readers must skip it")
  }

  test("Manifest: previousGen/loadPrevious — the retained predecessor is readable; fold -> refold diff equals the planted delta") {
    val root = freshRoot()
    assert(GenStore.previousGen(root).isEmpty)
    GenStore.fold(spark, root, batch((1L, 1, "a"), (2L, 1, "b"), (3L, 2, "c")),
      "part", "id")
    assert(GenStore.previousGen(root).isEmpty, "one commit has no predecessor")
    // the recut: id 2 rewritten, id 4 added
    GenStore.fold(spark, root, batch((2L, 1, "b2"), (4L, 2, "d")),
      "part", "id")
    val prev = GenStore.loadPrevious(spark, root).get
      .select($"id", $"part".cast("int"), $"v").as[(Long, Int, String)]
      .collect().toSet
    assert(prev === Set((1L, 1, "a"), (2L, 1, "b"), (3L, 2, "c")),
      "the predecessor view is the pre-recut content, byte for byte")
    // the diff a changelog consumer computes from the two views
    val cur = content(root)
    val added = cur.map(_._1) -- prev.map(_._1)
    val changed = cur.filter(r => prev.exists(p => p._1 == r._1 && p != r))
    assert(added === Set(4L))
    assert(changed.map(_._1) === Set(2L))
    // horizon 1: a third fold retires the first generation — the
    // predecessor window slides, it does not accumulate. Fragmented on
    // purpose (the compact test's repartition device) so the compaction
    // below really commits.
    GenStore.fold(spark, root,
      batch((5L, 2, "e"), (7L, 2, "g"), (8L, 2, "h"), (9L, 2, "i"),
        (10L, 2, "j"), (11L, 2, "k")).repartition(8),
      "part", "id")
    val postFold3 = content(root)
    val prev2 = GenStore.loadPrevious(spark, root).get
      .select($"id", $"part".cast("int"), $"v").as[(Long, Int, String)]
      .collect().toSet
    assert(prev2 === Set((1L, 1, "a"), (2L, 1, "b2"), (3L, 2, "c"), (4L, 2, "d")))

    // maintenance commits are NOT data views: after compact, the only
    // retained predecessor is the current content's pre-compact twin —
    // previousGen must answer None, never current-vs-current
    GenStore.compact(spark, root, targetFiles = 1, maxFiles = 4)
    assert(GenStore.currentGen(root).get !== GenStore.previousGen(root).orNull,
      "sanity: compaction committed")
    assert(content(root) === postFold3, "compaction is content-neutral")
    assert(GenStore.previousGen(root).isEmpty,
      "a compaction twin of the current view is not a previous DATA view")
    // and the next fold restores the window: its predecessor is the
    // compacted spelling of the pre-fold state
    GenStore.fold(spark, root, batch((6L, 1, "f")), "part", "id")
    val prev3 = GenStore.loadPrevious(spark, root).get
      .select($"id", $"part".cast("int"), $"v").as[(Long, Int, String)]
      .collect().toSet
    assert(prev3 === postFold3)
  }

  test("Manifest: an EMPTY fold commits a loadable zero-row store; a later real fold builds on it") {
    val root = freshRoot()
    // zero survivors is a valid committed state (a ruleset can
    // legitimately kill everything) — the store must read back as an
    // empty relation WITH schema, not explode on schema inference
    GenStore.fold(spark, root, batch().where(lit(false)), "part", "id")
    val empty = GenStore.load(spark, root)
    assert(empty.count() === 0L)
    assert(empty.columns.toSet === Set("id", "part", "v"),
      "the empty view still carries the full schema")
    // downstream consumers aggregate over it without special-casing
    assert(empty.groupBy($"part").count().collect().isEmpty)
    // and the store is not bricked: the next fold lands real rows
    GenStore.fold(spark, root, batch((1L, 1, "a"), (2L, 2, "b")),
      "part", "id")
    assert(content(root) === Set((1L, 1, "a"), (2L, 2, "b")))
    // the empty generation was a real data view: it is the previous one
    assert(GenStore.loadPrevious(spark, root).get.count() === 0L)
  }
}
