package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._

class SimilarityOpsSpec extends SparkSpec {
  import spark.implicits._

  test("cosineCol matches a hand-computed cosine") {
    val df = Seq((Seq(1.0f, 0.0f, 1.0f), Seq(1.0f, 1.0f, 0.0f)))
      .toDF("a", "b")
      .select(SimilarityOps.cosineCol($"a", $"b").as("c"))
    assert(math.abs(df.collect()(0).getDouble(0) - 0.5) < 1e-12)
  }

  test("s1: exactly K neighbors per query, ranked by descending similarity") {
    val res = SimilarityOps.s1CosineTopk(spark, sf)
      .select($"query_id", $"rnk", $"cos_sim")
      .as[(Long, Int, Double)].collect()
    val byQuery = res.groupBy(_._1)
    assert(byQuery.nonEmpty)
    byQuery.values.foreach { rows =>
      assert(rows.length === SimilarityOps.K)
      val sims = rows.sortBy(_._2).map(_._3)
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  /** Clustered synthetic corpus where IVF is meaningful: 8 well-separated
    * cluster directions, members = direction + small noise. */
  private def clustered() = {
    val rng = new scala.util.Random(7L)
    val dirs = Array.fill(8)(Array.fill(64)(rng.nextGaussian()))
    val rows = for {
      id <- 0 until 400
      c = id % 8
    } yield (id.toLong,
      dirs(c).map(x => (x + 0.15 * rng.nextGaussian()).toFloat).toSeq,
      c)
    rows.toDF("vec_id", "embedding", "label")
  }

  test("s2: IVF recall@K >= 0.8 vs brute force on clustered data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    clustered().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"query_id", $"neighbor_id").as[(Long, Long)]
        .collect().groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val exact = topk(SimilarityOps.s1CosineTopk(spark, dir))
    val approx = topk(SimilarityOps.s2AnnIvf(spark, dir))
    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall $mean")
  }

  test("s2: runs on the real (unclustered) corpus and emits <= K rows per query") {
    val res = SimilarityOps.s2AnnIvf(spark, sf)
      .groupBy($"query_id").agg(count(lit(1)).as("n"))
      .select($"n").as[Long].collect()
    assert(res.nonEmpty)
    assert(res.forall(_ <= SimilarityOps.K))
  }

  test("s2 checked: exact top-k rows, recall_ok true on the real corpus") {
    val rows = SimilarityOps.s2AnnIvfChecked(spark, sf)
      .select($"query_id", $"rnk", $"recall_ok")
      .as[(Long, Int, Boolean)].collect()
    val byQuery = rows.groupBy(_._1)
    assert(byQuery.nonEmpty)
    byQuery.values.foreach(r => assert(r.length === SimilarityOps.K))
    assert(rows.forall(_._3), "IVF recall below bound on the real corpus")
  }

  test("s3: probe scan prunes on cell partitions; recall_ok true") {
    val df = SimilarityOps.s3AnnCellPruned(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the nprobe IN-list must reach the layout scan as a PARTITION filter
    // (directory pruning), not a post-scan row filter
    assert(plan.contains("PartitionFilters: [cell"),
      s"expected cell partition pruning in:\n$plan")
    val rows = df.select($"rnk", $"recall_ok").as[(Int, Boolean)].collect()
    assert(rows.map(_._1).sorted.toSeq === (1 to SimilarityOps.K))
    assert(rows.forall(_._2), "single-query IVF recall below bound")
  }

  test("s4: kNN graph covers every vector; recall >= 0.8 vs brute force on clustered data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_knn").toString
    clustered().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val graph = SimilarityOps.s4KnnJoin(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    // the graph has an entry for EVERY vector (the kNN-join contract)
    assert(graph.keySet === (0L until 400L).toSet)
    // exact truth for a spot-check sample of queries (s1's 0..19 set)
    val truth = SimilarityOps.s1CosineTopk(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val recalls = truth.map { case (q, t) =>
      graph.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    assert(recalls.sum / recalls.size >= 0.8,
      s"mean recall ${recalls.sum / recalls.size}")
  }

  test("s4 checked: exact sampled top-k, recall_ok true on the real corpus") {
    val rows = SimilarityOps.s4KnnJoinChecked(spark, sf)
      .select($"query_id", $"rnk", $"recall_ok")
      .as[(Long, Int, Boolean)].collect()
    val byQuery = rows.groupBy(_._1)
    assert(byQuery.nonEmpty)
    // exactly the 1-in-mod sampled queries, K rows each
    assert(byQuery.keySet.forall(_ % SimilarityOps.KnnSampleMod === 0))
    byQuery.values.foreach(r => assert(r.length === SimilarityOps.K))
    assert(rows.forall(_._3), "kNN-join recall below bound on the real corpus")
  }

  test("k>256: centroid-relation cell assignment and probes equal the inline path") {
    // 400 synthetic vectors, quantizer forced past InlineCentroidCap so
    // the broadcast-relation path is the live dispatch; the inline path
    // (k literals in one projection) still plans at 300, so both can run
    // on the SAME centroids and must agree exactly — same dot product,
    // same norm, same higher-cell-id tie break.
    val dir = java.nio.file.Files.createTempDirectory("graft_rel").toString
    clustered().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val k = 300
    assert(k > SimilarityOps.InlineCentroidCap)
    val centroids = SimilarityOps.kmeans(emb, k, iters = 3)
    assert(centroids.length > SimilarityOps.InlineCentroidCap)

    def cellsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select($"vec_id", $"cell".cast("int")).as[(Long, Int)]
        .collect().toMap
    val viaRelation = cellsOf(
      SimilarityOps.assignCells(emb, "vec_id", "embedding", centroids))
    val viaInline = cellsOf(
      SimilarityOps.probeCellsInline(emb, "vec_id", "embedding", centroids, 1))
    assert(viaRelation.size === 400)
    assert(viaRelation === viaInline)

    // probe sets: same nprobe cells per query, both paths
    val nprobe = 7
    def probesOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Int]] =
      df.select($"vec_id", $"cell".cast("int")).as[(Long, Int)]
        .collect().groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val pRelation = probesOf(
      SimilarityOps.probeCells(emb, "vec_id", "embedding", centroids, nprobe))
    val pInline = probesOf(
      SimilarityOps.probeCellsInline(emb, "vec_id", "embedding", centroids, nprobe))
    assert(pRelation.size === 400)
    assert(pRelation.values.forall(_.size === nprobe))
    assert(pRelation === pInline)
  }

  test("distributed k-means converges with the driver trainer on the same data and init") {
    // clustered(): 400 vectors; the driver trainer's hash-sample keeps all
    // of them at this size (mod = 1) and both trainers init from the k
    // lowest vec_ids — same data, same init, same iterations. The only
    // difference is summation order (sequential vs distributed partials),
    // so centroids must agree to ulp-scale tolerance and the induced cell
    // assignments must be identical.
    val emb = clustered().select($"vec_id", $"embedding")
    val k = 8
    val driver = SimilarityOps.kmeans(emb, k, iters = 3)
    val dist = SimilarityOps.kmeansDistributed(emb, k, iters = 3)
    assert(dist.length === driver.length)
    driver.zip(dist).foreach { case (a, b) =>
      val err = math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
      assert(err < 1e-9, s"centroid drift $err")
    }
    def cellsOf(c: Array[Array[Double]]): Map[Long, Int] =
      SimilarityOps.assignCells(emb, "vec_id", "embedding", c)
        .select($"vec_id", $"cell".cast("int")).as[(Long, Int)].collect().toMap
    assert(cellsOf(driver) === cellsOf(dist))
  }

  test("s5: PQ shortlist+rerank recalls >= 0.8 vs brute force on clustered data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    clustered().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"query_id", $"neighbor_id").as[(Long, Long)]
        .collect().groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val exact = topk(SimilarityOps.s1CosineTopk(spark, dir))
    val approx = topk(SimilarityOps.s5PqRerank(spark, dir))
    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    assert(recalls.sum / recalls.size >= 0.8, s"mean recall ${recalls.sum / recalls.size}")
    // rerank exactness: every emitted cos_sim must equal the true cosine
    // (the PQ approximation may only pick WHO gets scored, never the score)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    SimilarityOps.s5PqRerank(spark, dir)
      .select($"query_id", $"neighbor_id", $"cos_sim")
      .as[(Long, Long, Double)].collect().foreach { case (q, n, s5cos) =>
        assert(math.abs(s5cos - cos(emb(q), emb(n))) < 1e-6, s"($q,$n) score")
      }
  }

  test("s5: codes are in range and the stored norm is the true norm") {
    val emb = clustered().select($"vec_id", $"embedding")
    val books = SimilarityOps.pqCodebooks(emb)
    assert(books.length === SimilarityOps.PqM)
    books.foreach(b => assert(b.length === SimilarityOps.PqK))
    val enc = SimilarityOps.pqEncode(emb, books)
      .select($"vec_id", $"codes", $"vnorm")
      .as[(Long, Seq[Int], Double)].collect()
    assert(enc.length === 400)
    val truth = emb.as[(Long, Seq[Float])].collect().toMap
    enc.foreach { case (id, codes, vnorm) =>
      assert(codes.length === SimilarityOps.PqM)
      assert(codes.forall(c => c >= 0 && c < SimilarityOps.PqK), s"doc $id codes")
      val want = math.sqrt(truth(id).map(x => x.toDouble * x.toDouble).sum)
      assert(math.abs(vnorm - want) < 1e-9, s"doc $id norm")
    }
  }

  test("s7: IVF×PQ recall >= 0.8 vs brute force on clustered data; scores exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    clustered().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"query_id", $"neighbor_id").as[(Long, Long)]
        .collect().groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val exact = topk(SimilarityOps.s1CosineTopk(spark, dir))
    val approx = topk(SimilarityOps.s7IvfPq(spark, dir))
    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    assert(recalls.sum / recalls.size >= 0.8, s"mean recall ${recalls.sum / recalls.size}")
    // rerank exactness (the s5 contract): every emitted cos_sim is the
    // true cosine — the two approximations only pick WHO gets scored
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    SimilarityOps.s7IvfPq(spark, dir)
      .select($"query_id", $"neighbor_id", $"cos_sim")
      .as[(Long, Long, Double)].collect().foreach { case (q, n, got) =>
        assert(math.abs(got - cos(emb(q), emb(n))) < 1e-6, s"($q,$n) score")
      }
  }

  test("s7: ADC scan volume is ~nprobe/k of s5's full-table scan") {
    // The point of the composition: s5 ADC-scores every query against the
    // ENTIRE code table (NQueries × (N-1) candidate rows); s7 only against
    // in-cell candidates. With nprobe = ceil(k/4) cells probed per query,
    // candidates must come in well under half the full volume even with
    // uneven cell populations (clustered data is the UNEVEN case).
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_vol").toString
    clustered().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val n = emb.count()
    val k = SimilarityOps.ivfK(n)
    val nprobe = SimilarityOps.ivfNprobe(k)
    val centroids = SimilarityOps.centroidsFor(spark, dir, k)
    val probes = SimilarityOps.probeCells(
      emb.where($"vec_id" < 20)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb")),
      "query_id", "q_emb", centroids, nprobe)
      .select($"query_id", $"cell")
    val scanned = SimilarityOps.s7Candidates(spark, dir, k, probes).count()
    val full = 20L * (n - 1) // s5's candidate volume for the same queries
    val ratio = scanned.toDouble / full
    assert(scanned > 0)
    assert(ratio < 0.5,
      s"s7 scanned $scanned of $full candidate rows (ratio $ratio, nprobe/k = ${nprobe.toDouble / k})")
    // and the layout is genuinely cell-partitioned with each query
    // probing only nprobe of the cell directories (the union across all
    // 20 queries may well cover every cell — pruning is per-query)
    val probedCells = probes.select($"cell".cast("int")).distinct().as[Int].collect().toSet
    val layout = SimilarityOps.ivfPqTable(spark, dir, k)
    val allCells = new java.io.File(layout).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(_.getName.stripPrefix("cell=").toInt).toSet
    assert(probedCells.subsetOf(allCells))
    val perQuery = probes.select($"query_id", $"cell".cast("int")).as[(Long, Int)]
      .collect().groupBy(_._1).map { case (_, a) => a.map(_._2).toSet }
    assert(perQuery.forall(_.size === nprobe))
    assert(nprobe < allCells.size,
      s"degenerate sizing: nprobe $nprobe covers all ${allCells.size} cells")
    // the probed-cell IN-list must reach the layout scan as a PARTITION
    // filter (directory pruning), the s3 contract applied to the codes
    val plan = SimilarityOps.s7Candidates(spark, dir, k, probes)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"expected cell partition pruning in:\n$plan")
  }

  test("s7 checked: exact top-k rows, recall_ok true on the real corpus") {
    val rows = SimilarityOps.s7IvfPqChecked(spark, sf)
      .select($"query_id", $"rnk", $"recall_ok")
      .as[(Long, Int, Boolean)].collect()
    val byQuery = rows.groupBy(_._1)
    assert(byQuery.nonEmpty)
    byQuery.values.foreach(r => assert(r.length === SimilarityOps.K))
    assert(rows.forall(_._3), "IVF×PQ recall below bound on the real corpus")
  }

  test("quantizer and PQ codebooks persist: a fresh process LOADS the shipped tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_persist").toString
    clustered().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val k = 16
    val trained = SimilarityOps.centroidsFor(spark, dir, k)
    val books = SimilarityOps.pqCodebooksFor(spark, dir)

    // simulate a fresh JVM: a new session has no memo entries — the next
    // call must LOAD
    val fresh = spark.newSession()
    val loaded = SimilarityOps.centroidsFor(fresh, dir, k)
    assert(loaded.length === trained.length)
    trained.zip(loaded).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    val loadedBooks = SimilarityOps.pqCodebooksFor(fresh, dir)
    assert(loadedBooks.length === books.length)
    books.zip(loadedBooks).foreach { case (ba, bb) =>
      assert(ba.length === bb.length)
      ba.zip(bb).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    }

    // prove the DISK is the source (identical content can't): replace the
    // persisted centroids with a sentinel and reload — the sentinel must
    // come back, not a retrain
    import spark.implicits._
    val path = SimilarityOps.centroidsPath(spark, dir, k)
    val sentinel = trained.zipWithIndex.map { case (c, i) => (i, c.map(_ + 1.0).toSeq) }
    sentinel.toSeq.toDF("cell_id", "c_vec").repartition(1)
      .write.mode("overwrite").parquet(path)
    val reloaded = SimilarityOps.centroidsFor(spark.newSession(), dir, k)
    reloaded.zip(trained).foreach { case (r, t) =>
      assert(r.toSeq === t.map(_ + 1.0).toSeq, "load must come from the persisted table")
    }

    // a TORN table (no _SUCCESS — the crashed-writer state) must NOT be
    // loaded: the load gate treats it as absent and retrains
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_SUCCESS"))
    val retrained = SimilarityOps.centroidsFor(spark.newSession(), dir, k)
    retrained.zip(trained).foreach { case (r, t) =>
      assert(r.toSeq === t.toSeq, "torn table must be ignored and retrained")
    }
  }

  test("warm corpus metadata resolves with ZERO Spark jobs (no pre-load corpus scan)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_meta").toString
    clustered().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val n0 = SimilarityOps.corpusCount(spark, dir) // cold: counts + writes sidecar
    val fresh = spark.newSession()                 // simulate a fresh process

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n1 = SimilarityOps.corpusCount(fresh, dir)
      assert(n1 === n0, "sidecar count must equal the counted value")
      val p1 = SimilarityOps.centroidsPath(fresh, dir, 16)
      val p2 = SimilarityOps.pqCodebooksPath(fresh, dir)
      assert(p1.contains("_f") && p2.contains("_f"))
      // listener events post asynchronously — give the bus time to drain
      // before asserting ABSENCE
      Thread.sleep(1000)
      assert(jobs.get === 0,
        "warm count + index-table naming must run no Spark job at all")
    } finally spark.sparkContext.removeSparkListener(listener)

    // regeneration safety: rewriting the corpus (same count, new files)
    // must change the fingerprint and therefore every index-table name
    def corpusFingerprint = graft.sources.Tables.fingerprint(spark,
      graft.sources.Tables.path(dir, "embeddings")).id
    val fp0 = corpusFingerprint
    val p0 = SimilarityOps.centroidsPath(spark, dir, 16)
    Thread.sleep(1100) // ensure a distinct mtime even on coarse filesystems
    clustered().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(corpusFingerprint !== fp0,
      "rewritten corpus files must change the fingerprint")
    assert(SimilarityOps.centroidsPath(spark, dir, 16) !== p0,
      "index-table names must roll with the corpus fingerprint")
  }

  test("tables built from a trained model are named by that model: a renamed model rolls them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_built_from").toString
    clustered().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val k = 4
    val quantizer = SimilarityOps.centroidsName(k)
    val books = SimilarityOps.pqCodebooksName
    def named(path: String, models: String*) = {
      val name = java.nio.file.Paths.get(path).getFileName.toString
      models.foreach(m => assert(name.contains(m.stripPrefix("graft_")),
        s"$name is built from $m but does not name it"))
    }
    val built = Seq(
      SimilarityOps.embeddingsByCell(spark, dir, k,
        SimilarityOps.centroidsFor(spark, dir, k)) -> Seq(quantizer),
      SimilarityOps.pqCodesTable(spark, dir) -> Seq(books),
      SimilarityOps.ivfPqTable(spark, dir, k) -> Seq(quantizer, books))
    built.foreach { case (path, models) => named(path, models: _*) }

    // a new trainer version renames the model, hence every table built
    // from it: an old process's layout is never served to the new model
    val bumped = quantizer.replace(s"_v${SimilarityOps.TrainerVersion}_",
      s"_v${SimilarityOps.TrainerVersion + 1}_")
    assert(bumped !== quantizer)
    assert(SimilarityOps.builtFrom("graft_emb_by_cell", bumped) !==
      SimilarityOps.builtFrom("graft_emb_by_cell", quantizer))
    (built.map(_._1) ++ Seq(SimilarityOps.centroidsPath(spark, dir, k),
        SimilarityOps.pqCodebooksPath(spark, dir), dir))
      .foreach(p => graft.sources.Layouts.deleteRecursively(java.nio.file.Paths.get(p)))
  }

  test("s8: folded index content equals a from-scratch full-corpus index; serve is recall-green") {
    import graft.sources.{GenStore, Tables}
    val dir = sf
    val k = SimilarityOps.ivfK(SimilarityOps.corpusCount(spark, dir))
    val root = SimilarityOps.annIndexFolded(spark, dir, k)

    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"cell".cast("int"), $"codes", $"vnorm")
      .as[(Long, Int, Seq[Int], Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    val folded = keyed(GenStore.load(spark, root))
    // rebuild from scratch under the same shipped artifacts — the fold
    // must be indistinguishable from a full re-index
    val rebuilt = keyed(SimilarityOps.pqEncode(
      SimilarityOps.assignCells(Tables.embeddings(spark, dir),
        "vec_id", "embedding", SimilarityOps.centroidsFor(spark, dir, k)),
      SimilarityOps.pqCodebooksFor(spark, dir), keep = Seq("cell")))
    assert(folded.keySet === rebuilt.keySet, "fold must cover every vector exactly once")
    folded.keys.foreach { id => assert(folded(id) === rebuilt(id), s"vec $id row") }
    // the batch slice must actually be present (the fold did something)
    val batchIds = folded.keySet.filter(id =>
      id % graft.operators.DedupOps.IngestMod == graft.operators.DedupOps.IngestRem)
    assert(batchIds.nonEmpty, "ingest slice missing from the folded index")

    // the registered serve: every recall bit true on the folded index
    val served = SimilarityOps.s8IvfPqUpsertServe(spark, dir)
      .select($"query_id", $"recall_ok").distinct()
      .as[(Long, Boolean)].collect()
    assert(served.nonEmpty)
    served.foreach { case (q, ok) => assert(ok, s"query $q recall from folded index") }

    // the probe over the GENERATION directory must prune cell partitions,
    // the s3/s7 contract carried through the manifest indirection
    val plan = GenStore.load(spark, root)
      .where($"cell".isin(0, 1)).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"expected cell partition pruning on the folded index scan in:\n$plan")

    // the fold carried the untouched cells by manifest reference: no
    // store root holds a hard link, and every retained generation
    // (generation 1 still owns the cells the ingest batch missed) has
    // a _MANIFEST
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach { f =>
        val n = java.nio.file.Files.getAttribute(f, "unix:nlink")
          .asInstanceOf[Number].intValue()
        assert(n === 1, s"$f has nlink=$n — the folded index must not link")
      }
    finally walk.close()
    val gens = {
      val st = java.nio.file.Files.list(base)
      try st.iterator().asScala.filter(_.getFileName.toString.startsWith("gen-")).toList
      finally st.close()
    }
    assert(gens.nonEmpty)
    gens.foreach(g => assert(java.nio.file.Files.exists(g.resolve("_MANIFEST")),
      s"retained generation $g has no _MANIFEST"))
  }

  test("s2 checked: recall_ok flips false when the approx side is broken") {
    // A 'broken IVF' stand-in: approx disjoint from the exact top-k must
    // turn every recall_ok false — proves the boolean is a live signal.
    val exact = SimilarityOps.s1CosineTopk(spark, sf)
    val bogus = exact.withColumn("neighbor_id", -$"neighbor_id" - 1)
    val flags = SimilarityOps.recallChecked(exact, bogus)
      .select($"recall_ok").as[Boolean].collect()
    assert(flags.nonEmpty)
    assert(flags.forall(_ == false))
  }

  test("s6: quantized centroid matches a brute-force recount") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val got = SimilarityOps.quantizedCentroid(emb)
    val vecs = emb.select($"embedding").as[Seq[Float]].collect()
    val micro = SimilarityOps.CentroidMicro
    val dim = vecs(0).length
    val want = Array.tabulate(dim) { i =>
      vecs.map(v => math.floor(v(i).toDouble * micro).toLong).sum / vecs.length
    }
    assert(got.toSeq === want.toSeq)
    assert(got.length === dim)
  }

  test("s6: flags a planted anti-centroid vector and passes aligned ones") {
    // corpus = one dominant direction + noise, so the centroid IS that
    // direction; one planted vector points the opposite way
    val rng = new scala.util.Random(11L)
    val d0 = Array.fill(64)(rng.nextGaussian())
    val rows = (0 until 200).map { id =>
      (id.toLong, d0.map(x => (x + 0.1 * rng.nextGaussian()).toFloat).toSeq, 0)
    } :+ ((999L, d0.map(x => (-x).toFloat).toSeq, 0))
    val dir = java.nio.file.Files.createTempDirectory("graft_s6").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val out = SimilarityOps.s6CentroidOutlier(spark, dir)
      .as[(Long, Double, Boolean)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(out.length === 201)
    assert(byId(999L)._3, s"anti-centroid vector not flagged: ${byId(999L)}")
    assert(byId(999L)._2 < -0.9)
    val aligned = out.filter(_._1 != 999L)
    assert(aligned.forall(!_._3),
      s"aligned vectors flagged: ${aligned.filter(_._3).take(5).toSeq}")
  }

  test("s9: cluster assignment equals an independent driver-side argmax; shares are exact rationals") {
    import graft.operators.SimilarityOps
    val rows = SimilarityOps.s9TopicClusters(spark, sf).collect()
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(rows.length.toLong === n)
    // independent replay: same rounded-cosine argmax over the SAME
    // persisted quantizer, computed in plain Scala on the driver
    val k = SimilarityOps.ivfK(n)
    val cf = SimilarityOps.centroidsFor(spark, sf, k).map(_.map(_.toFloat))
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], c: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < math.min(a.length, c.length)) {
        val p = a(i).toDouble; val q = c(i).toDouble
        dot += p * q; na += p * p; nb += q * q; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = emb.map { case (id, v) =>
      val scored = cf.indices.map(c =>
        (BigDecimal(cos(v, cf(c))).setScale(6, BigDecimal.RoundingMode.HALF_UP), c))
      id -> scored.max._2 // (score, cell) max = score desc then cell desc
    }.toMap
    val gotAssign = rows.map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(gotAssign === want)
    // size/share invariants: sizes recount the assignment; shares are
    // the exact integer rational docs*10^6 div N; sizes sum to N
    val byCluster = rows.groupBy(_.getAs[Int]("cluster"))
    rows.foreach { r =>
      val sz = byCluster(r.getAs[Int]("cluster")).length.toLong
      assert(r.getAs[Long]("cluster_docs") === sz)
      assert(r.getAs[Long]("cluster_share_micro") === sz * 1000000L / n)
    }
    assert(byCluster.values.map(_.length.toLong).sum === n)
    // the corpus realizes multiple topics (k-means is not degenerate)
    assert(byCluster.size >= 2)
    // the trained-constants oracle is spliced once the query has run:
    // the registered SQL embeds the centroid VALUES, not the fallback
    val sql = SimilarityOps.oracleSql("s9_topic_clusters")
    assert(sql.contains("VALUES") && !sql.contains("WHERE FALSE"))
  }

  test("s9: p2's stratified-sampling device composes over the cluster column") {
    import graft.operators.SimilarityOps
    // the topic-balance use: a deterministic hash-bucket draw at a fixed
    // permille WITHIN each cluster (p2's mechanism keyed by s9's strata)
    val assign = SimilarityOps.s9TopicClusters(spark, sf)
      .select($"vec_id", $"cluster")
    val bucket = pmod(
      conv(substring(md5(concat(lit("s9:"), $"vec_id".cast("string"))), 1, 15), 16, 10)
        .cast("long"), lit(1000))
    val sampled = assign.withColumn("b", bucket).where($"b" < 300)
      .groupBy($"cluster").agg(count(lit(1)).as("kept"))
      .collect().map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("kept")).toMap
    // deterministic: an independent recount draws exactly the same rows
    def h60(x: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val want = assign.as[(Long, Int)].collect()
      .filter { case (id, _) => h60(s"s9:$id") % 1000 < 300 }
      .groupBy(_._2).map { case (c, xs) => c -> xs.length.toLong }
    assert(sampled === want)
    assert(sampled.values.sum > 0)
  }

  test("s10: keep bit equals an independent class-boundary replay; prune quota met per cluster") {
    import graft.operators.SimilarityOps
    val rows = SimilarityOps.s10ProtoPrune(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cluster"),
        r.getAs[Double]("cos_proto"), r.getAs[Long]("cluster_docs"),
        r.getAs[Boolean]("keep")))
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(rows.length.toLong === n, "one verdict per embedding")
    // the assignment is s9's (same quantizer, same rounded argmax)
    val s9c = SimilarityOps.s9TopicClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(rows.map(t => t._1 -> t._2).toMap === s9c)
    rows.groupBy(_._2).foreach { case (c, xs) =>
      val docs = xs.length.toLong
      assert(xs.forall(_._4 === docs), s"cluster_docs in $c")
      val quota = (docs + 3) / 4
      // independent replay of the boundary rule over the score classes
      val classes = xs.groupBy(_._3).map { case (s, ys) => (s, ys.length.toLong) }
        .toSeq.sortBy(-_._1)
      var higher = 0L
      val protoClass = classes.map { case (s, hc) =>
        val p = higher < quota; higher += hc; s -> p
      }.toMap
      xs.foreach(t => assert(t._5 === !protoClass(t._3), s"vec ${t._1} keep bit"))
      assert(xs.count(!_._5).toLong >= quota, s"cluster $c prune quota")
      // equal scores never split across the keep/prune line
      xs.groupBy(_._3).values.foreach(g =>
        assert(g.map(_._5).toSet.size === 1, s"tie split in cluster $c"))
    }
    assert(rows.exists(_._5), "some doc survives")
    assert(rows.exists(!_._5), "some doc pruned")
    // trained-constants oracle spliced once the query has run
    val sql = SimilarityOps.oracleSql("s10_proto_prune")
    assert(sql.contains("VALUES") && !sql.contains("WHERE FALSE"))
  }

  test("s6: real-corpus outlier rate is nonzero and small") {
    val out = SimilarityOps.s6CentroidOutlier(spark, sf)
      .as[(Long, Double, Boolean)].collect()
    assert(out.length > 0)
    val rate = out.count(_._3).toDouble / out.length
    assert(rate > 0.0 && rate < 0.2, s"outlier rate $rate")
    // scores are genuine cosines
    assert(out.forall(r => r._2 >= -1.0 && r._2 <= 1.0))
  }

  test("t21: a planted paraphrase embedding is flagged; orthogonal content stays clean; eval rows are not scored") {
    // eval = vec_id % 20 == 0 (t10's convention): ids 0 and 20
    val e0 = Seq(1f, 0f, 0f, 0f)
    val e2 = Seq(0f, 0f, 1f, 0f)
    val para = Seq(0.999f, 0.0447f, 0f, 0f) // cos vs e0 ≈ 0.999
    val orth = Seq(0f, 1f, 0f, 0f)          // cos 0 vs both eval docs
    val emb = Seq((0L, e0), (20L, e2), (1L, para), (2L, orth))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.semanticDecontOf(emb)
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet === Set(1L, 2L), "only training docs are scored")
    assert(got(1L)._1 > 0.99 && got(1L)._2, "paraphrase must be flagged")
    assert(got(2L)._1 === 0.0 && !got(2L)._2, "orthogonal doc stays clean")
    // real-corpus sanity: the flag fires on a small nonzero tail
    val corpus = SimilarityOps.t21SemanticDecont(spark, sf)
      .as[(Long, Double, Boolean)].collect()
    assert(corpus.length > 0)
    assert(corpus.forall(r => r._2 >= -1.0 && r._2 <= 1.0))
  }

  test("t21: indexed-probe path is bit-identical to the broadcast path on the fixture corpus") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val broadcastPath = SimilarityOps.semanticDecontOf(emb)
      .as[(Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    // exactness must hold for ANY quantizer — drive the probe path with
    // the corpus's own persisted centroids at two different k
    Seq(16, 23).foreach { k =>
      val probePath = SimilarityOps.semanticDecontProbe(emb,
          SimilarityOps.centroidsFor(spark, sf, k))
        .as[(Long, Double, Boolean)].collect().sortBy(_._1).toSeq
      assert(probePath === broadcastPath, s"probe path diverged at k=$k")
    }
  }

  test("t21: cell-bound pruning probes 1 of k cells on a clustered corpus; candidates stay exact") {
    // two tight antipodal-ish clusters in R^4: eval members in both,
    // training vecs near cluster A only — the far cell's upper bound
    // cos(θ−r) ≈ −1 sits under the near cell's achieved lower bound, so
    // every training vec prunes the far cell. This is the regime the
    // probe path exists for (real embedding spaces cluster); the
    // isotropic fixture above proves exactness, this proves the probe
    // volume claim.
    def jit(base: Seq[Float], i: Int): Seq[Float] = {
      val d = 0.01f * (i % 3 - 1)
      Seq(base(0) + d, base(1) - d, base(2), base(3))
    }
    val a = Seq(1f, 0.05f, 0f, 0f)
    val b = Seq(-1f, 0f, 0.05f, 0f)
    // ids: eval = % 20 == 0 → 0, 20 eval-A; 40, 60 eval-B; training
    // 1..6 near A
    val emb = (Seq((0L, jit(a, 0)), (20L, jit(a, 1)),
        (40L, jit(b, 0)), (60L, jit(b, 1))) ++
      (1L to 6L).map(i => (i, jit(a, i.toInt))))
      .toDF("vec_id", "embedding")
    val cents = Array(a.map(_.toDouble).toArray, b.map(_.toDouble).toArray)
    val (cand, _) = SimilarityOps.semanticProbePlan(emb, cents)
    val pairs = cand.select($"vec_id", $"cell").as[(Long, Int)].collect()
    assert(pairs.length === 6, s"each of 6 training vecs probes exactly " +
      s"its own cluster's cell, got ${pairs.toSeq}")
    assert(pairs.forall(_._2 === 0), "all training vecs sit in cell A")
    // and the pruned plan still yields the exact verdicts
    val probe = SimilarityOps.semanticDecontProbe(emb, cents)
      .as[(Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    val full = SimilarityOps.semanticDecontOf(emb)
      .as[(Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(probe === full)
    assert(probe.map(_._1) === (1L to 6L))
  }
}
