package graft.operators

import graft.sources.{Layouts, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** M3 similarity-search tier over `embeddings` (driver brief: ANN over an
  * embedding column). Two operators, one semantics:
  *
  *  - s1 brute-force cosine top-k — the exact baseline and the oracle
  *    anchor. Query set is broadcast; the corpus is scanned once; ranking
  *    is a per-query top-k window. Linear in corpus size, embarrassingly
  *    parallel — this IS the right 100 TB plan when the query set is small
  *    (batch re-ranking, eval harnesses).
  *  - s2 IVF — the scale path for large query sets: a deterministic
  *    k-means coarse quantizer (trained on an O(k)-bounded sample — see
  *    [[kmeans]]), corpus bucketed by nearest centroid, queries probe
  *    their `nprobe` nearest cells. Search cost drops
  *    nprobe/k vs s1 at the price of recall on cell boundaries. Not
  *    SQL-expressible (k-means state) → no oracle; recall is spec-tested
  *    against s1 on clustered synthetic data in SimilarityOpsSpec.
  *
  * The cosine kernel is a custom codegen'd Catalyst expression
  * ([[graft.functions.cosineSim]]), so the whole scan stays in
  * whole-stage codegen — no UDF in the hot path.
  */
object SimilarityOps {

  val K = 5
  /** Fixed benchmark query set: the 20 lowest vec_ids. */
  private val NQueries = 20

  /** Native cosine similarity between two float-array columns, computed in
    * double. Sequential fold in array order — deterministic. Backed by the
    * codegen'd Catalyst expression in graft.functions: one allocation-free
    * loop per row pair instead of zip_with's intermediate product array. */
  def cosineCol(a: Column, b: Column): Column = graft.functions.cosineSim(a, b)

  /** s1: exact cosine top-k. `round(6)` before ranking so engine-side ulp
    * noise can't flip the k-boundary vs the oracle; ties break on
    * neighbor id. The corpus side never shuffles — the only exchange is
    * the per-query top-k (K×partitions rows). */
  def s1CosineTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    exactTopk(emb, emb.where($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb")))
  }

  /** Exact cosine top-K of every `queries` row against the corpus — s1's
    * core over an arbitrary (bounded) query set. The query side is
    * broadcast; the corpus side never shuffles; the only exchange is the
    * per-query top-k. */
  private def exactTopk(emb: DataFrame, queries: DataFrame): DataFrame = {
    val sims = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
      .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineCol(col("q_emb"), col("c_emb")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    sims.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= K)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
  }

  private val s1Sql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
       |           FROM embeddings WHERE vec_id < $NQueries),
       |sims AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]),
       |                                 CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
       |  FROM embeddings c JOIN q ON c.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk
       |  FROM sims)
       |SELECT query_id, rnk, neighbor_id, cos_sim FROM ranked
       |WHERE rnk <= $K""".stripMargin

  // ------------------------------------------------------------------ IVF

  /** Deterministic k-means over a BOUNDED TRAINING SAMPLE: a deterministic
    * `vec_id % m == 0` subsample capped at ~256·k vectors is collected once
    * (≤ k·256·dim floats — ~1 MB at k=16/dim=64, O(k) regardless of corpus
    * size, NOT O(corpus)), and the Lloyd iterations run driver-local on it.
    * This is the standard IVF design (a coarse quantizer is always trained
    * on a sample): at 100 TB the Lloyd loop must not scan the corpus — the
    * only corpus-scale passes are the ONE distributed assignment and the
    * probe join in [[s2AnnIvf]], both codegen'd column expressions. Init =
    * the k lowest-vec_id sample vectors; ties and empty cells resolve
    * deterministically. */
  /** The bounded driver training sample shared by the IVF and PQ
    * trainers: a deterministic hash-of-vec_id subsample capped at ~256·k
    * vectors, collected once — O(k) driver bytes regardless of corpus
    * size. Sampling on a HASH of vec_id, not vec_id itself: `vec_id % m
    * == 0` silently selects nothing when ids are sparse or stride-keyed.
    * Pathological-distribution fallback keeps the trainers trainable. */
  private[graft] def trainingSample(emb: DataFrame, k: Int,
      knownCount: Long = -1L): Array[Array[Double]] = {
    val s = emb.sparkSession
    import s.implicits._
    // `knownCount` lets the trainers reuse the corpusCount sidecar (one
    // fewer full count job at cold-train time); -1 counts here.
    val n = if (knownCount >= 0) knownCount else emb.count()
    val mod = math.max(1L, n / (256L * k))
    val sampled: Array[Array[Double]] = emb
      .where(pmod(xxhash64($"vec_id"), lit(mod)) === 0)
      .orderBy($"vec_id")
      .select($"embedding").as[Seq[Float]]
      .collect().map(_.map(_.toDouble).toArray)
    if (sampled.length >= k) sampled
    else emb.orderBy($"vec_id").limit(256 * k)
      .select($"embedding").as[Seq[Float]]
      .collect().map(_.map(_.toDouble).toArray)
  }

  private[graft] def kmeans(emb: DataFrame, k: Int, iters: Int,
      knownCount: Long = -1L): Array[Array[Double]] = {
    val train = trainingSample(emb, k, knownCount)
    require(train.nonEmpty, "kmeans: embeddings table is empty")
    // Fewer vectors than cells: train with what exists (all downstream
    // code handles a shorter centroid array).
    var centroids = train.take(math.min(k, train.length))
    val kk = centroids.length
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk)(new Array[Double](centroids(0).length))
      val counts = new Array[Long](kk)
      train.foreach { v =>
        var best = 0; var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < kk) {
          var dot = 0.0; var norm = 0.0
          var i = 0
          while (i < v.length) {
            dot += centroids(c)(i) * v(i); norm += centroids(c)(i) * centroids(c)(i)
            i += 1
          }
          val score = dot / math.sqrt(norm)
          // >= : ties break toward the higher cell id, matching the
          // struct-max ordering of the nearestCells kernel.
          if (score >= bestScore) { best = c; bestScore = score }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      // A cell can lose every member mid-iteration; keep its old centroid
      // so indices stay stable.
      centroids = Array.tabulate(kk)(c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else centroids(c))
    }
    centroids
  }

  /** Quantizer memo, keyed by (session, source dir, k) and validated by
    * the persisted table's fingerprint-named path. Centroids are
    * DETERMINISTIC per (corpus, k) — seeded sample, fixed init, fixed
    * iteration count — so the memo is pure caching of a one-time index
    * build, exactly the role [[Layouts.publish]] plays for
    * the cell layout. Before this, s2/s3/s4 each re-trained the
    * same quantizer and re-counted the same corpus inside one suite run
    * (3 trainings + 3 counts + the training collect()s — most of the ANN
    * tier's bench cost). In a real deployment the coarse quantizer is
    * trained once and shipped with the index; retraining it per query
    * would be a bug. */
  private val trainedCentroids = new graft.sources.FingerprintMemo[Array[Array[Double]]]
  private val corpusCounts = new graft.sources.FingerprintMemo[Long]

  /** [[Layouts.artifactPath]] of an index artifact over
    * `dir`'s embeddings corpus. */
  private def indexPath(s: SparkSession, name: String, dir: String): String =
    Layouts.artifactPath(s, name, dir, "embeddings")

  /** Corpus row count — memoized per session AND persisted as a tiny
    * fingerprint-named sidecar file under target/, so a fresh process
    * sizing its quantizer ([[ivfK]]) or shortlist ([[pqShortlist]]) reads
    * one small text file instead of running a count job over the corpus
    * before it can even probe a warm index. The fingerprint in the name
    * invalidates the sidecar (and the memo) whenever the corpus files
    * change. */
  private[graft] def corpusCount(s: SparkSession, dir: String): Long = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val meta = Paths.get(indexPath(s, "graft_corpus_meta", dir) + ".txt")
    corpusCounts.getOrBuild(s, dir, "", meta.toString) {
      if (Files.exists(meta)) Files.readString(meta).trim.toLong
      else {
        val n = Tables.embeddings(s, dir).count()
        Files.createDirectories(meta.getParent)
        val tmp = meta.resolveSibling(
          meta.getFileName.toString + ".tmp" + ProcessHandle.current().pid())
        Files.writeString(tmp, n.toString)
        Files.move(tmp, meta,
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        n
      }
    }
  }

  /** Above this k the quantizer trains DISTRIBUTED ([[kmeansDistributed]])
    * instead of on the driver: the driver trainer's cost is sample×k
    * distance kernels per Lloyd iteration (sample = 256·k), i.e. O(k²) —
    * ~10 s single-core at k=1024 and hours at k=10⁴. */
  private[graft] val DriverTrainCap = 1024

  /** Bump when any training constant changes (Lloyd iters, seeded-sample
    * init, the 256·k sample cap, [[DriverTrainCap]], [[PqM]]/[[PqK]]):
    * the version is part of every persisted-index-table name, so a table
    * trained by OLDER code can never be silently loaded by newer code —
    * the "load ≡ retrain" contract holds across code changes, not just
    * across processes. */
  private[graft] val TrainerVersion = 2

  /** On-disk path of the persisted quantizer. The name encodes everything
    * that determines its content: trainer version, k, the corpus FILE
    * FINGERPRINT (regeneration-safe naming with no Spark job and no
    * corpus I/O, so a warm process can resolve and probe the table before
    * touching the corpus at all), and the dir tag. */
  private[graft] def centroidsPath(s: SparkSession, dir: String, k: Int): String =
    indexPath(s, centroidsName(k), dir)

  private[graft] def centroidsName(k: Int): String =
    s"graft_ivf_centroids_v${TrainerVersion}_k$k"

  /** Name of a table built from trained models: `base` followed by each
    * model's artifact name. A model renamed by a new trainer version or
    * shape therefore renames every table built from it, so a later
    * process never serves rows assigned or encoded by an older model. */
  private[graft] def builtFrom(base: String, models: String*): String =
    (base +: models.map(_.stripPrefix("graft_"))).mkString("__")

  /** The (dir, k) quantizer — trained once, PERSISTED, then loaded: the
    * first use per (dir, k) anywhere trains and writes the centroid
    * table `(cell_id, c_vec)` under target/; every later JVM loads
    * k×dim doubles (a bounded collect) instead of re-training. This is
    * the artifact a real deployment ships WITH the index — before it,
    * each bench/scale process re-trained identical centroids in its
    * warm-up. In-session reuse still short-circuits through the memo;
    * doubles round-trip parquet exactly, and content is deterministic
    * per (dir, k) (seeded sample, fixed init/iters), so load ≡ retrain
    * — spec-asserted via a sentinel table. A cold process publishes
    * ([[Layouts.publish]]) and then loads like a warm
    * one; the load trusts only a COMPLETE table and asserts the loaded
    * row count equals k — a partial or foreign table fails loudly
    * instead of poisoning every query in the JVM. */
  private[graft] def centroidsFor(s: SparkSession, dir: String, k: Int): Array[Array[Double]] = {
    val path = centroidsPath(s, dir, k)
    trainedCentroids.getOrBuild(s, dir, s"k$k", path) {
      import s.implicits._
      Layouts.publish(path) {
        val emb = Tables.embeddings(s, dir)
        val cs = if (k <= DriverTrainCap)
                   kmeans(emb, k, iters = 3, knownCount = corpusCount(s, dir))
                 else kmeansDistributed(emb, k, iters = 3)
        cs.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cell_id", "c_vec").repartition(1).write
      }
      val cs = Tables.read(s, path).orderBy($"cell_id")
        .select($"c_vec").as[Seq[Double]].collect().map(_.toArray)
      require(cs.length == k,
        s"persisted quantizer at $path holds ${cs.length} centroids, expected $k")
      cs
    }
  }

  /** Distributed Lloyd training — the k > [[DriverTrainCap]] path, and
    * the piece that removes the last driver-side bound from the IVF tier.
    * Assignment reuses [[assignCells]] (which itself dispatches to the
    * broadcast centroid-relation join at large k), so each iteration is
    * one corpus-linear pass; the centroid update is a posexplode to
    * (cell, pos, x) and a (cell, pos) partial+final aggregation — the
    * shuffle carries one partial row per (cell × dim × task), and the
    * driver collects exactly k×dim (sum, count) cells (~16 MB at
    * k = 32768, dim = 64). No training sample, no driver distance
    * kernels: the full corpus votes.
    *
    * Init mirrors the driver trainer (k lowest-vec_id vectors) so the two
    * are comparable head-to-head; the spec asserts they converge to the
    * same centroids (within distributed-summation ulp) and identical cell
    * assignments on clustered data. Unlike the driver trainer the partial
    * sums combine in shuffle-arrival order, so results are deterministic
    * only to ~1e-12 relative — the registered fixture queries stay on the
    * driver-seeded trainer; this is the coded path past its bound. */
  private[graft] def kmeansDistributed(emb: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    val s = emb.sparkSession
    import s.implicits._
    var centroids: Array[Array[Double]] = emb.orderBy($"vec_id").limit(k)
      .select($"embedding").as[Seq[Float]]
      .collect().map(_.map(_.toDouble).toArray)
    require(centroids.nonEmpty, "kmeansDistributed: embeddings table is empty")
    val dim = centroids(0).length
    for (_ <- 0 until iters) {
      val stats = assignCells(emb.select($"vec_id", $"embedding"),
          "vec_id", "embedding", centroids)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x").cast("double")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      stats.foreach { r =>
        val c = r.getInt(0); val p = r.getInt(1)
        sums(c)(p) = r.getDouble(2)
        counts(c) = r.getLong(3)
      }
      centroids = Array.tabulate(centroids.length)(c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else centroids(c))
    }
    centroids
  }

  // ------------------------------- centroid-relation scoring (k > 256)

  /** Past this many centroids, cell scoring switches from k inline
    * literals in one projection ([[cellScores]] — whose expression tree
    * grows with k and stresses the planner) to a broadcast join against a
    * centroid RELATION ([[assignCells]]/[[probeCells]] dispatch). The two
    * paths are value-identical — same zip_with/aggregate dot product, same
    * driver-computed ‖c‖, same higher-cell-id tie break — proven by
    * SimilarityOpsSpec at k=300 on both paths. */
  private[graft] val InlineCentroidCap = 256

  /** The quantizer as a k-row broadcast relation: (cell_id, c_vec, ‖c‖).
    * ‖c‖ is precomputed driver-side with the SAME `math.sqrt(Σx²)` as
    * [[cellScores]] so scores are bit-identical across paths. */
  private def centroidRelation(s: SparkSession, centroids: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq, math.sqrt(c.map(x => x * x).sum)) }
      .toDF("cell_id", "c_vec", "c_norm")
  }

  /** dot(v, c_vec)/‖c‖ with the exact expression shape of [[cellScores]]
    * (sequential zip_with + aggregate fold) — equal doubles, not just
    * equal ranking. */
  private def relCellScore(v: Column): Column =
    aggregate(zip_with(v, col("c_vec"), (p, q) => p.cast("double") * q),
      lit(0.0), (acc, x) => acc + x) / col("c_norm")

  /** `df(idCol, embCol)` + nearest-centroid `cell` column (0-based; ties,
    * measure-zero on real vectors, toward the higher cell id). k ≤ cap:
    * the codegen'd [[graft.functions.nearestCells]] kernel at nprobe = 1,
    * its one cell taken by a one-element `explode_outer` (no exchange):
    * an equi-join on `cell` infers `isnotnull(cell)`, and the Generate
    * keeps that filter above the kernel, which would otherwise run once
    * in the pushed-down filter and again in the projection. k > cap:
    * cross-join the k-row BROADCAST centroid relation (bounded fan-out — k rows per
    * input row, never corpus×corpus), then per-id argmax. `max_by` over
    * struct(score, cell_id) keeps the inline path's tie order;
    * `any_value(emb)` is safe because every fanned-out row of an id
    * carries the same embedding. The argmax partial-aggregates map-side —
    * the k-row fan-out collapses before any exchange, so the shuffle
    * moves one row per vector, same as the inline path feeding a
    * downstream join. */
  private[graft] def assignCells(df: DataFrame, idCol: String, embCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    if (centroids.length <= InlineCentroidCap)
      df.select(col(idCol), col(embCol),
        explode_outer(graft.functions.nearestCells(col(embCol), centroids, 1)).as("cell"))
    else {
      val rank = struct(relCellScore(col(embCol)).as("s"), col("cell_id").as("i"))
      df.crossJoin(broadcast(centroidRelation(df.sparkSession, centroids)))
        .groupBy(col(idCol))
        .agg(any_value(col(embCol)).as(embCol),
          max_by(col("cell_id"), rank).as("cell"))
    }

  /** `df(idCol, embCol)` exploded to its `nprobe` nearest cells, one row
    * per (id, cell). k ≤ cap: sort the k inline score structs per row.
    * k > cap: broadcast-relation scores ranked by a per-id window —
    * orderBy (score desc, cell_id desc) replays sort_array's descending
    * struct order. The window shuffles k rows per QUERY; fine for the
    * bounded query sets (s2/s3) and, for s4 where queries = corpus, the
    * moved rows are (id, cell, score) triples — ~16 B × k per vector —
    * not embeddings. */
  private[graft] def probeCells(df: DataFrame, idCol: String, embCol: String,
      centroids: Array[Array[Double]], nprobe: Int): DataFrame =
    if (centroids.length <= InlineCentroidCap)
      probeCellsInline(df, idCol, embCol, centroids, nprobe)
    else {
      val scored = df.crossJoin(broadcast(centroidRelation(df.sparkSession, centroids)))
        .select(col(idCol), col(embCol),
          relCellScore(col(embCol)).as("s"), col("cell_id"))
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("s").desc, col("cell_id").desc)
      scored.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= nprobe)
        .select(col(idCol), col(embCol), col("cell_id").as("cell"))
    }

  /** The small-k probe kernel on its own — [[probeCells]]'s dispatch
    * target below the cap, exposed so the equality spec can run BOTH
    * paths on the same k > cap centroids and diff them head to head
    * (the [[graft.functions.nearestCells]] expression vs the broadcast
    * centroid-relation window plan — two independent implementations of
    * the same (score desc, cell desc) contract). */
  private[graft] def probeCellsInline(df: DataFrame, idCol: String, embCol: String,
      centroids: Array[Array[Double]], nprobe: Int): DataFrame =
    df.select(col(idCol), col(embCol),
      explode(graft.functions.nearestCells(col(embCol), centroids, nprobe)).as("cell"))

  /** Corpus-derived quantizer sizing — SCALING.md's "grow k with the
    * corpus (k ~ √N)" lever, made the DEFAULT after the round-6 10×
    * scale run caught the fixed k=16 quantizer under-partitioning a
    * 20k-vector corpus: s4's mean recall came in at 0.584 (bound 0.6)
    * where k=√N measured 0.730 at the same nprobe/k = 1/4 probe cost —
    * and s2 went from 2-of-20 zero-hit queries to full recall. ceil(√N)
    * keeps cell population ~√N, so candidate volume per query stays
    * ~N/4 · (probe ratio) instead of degrading as the corpus grows past
    * the cell count. The floor (16) preserves fixture-scale behavior and
    * the driver-oracle plans. Both former hard caps are now CODE, not
    * prose: past [[InlineCentroidCap]] (256, the planner bound on
    * [[cellScores]]'s k inline literals) scoring switches to the
    * broadcast centroid-relation path, and past [[DriverTrainCap]]
    * (1024, the O(k²) driver Lloyd bound) training switches to
    * [[kmeansDistributed]] — full-corpus assignment passes with a k×dim
    * driver collect. The remaining cap (32768, √N for a 10⁹-vector
    * corpus) is the broadcast bound: the centroid relation is k×dim×8 B
    * ≈ 16 MB there, and past it the quantizer itself should become a
    * persisted TABLE joined by cell-range rather than a broadcast —
    * out of scope for any corpus this engine's fixtures can model. */
  /** Hard pin on the quantizer size: k = min(⌈√N⌉, cap) — the production
    * fix for the ONE measured superlinear term in the suite. Quantizer
    * scoring costs N·k distance kernels, so k = ⌈√N⌉ makes assignment
    * O(N^1.5) (fitted exponent 0.78 at {1,10,20,40}×, SCALING.md); a
    * deployment instead pins k to a memory/latency budget per index
    * shard (FAISS practice), which restores linear scoring at the price
    * of cell population growing with N — recall at the FIXED nprobe/k
    * probe ratio is the measured trade, not a free lunch. Default is the
    * 32768 broadcast bound (≈ √N for a 10⁹-vector corpus — i.e. the cap
    * binds only where it should); `SPARK_GRAFT_IVF_K_CAP` lets the scale
    * suite re-fit exponents with a binding cap. Whenever the pinned
    * budget exceeds [[InlineCentroidCap]] (256 — any serious production
    * budget), scoring dispatches through the broadcast centroid-relation
    * path; the uncapped 40× run (k = 283) already exercises it live. */
  private[graft] def ivfKCap: Int =
    sys.env.get("SPARK_GRAFT_IVF_K_CAP").map(_.toInt).getOrElse(32768)

  private[graft] def ivfK(n: Long): Int =
    math.max(16, math.min(ivfKCap, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** nprobe = k/4: probe cost stays a fixed quarter of the cells at any
    * derived k, matching the measured recall/cost trade in SCALING.md. */
  private[graft] def ivfNprobe(k: Int): Int = math.max(4, (k + 3) / 4)

  /** [[s2AnnIvf]] with quantizer sized to the corpus ([[ivfK]]) — the
    * registered default; the explicit-(k, nprobe) overload remains for
    * measurements and specs. The count resolves from the fingerprint
    * sidecar ([[corpusCount]]) — no corpus job on a warm process. */
  def s2AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val k = ivfK(corpusCount(s, dir))
    s2AnnIvf(s, dir, k, ivfNprobe(k))
  }

  /** s2: IVF approximate top-k — same output shape as s1. Corpus is
    * bucketed once by nearest centroid; each query probes its `nprobe`
    * nearest cells, so the candidate join is an equi-join on `cell` (never
    * all-pairs) touching ~nprobe/k of the corpus. At 100 TB the bucketed
    * corpus is what you'd persist (partitioned by cell) and the probe
    * becomes partition pruning. */
  def s2AnnIvf(s: SparkSession, dir: String, k: Int, nprobe: Int): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val centroids = centroidsFor(s, dir, k)
    val corpus = assignCells(
      emb.select($"vec_id".as("neighbor_id"), $"embedding".as("c_emb")),
      "neighbor_id", "c_emb", centroids)
    // query side: bounded batch, probed driver-side ([[localProbes]] —
    // bit-identical to probeCells); the corpus side stays the one
    // distributed assign pass, which is the data-scaled half
    val queries = collectedQueries(s, dir).toSeq.flatMap { case (id, v) =>
      localProbes(v, centroids, nprobe).map(c => (id, v.toSeq, c))
    }.toDF("query_id", "q_emb", "cell")
    ivfTopk(corpus, broadcast(queries))
  }

  /** Candidate scoring + per-query top-K shared by the IVF searchers:
    * equi-join on cell, exact cosine on CANDIDATES only, rank window.
    * The caller picks the query-side strategy — s2 broadcasts its
    * bounded query set; s4's query set is the corpus and must shuffle
    * on cell. */
  private def ivfTopk(corpus: DataFrame, queries: DataFrame): DataFrame = {
    val sims = corpus.join(queries, Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineCol(col("q_emb"), col("c_emb")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    sims.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= K)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
  }

  /** Recall floors asserted by the `*Checked` queries, sized JUST BELOW
    * measured behavior on the real corpus so a silent recall regression
    * trips the gate (RecallProbe, round 10, across sf0.001/0.01/0.1:
    * s2 0.94–0.97, s5 0.87–0.93, s7 0.92–0.94, s4 0.64–0.67, s3 5/5
    * hits; each floor sits within 0.1 of its tier's worst measurement).
    * Per-query recall stays heavy-tailed (random high-dim embeddings put
    * some exact neighbors right on cell boundaries), so the hard bound
    * is on the MEAN with a loose per-query floor. A broken
    * quantizer/probe scores ~0.25 mean and 0 hits on many queries — far
    * below every bound.
    *
    * Under an explicit quantizer budget cap (`SPARK_GRAFT_IVF_K_CAP`,
    * the scale series' recall-for-cost trade measured in SCALING.md —
    * e.g. ~0.73 mean at 40× with k capped to 64) the tight floors would
    * refute a trade the deployment asked for by name: capped runs assert
    * the documented trade floor instead. */
  val MeanRecallBound = 0.6 // every tier's floor under a BINDING k cap
  val PerQueryMinHits = 1
  /** Whether the quantizer budget cap actually BINDS for a corpus of n
    * vectors. Presence of the env var alone is not enough: a cap at or
    * above ⌈√n⌉ changes nothing about the quantizer, so the tight floors
    * stay in force — otherwise exporting a non-binding cap would
    * silently weaken every recall gate from ~0.85 to 0.6. */
  private[graft] def kCapBinds(n: Long): Boolean =
    sys.env.contains("SPARK_GRAFT_IVF_K_CAP") &&
      ivfKCap < math.ceil(math.sqrt(n.toDouble)).toInt
  def s2MeanRecallBound(n: Long): Double = if (kCapBinds(n)) MeanRecallBound else 0.85
  def s5MeanRecallBound(n: Long): Double = if (kCapBinds(n)) MeanRecallBound else 0.80
  def s7MeanRecallBound(n: Long): Double = if (kCapBinds(n)) MeanRecallBound else 0.82
  /** s4 queries the corpus itself (heavy per-query tail — see
    * [[s4KnnJoinChecked]]), so its floor sits lower than the 20-query
    * tiers; 0.62 is just below the 0.64–0.67 measured across all three
    * SFs, with the same cap-aware relaxation as the other tiers. */
  def s4MeanRecallBound(n: Long): Double = if (kCapBinds(n)) MeanRecallBound else 0.62
  /** s3 is a single query — a mean over one value is just that value, so
    * its floor is the hit count (measured 5/5 at every SF). */
  def s3MinHits(n: Long): Int = if (kCapBinds(n)) PerQueryMinHits else 4

  /** s2 as registered for the driver's correctness gate. IVF ranking
    * itself is not SQL-expressible (k-means state), so — mirroring the
    * sketch-boolean pattern of [[SketchOps]] — the registered output is
    * the EXACT top-k rows (s1's plan, the oracle anchor) plus a
    * `recall_ok` boolean asserting the IVF ranking recovered every query
    * to >= [[PerQueryMinHits]] AND >= [[MeanRecallBound]] of the exact
    * top-K on average. A broken quantizer/probe flips the boolean and
    * fails the driver's hash compare, so the check is a hard signal; the
    * raw approximate ranking stays available via [[s2AnnIvf]]. */
  def s2AnnIvfChecked(s: SparkSession, dir: String): DataFrame =
    recallChecked(s1CosineTopk(s, dir), s2AnnIvf(s, dir),
      meanBound = s2MeanRecallBound(corpusCount(s, dir)))

  /** Exact top-k rows + recall booleans vs the given approx ranking.
    * Factored out so the spec can refute it with a sabotaged approx. The
    * global window runs on the bounded audit relation (queries × K rows
    * — every caller bounds its query set: s1/s2 a 20-query literal, s3
    * one query, s4 an absolute-capped sample), never the corpus.
    * `meanBound` is only meaningful over a multi-query set — single-query
    * callers (s3) must pass 0.0 and rely on the per-query floor, per the
    * heavy-tail analysis above. */
  private[graft] def recallChecked(exact: DataFrame, approx: DataFrame,
      minHits: Int = PerQueryMinHits, meanBound: Double = MeanRecallBound): DataFrame = {
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    val counted = exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    // the mean is a SCALAR over the bounded audit relation — broadcast
    // a 1-row aggregate instead of an empty-frame window (which would
    // funnel the relation through a single partition)
    val perQuery = counted
      .crossJoin(broadcast(
        counted.agg(avg(col("n_hits").cast("double") / K).as("mean_recall"))))
      .select(col("query_id"),
        (col("n_hits") >= minHits &&
          col("mean_recall") >= meanBound).as("recall_ok"))
    exact.join(perQuery, Seq("query_id"))
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos_sim"),
        col("recall_ok"))
  }

  private val s2Sql =
    s"""SELECT query_id, rnk, neighbor_id, cos_sim, TRUE AS recall_ok
       |FROM ($s1Sql)""".stripMargin

  // ----------------------------------------- IVF as a storage layout (s3)

  /** Path of the cell-partitioned copy of `embeddings` — the corpus
    * bucketed ONCE by nearest centroid and written `partitionBy("cell")`,
    * exactly the layout SCALING.md prescribes for IVF at 100 TB. Written
    * on first use per (quantizer, corpus state) via the shared publish
    * gate — the quantizer's name ([[builtFrom]]) is part of the layout
    * name because the cell assignment baked into the directories
    * depends on it.
    * Deterministic content (seeded quantizer), so reuse mirrors the
    * one-time index build it stands for. */
  private[graft] def embeddingsByCell(s: SparkSession, dir: String, k: Int,
      centroids: Array[Array[Double]]): String =
    Layouts.publish(indexPath(s,
        builtFrom("graft_emb_by_cell", centroidsName(k)), dir))(
      assignCells(Tables.embeddings(s, dir), "vec_id", "embedding", centroids)
        .write.partitionBy("cell"))

  /** s3: the online-serving ANN path — ONE query (vec_id 0) probed
    * against the cell-partitioned layout. The probe's `cell IN (...)`
    * predicate is a scan PartitionFilter, so only nprobe of k cell
    * directories are listed and read (SimilarityOpsSpec asserts the
    * touched files): at 100 TB the index IS the layout and a lookup
    * reads ~nprobe/k of the corpus, no job-side filtering needed.
    * Output shape and recall contract mirror [[s2AnnIvfChecked]],
    * restricted to the single query. */
  def s3AnnCellPruned(s: SparkSession, dir: String): DataFrame = {
    val k = ivfK(corpusCount(s, dir))
    s3AnnCellPruned(s, dir, k, ivfNprobe(k))
  }

  def s3AnnCellPruned(s: SparkSession, dir: String,
      k: Int, nprobe: Int): DataFrame = {
    import s.implicits._
    val centroids = centroidsFor(s, dir, k)
    val layout = embeddingsByCell(s, dir, k, centroids)

    // ONE query row, probed driver-side: the cell ids are
    // data-independent of the corpus scan (quantizer + one query row),
    // so the IN-list is a literal the scan can prune partitions with.
    val (qid, qv) = collectedQueries(s, dir).find(_._1 == 0L)
      .getOrElse(sys.error("s3: corpus has no vec_id 0"))
    val one = Seq((qid, qv.toSeq)).toDF("query_id", "q_emb")
    val cells = localProbes(qv, centroids, nprobe)
    val corpus = Tables.read(s, layout)
      .where($"cell".isInCollection(cells))
      .select($"vec_id".as("neighbor_id"), $"embedding".as("c_emb"))
    val sims = corpus.join(broadcast(one), $"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id",
        round(cosineCol($"q_emb", $"c_emb"), 6).as("cos_sim"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos_sim".desc, $"neighbor_id".asc)
    val approx = sims.withColumn("rnk", row_number().over(w))
      .where($"rnk" <= K)
      .select($"query_id", $"rnk", $"neighbor_id", $"cos_sim")
    // single query: the 20-query mean bound does not apply (per-query
    // recall is heavy-tailed by design) — the hard signal is the floor:
    // a broken quantizer/probe recovers 0 of the exact top-K
    recallChecked(s1CosineTopk(s, dir).where($"query_id" === 0), approx,
      minHits = s3MinHits(corpusCount(s, dir)), meanBound = 0.0)
  }

  private val s3Sql =
    s"""SELECT query_id, rnk, neighbor_id, cos_sim, TRUE AS recall_ok
       |FROM ($s1Sql) WHERE query_id = 0""".stripMargin

  // --------------------------------------------------- kNN join (s4)

  /** Every [[KnnSampleMod]]-th vector under [[KnnAuditCap]] is an audit
    * query for the s4 recall check — id-modulus so the DuckDB oracle
    * replays the sample, an ABSOLUTE cap so the audit stays broadcastable
    * at any corpus size (a proportional sample would grow with the corpus
    * and re-introduce the broadcast s4 exists to avoid). */
  private[graft] val KnnSampleMod = 10
  private[graft] val KnnAuditCap = 10000L

  /** s4: full-corpus kNN JOIN — the batch kNN-graph build behind
    * embedding-space dedup, diversity sampling, and graph-based label
    * propagation. Unlike s2 (small query set, broadcast) the query set
    * here IS the corpus, so broadcasting is impossible by definition:
    * both sides bucket by IVF cell and candidates come from the cell
    * equi-join — each vector is scored against ~nprobe/k of the corpus
    * instead of all of it, which is what makes a kNN graph buildable at
    * 100 TB (all-pairs is N² and never viable). Exact cosine + per-query
    * top-K window on the candidates only. */
  def s4KnnJoin(s: SparkSession, dir: String): DataFrame = {
    val k = ivfK(corpusCount(s, dir))
    s4KnnJoin(s, dir, k, ivfNprobe(k))
  }

  def s4KnnJoin(s: SparkSession, dir: String, k: Int, nprobe: Int): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val centroids = centroidsFor(s, dir, k)
    val corpus = assignCells(
      emb.select($"vec_id".as("neighbor_id"), $"embedding".as("c_emb")),
      "neighbor_id", "c_emb", centroids)
    val queries = probeCells(
      emb.select($"vec_id".as("query_id"), $"embedding".as("q_emb")),
      "query_id", "q_emb", centroids, nprobe)
    ivfTopk(corpus, queries)
  }

  /** s4 as registered for the driver: the exact top-K of a deterministic
    * 1-in-[[KnnSampleMod]] query sample (the oracle anchor) plus a
    * `recall_ok` boolean measuring the full IVF kNN graph against it.
    * The MEAN bound is the hard signal; the per-query floor is waived
    * (minHits = 0): over a 10%-of-corpus sample the heavy per-query
    * recall tail (exact neighbors on cell boundaries) makes a 0-hit
    * query possible where s2's 20-query set never shows one, and the
    * mean alone still refutes a broken quantizer (~0.25). */
  def s4KnnJoinChecked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val sample = emb
      .where(pmod($"vec_id", lit(KnnSampleMod)) === 0 && $"vec_id" < KnnAuditCap)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    recallChecked(exactTopk(emb, sample), s4KnnJoin(s, dir),
      minHits = 0, meanBound = s4MeanRecallBound(corpusCount(s, dir)))
  }

  private val s4Sql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
       |           FROM embeddings
       |           WHERE vec_id % $KnnSampleMod = 0 AND vec_id < $KnnAuditCap),
       |sims AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]),
       |                                 CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
       |  FROM embeddings c JOIN q ON c.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk
       |  FROM sims)
       |SELECT query_id, rnk, neighbor_id, cos_sim, TRUE AS recall_ok
       |FROM ranked WHERE rnk <= $K""".stripMargin

  // ------------------------------------------- product quantization (s5)

  /** PQ design: [[PqM]] subquantizers of [[PqK]] centroids each over
    * dim/M-sized subvectors. A vector's code is M small ints (M bytes on
    * disk) plus its stored exact norm — at dim 64 that is 256 B of floats
    * compressed to ~12 B per vector, the memory side of the ANN story
    * (IVF cuts how much of the corpus a query TOUCHES; PQ cuts the bytes
    * per touched candidate). Scoring is asymmetric (ADC): the query stays
    * exact, each subquantizer contributes dot(q_m, centroid(code_m)) from
    * a per-query lookup table, and approx cosine = Σ/( ‖q‖·‖x‖ ) with the
    * TRUE stored ‖x‖. The approximate ranking picks a shortlist which is
    * exactly re-ranked against the raw vectors — the standard
    * shortlist+rerank serving shape, so the registered contract is recall
    * of the FINAL ranking. */
  private[graft] val PqM = 8
  /** 64 centroids per subspace (6-bit codes). K=16 measured mean
    * recall@5 of only 0.56 at sf0.1 — unclustered gaussian embeddings
    * are PQ's worst case (every direction carries signal, so subspace
    * quantization error is uniform and large); K=64 buys back the
    * headroom at 4× the codebook and the same M-byte-per-vector code
    * width class. Production PQ uses K=256 (8-bit codes); 64 keeps the
    * encode expression tree (M×K struct branches in one projection) well
    * inside what the planner handles while demonstrating the identical
    * plan shape. */
  private[graft] val PqK = 64

  /** Shortlist size: corpus-derived (5% floor 50) — a fixed shortlist
    * dilutes recall as the corpus grows, the same failure mode the 10×
    * run caught for the fixed-k quantizer. 5% is the measured envelope
    * for unclustered embeddings; clustered real-world corpora tolerate
    * far less (the spec measures both). */
  private[graft] def pqShortlist(n: Long): Int =
    math.max(50, math.ceil(n / 20.0).toInt)

  /** L2 Lloyd on the shared driver sample — PQ codebooks minimize
    * reconstruction error, so training ranks by squared Euclidean
    * distance (argmin ‖x−c‖²), NOT the IVF quantizer's cosine. Ties
    * break toward the higher centroid id, mirroring [[pqCode]]'s
    * struct-max. */
  private[graft] def pqKmeansL2(train: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    require(train.nonEmpty, "pqKmeansL2: empty training set")
    var centroids = train.take(math.min(k, train.length))
    val kk = centroids.length
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk)(new Array[Double](centroids(0).length))
      val counts = new Array[Long](kk)
      train.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          var d = 0.0; var i = 0
          while (i < v.length) {
            val t = v(i) - centroids(c)(i); d += t * t; i += 1
          }
          if (d <= bestD) { best = c; bestD = d }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(kk)(c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else centroids(c))
    }
    centroids
  }

  /** On-disk path of the persisted PQ codebooks — same naming contract as
    * [[centroidsPath]] (trainer version + hyperparameters + corpus file
    * fingerprint + dir tag). */
  private[graft] def pqCodebooksPath(s: SparkSession, dir: String): String =
    indexPath(s, pqCodebooksName, dir)

  private[graft] def pqCodebooksName: String =
    s"graft_pq_codebooks_v${TrainerVersion}_m${PqM}_k$PqK"

  /** The M per-subspace codebooks — trained on ONE collected sample,
    * PERSISTED as `(m, code, c_vec)`, loaded by later JVMs (same
    * ship-with-the-index contract as [[centroidsFor]]: _SUCCESS-gated
    * load, atomic publish, and a loaded-shape assertion — exactly M×K
    * rows covering every (m, code) — so a torn table fails loudly). */
  private val trainedBooks = new graft.sources.FingerprintMemo[Array[Array[Array[Double]]]]
  private[graft] def pqCodebooksFor(s: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    val path = pqCodebooksPath(s, dir)
    trainedBooks.getOrBuild(s, dir, "", path) {
      import s.implicits._
      Layouts.publish(path) {
        val books = pqCodebooks(Tables.embeddings(s, dir),
          knownCount = corpusCount(s, dir))
        books.zipWithIndex.flatMap { case (book, m) =>
          book.zipWithIndex.map { case (c, code) => (m, code, c.toSeq) }
        }.toSeq.toDF("m", "code", "c_vec").repartition(1).write
      }
      val rows = Tables.read(s, path)
        .select($"m", $"code", $"c_vec").as[(Int, Int, Seq[Double])]
        .collect() // M×K rows — bounded by the codebook size, never data
      require(rows.length == PqM * PqK,
        s"persisted codebooks at $path hold ${rows.length} rows, expected ${PqM * PqK}")
      val byM = rows.groupBy(_._1)
      require((0 until PqM).forall(m => byM.get(m).exists(_.length == PqK)),
        s"persisted codebooks at $path missing a subspace (need $PqK codes per m in 0..${PqM - 1})")
      Array.tabulate(PqM)(m =>
        byM(m).sortBy(_._2).map(_._3.toArray))
    }
  }
  private[graft] def pqCodebooks(emb: DataFrame,
      knownCount: Long = -1L): Array[Array[Array[Double]]] = {
    val train = trainingSample(emb, PqK, knownCount)
    require(train.nonEmpty, "pqCodebooks: embeddings table is empty")
    val dim = train(0).length
    require(dim % PqM == 0, s"dim $dim not divisible by PqM=$PqM")
    val sub = dim / PqM
    Array.tabulate(PqM)(m =>
      pqKmeansL2(train.map(_.slice(m * sub, (m + 1) * sub)), PqK, iters = 3))
  }

  private def norm2(v: Column): Column =
    sqrt(aggregate(transform(v, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  /** Corpus → (vec_id, codes[M], vnorm): the narrow one-pass encode. At
    * 100 TB this projection IS the serving table you persist. `keep`
    * carries extra routing columns through unchanged (s7 keeps the IVF
    * `cell` so the code table can be cell-partitioned). */
  private[graft] def pqEncode(emb: DataFrame, books: Array[Array[Array[Double]]],
      keep: Seq[String] = Nil): DataFrame =
    emb.select(col("vec_id") +: keep.map(col) :+
      graft.functions.pqEncodeCodes(col("embedding"), books).as("codes") :+
      norm2(col("embedding")).as("vnorm"): _*)

  // ---------------- driver-side query-batch kernels (bounded by NQueries)
  //
  // The registered ANN query batch is BOUNDED (NQueries rows) by
  // definition, so its per-query prep — probe-cell selection and the PQ
  // ADC lookup table — is client-side work, computed exactly where a
  // production searcher computes it (FAISS builds per-query LUTs in the
  // coordinator, not on the data nodes). Before r11 these rode the plan
  // as k (resp. M×K) inline-literal subtrees rebuilt, re-analyzed and
  // re-codegen'd on EVERY serve: at PqK = 64 the LUT alone was 512
  // aggregate(zip_with(...)) branches — measured 1.7–2.0 s of pure
  // driver-side plan construction per warm s7 pass plus ~0.5 s of
  // planning (dev/records/ann_profile_r11.md), all fixed cost
  // independent of data volume, and the source of the r10 ANN-tier
  // bench drift (the PqK 16→64 bump quadrupled the tree). Each local
  // kernel replicates its expression twin's double arithmetic exactly
  // (same left-to-right fold order, same tie breaks), so probe sets,
  // LUT values and shortlists are bit-identical across paths; the
  // distributed expressions remain on every data-scaled side (the
  // corpus assign in s2/s4 and the index builds, s4's corpus-wide
  // probe).

  /** Driver twin of [[cellScores]]'s per-cell score: dot(v,c)/‖c‖ with
    * the same left-to-right summation order as the zip_with fold. */
  private def localCellScore(v: Array[Float], c: Array[Double]): Double = {
    var dot = 0.0
    var i = 0
    while (i < c.length) { dot += v(i).toDouble * c(i); i += 1 }
    var n2 = 0.0
    i = 0
    while (i < c.length) { n2 += c(i) * c(i); i += 1 }
    dot / math.sqrt(n2)
  }

  /** Driver twin of [[probeCellsInline]]: the nprobe nearest cells in
    * sort_array's descending (score, cell_id) struct order — ties toward
    * the higher cell id, matching the expression path bit-for-bit. */
  private[graft] def localProbes(v: Array[Float], centroids: Array[Array[Double]],
      nprobe: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) => (localCellScore(v, c), i) }
      .sortWith { case ((s1, i1), (s2, i2)) => s1 > s2 || (s1 == s2 && i1 > i2) }
      .take(nprobe).map(_._2).toSeq

  /** Driver twin of the former pqLut expression: lut[m][c] =
    * dot(q_m, books[m][c]), left-to-right fold per code. */
  private[graft] def localLut(v: Array[Float],
      books: Array[Array[Array[Double]]]): Seq[Seq[Double]] = {
    val sub = books(0)(0).length
    (0 until PqM).map { m =>
      books(m).map { c =>
        var dot = 0.0
        var i = 0
        while (i < sub) { dot += v(m * sub + i).toDouble * c(i); i += 1 }
        dot
      }.toSeq
    }
  }

  /** Driver twin of [[norm2]] — sum of squares left-to-right, then sqrt. */
  private def localNorm2(v: Array[Float]): Double = {
    var n2 = 0.0
    var i = 0
    while (i < v.length) { n2 += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(n2)
  }

  /** The registered query batch collected once per corpus state —
    * NQueries rows of (vec_id, embedding), memoized under the corpus
    * FINGERPRINT so a regenerated corpus can never serve stale query
    * vectors while a warm process pays zero collect jobs. */
  private val collectedQueryMemo =
    new graft.sources.FingerprintMemo[Array[(Long, Array[Float])]]
  private def collectedQueries(s: SparkSession, dir: String): Array[(Long, Array[Float])] =
    collectedQueryMemo.getOrBuild(s, dir, "",
        Tables.tablesId(s, dir, "embeddings")) {
      import s.implicits._
      Tables.embeddings(s, dir).where($"vec_id" < NQueries)
        .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
        .orderBy($"vec_id")
        .collect().map { case (id, e) => (id, e.toArray) }
    }

  /** s5: PQ shortlist + exact rerank. The corpus side scans CODES (M
    * small ints + a norm — the compressed serving table), scores every
    * (candidate, query) via the broadcast queries' lookup tables — a
    * per-row zip_with, no UDF, no shuffle of embeddings — shortlists
    * [[pqShortlist]] per query on approx cosine, and re-ranks only the
    * shortlist against the raw vectors (an id equi-join). Output shape =
    * s1. */
  /** Path of the write-once PQ code table — "the serving table you
    * persist" made literal: (vec_id, codes, vnorm) parquet, built once
    * per (codebooks, corpus state) — the codebooks' name is part of the
    * table name ([[builtFrom]]). Deterministic content (memoized
    * codebooks). */
  private[graft] def pqCodesTable(s: SparkSession, dir: String): String =
    Layouts.publish(indexPath(s,
        builtFrom("graft_pq_codes", pqCodebooksName), dir))(
      pqEncode(Tables.embeddings(s, dir), pqCodebooksFor(s, dir)).write)

  /** The query batch as a LOCAL relation with driver-computed LUT and
    * norm — (query_id, q_emb, lut, qnorm), NQueries rows. No expression
    * trees, no Spark job (the batch collect is fingerprint-memoized). */
  private def lutQueryRelation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val books = pqCodebooksFor(s, dir)
    collectedQueries(s, dir).toSeq
      .map { case (id, v) => (id, v.toSeq, localLut(v, books), localNorm2(v)) }
      .toDF("query_id", "q_emb", "lut", "qnorm")
  }

  def s5PqRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val queries = lutQueryRelation(s, dir)
    val approx = Tables.read(s, pqCodesTable(s, dir))
      .select($"vec_id".as("neighbor_id"), $"codes", $"vnorm")
      .join(broadcast(queries), $"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", $"q_emb", adcCos.as("approx_cos"))
    shortlistRerank(approx, emb, pqShortlist(corpusCount(s, dir)))
  }

  /** The ADC score expression shared by s5 and s7: Σ_m lut[m][code_m]
    * (each subquantizer's dot contribution from the per-query lookup
    * table) normalized by ‖q‖ and the TRUE stored ‖x‖. Expects `codes`,
    * `lut`, `qnorm`, `vnorm` in scope. */
  private def adcCos: Column =
    aggregate(zip_with(col("codes"), col("lut"), (c, l) => element_at(l, c + 1)),
      lit(0.0), (acc, x) => acc + x) / (col("qnorm") * col("vnorm"))

  /** Shortlist + exact-rerank tail shared by s5 and s7: per-query top
    * `shortN` on the approximate score, then exact cosine on the
    * shortlist only (an id equi-join against the raw vectors) and the
    * final top-K window. Both windows run on bounded relations — the
    * shortlist is queries × shortN rows. */
  private def shortlistRerank(approx: DataFrame, emb: DataFrame,
      shortN: Int): DataFrame = {
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id").asc)
    val shortlist = approx.withColumn("srnk", row_number().over(wA))
      .where(col("srnk") <= shortN)
      .select(col("query_id"), col("neighbor_id"), col("q_emb"))
    val reranked = shortlist
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineCol(col("q_emb"), col("c_emb")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    reranked.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= K)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
  }

  /** s5 registered: exact anchor + recall booleans, the s2 pattern. */
  def s5PqRerankChecked(s: SparkSession, dir: String): DataFrame =
    recallChecked(s1CosineTopk(s, dir), s5PqRerank(s, dir),
      meanBound = s5MeanRecallBound(corpusCount(s, dir)))

  private val s5Sql =
    s"""SELECT query_id, rnk, neighbor_id, cos_sim, TRUE AS recall_ok
       |FROM ($s1Sql)""".stripMargin

  // --------------------------------------------------- IVF × PQ (s7)

  /** Write-once IVF×PQ serving table — the FAISS-IVFPQ shape: the PQ
    * code table of s5 bucketed by s2's coarse quantizer and persisted
    * `partitionBy(cell)`, so a probe reads only its nprobe cell
    * directories AND each candidate row is ~12 B of codes instead of
    * 256 B of floats. One corpus pass builds it: assign cell, encode
    * codes, keep the true norm. Both models' names ([[builtFrom]]) are
    * part of the layout name: the directory routing depends on the
    * quantizer and the codes on the codebooks. */
  private[graft] def ivfPqTable(s: SparkSession, dir: String, k: Int): String =
    Layouts.publish(indexPath(s, builtFrom("graft_ivfpq_codes",
        centroidsName(k), pqCodebooksName), dir))(
      pqEncode(
        assignCells(Tables.embeddings(s, dir), "vec_id", "embedding",
          centroidsFor(s, dir, k)),
        pqCodebooksFor(s, dir), keep = Seq("cell"))
        .write.partitionBy("cell"))

  /** [[s7IvfPq]] with corpus-derived sizing, mirroring s2. */
  def s7IvfPq(s: SparkSession, dir: String): DataFrame = {
    val k = ivfK(corpusCount(s, dir))
    s7IvfPq(s, dir, k, ivfNprobe(k))
  }

  /** s7: IVF × PQ — the composed serving index every 10⁹-vector
    * deployment runs (FAISS `IVFPQ`): IVF cuts how much of the corpus a
    * query TOUCHES (probe nprobe of k cells → ~nprobe/k of the rows),
    * PQ cuts the bytes per touched candidate (M 6-bit codes + a norm vs
    * dim floats), and the exact rerank of the shortlist restores
    * precision on whatever the two approximations let through. The
    * candidate generator is the cell equi-join of s2 against the
    * cell-partitioned CODE table of s5; ADC scoring runs only on in-cell
    * candidates, so the scan volume is s5's × nprobe/k. The per-query
    * LUT is computed once per query row (before the probe explode) and
    * rides the broadcast. Recall ≈ min(IVF recall, PQ recall): the
    * shortlist (5% of the corpus ≈ 20% of the probed candidates at
    * nprobe/k = 1/4) is generous enough that the binding term is cell
    * assignment, same as s2 — measured in SimilarityOpsSpec. */
  def s7IvfPq(s: SparkSession, dir: String, k: Int, nprobe: Int): DataFrame = {
    val (probedQueries, cells) = probedQuerySide(s, dir, k, nprobe)
    val approx = codeTableCandidates(s,
        Tables.read(s, ivfPqTable(s, dir, k)), probedQueries, cells)
      .select(col("query_id"), col("neighbor_id"), col("q_emb"),
        adcCos.as("approx_cos"))
    shortlistRerank(approx, Tables.embeddings(s, dir),
      pqShortlist(corpusCount(s, dir)))
  }

  /** The registered query batch with per-query LUT/norm AND its probed
    * cells attached — the query side every code-table serve (s7, s8)
    * joins against, one row per (query, probe-cell), built entirely on
    * the driver from the local kernels (no probe job, no LUT expression
    * tree). Also returns the distinct probed-cell union so the caller's
    * scan IN-list needs no collect job either. */
  private def probedQuerySide(s: SparkSession, dir: String, k: Int,
      nprobe: Int): (DataFrame, Seq[Int]) = {
    import s.implicits._
    val centroids = centroidsFor(s, dir, k)
    val books = pqCodebooksFor(s, dir)
    val rows = collectedQueries(s, dir).toSeq.flatMap { case (id, v) =>
      val lut = localLut(v, books)
      val qn = localNorm2(v)
      localProbes(v, centroids, nprobe).map(c => (id, v.toSeq, lut, qn, c))
    }
    (rows.toDF("query_id", "q_emb", "lut", "qnorm", "cell"),
      rows.map(_._5).distinct)
  }

  /** The in-cell ADC candidate relation — exposed so the spec can count
    * scanned candidate rows and assert the nprobe/k scan-volume contract
    * directly against s5's full-table scan. This entry point accepts an
    * ARBITRARY probes relation and collects its cell union (bounded by
    * queries × nprobe, never by the corpus); the registered serves (s7,
    * s8) skip the collect because their probe sets are driver-computed. */
  private[graft] def s7Candidates(s: SparkSession, dir: String, k: Int,
      probedQueries: DataFrame): DataFrame = {
    import s.implicits._
    val cells = probedQueries.select($"cell".cast("int")).distinct()
      .as[Int].collect().toSeq // bounded by queries × nprobe
    codeTableCandidates(s,
      Tables.read(s, ivfPqTable(s, dir, k)), probedQueries, cells)
  }

  /** The probed-cell ADC candidate join against ANY cell-partitioned
    * code relation — shared by s7 (write-once table) and s8 (the
    * generational folded index), so the probe/join logic cannot
    * diverge between the two serves. `cells` is the literal IN-list the
    * scan applies as a PartitionFilter: only probed cell directories
    * are listed and read, the s3 device applied to the code table. At
    * the default nprobe/k = 1/4 a 20-query batch usually covers every
    * cell and the pruning is a no-op; a small or focused batch reads
    * only its cells. */
  private def codeTableCandidates(s: SparkSession, codes: DataFrame,
      probedQueries: DataFrame, cells: Seq[Int]): DataFrame =
    codes
      .where(col("cell").isInCollection(cells))
      .select(col("vec_id").as("neighbor_id"), col("codes"), col("vnorm"), col("cell"))
      .join(broadcast(probedQueries), Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))

  /** s7 registered: exact anchor + recall booleans, the s2 pattern. */
  def s7IvfPqChecked(s: SparkSession, dir: String): DataFrame =
    recallChecked(s1CosineTopk(s, dir), s7IvfPq(s, dir),
      meanBound = s7MeanRecallBound(corpusCount(s, dir)))

  private val s7Sql =
    s"""SELECT query_id, rnk, neighbor_id, cos_sim, TRUE AS recall_ok
       |FROM ($s1Sql)""".stripMargin

  // ------- s8: incremental index maintenance (fold a batch, no retrain)

  /** Serving-index rows `(vec_id, cell, codes, vnorm)` for `vecs` under
    * the SHIPPED artifacts — cell from the persisted quantizer, codes
    * from the persisted codebooks. This is the row a daily ingest
    * computes for each new vector; nothing here trains. */
  private def annIndexRows(s: SparkSession, dir: String, k: Int,
      vecs: DataFrame): DataFrame =
    pqEncode(
      assignCells(vecs, "vec_id", "embedding", centroidsFor(s, dir, k)),
      pqCodebooksFor(s, dir), keep = Seq("cell"))

  private val foldedIndexRoots = new graft.sources.FingerprintMemo[String]

  /** The GENERATIONAL IVF×PQ serving index with the day's ingest folded
    * in — the maintenance story s7's write-once table cannot tell: s7
    * rebuilds its layout from the full corpus; a production index must
    * instead FOLD each arriving batch into the standing structure
    * without retraining or rewriting the untouched cells. First touch
    * per (corpus state, k) builds the standing index (corpus minus the
    * [[DedupOps.IngestMod]]-slice that plays "today's batch" — the d8
    * device) as generation 1, then folds the batch's rows as
    * generation 2 through [[graft.sources.GenStore]]: latest-wins per
    * vec_id, only touched cell partitions rewritten, untouched cells
    * carried by `_MANIFEST` reference to generation 1, create-no-
    * overwrite commit — a reader mid-fold sees the whole old index or the
    * whole new one. Folding is idempotent and deterministic (shipped
    * quantizer + codebooks), so the write-once reuse mirrors the standing
    * service it stands for. */
  private[graft] def annIndexFolded(s: SparkSession, dir: String, k: Int): String = {
    // the root name carries the corpus fingerprint and validates the
    // memo: a regenerated corpus rolls the root, which replaces the entry
    // and builds fresh
    val root = indexPath(s, builtFrom("graft_ann_gen_index_m",
      centroidsName(k), pqCodebooksName), dir)
    foldedIndexRoots.getOrBuild(s, dir, s"k$k", root) {
      // the build is TWO folds (standing corpus, then the ingest batch),
      // so the store is complete only at generation >= 2. A store an
      // earlier process committed through generation 2 is trusted as-is
      // (content is deterministic per root — the publish discipline):
      // a warm process pays zero index-build jobs. A store that stopped
      // at generation 1 is a build that CRASHED between the two commits —
      // trusting it would silently serve an index missing the whole
      // ingest slice; instead the batch fold is RESUMED (folds are
      // idempotent, so re-running it after a crash anywhere in fold 2 is
      // safe and converges on the complete index).
      val emb = Tables.embeddings(s, dir)
      val isBatch = col("vec_id") % DedupOps.IngestMod === DedupOps.IngestRem
      // Content is deterministic per root (shipped quantizer + codebooks,
      // fingerprint-named root), so two processes cold-building the same
      // root race onto the same generation number; the loser's commit
      // would carry IDENTICAL content — tolerate the loss, re-resolve,
      // and only refold if the store is still behind the target
      // generation (never refold past the check: an extra standing-
      // corpus fold would consume generation 2 and make a later process
      // trust an index missing the ingest slice).
      def foldTo(target: Long)(batch: => org.apache.spark.sql.DataFrame): Unit = {
        var attempts = 0
        while (graft.sources.GenStore.currentGenNumber(root).getOrElse(0L) < target) {
          attempts += 1
          require(attempts <= 3,
            s"ANN index at $root cannot reach generation $target")
          try graft.sources.GenStore.fold(s, root, batch,
            partCol = "cell", idCol = "vec_id")
          catch {
            case _: graft.sources.GenStore.ConcurrentFoldException => ()
          }
        }
      }
      foldTo(1)(annIndexRows(s, dir, k, emb.where(!isBatch)))
      foldTo(2)(annIndexRows(s, dir, k, emb.where(isBatch)))
      root
    }
  }

  /** s8: serve s7's probe from the FOLDED index. The registered contract
    * is the s7 pattern — exact anchor + recall booleans — but the
    * candidates come from the generational store after the ingest fold,
    * so a correct answer REQUIRES the fold to have worked: the exact
    * top-k (and the query set itself) includes batch vectors that exist
    * in no generation-1 partition, and recall against them fails if the
    * fold dropped, duplicated or tore rows. Plan shape is s7's: probed
    * cells as a PartitionFilter on the generation directory, broadcast
    * LUT join, ADC scoring, exact rerank of the shortlist. */
  def s8IvfPqUpsertServe(s: SparkSession, dir: String): DataFrame = {
    val n = corpusCount(s, dir)
    val k = ivfK(n)
    val (probedQueries, cells) = probedQuerySide(s, dir, k, ivfNprobe(k))
    val approx = codeTableCandidates(s,
      graft.sources.GenStore.load(s, annIndexFolded(s, dir, k)),
      probedQueries, cells)
      .select(col("query_id"), col("neighbor_id"), col("q_emb"),
        adcCos.as("approx_cos"))
    recallChecked(s1CosineTopk(s, dir),
      shortlistRerank(approx, Tables.embeddings(s, dir), pqShortlist(n)),
      meanBound = s7MeanRecallBound(n))
  }

  private val s8Sql =
    s"""SELECT query_id, rnk, neighbor_id, cos_sim, TRUE AS recall_ok
       |FROM ($s1Sql)""".stripMargin

  // ----------------------------------- centroid outlier screen (s6)

  /** Micro-unit quantization scale shared by [[s6CentroidOutlier]] and
    * its oracle: embedding elements are floored to integer micro-units
    * BEFORE any aggregation, so every sum in the screen is exact BIGINT
    * arithmetic — order-insensitive and engine-portable (the float-sum
    * ulp drift that forces `Det` onto money columns simply cannot occur).
    * |element| ≤ 0.58 on this corpus → |qv| ≤ 5.8e5, and Σqv² over dim 64
    * stays ~1e13, far inside BIGINT. */
  private[graft] val CentroidMicro = 1000000L

  /** Outlier threshold on the ROUNDED cosine-to-centroid. Measured on the
    * real corpus: cos-to-centroid spans ≈ [-0.40, 0.41] with the 5th
    * percentile near -0.16 at both sf0.01 and sf0.1, so τ = -0.15 flags
    * ~5% — vectors pointing away from the corpus's mean direction. A
    * production deployment calibrates τ on a held-out sample; the
    * CONTRACT here is the screen's shape, not the constant. */
  private[graft] val OutlierTau = -0.15

  /** Corpus centroid in integer micro-units: per-dimension exact BIGINT
    * sum of floored elements, divided (truncating, = DuckDB `//`) by the
    * PER-POSITION count — identical to the corpus count whenever every
    * vector has the same length, but also well-defined (and matching the
    * oracle, which likewise divides per pos) on a ragged corpus. One
    * posexplode + (pos)-grouped aggregation — the shuffle carries
    * dim × tasks partial rows — then a dim-bounded driver collect
    * (64 rows, the [[kmeans]] bound argument). */
  private[graft] def quantizedCentroid(emb: DataFrame): Array[Long] = {
    val rows = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(sum(floor(col("v").cast("double") * lit(CentroidMicro.toDouble))).as("q"),
        count(lit(1)).as("n"))
      .orderBy(col("pos"))
      .collect()
    rows.map(r => r.getLong(1) / r.getLong(2))
  }

  /** s6: embedding sanity screen — cosine of every vector against the
    * corpus centroid, flagging vectors anti-aligned with the corpus's
    * mean direction beyond [[OutlierTau]] (corrupt encodes, wrong-source
    * rows, truncated payloads: the cheap first filter an embedding
    * pipeline runs before any ANN index build). Two passes, both
    * corpus-linear: the centroid aggregation above, then one narrow
    * codegen'd map (zip_with/aggregate folds over the quantized elements
    * against the centroid literal — no UDF, no shuffle, no join).
    *
    * The whole computation is exact integer arithmetic until one final
    * float division per row, so the DuckDB oracle reproduces it
    * BIT-EXACTLY — unlike s2–s5, whose quantizer state forces the
    * anchor+boolean pattern, this screen's full output is hash-compared.
    * At 100 TB nothing here is data-bounded on the driver: the collect is
    * dim rows. The in-distribution refinement (per-IVF-cell distance, for
    * outliers that point in a POPULAR direction but sit far from their
    * cell) composes from [[centroidsFor]] + [[assignCells]] and the same
    * quantized-fold kernel. */
  /** Per-corpus centroid memo — deterministic per corpus (exact integer
    * aggregation), so this is pure caching of a one-time statistic, the
    * same role [[centroidsFor]] plays for the quantizer. */
  private val centroidMemo = new graft.sources.FingerprintMemo[Array[Long]]

  def s6CentroidOutlier(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cq = centroidMemo.getOrBuild(s, dir, "",
      Tables.tablesId(s, dir, "embeddings"))(quantizedCentroid(emb))
    val sqrtNb = math.sqrt(cq.map(x => x * x).sum.toDouble)
    val qv = transform(col("embedding"),
      x => floor(x.cast("double") * lit(CentroidMicro.toDouble)))
    val dot = aggregate(zip_with(qv, array(cq.map(lit): _*), (p, q) => p * q),
      lit(0L), (acc, x) => acc + x)
    val na2 = aggregate(qv, lit(0L), (acc, x) => acc + x * x)
    val cos = round(dot.cast("double") / (sqrt(na2.cast("double")) * lit(sqrtNb)), 6)
    emb.select(col("vec_id"), cos.as("cos_center"))
      .withColumn("is_outlier", col("cos_center") < lit(OutlierTau))
  }

  private val s6Sql =
    s"""WITH u0 AS (
       |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
       |         unnest(range(1, len(embedding)+1)) AS pos
       |  FROM embeddings),
       |u AS (SELECT vec_id, CAST(FLOOR(v * $CentroidMicro) AS BIGINT) AS qv, pos
       |      FROM u0),
       |m AS (SELECT pos, SUM(qv) // COUNT(*) AS cq FROM u GROUP BY pos),
       |nb AS (SELECT SUM(cq * cq) AS nb2 FROM m),
       |d AS (SELECT u.vec_id, SUM(u.qv * m.cq) AS dot, SUM(u.qv * u.qv) AS na2
       |      FROM u JOIN m USING (pos) GROUP BY u.vec_id),
       |scored AS (
       |  SELECT vec_id,
       |    round(CAST(dot AS DOUBLE) /
       |          (sqrt(CAST(na2 AS DOUBLE)) *
       |           sqrt(CAST((SELECT nb2 FROM nb) AS DOUBLE))), 6) AS cos_center
       |  FROM d)
       |SELECT vec_id, cos_center, cos_center < $OutlierTau AS is_outlier
       |FROM scored""".stripMargin

  // --------------------------------------------- doc-topic clusters (s9)

  /** Every embeddings row's topic cell under the float-cast quantizer
    * `cf`: `(vec_id, cluster, cos_proto)`, the rounded-cosine argmax and
    * its 6-dp score from the codegen'd [[graft.functions.centroidArgmax]]
    * kernel — s9's, s10's and e8's one assignment. One row per embeddings
    * row: `vec_id` is the key. The kernel sits in a one-element
    * `inline_outer`, so a filter inferred from a join on `cluster` or
    * `cos_proto` stays above it instead of running it a second time. */
  private[graft] def topicCells(emb: DataFrame, cf: Array[Array[Float]]): DataFrame =
    emb.select(col("vec_id"),
        inline_outer(array(graft.functions.centroidArgmax(col("embedding"), cf))))
      .select(col("vec_id"), col("cell").as("cluster"), col("score").as("cos_proto"))

  /** s9: document-topic clustering — the Dolma/DCLM topic-balance
    * primitive: every document's embedding is assigned to its cell of
    * the PERSISTED s2 coarse quantizer ([[centroidsFor]] at the corpus'
    * own k — zero new training; the quantizer doubles as the topic
    * model, exactly how production stacks reuse their ANN index's
    * k-means for mixture balancing), and each row carries its cluster's
    * size and integer micro-unit corpus share so a mix planner (p2's
    * hash-bucket device) can stratify by cluster.
    *
    * Oracle discipline — the one deliberate divergence from
    * [[assignCells]]: the argmax here runs over the 6-dp ROUNDED cosine
    * (ties toward the higher cell id), because round-6 cosine equality
    * is the established engine↔DuckDB contract (s1/d5) while unrounded
    * argmax is not replayable. The centroids are deterministic
    * driver-known constants of the persisted quantizer, so the oracle
    * SQL embeds them as literals — data-derived constants spliced after
    * the plan resolves them ([[graft.sources.TrainedOracle]]; Verify
    * runs queries before dumping oracle SQL). Centroids are float-cast
    * and printed as their EXACT widened-double reprs so both engines
    * score identical values.
    *
    * `vec_id` is the embeddings table's key: the assignment emits one
    * row per embeddings row, so a duplicated id would appear once per
    * copy (the oracle's per-id ranking would merge them).
    *
    * Scale shape: the assignment is [[topicCells]], the codegen'd
    * [[graft.functions.centroidArgmax]] kernel as a narrow map over the
    * embeddings scan (k dot products per row, the centroids one
    * reference object); no fan-out, no `vec_id` exchange. The one
    * exchange is the map-side-combined k-bounded size aggregate,
    * broadcast back to a second pass of the same narrow map. No window
    * over doc-granular rows, nothing driver-side beyond the k×dim
    * centroids the quantizer already collects. */
  def s9TopicClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = corpusCount(s, dir)
    val k = ivfK(n)
    val cf: Array[Array[Float]] =
      centroidsFor(s, dir, k).map(_.map(_.toFloat))
    graft.sources.TrainedOracle.publish("s9_topic_clusters", s9SqlFor(cf, n))
    val assign = topicCells(Tables.embeddings(s, dir), cf)
    val sizes = assign.groupBy($"cluster")
      .agg(count(lit(1)).as("cluster_docs"))
    assign.join(broadcast(sizes), Seq("cluster"))
      .select($"vec_id", $"cluster", $"cluster_docs",
        expr(s"(cluster_docs * 1000000L) div ${n}L").as("cluster_share_micro"))
  }

  /** The s9 oracle with the trained centroids spliced as literals:
    * float-cast centroid elements printed as exact widened doubles, the
    * same values [[cosineCol]] reads after its float→double widening. */
  private[graft] def s9SqlFor(cf: Array[Array[Float]], n: Long): String = {
    val rows = cf.zipWithIndex.map { case (c, i) =>
      c.map(_.toDouble.toString).mkString(s"($i, CAST([", ", ", "] AS DOUBLE[]))")
    }.mkString(",\n    ")
    s"""WITH cent(cell_id, c_vec) AS (VALUES
       |    $rows),
       |sc AS (
       |  SELECT e.vec_id, c.cell_id,
       |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                 c.c_vec), 6) AS s
       |  FROM embeddings e CROSS JOIN cent c),
       |asg AS (
       |  SELECT vec_id, cell_id AS cluster FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY s DESC, cell_id DESC) AS rk
       |    FROM sc) t
       |  WHERE rk = 1),
       |sz AS (SELECT cluster, COUNT(*) AS cluster_docs FROM asg GROUP BY 1)
       |SELECT a.vec_id, a.cluster, sz.cluster_docs,
       |  (sz.cluster_docs * 1000000) // $n AS cluster_share_micro
       |FROM asg a JOIN sz USING (cluster)""".stripMargin
  }

  // ------------------------------------------ prototype pruning (s10)

  /** Fraction of each cluster pruned as prototypical: ⌈docs/4⌉ (by the
    * class-boundary rule below, the realized cut can exceed this when
    * the boundary score class is wide — the t17 semantics). */
  private[graft] val ProtoPruneDen = 4

  /** s10: prototypicality pruning — the D4 diversification pass
    * (Tirumala et al. 2023: after SemDeDup, drop the documents CLOSEST
    * to their cluster centroid; near-centroid points are the templated/
    * boilerplate core of a cluster, and keeping the diverse tail beats
    * training on the redundant center). Every embedding is assigned to
    * its s9 cluster (same persisted quantizer, same rounded-cosine
    * argmax), `cos_proto` = its cosine to that centroid, and within each
    * cluster the top ⌈docs/4⌉ most-prototypical documents are cut by
    * t17's CLASS-BOUNDARY rule: a document is pruned iff documents
    * scoring strictly HIGHER in its cluster number < ⌈docs/4⌉ — equal
    * scores never split across the keep/prune line (no arbitrary
    * tie-break enters the contract), at the cost of the realized cut
    * overshooting when the boundary class is wide.
    *
    * `vec_id` is the embeddings key, as in s9: one output row per
    * embeddings row.
    *
    * Scale shape: s9's assignment verbatim ([[topicCells]], one narrow
    * [[graft.functions.centroidArgmax]] map whose score is `cos_proto`;
    * no fan-out, no `vec_id` exchange, no doc-granular window); pruning
    * works over the (cluster, cos_proto) HISTOGRAM — bounded by k × the
    * rounded-cosine domain, never by corpus size — with the cumulative
    * window and the cluster size (a second window over the same
    * partitioning) on that bounded relation only, and the verdict
    * applied to a second pass of the narrow map as a broadcast boundary
    * join (t17's cutoff device). Cluster count grows as √n under
    * [[ivfK]], so per-cluster histogram slices stay balanced as the
    * corpus scales. */
  def s10ProtoPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val n = corpusCount(s, dir)
    val k = ivfK(n)
    val cf: Array[Array[Float]] =
      centroidsFor(s, dir, k).map(_.map(_.toFloat))
    graft.sources.TrainedOracle.publish("s10_proto_prune", s10SqlFor(cf))
    val assign = topicCells(Tables.embeddings(s, dir), cf)
    val hist = assign.groupBy($"cluster", $"cos_proto")
      .agg(count(lit(1)).as("hc"))
    val wHigher = Window.partitionBy($"cluster").orderBy($"cos_proto".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cut = hist
      .withColumn("higher", coalesce(sum($"hc").over(wHigher), lit(0L)))
      .withColumn("cluster_docs", sum($"hc").over(Window.partitionBy($"cluster")))
      .select($"cluster", $"cos_proto", $"cluster_docs",
        ($"higher" < expr(s"(cluster_docs + ${ProtoPruneDen - 1}) div $ProtoPruneDen"))
          .as("proto"))
    assign.join(broadcast(cut), Seq("cluster", "cos_proto"))
      .select($"vec_id", $"cluster", $"cos_proto", $"cluster_docs",
        (!$"proto").as("keep"))
  }

  /** The s10 oracle with the trained centroids spliced as literals
    * (s9's device); the boundary rule replayed as a cumulative window
    * over the (cluster, cos_proto) histogram. */
  private[graft] def s10SqlFor(cf: Array[Array[Float]]): String = {
    val rows = cf.zipWithIndex.map { case (c, i) =>
      c.map(_.toDouble.toString).mkString(s"($i, CAST([", ", ", "] AS DOUBLE[]))")
    }.mkString(",\n    ")
    s"""WITH cent(cell_id, c_vec) AS (VALUES
       |    $rows),
       |sc AS (
       |  SELECT e.vec_id, c.cell_id,
       |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                 c.c_vec), 6) AS s
       |  FROM embeddings e CROSS JOIN cent c),
       |asg AS (
       |  SELECT vec_id, cell_id AS cluster, s AS cos_proto FROM (
       |    SELECT vec_id, cell_id, s,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY s DESC, cell_id DESC) AS rk
       |    FROM sc) t
       |  WHERE rk = 1),
       |sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_docs
       |       FROM asg GROUP BY 1),
       |hist AS (SELECT cluster, cos_proto, COUNT(*) AS hc
       |         FROM asg GROUP BY 1, 2),
       |cut AS (
       |  SELECT h.cluster, h.cos_proto,
       |    COALESCE(SUM(h.hc) OVER (PARTITION BY h.cluster
       |      ORDER BY h.cos_proto DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      < (sz.cluster_docs + ${ProtoPruneDen - 1}) // $ProtoPruneDen
       |      AS proto
       |  FROM hist h JOIN sz USING (cluster))
       |SELECT a.vec_id, a.cluster, a.cos_proto, sz.cluster_docs,
       |  NOT ct.proto AS keep
       |FROM asg a
       |JOIN sz USING (cluster)
       |JOIN cut ct ON ct.cluster = a.cluster
       |  AND ct.cos_proto = a.cos_proto""".stripMargin
  }

  private val s10Fallback =
    """SELECT CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS INT) AS cluster,
      |  CAST(NULL AS DOUBLE) AS cos_proto,
      |  CAST(NULL AS BIGINT) AS cluster_docs, CAST(NULL AS BOOLEAN) AS keep
      |WHERE FALSE""".stripMargin

  // ------------------------------------ t21 semantic decontamination

  /** Semantic-contamination threshold on the rounded cosine. Measured on
    * the fixture corpus: natural training-vs-eval max cosines span
    * [0.10, 0.49] with p99 ≈ 0.43, so τ = 0.45 flags only the genuine
    * top tail; a real CLIP/E5 embedding space runs far higher τ — the
    * CONTRACT is the screen, the constant is per-space calibration
    * (the [[graft.operators.MultimodalOps.AlignTau]] posture). */
  private[graft] val SemDecontTau = 0.45

  /** t21: SEMANTIC decontamination — the published complement
    * (Phi-style) of the exact-gram ladder: t10/t19/st12 catch verbatim
    * [[graft.operators.TextOps.DecontGram]]-token overlap, but a
    * paraphrased eval item shares no 8-gram; its EMBEDDING still sits
    * next to the eval doc's. Every training document's embedding is
    * scored against the HELD-OUT eval slice (t10's doc_id %
    * [[graft.operators.TextOps.DecontMod]] == 0 convention, applied to
    * vec_id — the same docs), `max_eval_cos` = its nearest eval cosine
    * (rounded 6 dp — the s1/d5 full-hash-compare contract), and docs at
    * or above [[SemDecontTau]] are flagged `contaminated`. Registered
    * under the t-series: it completes the decontamination ladder, not
    * the ANN surface.
    *
    * Scale shape: the eval slice is benchmark-sized and FIXED, so it
    * broadcasts (the st12 argument, embedding-space edition); scoring
    * is the broadcast fan-out collapsed by a map-side-combined max
    * aggregate — one (vec_id, partial-max) exchange, no window, nothing
    * driver-side. An eval suite past [[EvalBroadcastCap]] switches to
    * [[semanticDecontProbe]] — the persisted-IVF probe path with
    * EXACT cell-bound pruning, bit-identical verdicts (spec-asserted
    * and oracle-checked: the 80× scale leg crosses the cap live); at
    * every scale the training side is scanned exactly once. */
  def t21SemanticDecont(s: SparkSession, dir: String): DataFrame = {
    val n = corpusCount(s, dir)
    val evalN = n / graft.operators.TextOps.DecontMod
    val emb = Tables.embeddings(s, dir)
    // k capped at the inline bound: the probe path is EXACT at ANY k
    // (a coarser quantizer only enlarges cells — less pruning
    // resolution, same verdicts), so capping costs correctness nothing
    // and removes the k > InlineCentroidCap crash window a √evalN
    // sizing would open past 65k eval vectors
    if (evalN <= EvalBroadcastCap) semanticDecontOf(emb)
    else semanticDecontProbe(emb,
      centroidsFor(s, dir, math.min(ivfK(evalN), InlineCentroidCap)))
  }

  /** Eval-slice size above which t21 stops broadcasting the eval
    * embeddings and probes the cell-partitioned index instead. Sized to
    * the same order as the driver-side collect bounds: 10k × dim × 4 B
    * ≈ 4 MB is comfortably broadcastable; past it the broadcast cost
    * (and the N_train × N_eval fan-out) grows without bound while the
    * probe path's fan-out stays bounded by the per-vector probe set. */
  private[graft] val EvalBroadcastCap = 10000L

  /** The t21 kernel over any (vec_id, embedding) relation — t21 binds
    * the corpus; the spec drives planted paraphrase embeddings. */
  private[graft] def semanticDecontOf(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val isEval = $"vec_id" % graft.operators.TextOps.DecontMod === 0
    val ev = emb.where(isEval)
      .select($"vec_id".as("ev_id"), $"embedding".as("ev_emb"))
    emb.where(!isEval)
      .crossJoin(broadcast(ev))
      .select($"vec_id", round(cosineCol($"embedding", $"ev_emb"), 6).as("c"))
      .groupBy($"vec_id").agg(max($"c").as("max_eval_cos"))
      .select($"vec_id", $"max_eval_cos",
        ($"max_eval_cos" >= SemDecontTau).as("contaminated"))
  }

  /** t21's indexed-probe path — EXACT, not approximate-with-recall: the
    * broadcast path's bit-identical twin for eval suites past broadcast
    * size. The eval slice is bucketed by the persisted (dir, k)
    * quantizer (s2's machinery, zero new geometry) and each cell
    * publishes its angular radius r_c = max angle(member, centroid).
    * For a training vector q at angle θ_c to cell c's centroid, the
    * spherical triangle inequality gives hard bounds on any member e:
    *
    *   cos(θ_c + r_c) ≤ cos(q, e) ≤ cos(θ_c − r_c)
    *
    * so LB_c = cos(min(π, θ_c + r_c)) is ACHIEVED by some member (the
    * cell is nonempty) and UB_c = cos(max(0, θ_c − r_c)) caps every
    * member. q probes exactly the cells whose UB clears its best LB
    * (minus a 1e-9 margin dwarfing double trig error) — the true-max
    * cell always survives (its UB ≥ true max ≥ every LB), so the probed
    * max IS the exact max and the output hash-matches the brute-force
    * oracle by construction (st7b's no-false-negative posture in
    * embedding space; the bound is Elkan 2003's triangle-inequality
    * device on the unit sphere). Pruning power is data-dependent and
    * MEASURED before sizing the switch ([[graft.T21ScaleProbe]], the
    * m10 pre-ship-probe discipline): on a clustered space pruning is
    * total (the spec's planted corpus probes 1 of k cells); on the
    * ISOTROPIC 80× replica angles concentrate at 90° and radii cover
    * the sphere, so the probed ratio measured exactly 1.000 and the
    * probe path ran 1.5× SLOWER than broadcast (228–262 s vs
    * 149–162 s) — which is the information-theoretic floor talking: no
    * EXACT screen can beat Ω(train × eval) pair work on isotropic
    * data, and an nprobe-capped approximate screen would silently
    * change verdicts past the size threshold. [[EvalBroadcastCap]] is
    * therefore a broadcast-FEASIBILITY bound, not a speed bound: below
    * it the linear broadcast plan is optimal and ships; above it
    * broadcast is off the table physically and this path keeps the
    * semantics exact at the cell-partitioned join's cost, with the
    * clustered-space pruning as upside on real embedding spaces.
    *
    * Scale shape: the bounds are k inline sub-expressions in ONE narrow
    * projection over the training scan (no fan-out exchange — the
    * probeCellsInline geometry); the per-cell radius aggregate collapses
    * map-side to ≤ k rows and collects driver-side (bounded by index
    * geometry, never data); the candidate join is an equi-join on cell
    * against the cell-partitioned eval slice — at deployment, partition
    * pruning on the persisted index table. The dispatch caps k at
    * [[InlineCentroidCap]] (exactness holds at any k — only pruning
    * RESOLUTION saturates at 256 cells), so the path works at every
    * eval size; a deployment wanting finer resolution past that
    * implements the broadcast-centroid-relation variant (probeCells'
    * k > cap arm), which is a speed lever, never a correctness one. */
  private[graft] def semanticDecontProbe(emb: DataFrame,
      centroids: Array[Array[Double]]): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val (cand, evCells) = semanticProbePlan(emb, centroids)
    cand
      .join(evCells.select($"cell", $"ev_emb").hint("SHUFFLE_HASH"), Seq("cell"))
      .select($"vec_id", round(cosineCol($"embedding", $"ev_emb"), 6).as("c"))
      .groupBy($"vec_id").agg(max($"c").as("max_eval_cos"))
      .select($"vec_id", $"max_eval_cos",
        ($"max_eval_cos" >= SemDecontTau).as("contaminated"))
  }

  /** [[semanticDecontProbe]]'s candidate stage, exposed so the spec can
    * measure pruning: returns (the (vec_id, embedding, cell) probe
    * relation, the cell-assigned eval slice). */
  private[graft] def semanticProbePlan(emb: DataFrame,
      centroids: Array[Array[Double]]): (DataFrame, DataFrame) = {
    val s = emb.sparkSession
    import s.implicits._
    require(centroids.length <= InlineCentroidCap,
      s"t21 probe path: k=${centroids.length} exceeds the inline cap " +
        s"$InlineCentroidCap — use the broadcast centroid-relation variant")
    val isEval = $"vec_id" % graft.operators.TextOps.DecontMod === 0
    val ev = emb.where(isEval)
      .select($"vec_id".as("ev_id"), $"embedding".as("ev_emb"))
    // materialized: the radius aggregate below and the candidate join
    // both read the cell-assigned eval slice
    val evCells = graft.sources.Materialize(assignCells(ev, "ev_id", "ev_emb", centroids))
    val clamp = (c: Column) => greatest(lit(-1.0), least(lit(1.0), c))
    // the centroid is an arbitrary reference point — float-rounding it
    // is sound because the radius AND the query bounds both use the
    // SAME rounded vector (the cosineSim kernel is float-array native)
    // per-cell angular radius: ≤ k rows, map-side-combined, driver-bounded
    val radii = evCells
      .join(broadcast(centroidRelation(s, centroids)), $"cell" === $"cell_id")
      .select($"cell",
        acos(clamp(cosineCol($"ev_emb", $"c_vec".cast("array<float>"))))
          .as("ang"))
      .groupBy($"cell").agg(max($"ang").as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val stats = radii.toSeq.sortBy(_._1)
      .map { case (cid, r) => (cid, centroids(cid), r) }
    val bounds = array(stats.map { case (cid, mu, r) =>
      val th = acos(clamp(cosineCol($"embedding",
        typedLit(mu.map(_.toFloat).toSeq))))
      struct(lit(cid).as("cell"),
        cos(greatest(lit(0.0), th - lit(r))).as("ub"),
        cos(least(lit(math.Pi), th + lit(r))).as("lb"))
    }: _*)
    val lbmax = array_max(transform(bounds, x => x.getField("lb")))
    val probed = filter(bounds, x => x.getField("ub") >= lbmax - lit(1e-9))
    val cand = emb.where(!isEval)
      .select($"vec_id", $"embedding",
        explode(transform(probed, x => x.getField("cell"))).as("cell"))
    (cand, evCells)
  }

  private val t21Sql = {
    val m = graft.operators.TextOps.DecontMod
    s"""WITH ev AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE vec_id % $m = 0),
       |tr AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE vec_id % $m <> 0),
       |sc AS (
       |  SELECT t.vec_id,
       |    MAX(round(list_cosine_similarity(t.v, e.v), 6)) AS max_eval_cos
       |  FROM tr t CROSS JOIN ev e GROUP BY 1)
       |SELECT vec_id, max_eval_cos,
       |  max_eval_cos >= $SemDecontTau AS contaminated
       |FROM sc""".stripMargin
  }

  /** Loud out-of-order sentinel (see [[graft.sources.TrainedOracle]]):
    * schema-correct, zero rows — a dump taken before the s9 query ran
    * fails the row-count compare instead of silently passing. */
  private val s9Fallback =
    """SELECT CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS INT) AS cluster,
      |  CAST(NULL AS BIGINT) AS cluster_docs,
      |  CAST(NULL AS BIGINT) AS cluster_share_micro
      |WHERE FALSE""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_cosine_topk" -> s1CosineTopk _,
    "s2_ann_ivf" -> s2AnnIvfChecked _,
    "s3_ann_cell_pruned" -> ((s, d) => s3AnnCellPruned(s, d)),
    "s4_knn_join" -> s4KnnJoinChecked _,
    "s5_pq_rerank" -> s5PqRerankChecked _,
    "s6_centroid_outlier" -> s6CentroidOutlier _,
    "s7_ivfpq" -> s7IvfPqChecked _,
    "s8_ivfpq_upsert_serve" -> s8IvfPqUpsertServe _,
    "s9_topic_clusters" -> s9TopicClusters _,
    "s10_proto_prune" -> s10ProtoPrune _,
    "t21_semantic_decont" -> t21SemanticDecont _)

  // def, not val: s9's entry reads the TrainedOracle registry, populated
  // when the s9 query resolves its persisted quantizer (Verify's order).
  def oracleSql: Map[String, String] = Map(
    "s1_cosine_topk" -> s1Sql,
    "s2_ann_ivf" -> s2Sql,
    "s3_ann_cell_pruned" -> s3Sql,
    "s4_knn_join" -> s4Sql,
    "s5_pq_rerank" -> s5Sql,
    "s6_centroid_outlier" -> s6Sql,
    "s7_ivfpq" -> s7Sql,
    "s8_ivfpq_upsert_serve" -> s8Sql,
    "s9_topic_clusters" ->
      graft.sources.TrainedOracle.sqlFor("s9_topic_clusters", s9Fallback),
    "s10_proto_prune" ->
      graft.sources.TrainedOracle.sqlFor("s10_proto_prune", s10Fallback),
    "t21_semantic_decont" -> t21Sql)
}
