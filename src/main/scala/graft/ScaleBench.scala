package graft

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType
import java.nio.file.{Files, Paths}

/** Scale-headroom proof: materialize a FACTOR× replica of a testdata SF
  * dir and run the FULL SparkEntry suite against it, recording per-query
  * wall time and asserting every registered accuracy contract
  * (recall_ok / sketch-bound / inv_ok booleans) still holds at the larger
  * scale. This is the round-6 validation the sf0.1 bench cannot give:
  * planner blowups, boolean flips at scale, and iteration-count growth
  * only show up when the data actually grows.
  *
  * The replica is NOT the dup-density stress corpus of SCALING.md (that
  * one deliberately makes every doc a 20-way near-dup to measure the
  * quadratic verify stage). Here the goal is "same workload, 10× the
  * volume", so each copy must look like MORE corpus, not MORE duplicates:
  *
  *  - every FK key column gets `+ copy * 1e9` so the star schema stays
  *    referentially intact per copy and keys never collide across copies;
  *  - document text is vocabulary-remapped per copy (every word suffixed
  *    with the copy tag): within-copy shingle/Jaccard/SimHash structure —
  *    including the planted exact and near duplicates — is preserved
  *    EXACTLY (same word-count geometry), while cross-copy similarity is
  *    zero. Dedup outputs therefore scale linearly (10× docs → 10× pairs),
  *    which is what a real 10× corpus does at constant dup rate;
  *  - embeddings are cyclically rotated by `copy` positions: norms are
  *    preserved, but rotated random vectors are effectively independent,
  *    so the ANN tier sees 10× genuinely distinct points (identical
  *    copies would make exact-vs-IVF recall degenerate on ties).
  *
  * Region/nation are fixed dimensions and are copied once, unchanged —
  * scaling a corpus does not mint new countries.
  *
  * Output: one JSON line (stdout + target/scale_bench.json) with
  * per-query seconds, output rows, and contract-boolean status.
  * `SPARK_GRAFT_ONLY=a,b,c` narrows the run to those queries
  * ([[Session.selectedQueries]]); such a record says `"partial":true`
  * and lists the queries it ran.
  * Methodology is Bench's ([[Session.passes]]): full warm-up pass, then
  * three timed passes, per-query median, cold cache per timed query.
  */
object ScaleBench {

  /** Key offset per copy — far above any sf0.1 key (max ~600k). */
  private val Off = 1000000000L

  /** The per-copy embedding transform: cyclic rotation by (copy mod dim),
    * and for the second block of dim copies also a negation of odd
    * positions. Every member is ORTHOGONAL — norms and within-copy
    * cosines (planted near-dups included) are preserved exactly — and
    * the 2×dim members are pairwise distinct, so cross-copy cosines of
    * the same base vector are ~0 rather than the exact-duplicate ties
    * that would degenerate the ANN recall audit. (A raw rotation runs
    * out of distinct transforms at copy = dim: slice length went
    * negative there, which is how the 80× point failed first try.) */
  private[graft] def copyTransform(emb: org.apache.spark.sql.Column,
      copy: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val dim = size(emb)
    val rot = pmod(copy, dim).cast("int")
    val rotated = concat(
      slice(emb, rot + lit(1), dim - rot),
      slice(emb, lit(1), rot))
    when((copy / dim).cast("int") % 2 === 1,
      transform(rotated, (x, i) => when(i % 2 === 1, -x).otherwise(x)))
      .otherwise(rotated)
  }

  /** Output columns that are accuracy CONTRACTS: every row must be true.
    * (Other boolean outputs — keep bits, split flags — are data.) */
  private val ContractCols = Set(
    "inv_ok",            // q3 / mr_q3 matrix inverse check
    "recall_ok",         // s2 / s3 / s4 ANN recall bounds
    "hll_within_5pct",   // k1
    "sketch_within_2pct",// k2
    "cms_within_bound",  // k3
    "merged_within_5pct",// k4
    "kll_p50_within_rank_eps", // k2b
    "kll_p95_within_rank_eps"  // k2b
  )

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      Paths.get("target", s"scale${factor}x").toAbsolutePath.toString)
    val spark = Session.local()

    if (!Files.exists(Paths.get(out, "_SCALE_DONE")))
      build(spark, base, factor, out)

    /** Row count and contract status of a frame the timed run has built. */
    def check(df: DataFrame): (Long, Boolean) = {
      val contracts = df.schema.fields
        .filter(f => f.dataType == BooleanType && ContractCols(f.name))
        .map(f => min(col(f.name)).as(f.name)) // min(bool): false iff any false
      val row = df.agg(count(lit(1)).as("n"), contracts.toSeq: _*).head()
      (row.getLong(0), (1 until row.length).forall(i => !row.isNullAt(i) && row.getBoolean(i)))
    }

    // Progress marker per (phase, query) on stderr — when a scale leg
    // dies mid-suite (r19: an 80× executor OOM), the last marker names
    // the culprit; without it the failure is an anonymous stage id.
    val selected = Session.selectedQueries
    val runs = Session.passes(selected) { (phase, n, fn) =>
      System.err.println(s"[scalebench] $phase $n")
      var built: DataFrame = null
      val outcome = Session.run(spark, n, fn, out,
        (name, df) => { built = df; Session.noop(name, df) })
      outcome match {
        case f: Session.Failed =>
          System.err.println(s"[scalebench] $phase $n FAILED $f")
          (outcome, -1L, false)
        case _ =>
          // contract booleans + row count, checked UNTIMED after the run
          try { val (rows, ok) = check(built); (outcome, rows, ok) }
          catch { case e: Throwable =>
            System.err.println(s"[scalebench] $phase $n contract check FAILED " +
              s"${e.getClass.getName}: ${e.getMessage}")
            (outcome, -1L, false)
          }
      }
    }
    val results = runs.map { case (n, ps) =>
      n -> ((Session.median(ps.map(_._1)).fold(-1.0)(_.totalS), ps.head._2,
        ps.forall(_._3)))
    }

    val qsJson = results.toSeq.sortBy(_._1).map { case (n, (t, rows, ok)) =>
      s""""$n":{"sec":${f"$t%.3f"},"rows":$rows,"contracts_ok":$ok}"""
    }.mkString("{", ",", "}")
    val total = results.values.collect { case (t, _, _) if t >= 0 => t }.sum
    val allOk = results.values.forall { case (t, _, ok) => t >= 0 && ok }
    val partial =
      if (selected.size == SparkEntry.queries.size) ""
      else s""","partial":true,"only":""" +
        selected.map(q => Session.jsonString(q._1)).sorted.mkString("[", ",", "]")
    val json = s"""{"metric":"scale_total","value":${f"$total%.2f"},"unit":"sec",""" +
      s""""factor":$factor,"base":"$base","all_contracts_ok":$allOk$partial,"queries":$qsJson}"""
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/scale_bench.json"), json + "\n")
    spark.stop()
    println(json)
  }

  /** Materialize the factor× replica. One `explode(sequence(...))` pass
    * per table — a single scan fans out to `factor` transformed copies. */
  def build(spark: SparkSession, base: String, factor: Int, out: String): Unit = {
    val copies = explode(expr(s"sequence(0L, ${factor - 1}L)"))

    def shiftKeys(df: DataFrame, keys: String*): DataFrame =
      keys.foldLeft(df.withColumn("copy", copies)) { (d, k) =>
        d.withColumn(k, col(k) + col("copy") * Off)
      }

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.drop("copy").repartition(parts)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")

    val rd = (n: String) => Tables.load(spark, base, n)

    // fixed dimensions: copied once, unchanged
    rd("region").write.mode("overwrite").parquet(s"$out/region.parquet")
    rd("nation").write.mode("overwrite").parquet(s"$out/nation.parquet")

    write(shiftKeys(rd("customer"), "c_custkey"), "customer", 4)
    write(shiftKeys(rd("supplier"), "s_suppkey"), "supplier", 1)
    write(shiftKeys(rd("part"), "p_partkey"), "part", 2)
    write(shiftKeys(rd("orders"), "o_orderkey", "o_custkey"), "orders", 8)
    write(shiftKeys(rd("lineitem"), "l_orderkey", "l_partkey", "l_suppkey"),
      "lineitem", 32)
    // events.ts is copied under whatever encoding the source carries
    // (raw INT64 nanos or micros timestamp) — Tables.events normalizes
    // on read in either case
    write(shiftKeys(rd("events"), "event_id", "user_id"), "events", 16)

    // documents: per-copy vocabulary remap (word ++ "~<copy>"), copy 0
    // verbatim. Word-count geometry (and thus within-copy similarity
    // structure, planted dups included) is exactly preserved per copy.
    val docs = shiftKeys(rd("documents"), "doc_id")
      .withColumn("text",
        when(col("copy") === 0, col("text")).otherwise(
          array_join(
            transform(split(col("text"), " "),
              w => concat(w, lit("~"), col("copy"))),
            " ")))
      .withColumn("n_chars", length(col("text")))
    write(docs, "documents", 16)

    // embeddings: per-copy orthogonal transform ([[copyTransform]]) —
    // norm- and within-copy-cosine-preserving, distinct per copy, so the
    // ANN tier sees factor× genuinely distinct points. The family has
    // exactly 2×dim distinct members, so derive the bound from the DATA
    // (a hardcoded 128 would silently reuse transforms — i.e. mint exact
    // duplicate vectors — if the corpus ever regenerated at a smaller
    // dim).
    val dim = rd("embeddings").select(size(col("embedding"))).head.getInt(0)
    require(factor <= 2 * dim,
      s"embedding replicator has 2*dim=${2 * dim} distinct transforms, got factor=$factor")
    val emb = shiftKeys(rd("embeddings"), "vec_id")
      .withColumn("embedding", copyTransform(col("embedding"), col("copy")))
    write(emb, "embeddings", 8)

    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "_SCALE_DONE"), s"factor=$factor base=$base\n")
    println(s"scale corpus built: $out (factor $factor)")
  }
}
