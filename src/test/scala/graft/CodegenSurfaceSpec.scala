package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, ScalaUDF}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Mechanical guard for the "native functions, not UDFs" discipline: every
  * query's physical plan must be UDF-free except the documented exceptions
  * whose kernels have no built-in equivalent (trial-division primality,
  * Gauss-Jordan inverse, the stubbed multimodal codec). A UDF sneaking
  * into any other operator breaks whole-stage codegen on the hot path and
  * fails here before it can regress a benchmark.
  *
  * The same walk takes the inventory of higher-order functions
  * (`transform`, `filter`, `exists`, `zip_with`, ...): they are
  * `CodegenFallback`, so they run interpreted per element inside their
  * stage. The inventory must equal [[hofQueries]], so a new one is a
  * conscious addition and a removed one is struck from the list. */
class CodegenSurfaceSpec extends SparkSpec {

  /** Plans allowed to contain UDF / typed-lambda evaluation nodes. */
  private val documentedUdfQueries = Set(
    "q2_prime_sum",        // isPrime — no built-in primality
    "q3_matrix_inverse",   // Gauss-Jordan — no built-in linalg
    "m2_image_features",   // typed mapPartitions batch path (codec stub)
    "m3_frame_sample",     // stub codec UDF
    "m4_resize",           // typed mapPartitions batch path (codec stub)
    "st7b_bloom_ingest_screen") // broadcast Bloom probe: might_contain has no Column spelling

  /** Queries whose plans hold higher-order functions, with their names.
    * The span tier (d10, d11, d12, e4) and the token-id digest (t4d) run
    * codegen'd kernels and must stay off this list. */
  private val hofQueries: Map[String, Set[String]] = Map(
    "d14_boilerplate_removal" -> Set("aggregate", "exists", "filter"),
    "d16_url_dedup" -> Set("filter"),
    "d2_minhash_lsh" -> Set("transform"),
    "d3_simhash_neardup" -> Set("filter", "transform", "zip_with"),
    "d5_embedding_neardup" -> Set("transform"),
    "d6_dedup_keep" -> Set("transform"),
    "e11_release_changelog" -> Set("aggregate", "filter", "transform", "zip_with"),
    "e1_pipeline" -> Set("filter", "transform", "zip_with"),
    "e2_training_shards" -> Set("filter", "transform", "zip_with"),
    "e3_corpus_curation" -> Set("filter", "transform", "zip_with"),
    "e5_attribute_sheet" -> Set("aggregate", "filter", "transform", "zip_with"),
    "e6_corpus_report" -> Set("aggregate", "filter", "transform", "zip_with"),
    "e7_rule_ablation" -> Set("aggregate", "filter", "transform", "zip_with"),
    "e9_attrition_funnel" -> Set("aggregate", "filter", "transform", "zip_with"),
    "h1_html_extract" -> Set("filter", "transform"),
    "k5b_signature_overlap" -> Set("aggregate", "zip_with"),
    "k7_novelty_curve" -> Set("zip_with"),
    "m10_video_neardup" -> Set("filter", "transform"),
    "m6_image_neardup" -> Set("filter", "transform"),
    "m7_image_text_align" -> Set("aggregate", "transform", "zip_with"),
    "m8_audio_neardup" -> Set("filter", "transform"),
    "p6_dsir_resample" -> Set("aggregate", "transform"),
    "p8_curriculum_order" -> Set("zip_with"),
    "q19_string_agg" -> Set("array_sort", "transform"),
    "s5_pq_rerank" -> Set("aggregate", "zip_with"),
    "s6_centroid_outlier" -> Set("aggregate", "transform", "zip_with"),
    "s7_ivfpq" -> Set("aggregate", "zip_with"),
    "s8_ivfpq_upsert_serve" -> Set("aggregate", "zip_with"),
    "st10_stream_quality_gate" -> Set("filter", "transform", "zip_with"),
    "st11_stream_attribute_sheet" -> Set("filter", "transform", "zip_with"),
    "st12_stream_decont_screen" -> Set("zip_with"),
    "t10_decontaminate" -> Set("zip_with"),
    "t11_perplexity_filter" -> Set("zip_with"),
    "t12_boilerplate" -> Set("zip_with"),
    "t14_tfidf_terms" -> Set("zip_with"),
    "t15_ref_lm_score" -> Set("zip_with"),
    "t16_gopher_rules" -> Set("filter", "transform"),
    "t17_ppl_buckets" -> Set("zip_with"),
    "t18_quality_classifier" -> Set("aggregate", "transform"),
    "t19_span_decontaminate" -> Set("zip_with"),
    "t20_ingest_novelty" -> Set("zip_with"),
    "t22_segment_langmix" -> Set("aggregate", "filter", "transform"),
    "t23_domain_rollup" -> Set("filter"),
    "t24_lang_stopwords" -> Set("filter"),
    "t26_lang_blockwords" -> Set("filter"),
    "t2_lang_id" -> Set("filter"),
    "t3_quality_score" -> Set("filter"),
    "t5_fingerprint" -> Set("array_sort"),
    "t7_repetition" -> Set("zip_with"),
    "t8_bigram_lm" -> Set("zip_with"),
    "t9b_pii_validated" -> Set("aggregate", "filter", "transform"))

  // mr_* run eagerly through Engine.mapReduce (RDD lambdas, not SQL UDFs)
  // and produce local results; they have no SQL plan to scan.
  private val planless = (k: String) => k.startsWith("mr_") || k == "sys_server_spec"

  /** Every physical node of `plan`: an adaptive plan is walked through its
    * `inputPlan` (the AQE node itself is a leaf with no expressions), a
    * cached relation through its cached plan, and subqueries too. Walks
    * the expression trees, not `plan.toString`, which truncates wide
    * projections at maxToStringFields. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.inputPlan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private lazy val plans: Map[String, Seq[SparkPlan]] = SparkEntry.queries.toSeq
    .filterNot { case (k, _) => planless(k) }
    .map { case (name, fn) => name -> nodes(fn(spark, sf).queryExecution.executedPlan) }
    .toMap

  private lazy val surfaces: Map[String, Seq[Expression]] = plans.map { case (name, ns) =>
    name -> ns.flatMap(_.expressions.flatMap(_.collect { case e => e }))
  }

  /** The canonical forms of the graft kernels (the `GraftExpressions`
    * package) inside `es`. */
  private def kernels(es: Seq[Expression]): Set[Expression] = es.flatMap(_.collect {
    case k if k.getClass.getPackage.getName == "org.apache.spark.sql.graftext" => k.canonicalized
  }).toSet

  test("every non-exempt query plan is UDF-free") {
    val offenders = surfaces.collect {
      case (name, es) if !documentedUdfQueries(name) && es.exists(_.isInstanceOf[ScalaUDF]) => name
    }
    assert(offenders.isEmpty, s"unexpected UDFs in: ${offenders.toSeq.sorted.mkString(", ")}")
  }

  test("kernel once: no graft kernel runs both in a filter and in a projection of one query") {
    // Catalyst copies a projected expression into a filter it pushes
    // below the projection (an inferred isnotnull, a threshold pushed into
    // a join or a scan), and the kernel then runs twice per row
    val twice = plans.toSeq.sortBy(_._1).flatMap { case (name, ns) =>
      val filtered = kernels(ns.flatMap {
        case f: FilterExec => Seq(f.condition)
        case f: FileSourceScanExec => f.dataFilters
        case _ => Nil
      })
      val projected = kernels(ns.flatMap {
        case p: ProjectExec => p.projectList
        case _ => Nil
      })
      (filtered intersect projected).map(k => s"$name: ${k.prettyName}")
    }
    assert(twice.isEmpty, s"kernels evaluated in a filter and again in a projection:\n" +
      twice.mkString("\n"))
  }

  test("higher-order functions appear only in the queries the inventory lists") {
    val found = surfaces.map { case (name, es) =>
      name -> es.collect { case h: HigherOrderFunction => h.prettyName }.toSet
    }.filter(_._2.nonEmpty)
    val diff = (found.keySet ++ hofQueries.keySet).toSeq.sorted
      .filter(k => found.get(k) != hofQueries.get(k))
      .map(k => s"$k: found ${found.getOrElse(k, Set.empty).toSeq.sorted.mkString(",")}; " +
        s"listed ${hofQueries.getOrElse(k, Set.empty).toSeq.sorted.mkString(",")}")
    assert(diff.isEmpty, s"higher-order function inventory drifted:\n${diff.mkString("\n")}")
    for (q <- Seq("d10_span_dedup", "d11_span_intervals", "d12_span_removal",
        "e4_clean_pack", "t4d_token_ids"))
      assert(!hofQueries.contains(q) && !found.contains(q), s"$q runs a higher-order function")
  }
}
