package graft

import org.apache.spark.sql.DataFrame

/** Encodes the shuffle/broadcast claims the scaladocs and SCALING.md make
  * as regression-proof assertions on the physical plans — the difference
  * between "the plan was right when reviewed" and "the plan is still
  * right". Counting `Exchange hashpartitioning` occurrences counts
  * SHUFFLES; `BroadcastExchange` is the cheap kind and counted separately.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def shuffles(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  private def scansOf(p: String, table: String): Int =
    s"$table\\.parquet".r.findAllIn(p).length

  private object aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** The per-row language scorer's shape in `name`'s executed plan:
    * exactly one lang_profile_scores kernel (never a copy made by
    * projection collapsing or filter pushdown), no trigram array build
    * (so no trigram Generate), and no profile relation to broadcast (it
    * was the one local relation these plans carried). Returns the plan
    * string. */
  private def kernelScorerPlan(name: String): String = {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.graftext.LangProfileScores
    val exec = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    val p = exec.toString
    val kernels = aqe.flatMap(exec)(_.expressions.flatMap(_.collect {
      case k: LangProfileScores => k
    })).size
    assert(kernels === 1, s"$name: $kernels lang_profile_scores, want 1:\n$p")
    assert(!p.contains("flatten(transform(filter(split(lower("),
      s"$name builds the trigram array again:\n$p")
    assert(aqe.collect(exec) { case l: LocalTableScanExec => l }.isEmpty,
      s"$name plans a profile relation:\n$p")
    p
  }

  /** The naive inverted-index join's shape ([[graft.operators.DedupOps]]'s
    * `sharedTrigramCounts`) in `df`'s FINAL adaptive plan (`df` is run):
    * one documents scan, one shingle_hashes kernel and no second copy of
    * it in an inferred `size(...) > 0` filter, no array lambdas, and one
    * `REPARTITION_BY_NUM` exchange on the trigram hash that both join
    * sides read (the second through exchange reuse), uncoalesced. */
  private def trigramJoinPlan(name: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, ZipWith}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.InputAdapter
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import org.apache.spark.sql.graftext.ShingleHashes
    df.collect()
    val exec = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        assert(a.toString.contains("isFinalPlan=true"), s"$name did not run:\n$a")
        a.executedPlan
      case other => fail(s"$name: not an adaptive plan:\n$other")
    }
    val p = exec.toString
    assert(scansOf(p, "documents") === 1, s"$name scans documents more than once:\n$p")
    val exprs = aqe.flatMap(exec)(_.expressions.flatMap(_.collect { case e => e }))
    assert(exprs.count(_.isInstanceOf[ShingleHashes]) === 1,
      s"$name evaluates shingle_hashes more than once per scan:\n$p")
    assert(!p.contains("size(shingle_hashes"), s"$name filters on the kernel:\n$p")
    assert(!exprs.exists(e => e.isInstanceOf[ArrayTransform] || e.isInstanceOf[ZipWith]),
      s"$name still runs an interpreted array lambda:\n$p")
    val joins = aqe.collect(exec) { case j: ShuffledHashJoinExec => j }
    assert(joins.size === 1, s"$name: one inverted-index join:\n$p")
    val sides = joins.head.children.map {
      case InputAdapter(c) => c
      case c => c
    }.map {
      case st: ShuffleQueryStageExec => st.plan
      case other => fail(s"$name: a join side reads ${other.nodeName}, not a bare " +
        s"shuffle stage (coalesced or split):\n$p")
    }
    val exchanges = sides.map {
      case e: ShuffleExchangeExec => e
      case r: ReusedExchangeExec => r.child.asInstanceOf[ShuffleExchangeExec]
      case other => fail(s"$name: ${other.nodeName} under a join side:\n$p")
    }
    assert(sides.count(_.isInstanceOf[ReusedExchangeExec]) === 1,
      s"$name: the two join sides must share one exchange:\n$p")
    assert(exchanges.forall(_.shuffleOrigin == REPARTITION_BY_NUM), s"$name:\n$p")
    assert(exchanges.forall(_.numPartitions ==
      spark.sessionState.conf.numShufflePartitions), s"$name:\n$p")
  }

  test("d15 and d4's naive arm: one scan, one kernel, one uncoalesced trigram exchange read by both join sides") {
    assert(!graft.operators.DedupOps.usePrefixPlan(spark, sf),
      "the fixture must dispatch d15 to the naive arm")
    trigramJoinPlan("d15_containment", SparkEntry.queries("d15_containment")(spark, sf))
    trigramJoinPlan("d4 naive arm", graft.operators.DedupOps.d4InvertedJaccard(spark, sf))
  }

  test("d5: cosine_similarity runs once per candidate pair") {
    import org.apache.spark.sql.graftext.CosineSimilarity
    val exec = SparkEntry.queries("d5_embedding_neardup")(spark, sf)
      .queryExecution.executedPlan
    val kernels = aqe.flatMap(exec)(_.expressions.flatMap(_.collect {
      case k: CosineSimilarity => k
    })).size
    assert(kernels === 1, s"d5: $kernels cosine_similarity, want 1:\n$exec")
  }

  test("e3: the capstone composition adds ZERO corpus scans over the sum of its stages") {
    // e3 joins four stage relations; the claim its scaladoc makes is that
    // composing them is id-width only — every documents/embeddings scan
    // in e3's plan is one of the stages' own, never a duplicate the
    // composition introduced. Stage queries are built fresh here so each
    // count is the stage's standalone plan.
    val e3 = plan("e3_corpus_curation")
    val stages = Seq("e1_pipeline", "t11_perplexity_filter", "t12_boilerplate")
      .map(plan)
    assert(scansOf(e3, "documents") ===
      stages.map(scansOf(_, "documents")).sum,
      s"e3 documents scans must equal the sum of its stages' — capstone " +
        s"composition may not re-scan the corpus\n$e3")
    assert(scansOf(e3, "embeddings") ===
      scansOf(plan("d9_embedding_cluster_dedup"), "embeddings"),
      "e3 embeddings scans must equal d9's")
  }

  test("e5: the fused sheet composition adds ZERO corpus scans — t16+t18 ride ONE projection") {
    // Round 19: t16's battery and t18's verdict are pure per-row
    // expressions, so the sheet computes them in ONE fused narrow
    // projection (one documents scan) instead of two stage relations
    // joined on doc_id — e5's scan count is therefore the three
    // shuffle-bearing stages' sum + exactly 1 (the fused scan), two
    // FEWER than the five standalone stages' sum.
    val e5 = plan("e5_attribute_sheet")
    val stages = Seq("t17_ppl_buckets", "d10_span_dedup",
      "t24_lang_stopwords").map(plan)
    assert(scansOf(e5, "documents") ===
      stages.map(scansOf(_, "documents")).sum + 1,
      s"e5 documents scans must equal its shuffle-bearing stages' sum " +
        s"plus the one fused t16+t18 scan:\n$e5")
    assert(!e5.contains("CartesianProduct"), e5)
  }

  test("e2/e4/t4d: the token-id ARRAY never enters an exchange — only the count and the 32-char digest ride a shuffle") {
    // the scale claim e2/e4's scaladocs make: the bpe_token_ids scan is
    // a narrow map whose array output collapses to (n, md5) IN THE SAME
    // stage; the packing window shuffles id-width rows + the digest.
    // The id space is array<int> and nothing else in these plans is —
    // the dedup tier's candidate shingle arrays are array<bigint> — so
    // "no exchange output carries array<int>" pins exactly this claim.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, IntegerType}
    for (name <- Seq("e2_training_shards", "e4_clean_pack", "t4d_token_ids")) {
      val exec = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan
      val leaked = exec.collect {
        case e: ShuffleExchangeExec if e.child.output.exists(a =>
          a.dataType == ArrayType(IntegerType, containsNull = false)) => e
      }
      assert(leaked.isEmpty,
        s"$name ships the raw id array through an exchange:\n$exec")
      // and the kernel is really in the plan (the claim is non-vacuous)
      assert(exec.toString.contains("bpe_token_ids"), s"$name:\n$exec")
    }
  }

  test("q1_agg: partial+final aggregation over exactly one shuffle") {
    val p = plan("q1_agg")
    assert(shuffles(p) === 1, p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q5_join_broadcast: dims broadcast — no shuffle-family join") {
    val p = plan("q5_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q9_topk: TakeOrderedAndProject, never a global sort") {
    val p = plan("q9_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("s1: query set broadcast; the only shuffle is the per-query top-k") {
    val p = plan("s1_cosine_topk")
    // the != self-pair condition makes this a BroadcastNestedLoopJoin —
    // dense scoring of every (query, corpus) pair against the 20-row
    // broadcast side, which IS the operator's semantics
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(shuffles(p) === 1, s"corpus side must not shuffle:\n$p")
  }

  test("k6: token agg then vocab-bounded bucket agg — two map-side-combined exchanges, text-only scan") {
    val p = plan("k6_zipf_histogram")
    assert(shuffles(p) === 2,
      s"k6 must have exactly the token and bucket exchanges:\n$p")
    assert(!p.contains("BroadcastExchange"), s"k6 should not join:\n$p")
    assert("partial".r.findFirstIn(p.toLowerCase).isDefined,
      s"k6 must map-side combine:\n$p")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(read.isDefined, s"no ReadSchema in:\n$p")
    val cols = read.get.split(",").map(_.split(":")(0).trim).toSet
    assert(cols === Set("text"), s"k6 must scan only text, got $cols:\n$p")
  }

  test("narrow text/multimodal maps shuffle nothing at all") {
    // st10 rides here too: the ingest quality gate is corpus-free, so
    // its batch registration must be the same pure narrow map its
    // streaming mode runs statelessly
    // m9 rides here too: the shot-boundary kernel reduces per-doc
    // INSIDE the task (two rolling histograms), so nothing shuffles
    for (q <- Seq("t1_text_stats", "t3_quality_score", "t16_gopher_rules",
        "st10_stream_quality_gate", "m1_binary_meta", "m9_scene_cuts")) {
      val p = plan(q)
      assert(shuffles(p) === 0, s"$q must be a pure narrow map:\n$p")
      assert(!p.contains("BroadcastExchange"), s"$q should not need a join:\n$p")
    }
  }

  test("p2/t9: sampling filter and PII scrub are pure narrow maps") {
    for (q <- Seq("p2_stratified_sample", "t9_pii_redact")) {
      val p = plan(q)
      assert(shuffles(p) === 0, s"$q must not shuffle:\n$p")
      assert(!p.contains("BroadcastExchange"), s"$q should not join:\n$p")
    }
  }

  test("t4/t4b: one map-side-combined exchange each; t4b's scan reads only (source, text)") {
    for (q <- Seq("t4_token_count", "t4b_bpe_token_count")) {
      val p = plan(q)
      // narrow per-row map into the O(sources) aggregate: partial agg
      // below the single exchange, final above it
      assert(shuffles(p) === 1, s"$q must have exactly the source agg exchange:\n$p")
      assert(!p.contains("BroadcastExchange"), s"$q should not join:\n$p")
      assert("partial_sum|partial".r.findFirstIn(p.toLowerCase).isDefined,
        s"$q must map-side combine:\n$p")
    }
    // the BPE kernel needs nothing but the grouping key and the text —
    // column pruning must reach the parquet scan
    val p = plan("t4b_bpe_token_count")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(read.isDefined, s"no ReadSchema in:\n$p")
    val cols = read.get.split(",").map(_.split(":")(0).trim).toSet
    assert(cols === Set("source", "text"),
      s"t4b must scan only (source, text), got $cols:\n$p")
  }

  test("p1: exactly the two ranking exchanges, nothing over the corpus text") {
    val p = plan("p1_sample_topk")
    // stage 1 partitions by (source, physical partition), stage 2 by
    // source over the k×partitions survivors — two id-only exchanges
    assert(shuffles(p) === 2, p)
  }

  test("st5: static side broadcast — the stream/fact side never shuffles") {
    val p = plan("st5_stream_static_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(shuffles(p) === 0, s"st5 must be shuffle-free:\n$p")
  }

  test("q19: one shuffle — the fingerprint aggregate") {
    val p = plan("q19_string_agg")
    assert(shuffles(p) === 1, p)
  }

  test("runtime bloom filter: a selective dim filter injects might_contain into the fact scan") {
    // The optimizer lever for selective fact-fact joins at scale: Spark's
    // InjectRuntimeFilter builds a bloom filter from the filtered side and
    // pushes `might_contain` onto the probe side, cutting shuffle input
    // before the join. Size thresholds are tuned for real clusters, so
    // the test lowers them to demonstrate the mechanism at fixture scale.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val l = graft.sources.Tables.lineitem(spark, sf)
      val o = graft.sources.Tables.orders(spark, sf)
        .where(org.apache.spark.sql.functions.col("o_totalprice") > 400000)
      val p = l.join(o, org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
        .groupBy(org.apache.spark.sql.functions.col("o_orderpriority"))
        .count()
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"expected an injected runtime bloom filter in:\n$p")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("q22: salted agg — first exchange spreads (hot_key, salt), second recombines on hot_key") {
    val p = plan("q22_skew_salted")
    assert(shuffles(p) === 2, p)
    val keys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(keys.exists(k => k.contains("hot_key") && k.contains("salt")),
      s"stage-1 exchange must carry the salt:\n$p")
    assert(keys.exists(k => k.contains("hot_key") && !k.contains("salt")),
      s"stage-2 exchange must recombine on the bare key:\n$p")
  }

  test("d10: two hash exchanges — the 8-byte gh count and the per-doc agg; spans never shuffle as text") {
    val p = plan("d10_span_dedup")
    assert(shuffles(p) === 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // both exchanges carry hashed/aggregated rows, so no exchange input
    // may include the raw span string column (the windows are hashed to
    // gh at the scan, the t12 discipline)
    assert(!"Exchange hashpartitioning\\(col#".r.findAllIn(p).hasNext, p)
  }

  test("d12: keep-first rides the class count, no window or sort on gh, the cut is a broadcast join condition; the rewrite never explodes tokens") {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThan, PosExplode}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Min}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, SortExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.graftext.SpanHashes
    val qe = SparkEntry.queries("d12_span_removal")(spark, sf).queryExecution
    val opt = qe.optimizedPlan
    def onClass(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Boolean =
      es.exists(_.references.exists(a => a.name == "gh" || a.name == "dup_gh"))
    // keep-first needs no ranking: no window is keyed on the window class
    // (the islands windows are keyed on doc_id)
    val windows = opt.collect { case w: LWindow => w }
    assert(windows.nonEmpty && windows.forall(w => !onClass(w.partitionSpec)),
      s"a window is keyed on the window class:\n$opt")
    // the class count carries the first occurrence: one aggregate keyed
    // on gh computes both the count and the minimum
    val classAggs = opt.collect {
      case a: Aggregate if onClass(a.groupingExpressions) => a.aggregateExpressions
        .flatMap(_.collect { case ae: AggregateExpression => ae.aggregateFunction })
    }
    assert(classAggs.size === 1 && classAggs.head.exists(_.isInstanceOf[Count]) &&
      classAggs.head.exists(_.isInstanceOf[Min]),
      s"expected one class aggregate with count and min:\n$opt")
    val exec = qe.executedPlan
    val p = exec.toString
    // the cut is the condition of the broadcast join on the class, and
    // nothing sorts the window stream by class (a struct min would)
    val cut = aqe.collect(exec) {
      case j: BroadcastHashJoinExec if onClass(j.leftKeys) && onClass(j.rightKeys) => j
    }
    assert(cut.size === 1 && cut.head.condition.exists(_.isInstanceOf[GreaterThan]),
      s"the keep-first cut must be a broadcast join condition:\n$p")
    assert(!aqe.collect(exec) { case s: SortExec => s }.exists(s =>
      onClass(s.sortOrder.map(_.child))), s"a sort is keyed on the window class:\n$p")
    assert(!p.contains("SortAggregate") && !p.contains("CartesianProduct"), p)
    // the cleaned-text rewrite is the span_cut kernel against the doc's
    // collected interval list, and no array lambda is left in the plan
    assert(p.contains("span_cut"), s"expected the span_cut kernel in the projection:\n$p")
    assert(!p.contains("lambdafunction"), s"d12 still runs an array lambda:\n$p")
    // the window hashes run once per consumer of the window stream (the
    // class count and the cut join), each as the input of a posexplode,
    // never again in an inferred filter or a scan's data filters
    def spans(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Int =
      es.map(_.collect { case k: SpanHashes => k }.size).sum
    assert(spans(aqe.flatMap(exec)(_.expressions)) === 2, s"d12: want 2 span_hashes:\n$p")
    val inGenerate = aqe.collect(exec) {
      case g: GenerateExec if g.generator.isInstanceOf[PosExplode] => spans(Seq(g.generator))
    }.sum
    assert(inGenerate === 2, s"every span_hashes must feed a Generate posexplode:\n$p")
    assert(spans(aqe.collect(exec) { case f: FilterExec => f.condition }) === 0,
      s"a filter evaluates span_hashes:\n$p")
    assert(spans(aqe.flatMap(exec) { case f: FileSourceScanExec => f.dataFilters
      case _ => Nil }) === 0, s"a scan filters on span_hashes:\n$p")
    val gens = "Generate (\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(gens.nonEmpty && gens.forall(_ == "posexplode"),
      s"unexpected token-level explode in the rewrite: $gens\n$p")
  }

  test("d12 under the scan floor: one documents floor exchange, which its other consumers reuse") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.SparkPlan
    val listing = graft.sources.Tables.fingerprint(spark,
      graft.sources.Tables.path(sf, "documents"))
    assert(listing.dataFiles === 1, s"the fixture must be a one-file table: $listing")
    def readsDocuments(plan: SparkPlan): Boolean = plan.collectFirst {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.getName == "documents.parquet") => f
    }.nonEmpty
    withConfs("spark.graft.scan.fillCores.minBytes" -> "1") {
      val df = SparkEntry.queries("d12_span_removal")(spark, sf)
      df.collect()
      val exec = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec =>
          assert(a.toString.contains("isFinalPlan=true"), s"d12 did not run:\n$a")
          a.executedPlan
        case other => fail(s"d12: not an adaptive plan:\n$other")
      }
      val p = exec.toString
      val floors = aqe.collect(exec) {
        case e: ShuffleExchangeExec
            if e.shuffleOrigin == REPARTITION_BY_NUM && readsDocuments(e.child) => e
      }
      assert(floors.size === 1, s"d12 must read documents through one floor exchange:\n$p")
      val reused = aqe.collect(exec) {
        case r: ReusedExchangeExec if readsDocuments(r.child) => r
      }
      assert(reused.size === 2,
        s"the class count, the semi-join and the final join must share the floor:\n$p")
      assert(reused.forall(_.child.canonicalized == floors.head.canonicalized), p)
    }
  }

  test("t19: islands merge over the eval-semi-joined hit sliver; grams shuffle hashed, never as text") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("t19_span_decontaminate")(spark, sf).queryExecution
    val opt = qe.optimizedPlan
    // the scale claim: the island windows run only over hits that
    // survived the eval-gram semi-join — the window's child subtree
    // must contain the LeftSemi join (clean corpus → ~empty stream)
    val ws = opt.collect { case w: LWindow => w }
    assert(ws.nonEmpty, s"expected the island windows in:\n$opt")
    assert(ws.forall(_.collectFirst {
      case j: Join if j.joinType == LeftSemi => j
    }.nonEmpty),
      s"every island window must sit above the eval semi-join:\n$opt")
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // grams are hashed to gh before any exchange — no raw gram string
    // column may feed a shuffle, and the only Generates are the
    // posexplode of the positional gram ladder
    val gens = "Generate (\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(gens.nonEmpty && gens.forall(_ == "posexplode"),
      s"unexpected token-level explode in the rewrite: $gens\n$p")
    assert(p.contains("span_cut"),
      s"expected the span_cut kernel in the projection:\n$p")
  }

  test("p7: corpus scanned once (cached supply relation); totals broadcast") {
    val p = plan("p7_epoch_plan")
    // the corpus-touching aggregate lives behind the persisted S-row
    // supply relation (filled once by the eager count) — BOTH consumers
    // (the plan rows and the totals) must read the InMemoryRelation.
    // (scansOf can't be used here: the cached relation's stored plan
    // text embeds its own FileScan line.)
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"both p7 consumers must read the cached supply:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"totals must attach as a broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t13: the driver-known term filter sits BELOW the tf aggregate") {
    // The scale claim t13's scaladoc makes: the first exchange carries
    // only the 9 query terms' occurrences, never one partial row per
    // (doc, term) for the whole corpus. Catalyst cannot push the
    // broadcast join under the aggregate itself, so the literal IN
    // filter must already sit on the exploded token stream — i.e. the
    // tf Aggregate's CHILD subtree must contain it.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter}
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    val opt = SparkEntry.queries("t13_bm25_topk")(spark, sf)
      .queryExecution.optimizedPlan
    val tfAggs = opt.collect {
      case a: Aggregate if a.groupingExpressions.size == 3 => a
    }
    assert(tfAggs.nonEmpty, s"expected the (doc_id, dl, term) aggregate in:\n$opt")
    assert(tfAggs.exists(_.child.collectFirst {
      case f: LFilter if f.condition.collectFirst {
        case i: In if i.list.size == graft.operators.TextOps.Bm25QueryTerms => i
        case i: InSet if i.hset.size == graft.operators.TextOps.Bm25QueryTerms => i
      }.nonEmpty => f
    }.nonEmpty),
      s"the ${graft.operators.TextOps.Bm25QueryTerms}-term IN filter must " +
        s"sit below the tf aggregate:\n$opt")
  }

  test("t14: tf is planned ONCE (df is a window, not a self-join); only the S scan touches documents again, source-only") {
    // The scale claim: the only corpus-token-scale work is the single
    // (source, text) scan + explode feeding the (source, term) tf
    // aggregate. df rides a window over tf's term partitions — a join
    // formulation plans tf twice (column pruning gives each copy a
    // different subtree, so exchange reuse never fires; this test exists
    // because the first implementation had exactly that defect). S comes
    // from a second scan that reads ONLY the source column — a
    // dictionary-column pass, no text, no explode.
    val p = plan("t14_tfidf_terms")
    assert(scansOf(p, "documents") === 2, p)
    // exactly one token-stream explode — the bigram Generate feeding tf
    assert("Generate explode".r.findAllIn(p).length === 1,
      s"tf must be planned once; a second explode means a tf copy:\n$p")
    // the source count rides a broadcast, never a shuffle of tf
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // column pruning: the text-bearing scan reads exactly (source, text);
    // the S scan reads source alone
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
      .map(_.group(1).split(",").map(_.split(":")(0).trim).toSet).toSeq
    assert(reads.sortBy(_.size) === Seq(Set("source"), Set("source", "text")),
      s"expected a source-only scan and a (source, text) scan, got $reads:\n$p")
    // four hash exchanges: the tf aggregate (the one corpus-token-scale
    // exchange, map-side combined), the term window and the source rank
    // window (both over the vocab-bounded tf relation), and the S
    // branch's distinct-source dedup (partial-aggregated before the
    // exchange, so it carries at most sources×partitions rows)
    assert(shuffles(p) === 4, p)
    assert("partial".r.findFirstIn(p.toLowerCase).isDefined,
      s"the tf aggregate must map-side combine:\n$p")
    // Spark 4 pushes the top-5 below the rank exchange: the final window
    // sorts at most 5 rows per source per input partition
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("e4: the pack adds exactly one exchange over d12's machinery, zero extra corpus scans") {
    // The capstone claim: e4 consumes d12's n_tokens_kept column directly
    // (never re-scanning or re-tokenizing clean_text), so its plan is
    // d12's plus ONE per-shard packing window exchange.
    val e4 = plan("e4_clean_pack")
    val d12 = plan("d12_span_removal")
    assert(scansOf(e4, "documents") === scansOf(d12, "documents"),
      s"e4 may not re-scan the corpus beyond d12's own scans:\n$e4")
    assert(shuffles(e4) === shuffles(d12) + 1,
      s"e4 must add exactly the packing-window exchange " +
        s"(d12 ${shuffles(d12)}, e4 ${shuffles(e4)}):\n$e4")
    assert(!e4.contains("CartesianProduct"), e4)
  }

  test("m6: blobs hashed ONCE (cached sheet), id-width exchanges only, pair-gen stays inside the buckets") {
    // the d3 discipline on the image-hash domain: candidates come from
    // the (band, block) equi-join — the band groupBy and the pair
    // dropDuplicates are the only exchanges, both carrying (id, 4 ints)
    // or (id, id, hamming) rows, never payload bytes; nothing pair-shaped
    // shuffles before the in-bucket Hamming filter
    val p = plan("m6_image_neardup")
    // the hash sheet is eagerly cached (the r12 degenerate-bucket guard
    // split imagePairsOf into two filtered branches, so the sheet now has
    // THREE consumers): every documents reference in this plan must be an
    // InMemoryTableScan printing its cached repr — blobs are read and
    // aHash'd exactly once at runtime, never once per consumer
    assert(p.contains("InMemoryRelation"),
      s"hash sheet must be cached — blob re-scan per consumer:\n$p")
    assert(scansOf(p, "documents") ===
      "InMemoryTableScan".r.findAllIn(p).length,
      s"every documents reference must be the cached hash sheet:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // nothing pair-shaped shuffles before the in-bucket Hamming filter:
    // every exchange key set is (band, key), (doc_a, doc_b) or doc_id
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9L, ]+), \\d+\\)".r
      .findAllMatchIn(p).map(_.group(1).replaceAll("#\\d+L?", "")).toSeq
    assert(keys.nonEmpty && keys.forall(k =>
      k == "band, key" || k == "doc_a, doc_b" || k == "doc_id"), s"$keys\n$p")
  }

  test("t17: tiering windows run over the bounded (lang, score) histogram; cutoffs broadcast") {
    // The scale claim: scoring is t15's budget, and the TIERING half adds
    // only score-domain-bounded work — the cumulative windows must sit
    // above the (lang, score_micro) histogram aggregate (never a
    // doc-granular window partitioned by lang alone, the giant-partition
    // anti-pattern), and the 2-cutoffs-per-lang relation joins back as a
    // broadcast.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val qe = SparkEntry.queries("t17_ppl_buckets")(spark, sf).queryExecution
    val opt = qe.optimizedPlan
    val wins = opt.collect { case w: LWindow => w }
    assert(wins.nonEmpty, s"expected the cum_prev/n windows in:\n$opt")
    assert(wins.forall(_.child.collectFirst {
      case a: Aggregate if a.groupingExpressions.size == 2 => a
    }.nonEmpty),
      s"every tiering window must sit above the (lang, score) histogram:\n$opt")
    val p = qe.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the per-lang cutoff relation must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("st2: both windows and the session aggregate share one user_id shuffle") {
    val p = plan("st2_sessionize")
    assert(shuffles(p) === 1,
      s"windows + groupBy must reuse the user_id partitioning:\n$p")
  }

  test("t18: scoring is a PURE narrow map — zero exchanges, one documents scan") {
    // the weight table rides the plan as one array literal; the scan must
    // be the only data movement at any corpus size
    val p = plan("t18_quality_classifier")
    assert(shuffles(p) === 0, s"classifier scoring must not shuffle:\n$p")
    assert(!p.contains("BroadcastExchange"),
      s"weights are a literal, not a joined relation:\n$p")
    assert(scansOf(p, "documents") === 1, p)
  }

  test("k5b: corpus touched once (cached S-row signatures), broadcast pair join") {
    val p = plan("k5b_signature_overlap")
    // both pair-join sides must read the eagerly-cached signature relation
    // (one InMemoryTableScan each) — the corpus-touching gram pass runs
    // once at runtime, not once per side. The cached repr's own FileScan/
    // Exchange lines are echoed inside each InMemoryRelation print, so the
    // live-plan claims (no corpus scan, no shuffle above the cache) are
    // asserted on the prefix ABOVE the first cache boundary: join +
    // projections only.
    assert("InMemoryTableScan".r.findAllIn(p).length === 2,
      s"both pair-join sides must read the cached signatures:\n$p")
    val live = p.take(p.indexOf("InMemoryRelation") max 0)
    assert(live.nonEmpty, s"signature relation must be cached:\n$p")
    assert(shuffles(live) === 0,
      s"nothing re-shuffles above the cached aggregate:\n$live")
    assert(scansOf(live, "documents") === 0,
      s"the pair join must not re-scan the corpus:\n$live")
    assert(live.contains("BroadcastNestedLoopJoin") || live.contains("BroadcastHashJoin"),
      s"the pair matrix must be a broadcast join:\n$live")
    assert(!p.contains("CartesianProduct"), p)
  }

  /** The topic assignment's shape in `name`'s executed plan: every
    * centroid_argmax runs once per embeddings pass, inside the one-element
    * Generate directly over that scan (so no filter copies it), no
    * centroid relation is planned, and no exchange is keyed on vec_id.
    * Returns the plan string. */
  private def topicAssignPlan(name: String): String = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, LocalTableScanExec}
    import org.apache.spark.sql.graftext.CentroidArgmax
    val exec = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    val p = exec.toString
    val kernels = aqe.flatMap(exec)(_.expressions.flatMap(_.collect { case k: CentroidArgmax => k }))
    val inGenerate = aqe.collect(exec) {
      case g: GenerateExec if g.generator.collectFirst { case k: CentroidArgmax => k }.nonEmpty &&
          g.child.collectFirst { case f: FileSourceScanExec => f }.nonEmpty => g
    }
    assert(kernels.nonEmpty && kernels.size === scansOf(p, "embeddings") &&
      inGenerate.size === kernels.size,
      s"$name: want one centroid_argmax per embeddings pass, each in its Generate:\n$p")
    assert(aqe.collect(exec) { case l: LocalTableScanExec => l }.isEmpty,
      s"$name plans a centroid relation:\n$p")
    assert(!"Exchange hashpartitioning\\(vec_id".r.findFirstIn(p).isDefined,
      s"$name: the assignment must not shuffle by vec_id:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    p
  }

  test("s9: one centroid_argmax per pass, no vec_id exchange; sizes broadcast back; no doc-granular window") {
    val p = topicAssignPlan("s9_topic_clusters")
    // the one exchange carries the (cluster) counts of the size aggregate
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9L, ]+), \\d+\\)".r
      .findAllMatchIn(p).map(_.group(1).replaceAll("#\\d+L?", "")).toSeq
    assert(keys === Seq("cluster"), s"unexpected exchange keys $keys:\n$p")
    assert(!p.contains("Window"), s"no per-doc window — sizes are an aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"sizes must broadcast:\n$p")
  }

  test("t2b: per-row kernel — one scan, zero exchanges") {
    // scoring is one narrow projection: the lang_profile_scores kernel
    // carries the profile, so no trigram row, profile broadcast, pivot
    // aggregate or join back to the documents is left to plan
    val p = kernelScorerPlan("t2b_lang_id_trained")
    assert(scansOf(p, "documents") === 1, p)
    assert(!p.contains("Exchange"), s"t2b must not move data:\n$p")
  }

  test("t24: per-row kernel — one scan, zero exchanges") {
    // langScored, the relation behind t24, t26, e5 and e9: the kernel,
    // the argmax and the word-list folds ride one projection
    val p = kernelScorerPlan("t24_lang_stopwords")
    assert(scansOf(p, "documents") === 1, p)
    assert(!p.contains("Exchange"), s"t24 must not move data:\n$p")
  }

  test("p6: DSIR scoring is a PURE narrow map — zero exchanges, one documents scan") {
    // the ratio table rides the plan as one array literal (t18's shape);
    // the scan is the only data movement at any corpus size
    val p = plan("p6_dsir_resample")
    assert(shuffles(p) === 0, s"DSIR scoring must not shuffle:\n$p")
    assert(!p.contains("BroadcastExchange"),
      s"ratios are a literal, not a joined relation:\n$p")
    assert(scansOf(p, "documents") === 1, p)
  }

  test("e6: the report-card rollup adds exactly the base + routing scans over e5's stages") {
    // e6 = e5's sheet (unchanged stage plans) + one full-text base scan
    // (tokens + the sha2-windowed exact-dup bit) + one text-free
    // (source, lang) routing scan; the composition re-scans nothing
    val e6 = plan("e6_corpus_report")
    // e5's round-19 composition: the three shuffle-bearing stages + the
    // one fused t16+t18 scan (the e5 audit above)
    val e5Stages = Seq("t17_ppl_buckets", "d10_span_dedup",
      "t24_lang_stopwords").map(plan)
    // ≤, not ==, since round 17: e6's narrow e5 projection lets
    // Catalyst prune columns THROUGH the stage subtrees (t24's
    // doc-side scan merges away — the e9 audit's rationale); the claim
    // under audit is that composition never ADDS a corpus re-scan
    // beyond the two declared ones
    assert(scansOf(e6, "documents") <=
      e5Stages.map(scansOf(_, "documents")).sum + 1 + 2,
      s"e6 documents scans must be ≤ e5's stages' sum + base + routing:\n$e6")
    assert(!e6.contains("CartesianProduct"), e6)
    // everything past the per-doc joins is source(×lang)-bounded and the
    // final stitches broadcast
    assert(e6.contains("BroadcastHashJoin") || e6.contains("BroadcastNestedLoopJoin"),
      s"the S-row stitch joins must broadcast:\n$e6")
  }

  test("m7: payload bytes never shuffle — exchanges are doc_id-keyed, one equi-join") {
    val p = plan("m7_image_text_align")
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9L, ]+), \\d+\\)".r
      .findAllMatchIn(p).map(_.group(1).replaceAll("#\\d+L?", "")).toSeq
    assert(keys.forall(_ == "doc_id"), s"unexpected exchange keys $keys:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(scansOf(p, "documents") === 1 && scansOf(p, "embeddings") === 1, p)
  }

  test("m8: blobs fingerprinted ONCE (cached sheet), m6's exchange geometry verbatim") {
    // the audio sheet shares neardupDegreesOf/imagePairsOf with m6, so
    // the same claims hold: every documents reference is the cached
    // fingerprint sheet (payloads decoded + fingerprinted exactly once),
    // and every exchange carries (band, key), (doc_a, doc_b) or doc_id
    // rows — never payload bytes, nothing pair-shaped before the
    // in-bucket Hamming filter
    val p = plan("m8_audio_neardup")
    assert(p.contains("InMemoryRelation"),
      s"fingerprint sheet must be cached — blob re-scan per consumer:\n$p")
    assert(scansOf(p, "documents") ===
      "InMemoryTableScan".r.findAllIn(p).length,
      s"every documents reference must be the cached sheet:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9L, ]+), \\d+\\)".r
      .findAllMatchIn(p).map(_.group(1).replaceAll("#\\d+L?", "")).toSeq
    assert(keys.nonEmpty && keys.forall(k =>
      k == "band, key" || k == "doc_a, doc_b" || k == "doc_id"), s"$keys\n$p")
  }

  test("e7: the ablation table adds one token scan over e5's stages; the unpivot happens after a 1-row aggregate") {
    val e7 = plan("e7_rule_ablation")
    // e5's round-19 composition: the three shuffle-bearing stages + the
    // one fused t16+t18 scan (the e5 audit above)
    val e5Stages = Seq("t17_ppl_buckets", "d10_span_dedup",
      "t24_lang_stopwords").map(plan)
    // ≤ since round 17 — same column-pruning-through-subtrees
    // rationale as e6/e9; composition itself adds only the token scan
    assert(scansOf(e7, "documents") <=
      e5Stages.map(scansOf(_, "documents")).sum + 1 + 1,
      s"e7 documents scans must be ≤ e5's stages' sum + the token scan:\n$e7")
    assert(!e7.contains("CartesianProduct"), e7)
    // the 9x4 per-rule sums collapse in ONE aggregate — the generate
    // (explode to 9 rows) must sit ABOVE the final single-partition
    // aggregate, never below it on doc-granular rows
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
    val opt = SparkEntry.queries("e7_rule_ablation")(spark, sf)
      .queryExecution.optimizedPlan
    // (e5's stages contribute their own gram-explode Generates; the
    // unpivot is the one whose DIRECT child subtree is the global agg)
    val gen = opt.collect { case g: Generate => g }
    assert(gen.exists(_.child.collectFirst {
      case a: Aggregate if a.groupingExpressions.isEmpty => a
    }.nonEmpty), s"the unpivot must consume the 1-row global aggregate:\n$opt")
  }

  test("e9: the signal frame adds ONE corpus scan over its stages' sum, and t17 left the funnel plan") {
    // the funnel's only corpus-width relation is the signal frame; the
    // arithmetic above it runs over a persisted ≤ stages+1-row aggregate
    // (cache-fed, asserted by the funnel replay spec). Round 19's claim:
    // the per-row rule/classifier/url bits ride the base scan (tokens +
    // the sha2-window exact bit) — ONE added scan, zero added joins —
    // conf_micro shares langSignals' scoring pass with the word-list
    // gates, and t17's LM machinery (which no funnel stage reads, but
    // which the old frame paid for through the full-sheet inner join) is
    // GONE from the plan.
    val f = graft.operators.PipelineOps.e9SignalFrame(spark, sf)
      .queryExecution.executedPlan.toString
    val stages = Seq("d6_dedup_keep", "t10_decontaminate",
      "d10_span_dedup", "t24_lang_stopwords").map(plan)
    assert(scansOf(f, "documents") <=
      stages.map(scansOf(_, "documents")).sum + 1,
      s"e9 signal frame may only add the fused base scan:\n$f")
    // the declared addition is really present: the sha2 exact-dup window
    // on the base scan
    assert(f.contains("sha2("), f)
    assert("Window \\[min\\(doc_id".r.findAllIn(f).nonEmpty, f)
    // t17's reference-LM scoring must not appear anywhere in the frame —
    // its persisted model artifact is the subtree's unmistakable marker
    assert(!f.contains("bigram_lm"),
      s"t17's LM-scoring subtree leaked back into the funnel frame:\n$f")
    assert(!f.contains("CartesianProduct"), f)
  }

  test("st13: one lang_profile_scores, no trigram Generate") {
    // the round-15 trap (a trigram array rebuilt per exploded gram) has
    // no array left to rebuild: the plan must carry exactly one kernel
    // (no collapsed or pushed-down copy) and no Generate at all
    val p = kernelScorerPlan("st13_stream_lang_gate")
    assert(!p.contains("Generate"), s"st13 must not explode anything:\n$p")
  }

  test("p8: one (stage, shard) window over id-width rows; text never reaches it") {
    val p = plan("p8_curriculum_order")
    // the curriculum adds exactly one exchange over t17's scoring plan —
    // the (stage, shard) window partitioning; every other exchange in
    // the plan is t17's own (doc-id/lang/score-keyed)
    val t17 = plan("t17_ppl_buckets")
    assert(shuffles(p) === shuffles(t17) + 1,
      s"p8 must add exactly the window exchange over t17's plan:\n$p")
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9L, ]+), \\d+\\)".r
      .findAllMatchIn(p).map(_.group(1).replaceAll("#\\d+L?", "")).toSeq
    assert(keys.contains("stage, shard"), s"missing the window exchange: $keys\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d13: the priority argmin adds cluster-keyed exchanges only over d7's machinery") {
    val p = plan("d13_priority_dedup")
    assert(!p.contains("CartesianProduct"), p)
    // the argmin is ONE cluster-keyed rank window over d7's plan — the
    // d7 subtree is planned once (an aggregate+self-join first draft
    // planned it twice), and the only additions are the rank window's
    // exchange and the narrow rank-column scan
    def windows(s: String): Int = "Window \\[".r.findAllIn(s).length
    val d7p = plan("d7_cc_dedup")
    assert(windows(p) === windows(d7p) + 1,
      s"exactly the rank window over d7's plan:\n$p")
    assert(shuffles(p) === shuffles(d7p) + 1,
      s"exactly the rank window's exchange over d7's:\n$p")
    assert(scansOf(p, "documents") === scansOf(d7p, "documents") + 1,
      s"exactly the narrow rank scan over d7's:\n$p")
  }

  test("s10: s9's exchange geometry + windows only over the bounded histogram") {
    val p = topicAssignPlan("s10_proto_prune")
    // exchanges carry the (cluster, cos_proto) histogram keys or
    // (cluster) only — never a doc-granular window partition
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9L, ]+), \\d+\\)".r
      .findAllMatchIn(p).map(_.group(1).replaceAll("#\\d+L?", "")).toSeq
    assert(keys.nonEmpty && keys.forall(k => k == "cluster" || k == "cluster, cos_proto"),
      s"unexpected exchange keys $keys:\n$p")
    // the cumulative window sits above the (cluster, cos_proto) histogram
    // aggregate (t17's bounded-relation discipline)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val opt = SparkEntry.queries("s10_proto_prune")(spark, sf)
      .queryExecution.optimizedPlan
    val wins = opt.collect { case w: LWindow => w }
    assert(wins.nonEmpty, s"expected the boundary cumulative window:\n$opt")
    assert(wins.forall(_.child.collectFirst {
      case a: Aggregate if a.groupingExpressions.size == 2 => a
    }.nonEmpty),
      s"every window must sit above the (cluster, cos_proto) histogram:\n$opt")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"centroids, sizes and cutoffs must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d14: three documents scans (df side, probe side, rebuild recompute), exchanges on hashed-segment/doc keys only") {
    val p = plan("d14_boilerplate_removal")
    // t12's recompute-beats-sort discipline, applied twice: the segment
    // fold is recomputed on the df side AND the probe side (a window
    // count over gh would sort the whole segment stream instead), plus
    // the rebuild side — exactly three narrow corpus scans, no more
    assert(scansOf(p, "documents") === 3,
      s"d14 must scan documents exactly three times:\n$p")
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9L, ]+), \\d+\\)".r
      .findAllMatchIn(p).map(_.group(1).replaceAll("#\\d+L?", "")).toSeq
    assert(keys.nonEmpty && keys.forall(k =>
      k == "gh" || k == "gh, doc_id" || k == "doc_id"),
      s"d14 exchanges must move (gh[, doc_id]) or doc_id rows only: $keys\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("m10: shot sheet cached (blobs fingerprinted once), banded exchange geometry, no cartesian") {
    val p = plan("m10_video_neardup")
    assert(p.contains("InMemoryRelation"),
      s"shot sheet must be cached — blob re-scan per consumer:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9L, ]+), \\d+\\)".r
      .findAllMatchIn(p).map(_.group(1).replaceAll("#\\d+L?", "")).toSeq
    assert(keys.nonEmpty && keys.forall(k =>
      k == "band, key" || k == "doc_a, doc_b" || k == "doc_id" ||
        k == "da, db" || k == "doc_id, s"),
      s"m10 exchanges must be band-bucket, pair, or id keyed: $keys\n$p")
  }

  test("e8: nothing cached, no nested-loop join, no corpus exchange run twice; the k-row plan broadcasts") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val p = topicAssignPlan("e8_topic_mix")
    // the (vec_id, cluster, t) relation is re-planned for its two
    // readers, not cached; the scalar min is a window over the k-row
    // aggregate, not a 1-row cross join
    assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"),
      s"e8 must not cache the assignment:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the k-row plan must broadcast:\n$p")
    // run it: in the final plan no exchange over a corpus scan runs twice
    // (a repeated one must be a ReusedExchange)
    val df = SparkEntry.queries("e8_topic_mix")(spark, sf)
    df.collect()
    val fin = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => fail(s"e8: not an adaptive plan:\n$other")
    }
    def readsCorpus(plan: SparkPlan): Boolean = plan.collectFirst {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(r =>
        r.getName == "documents.parquet" || r.getName == "embeddings.parquet") => f
    }.nonEmpty
    val corpus = aqe.collect(fin) { case e: Exchange if readsCorpus(e.child) => e }
    assert(corpus.nonEmpty && corpus.map(_.canonicalized).distinct.size === corpus.size,
      s"a corpus exchange runs twice:\n$fin")
  }

  test("st7b: the bloom probe prescreens BEFORE the digest join; branches recombine by union") {
    val p = plan("st7b_bloom_ingest_screen")
    assert(p.contains("Union"), s"disjoint branches must union, not join:\n$p")
    assert("Filter.*UDF".r.findFirstIn(p).nonEmpty ||
      "UDF\\(".r.findFirstIn(p).nonEmpty,
      s"the broadcast-sketch probe must gate the join input:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p9: corpus aggregated once (cached language supply); scalars attach by broadcast") {
    // the α-weight CASE is driver literals; the supply relation is
    // persisted so the trainer's collect and the registered output share
    // ONE corpus-touching aggregate. Above the cache: language-row
    // arithmetic + two broadcast 1-row cross joins, nothing data-scaled.
    val p = plan("p9_temperature_mix")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      s"every consumer (output chain, total, binding min) must read the " +
        s"cached supply:\n$p")
    val live = p.take(p.indexOf("InMemoryRelation") max 0)
    assert(live.nonEmpty, s"supply relation must be cached:\n$p")
    assert(scansOf(live, "documents") === 0,
      s"nothing above the cache may re-scan the corpus:\n$live")
    assert(shuffles(live) === 0,
      s"language-row arithmetic must not shuffle:\n$live")
    assert(live.contains("BroadcastNestedLoopJoin"),
      s"the two scalars must attach as broadcast cross joins:\n$live")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), s"no window — the min is a broadcast scalar:\n$p")
  }

  test("t22: kernel per segment; id-width exchanges only") {
    val p = kernelScorerPlan("t22_segment_langmix")
    // the segments are scored where they are exploded: the only hash
    // exchanges carry (doc_id[, seg_lang])-keyed small rows
    val keys = "Exchange hashpartitioning\\(([a-z_#0-9L, ]+), \\d+\\)".r
      .findAllMatchIn(p).map(_.group(1).replaceAll("#\\d+L?", "")).toSeq
    assert(keys.nonEmpty && keys.forall(k =>
      k == "doc_id" || k == "doc_id, seg_id" || k == "doc_id, seg_lang"),
      s"unexpected exchange keys $keys:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("st13: per-row kernel — one scan, zero exchanges") {
    val p = kernelScorerPlan("st13_stream_lang_gate")
    assert(scansOf(p, "documents") === 1, p)
    assert(!p.contains("Exchange"), s"the front-door gate must not move data:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("m11: keyframe extraction is a PURE narrow map — zero exchanges, one blob scan") {
    // cut detection, histogram totals and the argmin all happen inside
    // the kernel; the blob scan is the only data movement at any size
    val p = plan("m11_keyframe_extract")
    assert(shuffles(p) === 0, s"keyframe extraction must not shuffle:\n$p")
    assert(scansOf(p, "documents") === 1, p)
    assert(!p.contains("Window") && !p.contains("Sort"),
      s"argmin happens in the kernel, not a plan window:\n$p")
  }
}
