package graft

import graft.operators.{DedupOps, PipelineOps, TextOps}
import org.apache.spark.sql.functions._

class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("e1: disposition equals the conjunction of its component queries") {
    val got = PipelineOps.e1Pipeline(spark, sf)
      .as[(Long, Boolean, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    val dedup = DedupOps.d6DedupKeep(spark, sf)
      .as[(Long, Boolean)].collect().toMap
    val quality = TextOps.t3QualityScore(spark, sf)
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    val rep = TextOps.t7Repetition(spark, sf)
      .select($"doc_id", $"repetitive").as[(Long, Boolean)].collect().toMap
    val splits = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"source").as[(Long, String)].collect().map(_._1)

    assert(got.keySet === splits.toSet)
    splits.foreach { id =>
      val expectKeep = dedup(id) && quality(id) && !rep(id)
      assert(got(id)._1 === expectKeep, s"doc $id keep")
      if (expectKeep) assert(Set("train", "val", "test")(got(id)._2), s"doc $id split")
      else assert(got(id)._2 === "dropped", s"doc $id split")
    }
    // the pipeline must actually drop something AND keep something here —
    // a corpus where either side is empty would make this test vacuous
    assert(got.values.exists(_._1) && got.values.exists(!_._1))
  }

  test("e1: composition holds on random synthetic corpora, not just the fixture") {
    // Same equivalence as above, but over generated corpora with planted
    // exact dups, near-dups, repetitive docs and junk — so every branch of
    // the disposition (dedup drop, quality drop, repetition drop, keep) is
    // exercised by data the fixture didn't choose for us.
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "julia", "kilo", "lima", "mike", "nova")
    for (seed <- Seq(7L, 1234L, 987654L)) {
      val rnd = new scala.util.Random(seed)
      def sentence(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val docs = (0 until 200).map { i =>
        val text = rnd.nextInt(5) match {
          case 0 => sentence(3 + rnd.nextInt(5))              // short/junk
          case 1 => (sentence(6) + " ") * 8                   // repetitive
          case 2 => sentence(40 + rnd.nextInt(40))            // normal
          case 3 if i > 0 => null                             // dup of i-1 (filled below)
          case _ => sentence(40 + rnd.nextInt(40)) + ". " + sentence(10) + "."
        }
        (i.toLong, text)
      }
      val filled = docs.zipWithIndex.map { case ((id, t), i) =>
        val text = if (t == null) docs(i - 1)._2 match {
          case null => sentence(20)
          case prev => prev // exact dup cluster with the previous doc
        } else t
        (id, text, "en", s"src${id % 3}", text.length.toLong)
      }
      val dir = java.nio.file.Files.createTempDirectory(s"e1prop$seed").toString
      spark.createDataFrame(filled)
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val got = PipelineOps.e1Pipeline(spark, dir)
        .as[(Long, Boolean, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val dedup = DedupOps.d6DedupKeep(spark, dir).as[(Long, Boolean)].collect().toMap
      val quality = TextOps.t3QualityScore(spark, dir)
        .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
      val rep = TextOps.t7Repetition(spark, dir)
        .select($"doc_id", $"repetitive").as[(Long, Boolean)].collect().toMap
      assert(got.keySet === filled.map(_._1).toSet, s"seed $seed")
      filled.foreach { case (id, _, _, _, _) =>
        val expectKeep = dedup(id) && quality(id) && !rep(id)
        assert(got(id)._1 === expectKeep, s"seed $seed doc $id keep")
        assert(if (expectKeep) Set("train", "val", "test")(got(id)._2)
               else got(id)._2 == "dropped", s"seed $seed doc $id split")
      }
      // each corpus must exercise both outcomes, and the dedup stage must
      // have actually dropped something (planted exact dups guarantee it)
      assert(got.values.exists(_._1) && got.values.exists(!_._1), s"seed $seed")
      assert(dedup.values.exists(!_), s"seed $seed planted dups missing")
    }
  }

  test("e2: packs exactly the e1-kept ∧ clean ∧ non-eval docs at their REAL token counts, sequentially re-packable") {
    val packed = PipelineOps.e2TrainingShards(spark, sf)
      .select($"doc_id", $"shard", $"n_tokens", $"pack_id", $"ids_sig")
      .as[(Long, Int, Int, Int, String)].collect()
    // membership: exactly the survivor intersection of the component queries
    val kept = PipelineOps.e1Pipeline(spark, sf).where($"keep")
      .select($"doc_id").as[Long].collect().toSet
    val clean = TextOps.t10Decontaminate(spark, sf)
      .where(!$"is_eval" && !$"contaminated")
      .select($"doc_id").as[Long].collect().toSet
    assert(packed.map(_._1).toSet === (kept intersect clean))
    assert(packed.nonEmpty)
    // the eval slice is excluded by construction
    assert(packed.forall(_._1 % TextOps.DecontMod != 0))
    // budgets and signatures are t4d's: the trainer-facing token count
    // and the digest of the exact id sequence that ships
    val t4d = TextOps.t4dTokenIds(spark, sf)
      .as[(Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    packed.foreach { case (id, _, n, _, sig) =>
      assert((n, sig) === t4d(id), s"doc $id token budget/signature")
    }
    // pack ids replay as sequential concatenate-then-chunk per shard
    packed.groupBy(_._2).foreach { case (_, docs) =>
      var offset = 0L
      docs.sortBy(_._1).foreach { case (id, _, n, pack, _) =>
        assert(pack === (offset / graft.operators.SamplingOps.PackBudget).toInt,
          s"doc $id at offset $offset")
        offset += n
      }
    }
  }

  test("e4: packs exactly the d12 survivors at their CLEANED texts' real token counts, sequentially re-packable") {
    val packed = PipelineOps.e4CleanPack(spark, sf)
      .select($"doc_id", $"shard", $"n_tokens", $"pack_id", $"ids_sig")
      .as[(Long, Int, Int, Int, String)].collect()
    val cleaned = graft.operators.DedupOps.d12SpanRemoval(spark, sf)
      .select($"doc_id", $"n_tokens_kept", $"clean_text")
      .as[(Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // membership: every doc with surviving tokens, nothing else (a doc
    // cleaned to '' must not reach the trainer)
    assert(packed.map(_._1).toSet === cleaned.filter(_._2._1 > 0).keySet)
    assert(packed.nonEmpty)
    // budgets are the CLEANED text's t4d counts (post-cut, tokenizer
    // tokens — not whitespace counts), signatures its exact sequence
    val withIds = TextOps.withTokenIdCols(
        cleaned.toSeq.map { case (id, (_, ct)) => (id, ct) }
          .toDF("doc_id", "clean_text"), $"clean_text")
      .select($"doc_id", $"n_ids", $"ids_sig")
      .as[(Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    packed.foreach { case (id, _, n, _, sig) =>
      assert((n, sig) === withIds(id), s"doc $id cleaned budget/signature")
    }
    // a doc whose spans were cut must pack SMALLER than its full text
    val full = TextOps.t4dTokenIds(spark, sf)
      .as[(Long, Int, String)].collect().map(r => r._1 -> r._2).toMap
    val cut = cleaned.collect { case (id, (k, _)) if k > 0 => id }
      .filter(id => packed.exists(_._1 == id))
    assert(packed.exists { case (id, _, n, _, _) => n < full(id) },
      "at least one span-cut doc packs below its full-text budget")
    assert(cut.nonEmpty)
    // pack ids replay as sequential concatenate-then-chunk per shard
    packed.groupBy(_._2).foreach { case (_, ds) =>
      var offset = 0L
      ds.sortBy(_._1).foreach { case (id, _, n, pack, _) =>
        assert(pack === (offset / graft.operators.SamplingOps.PackBudget).toInt,
          s"doc $id at offset $offset")
        offset += n
      }
    }
  }

  test("e1: kept docs land in the same split t6 assigns their id") {
    val byId = PipelineOps.e1Pipeline(spark, sf)
      .where($"keep")
      .select($"doc_id", $"split")
      .as[(Long, String)].collect()
    assert(byId.nonEmpty)
    val t6 = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", TextOps.splitExpr($"doc_id").as("s"))
      .as[(Long, String)].collect().toMap
    byId.foreach { case (id, s) => assert(s === t6(id), s"doc $id") }
  }

  test("e3: verdict equals the conjunction of its four stage bits, per doc") {
    val got = PipelineOps.e3CorpusCuration(spark, sf)
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val base = PipelineOps.e1Pipeline(spark, sf)
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    val ppl = TextOps.t11PerplexityFilter(spark, sf)
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    val boiler = TextOps.t12Boilerplate(spark, sf)
      .select($"doc_id", $"boilerplate").as[(Long, Boolean)].collect().toMap
    val sem = DedupOps.d9EmbeddingClusterDedup(spark, sf)
      .select($"vec_id", $"keep").as[(Long, Boolean)].collect().toMap

    assert(got.keySet === base.keySet, "one verdict row per document")
    got.foreach { case (id, (_, b, p, bo, se, keep)) =>
      assert(b === base(id), s"doc $id base bit")
      assert(p === ppl(id), s"doc $id perplexity bit")
      assert(bo === boiler(id), s"doc $id boilerplate bit")
      assert(se === sem(id), s"doc $id semantic bit")
      assert(keep === (b && p && !bo && se), s"doc $id verdict")
    }
    // every stage must bite somewhere AND survivors must exist — otherwise
    // the conjunction test is vacuous on this corpus
    assert(got.values.exists(_._6) && got.values.exists(!_._6))
    assert(ppl.values.exists(!_), "perplexity filter drops nobody — vacuous")
  }

  test("e5: every attribute column equals its standalone operator's value, per doc") {
    val got = PipelineOps.e5AttributeSheet(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val rules = TextOps.t16GopherRules(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val tier = TextOps.t17PplBuckets(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val spans = DedupOps.d10SpanDedup(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // one attribute row per document, none lost in the joins
    assert(got.keySet === rules.keySet)
    assert(got.keySet === tier.keySet)
    val flagCols = Seq("r_word_count", "r_mean_word_len", "r_alpha_words",
      "r_stopwords", "r_symbol_ratio", "r_top_word_mass", "gopher_keep")
    got.foreach { case (id, r) =>
      flagCols.foreach(c => assert(
        r.getAs[Boolean](c) === rules(id).getAs[Boolean](c), s"doc $id $c"))
      assert(r.getAs[Long]("score_micro") ===
        tier(id).getAs[Long]("score_micro"), s"doc $id score")
      assert(r.getAs[String]("ppl_bucket") ===
        tier(id).getAs[String]("ppl_bucket"), s"doc $id bucket")
      assert(r.getAs[Long]("n_dup") === spans(id).getAs[Long]("n_dup"),
        s"doc $id n_dup")
      assert(r.getAs[Boolean]("has_dup") === spans(id).getAs[Boolean]("has_dup"),
        s"doc $id has_dup")
    }
    // the t24 columns ride the sheet unchanged (round 17)
    val stops = TextOps.t24LangStopwords(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    got.foreach { case (id, r) =>
      assert(r.getAs[String]("pred_lang") ===
        stops(id).getAs[String]("pred_lang"), s"doc $id pred_lang")
      assert(r.getAs[Int]("stop_hits") ===
        stops(id).getAs[Int]("stop_hits"), s"doc $id stop_hits")
      assert(r.getAs[Boolean]("stop_keep") ===
        stops(id).getAs[Boolean]("stop_keep"), s"doc $id stop_keep")
    }
    // the sheet carries real variance on this corpus — attribute columns
    // that are constant everywhere would make the equality test weak
    assert(got.values.map(_.getAs[String]("ppl_bucket")).toSet.size >= 2)
    assert(got.values.exists(_.getAs[Boolean]("has_dup")) ||
      got.values.exists(!_.getAs[Boolean]("has_dup")))
  }

  test("e6: the report card equals an independent rollup of e5 + base stats") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"lang", $"text")
      .as[(Long, String, String, String)].collect()
    val sheet = PipelineOps.e5AttributeSheet(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("gopher_keep"), r.getAs[Boolean]("clf_keep"),
          r.getAs[Boolean]("has_dup"), r.getAs[String]("ppl_bucket"),
          r.getAs[Long]("score_micro")))).toMap
    val textCount = docs.groupBy(_._4).map { case (t, ds) => t -> ds.size }
    val bySrc = docs.groupBy(_._2)
    val want = bySrc.map { case (src, ds) =>
      val n = ds.size.toLong
      val langs = ds.groupBy(_._3).view.mapValues(_.size.toLong).toMap
      val mx = langs.values.max
      val topLang = langs.filter(_._2 == mx).keys.min
      def share(c: Long) = c * 1000000L / n
      src -> ((n,
        ds.map(_._4.split(" ", -1).length.toLong).sum,
        langs.size.toLong, topLang, share(mx),
        share(ds.count(d => sheet(d._1)._1)),
        share(ds.count(d => sheet(d._1)._2)),
        share(ds.count(d => sheet(d._1)._3)),
        share(ds.count(d => textCount(d._4) > 1)),
        share(ds.count(d => sheet(d._1)._4 == "head")),
        ds.map(d => sheet(d._1)._5).sum / n))
    }
    val got = PipelineOps.e6CorpusReport(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("docs"), r.getAs[Long]("tokens"),
          r.getAs[Long]("n_langs"), r.getAs[String]("top_lang"),
          r.getAs[Long]("top_lang_share_micro"),
          r.getAs[Long]("share_gopher_keep_micro"),
          r.getAs[Long]("share_clf_keep_micro"),
          r.getAs[Long]("share_span_dup_micro"),
          r.getAs[Long]("share_exact_dup_micro"),
          r.getAs[Long]("share_head_micro"),
          r.getAs[Long]("mean_score_micro")))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (src, w) => assert(got(src) === w, s"source $src") }
    // the report must carry real variance — all-equal rows would make
    // this equality test weak
    assert(got.values.map(_._4).toSet.size >= 2 ||
      got.values.map(_._5).toSet.size >= 2)
  }

  test("e7: the ablation table equals an independent per-rule recount over e5 + token counts") {
    val toks = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ", -1).length.toLong }.toMap
    val sheet = PipelineOps.e5AttributeSheet(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the rule list, re-stated independently (not via ablationRules — a
    // drift in the operator's list must FAIL here, not follow it)
    val fails: Seq[(String, org.apache.spark.sql.Row => Boolean)] = Seq(
      "r_word_count" -> (r => !r.getAs[Boolean]("r_word_count")),
      "r_mean_word_len" -> (r => !r.getAs[Boolean]("r_mean_word_len")),
      "r_alpha_words" -> (r => !r.getAs[Boolean]("r_alpha_words")),
      "r_stopwords" -> (r => !r.getAs[Boolean]("r_stopwords")),
      "r_symbol_ratio" -> (r => !r.getAs[Boolean]("r_symbol_ratio")),
      "r_top_word_mass" -> (r => !r.getAs[Boolean]("r_top_word_mass")),
      "clf_keep" -> (r => !r.getAs[Boolean]("clf_keep")),
      "ppl_not_tail" -> (r => r.getAs[String]("ppl_bucket") == "tail"),
      "no_span_dup" -> (r => r.getAs[Boolean]("has_dup")),
      "lang_stopwords" -> (r => !r.getAs[Boolean]("stop_keep")),
      "lang_blockwords" -> (r => !r.getAs[Boolean]("block_keep")))
    val ids = sheet.keys.toSeq
    val docs = ids.length.toLong
    val tokens = ids.map(toks).sum
    val nFails = ids.map(id => id -> fails.count(_._2(sheet(id)))).toMap
    val want = fails.map { case (name, p) =>
      val failing = ids.filter(id => p(sheet(id)))
      val unique = failing.filter(id => nFails(id) == 1)
      name -> ((docs, tokens, failing.length.toLong, failing.map(toks).sum,
        unique.length.toLong, unique.map(toks).sum,
        failing.length.toLong * 1000000L / docs,
        unique.length.toLong * 1000000L / docs))
    }.toMap
    val got = PipelineOps.e7RuleAblation(spark, sf).collect()
      .map(r => r.getAs[String]("rule") ->
        ((r.getAs[Long]("docs"), r.getAs[Long]("tokens"),
          r.getAs[Long]("docs_failing"), r.getAs[Long]("tokens_failing"),
          r.getAs[Long]("docs_unique"), r.getAs[Long]("tokens_unique"),
          r.getAs[Long]("share_fail_micro"),
          r.getAs[Long]("share_unique_micro")))).toMap
    assert(got.keySet === want.keySet, "one row per rule")
    want.foreach { case (rule, w) => assert(got(rule) === w, s"rule $rule") }
    // the table carries signal on this corpus: some rule bites, and
    // unique-kill is a strict subset somewhere (else redundancy analysis
    // is vacuous here)
    assert(got.values.exists(_._3 > 0), "no rule fails any doc — vacuous")
    assert(got.values.forall(v => v._5 <= v._3), "unique ≤ failing")
    // the round-17 contrast the lang-aware rule exists for: t16's
    // English-prior stopword rule solo-kills the ENTIRE corpus, while
    // t24's own-language lists kill a measurable few percent — the rule
    // finally usable as a funnel stage (VERDICT r16's ask)
    assert(got("r_stopwords")._7 === 1000000L,
      "the English-prior rule still absorbs everything")
    // < half the corpus (measured: 2.4% at sf0.01, 10.2% at sf0.001) —
    // the contract is the CONTRAST with the 10⁶ row above, not a
    // particular small number
    assert(got("lang_stopwords")._7 < 500000L,
      s"lang-aware stopword solo-kill must be small, got ${got("lang_stopwords")._7}")
    assert(got("lang_stopwords")._3 > 0L,
      "the lang-aware rule must bite someone (a vacuous gate proves nothing)")
    // the round-18 banned-word gate: modest solo kill (any-hit-kills on
    // ~10%-df phrases, not the corpus) and a NON-zero unique kill —
    // the property that makes e11's registered changelog non-empty
    assert(got("lang_blockwords")._7 < 500000L,
      s"banned-word solo-kill must be modest, got ${got("lang_blockwords")._7}")
    assert(got("lang_blockwords")._3 > 0L, "the banned-word rule must bite")
    // docs_unique is structurally 0 for every rule except r_stopwords
    // on this corpus (r_stopwords fails ALL docs, so no doc fails any
    // other rule alone) — e11's non-empty feed is uniqueness among the
    // FUNNEL's stages (r_stopwords is not one), pinned in the e11 spec
    assert(got("lang_blockwords")._5 === 0L)
  }

  test("e8: clusters are s9's; plan arithmetic and the n_copies draw replay driver-side") {
    import graft.operators.SimilarityOps
    val sf = "/root/testdata/sf0.001"
    val got = PipelineOps.e8TopicMix(spark, sf).collect().map(r =>
      r.getAs[Long]("vec_id") -> ((r.getAs[Int]("cluster"),
        r.getAs[Long]("cluster_docs"), r.getAs[Long]("cluster_tokens"),
        r.getAs[Double]("need_tokens"), r.getAs[Double]("repeat_factor"),
        r.getAs[Long]("n_copies")))).toMap
    val s9 = SimilarityOps.s9TopicClusters(spark, sf).collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(got.keySet === s9.keySet, "every embedded doc is planned")
    got.foreach { case (id, v) => assert(v._1 === s9(id), s"doc $id cluster") }
    // independent driver replay of supply, feasibility, and the draw
    val k = SimilarityOps.ivfK(SimilarityOps.corpusCount(spark, sf))
    val toks = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", size(split($"text", " ")).cast("long"))
      .as[(Long, Long)].collect().toMap
    val perC = got.toSeq.groupBy(_._2._1).map { case (c, xs) =>
      c -> ((xs.size.toLong, xs.map(x => toks(x._1)).sum))
    }
    val mixTotal = perC.values.map(_._2.toDouble * 4.0 * k).min
    val need = mixTotal / k
    got.foreach { case (id, (c, docs, tokens, n, rf, copies)) =>
      assert((docs, tokens) === perC(c), s"doc $id cluster supply")
      assert(n === need, s"doc $id need_tokens")
      assert(rf === need / tokens.toDouble, s"doc $id repeat_factor")
      // p5's draw on the e8: salt channel, replayed via md5
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"e8:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(md5, 16)
      val want = rf.toLong +
        (if (h % 1000000L < math.floor((rf - math.floor(rf)) * 1000000).toLong) 1L
         else 0L)
      assert(copies === want, s"doc $id n_copies")
    }
    // the binding cluster sits at the MaxEpochs cap; others below it
    assert(math.abs(got.values.map(_._5).max - 4.0) < 1e-9, "binding cluster at cap")
    assert(got.values.map(_._5).min < 4.0, "non-binding clusters below cap")
  }

  test("e10: the committed cut IS the declarative survivor relation; funnel cross-check; fold ≡ rebuild; crash staging converges") {
    import graft.sources.GenStore
    val want = PipelineOps.releaseCutRelation(spark, sf)
    val cols = want.columns.sorted
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    val wantRows = rows(want)
    assert(wantRows.nonEmpty, "survivors exist to cut")

    // 1. bytes on disk == the declarative cut, column for column
    val store = PipelineOps.releaseCutStore(spark, sf)
    val got = GenStore.load(spark, store)
    assert(rows(got) === wantRows)

    // 2. the cut is exactly what e9's funnel says ships: docs_out and
    // tokens_out of the LAST stage
    val funnel = PipelineOps.e9AttritionFunnel(spark, sf)
      .orderBy($"stage_idx").collect()
    assert(got.count() === funnel.last.getAs[Long]("docs_out"))
    assert(got.agg(sum($"n_toks")).head().getLong(0) ===
      funnel.last.getAs[Long]("tokens_out"))

    // 3. fold ≡ rebuild: the cut folded as two id-split batches into a
    // fresh root equals the one-shot store (s8's battery on the cut)
    val tmp = java.nio.file.Files.createTempDirectory("graft_e10").toString
    val rel = want
    GenStore.fold(spark, tmp, rel.where($"doc_id" % 2 === 0),
      partCol = "cut_part", idCol = "doc_id")
    GenStore.fold(spark, tmp, rel.where($"doc_id" % 2 === 1),
      partCol = "cut_part", idCol = "doc_id")
    assert(rows(GenStore.load(spark, tmp)) === wantRows)

    // 4. crash debris: an uncommitted staging dir (a fold that died
    // pre-commit) never changes the committed view and is swept by the
    // next successful fold; re-folding existing rows is idempotent
    val stray = java.nio.file.Paths.get(tmp, "gen-000002-pXcrash")
    java.nio.file.Files.createDirectories(stray)
    java.nio.file.Files.writeString(stray.resolve("junk"), "torn write")
    assert(rows(GenStore.load(spark, tmp)) === wantRows,
      "uncommitted staging must be invisible")
    GenStore.fold(spark, tmp, rel.where($"doc_id" % 2 === 1),
      partCol = "cut_part", idCol = "doc_id")
    assert(rows(GenStore.load(spark, tmp)) === wantRows,
      "re-folding the same rows is idempotent")
    assert(!java.nio.file.Files.exists(stray), "crash staging swept")

    // 5. evict-on-roll for the roots themselves (ADVICE r16): building a
    // snapshot's root sweeps dead siblings of the SAME (prefix, dirTag)
    // — a previous corpus fingerprint's committed cut — and nothing else
    val tag = graft.sources.Layouts.dirTag(sf)
    val dead = java.nio.file.Paths.get("target",
      s"graft_release_cut_fDEADBEEF_$tag")
    val otherFamily = java.nio.file.Paths.get("target",
      s"graft_other_store_fDEADBEEF_$tag")
    val otherTag = java.nio.file.Paths.get("target",
      "graft_release_cut_fDEADBEEF_0123456789abcdef")
    Seq(dead, otherFamily, otherTag).foreach { p =>
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.writeString(p.resolve("part"), "stale bytes")
    }
    val keepName = java.nio.file.Paths.get(store).getFileName.toString
    PipelineOps.sweepStaleCutRoots("graft_release_cut_", tag, keepName)
    assert(!java.nio.file.Files.exists(dead),
      "a dead fingerprint's root for the same dirTag must be swept")
    assert(java.nio.file.Files.exists(otherFamily),
      "other store families are never touched")
    assert(java.nio.file.Files.exists(otherTag),
      "other corpora (dirTags) are never touched")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(store)),
      "the live root survives its own sweep")
    Seq(otherFamily, otherTag).foreach(graft.sources.Layouts.deleteRecursively)
  }

  test("e11: the changelog equals a declarative diff of the two rulesets' survivors; pure rule-addition ⇒ removals only, all attributed to the new stage") {
    val got = PipelineOps.e11ReleaseChangelog(spark, sf).collect()
      .map(r => (r.getAs[Int]("stage"), r.getAs[Int]("shard"),
        r.getAs[String]("change"), r.getAs[String]("cause")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))).toMap

    // declarative replay straight off the signal frame — no stores
    val frame = PipelineOps.e9SignalFrame(spark, sf)
      .select($"doc_id", $"n_toks",
        PipelineOps.killStageColOf(PipelineOps.prevFunnelStages).as("ksp"),
        PipelineOps.killStageCol.as("ksc"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_toks"),
          Option(r.get(2)).map(_.asInstanceOf[Int]),
          Option(r.get(3)).map(_.asInstanceOf[Int]))))
      .toMap
    val coords = graft.operators.SamplingOps.p8CurriculumOrder(spark, sf)
      .select($"doc_id", $"stage", $"shard").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("stage"), r.getAs[Int]("shard")))).toMap
    val stageNames = PipelineOps.funnelStages.map(_._1)
    val removed = frame.collect {
      case (id, (n, None, Some(ks))) => (id, n, stageNames(ks))
    }
    val addedIds = frame.collect { case (id, (_, Some(_), None)) => id }
    assert(addedIds.isEmpty, "a pure rule addition can only remove")
    assert(removed.forall(_._3 == "lang_blockwords"),
      "any removal attributes to the newly added stage")

    val want = removed.toSeq
      .groupBy(r => (coords(r._1)._1, coords(r._1)._2, "removed", r._3))
      .view.mapValues(rs => (rs.size.toLong, rs.map(_._2).sum)).toMap
    assert(got === want, s"changelog rows:\ngot  $got\nwant $want")

    // round 18: the registered delta is naturally NON-empty for the
    // first time — the banned-word stage kills docs every OTHER funnel
    // stage spares (r17's lang_stopwords addition shipped an identical
    // corpus, pinned then as emptiness; the changelog now demonstrates
    // its non-degenerate output on the registered pair, not just on
    // the kernel's planted cuts).
    assert(removed.nonEmpty,
      "the v3 rule addition must remove someone — e11's first natural non-empty diff")
    // triangulation with the funnel: the removed set is exactly the
    // docs the CURRENT funnel kills at the new stage that the previous
    // ruleset spares — which is the frame replay above; and every such
    // doc shows up in e9's lang_blockwords kill count
    val e9Kill = PipelineOps.e9AttritionFunnel(spark, sf)
      .where($"stage" === "lang_blockwords")
      .select($"docs_killed").as[Long].head()
    assert(removed.size.toLong <= e9Kill,
      s"changelog removals (${removed.size}) are a subset of the stage's funnel kill ($e9Kill)")

    // and the 'removed' masses reconcile with the two committed stores
    import graft.sources.GenStore
    val prevN = GenStore.load(spark, PipelineOps.cutStoreFor(spark, sf,
      PipelineOps.PrevFunnelVersion, PipelineOps.prevFunnelStages)).count()
    val curN = GenStore.load(spark,
      PipelineOps.releaseCutStore(spark, sf)).count()
    assert(prevN - curN === got.values.map(_._1).sum)
  }

  test("e11 kernel: planted cuts with real deltas — removals attributed per first-failing stage, additions as 'new', rule-free removals as 'off_funnel'") {
    // prev cut: docs 1..5; current cut: 3..5 plus 6 (a relaxation
    // re-admits 6). Removed doc 1 fails at stage 2 of a 3-stage
    // ruleset; removed doc 2 PASSES the current funnel (ks NULL — it
    // left because the corpus slice changed, not because a rule killed
    // it) and must surface as 'off_funnel', never vanish in a join.
    val prev = Seq((1L, 100L, 0, 3), (2L, 50L, 0, 3), (3L, 70L, 1, 4),
      (4L, 30L, 1, 4), (5L, 20L, 2, 0)).toDF("doc_id", "n_toks", "stage", "shard")
    val curr = Seq((3L, 70L, 1, 4), (4L, 30L, 1, 4),
      (5L, 20L, 2, 0), (6L, 90L, 2, 7)).toDF("doc_id", "n_toks", "stage", "shard")
    val kill = Seq((1L, Some(2)), (6L, None), (2L, None), (3L, None),
      (4L, None), (5L, None))
      .toDF("doc_id", "ks").select($"doc_id", $"ks".cast("int"))
    val got = PipelineOps.changelogOf(prev, curr, kill,
      Seq("gate_a", "gate_b", "gate_c")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3)) ->
        ((r.getLong(4), r.getLong(5)))).toMap
    assert(got === Map(
      (0, 3, "removed", "gate_c") -> ((1L, 100L)),
      (0, 3, "removed", "off_funnel") -> ((1L, 50L)),
      (2, 7, "added", "new") -> ((1L, 90L))))
    // reconciliation: removed masses equal |prev| − |curr| + additions
    assert(got.collect { case ((_, _, "removed", _), (n, _)) => n }.sum === 2L)
  }

  test("e9: the funnel equals an independent first-failing-stage replay over the stage outputs") {
    val got = PipelineOps.e9AttritionFunnel(spark, sf).orderBy($"stage_idx")
      .as[(Int, String, Long, Long, Long, Long, Long, Long, Long)]
      .collect()
    // skeleton: every declared stage present, in declared order
    assert(got.map(r => (r._1, r._2)).toSeq ===
      PipelineOps.funnelStages.zipWithIndex
        .map { case ((n, _, _), i) => (i, n) })

    // per-doc signals from the standalone stage operators (the e5/e7
    // spec convention) + an independent Scala replay of the lang gate
    val docsRel = graft.sources.Tables.documents(spark, sf)
    val texts = docsRel.select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    val toks = texts.map { case (id, t) => id -> t.split(" ", -1).length.toLong }
    def grams(t: String): Seq[String] = t.toLowerCase.split(" ", -1)
      .filter(_.nonEmpty)
      .flatMap { w => val p = s" $w "; (0 until w.length).map(i => p.substring(i, i + 3)) }
    val profile = TextOps.langProfileRows(spark, sf)
    val weights = profile.map { case (l, g, w) => (l, g) -> w }.toMap
    val langsP = profile.map(_._1).distinct
    val conf = texts.map { case (id, t) =>
      val gs = grams(t)
      val bestScore = langsP
        .map(l => gs.map(g => weights.getOrElse((l, g), 0L)).sum).max
      id -> bestScore / math.max(gs.size.toLong, 1L)
    }
    // the stop gate replayed independently: argmax language (ties to
    // the ascending code — t2b's documented rule) selecting a re-stated
    // per-language stopword list, gate = ≥ 2 distinct hits
    val stopLists = Map(
      "en" -> Set("group", "table", "small", "value"),
      "de" -> Set("customer", "column", "stream", "order"),
      "es" -> Set("batch", "key", "slow", "fast"),
      "fr" -> Set("the", "filter", "scan", "fast"),
      "zh" -> Set("scan", "merge", "slow", "filter"))
    val stopOk = texts.map { case (id, t) =>
      val gs = grams(t)
      val pred = langsP.sorted
        .map(l => l -> gs.map(g => weights.getOrElse((l, g), 0L)).sum)
        .reduce((a, b) => if (b._2 > a._2) b else a)._1
      val ws = t.split(" ", -1).toSet
      id -> (stopLists(pred).count(ws) >= 2)
    }
    // the banned-word gate replayed independently (round 18): same
    // argmax language selecting a re-stated banned list, ANY adjacent
    // match kills (space-padded containment)
    val blockLists = Map(
      "en" -> Seq("window table", "dup"),
      "de" -> Seq("batch scan"),
      "es" -> Seq("sort merge"),
      "fr" -> Seq("line data"),
      "zh" -> Seq("fast merge"))
    val blockOk = texts.map { case (id, t) =>
      val gs = grams(t)
      val pred = langsP.sorted
        .map(l => l -> gs.map(g => weights.getOrElse((l, g), 0L)).sum)
        .reduce((a, b) => if (b._2 > a._2) b else a)._1
      val padded = " " + t + " "
      id -> !blockLists(pred).exists(p => padded.contains(" " + p + " "))
    }
    val gopher = TextOps.t16GopherRules(spark, sf)
      .select($"doc_id", $"r_word_count" && $"r_mean_word_len" &&
        $"r_alpha_words" && $"r_symbol_ratio" && $"r_top_word_mass")
      .as[(Long, Boolean)].collect().toMap
    val clf = TextOps.t18QualityClassifier(spark, sf)
      .select($"doc_id", $"clf_keep").as[(Long, Boolean)].collect().toMap
    val spans = DedupOps.d10SpanDedup(spark, sf)
      .select($"doc_id", $"has_dup").as[(Long, Boolean)].collect().toMap
    val dedup = DedupOps.d6DedupKeep(spark, sf)
      .as[(Long, Boolean)].collect().toMap
    val decont = TextOps.t10Decontaminate(spark, sf)
      .select($"doc_id", $"contaminated").as[(Long, Boolean)].collect().toMap
    val canon = texts.toSeq.groupBy(_._2).values
      .flatMap { g => val m = g.map(_._1).min; g.map(d => d._1 -> (d._1 == m)) }
      .toMap
    val tau = 4000L // StreamingOps.LangGateTauMicro — restated on purpose
    // stage 0's blocked bit replayed from the documented modular
    // convention directly (the registrable domain is a pure function of
    // doc_id — no URL string round-trip, an independent spelling)
    val blockedSet = Set("src3-3.com", "src7-2.org", "src12-2.co.uk")
    def blocked(id: Long): Boolean = blockedSet(
      s"src${id % 20}-${id % 5}" +
        (id % 3 match {
          case 0 => ".com"
          case 1 => ".org"
          // round 18: the %17=5 sliver carries the 3-label suffix —
          // its registrable domain (4 labels) is never on the blocklist
          case _ => if (id % 17 == 5) ".act.edu.au" else ".co.uk"
        }))
    def killStage(id: Long): Option[Int] =
      Seq(blocked(id), conf(id) < tau, !stopOk(id), !blockOk(id),
        !gopher(id), !clf(id), !canon(id), !dedup(id), spans(id),
        decont(id)).zipWithIndex
        .collectFirst { case (true, i) => i }

    val ids = texts.keys.toSeq
    var docsIn = ids.size.toLong
    var toksIn = ids.map(toks).sum
    got.foreach { case (i, _, dIn, tIn, dK, tK, dOut, tOut, share) =>
      val killed = ids.filter(killStage(_).contains(i))
      assert(dIn === docsIn, s"stage $i docs_in")
      assert(tIn === toksIn, s"stage $i tokens_in")
      assert(dK === killed.size.toLong, s"stage $i docs_killed")
      assert(tK === killed.map(toks).sum, s"stage $i tokens_killed")
      assert(dOut === dIn - dK && tOut === tIn - tK, s"stage $i outs")
      assert(share === dK * 1000000L / math.max(dIn, 1L), s"stage $i share")
      docsIn -= dK; toksIn -= tK
    }
    // the funnel must measure real attrition here: something dies at
    // more than one stage and something survives the whole chain
    assert(got.count(_._5 > 0) >= 2, "at least two stages kill")
    assert(got.last._7 > 0, "survivors exist")
    assert(got.last._7 === ids.count(killStage(_).isEmpty).toLong)
  }
}
