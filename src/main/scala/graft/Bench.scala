package graft
import java.nio.file.{Files, Paths}

/** Benchmark main — runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line with per-query seconds.
  *
  * Methodology (pinned in round 11 per the verdict's ask, shared with
  * ScaleBench through [[Session.passes]]): a full warm-up pass first, then
  * THREE timed passes reporting the per-query MEDIAN. Without the warm-up
  * the first query absorbs ~4s of startup; the median (vs the old
  * 2-pass min) is robust to a single loaded pass in either direction —
  * r10's two full runs differed by 10% on the min-of-2, which was most of
  * the round-over-round signal. The JSON line is printed as the last
  * stdout line AND written to target/bench.json so the driver can parse
  * either; the full per-pass times and every failure's cause ride in
  * target/bench_passes.json for noise analysis.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    val runs = Session.passes(SparkEntry.queries.toSeq) { (_, n, fn) =>
      val outcome = Session.run(spark, n, fn, sfDir)
      outcome match {
        case f: Session.Failed => System.err.println(s"[bench] $n $f")
        case _ =>
      }
      outcome
    }
    // any pass failing must surface as -1, not hide behind the
    // successful passes' times
    val results = runs.map { case (n, os) => n -> Session.median(os).fold(-1.0)(_.totalS) }
    def secs(o: Session.Outcome): Double = o match {
      case ok: Session.Ok => ok.totalS
      case _ => -1.0
    }

    // Millisecond precision: full doubles made the line ~2× longer and the
    // driver's stdout tail-parse has truncated it two rounds running.
    def ms3(v: Double): Double = math.rint(v * 1000) / 1000
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

    // per-pass detail for noise analysis (not part of the JSON line),
    // plus the first timed failure of each failing query
    val perPass = (0 until Session.TimedPasses).map { i =>
      s"pass${i + 1}" -> obj(runs.map { case (n, os) => n -> ms3(secs(os(i))).toString })
    }
    val errors = runs.flatMap { case (n, os) =>
      os.collectFirst { case f: Session.Failed => n -> Session.jsonString(f.toString) }
    }
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/bench_passes.json"),
      obj(perPass :+ ("errors" -> obj(errors))) + "\n")
    val qs = obj(results.map { case (k, v) => k -> ms3(v).toString })
    // Per-query pass-to-pass spread (max−min over the three timed
    // passes): the measured noise floor, recorded so a round-over-round
    // delta can be judged against THIS run's own variability instead of
    // adjudicated from medians alone. Criterion (round 12, per the
    // verdict's ask): a query's round-over-round delta is machine noise,
    // not regression, when it is within max(2×spread, 0.3 s) of the
    // prior round AND flat-to-better at the 10×/20× scale points; only
    // deltas exceeding both bounds need a root cause.
    val sp = obj(runs.map { case (n, os) =>
      val ts = os.map(secs)
      n -> ms3(if (ts.exists(_ < 0)) -1.0 else ts.max - ts.min).toString
    })
    val total = results.values.filter(_ >= 0).sum
    val json =
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$qs,"spread":$sp,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("target/bench.json"), json + "\n")
    // The driver's stdout capture keeps only the last ~2 KB; the full
    // per-query line (~2.4 KB at 85+ queries) overflows it, which is
    // exactly how rounds 6 and 7 ended with a mid-value fragment and
    // `parsed: null`. So: print the FULL line before spark.stop()'s
    // shutdown noise (for humans and head-anchored parsers; the complete
    // artifact of record is target/bench.json), and make the FINAL
    // stdout line a COMPACT variant — same schema, `queries` limited to
    // the reference headline tier — that always fits the tail window.
    println(json)
    spark.stop()
    // Round 19 (VERDICT r18 item 9): the compact tail line's query set
    // extended beyond the four reference queries so the driver's
    // lower-core scaling ratios cover the floored/heavy families too
    // (capstones, dedup, text, sketch, multimodal, similarity,
    // streaming). ADDITIVE only — the original four keep their names —
    // and the line stays well under the ~2 KB stdout tail window.
    val headline = Seq("q1_agg", "q2_prime_sum", "q3_matrix_inverse",
      "q4_wordcount", "e9_attrition_funnel", "e11_release_changelog",
      "d6_dedup_keep", "t22_segment_langmix", "k5b_signature_overlap",
      "m10_video_neardup", "s4_knn_join", "st2_sessionize")
    val hqs = headline.flatMap(n => results.get(n).map(v => "\"" + n + "\":" + ms3(v)))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$hqs,"sf":"$sfDir","n_queries":${results.size},"full":"target/bench.json"}""")
  }
}
