package graft.tools

import graft.Session
import java.nio.file.{Files, Paths}

/** Whole-surface stage profiler: after the bench's own warm-up pass, each
  * query's wall time divides into [[graft.Session.run]]'s three parts —
  *
  *  - `build`: constructing the DataFrame (driver-side memo lookups,
  *    bounded collects inside the operator — trained profiles, centroid
  *    literals, store path resolution);
  *  - `plan`: forcing analysis → optimization → physical planning
  *    (`queryExecution.executedPlan`);
  *  - `exec`: the noop-sink write (job time, including the write's own
  *    re-planning, AQE, codegen compilation and task scheduling).
  *
  * Prints one JSON line per (pass, query), then each query's median pass
  * sorted by exec. Optionally dumps `.explain("formatted")` per query
  * (args: [outDir] for the plan files). `SPARK_GRAFT_ONLY` restricts the
  * set, e.g. to the ANN tier:
  * `SPARK_GRAFT_ONLY=s1_cosine_topk,s2_ann_ivf,s5_pq_rerank,s7_ivfpq,s8_ivfpq_upsert_serve`.
  * Dev instrument only — the bench contract lives in [[graft.Bench]]. */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val planDir = args.headOption
    val spark = Session.local()
    val qs = Session.selectedQueries.sortBy(_._1)

    def ms3(v: Double): Double = math.rint(v * 1000) / 1000
    val runs = Session.passes(qs) { (phase, n, fn) =>
      val outcome = Session.run(spark, n, fn, sfDir)
      println(outcome match {
        case Session.Ok(b, p, e) =>
          s"""{"stage":"$phase","query":"$n","build":${ms3(b)},"plan":${ms3(p)},"exec":${ms3(e)}}"""
        case f: Session.Failed =>
          s"""{"stage":"$phase","query":"$n","error":${Session.jsonString(f.toString)}}"""
      })
      outcome
    }
    planDir.foreach { d =>
      Files.createDirectories(Paths.get(d))
      qs.foreach { case (n, fn) =>
        Session.run(spark, n, fn, sfDir, (n, df) => Files.writeString(Paths.get(d, s"$n.txt"),
          df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)))
      }
    }
    println("==== median pass per query (sorted by exec desc) ====")
    runs.toSeq
      .flatMap { case (n, os) => Session.median(os).map(n -> _) }
      .sortBy(-_._2.execS)
      .foreach { case (n, Session.Ok(b, p, e)) =>
        println(f"$n%-28s build=${ms3(b)}%7.3f plan=${ms3(p)}%7.3f exec=${ms3(e)}%7.3f")
      }
    spark.stop()
  }
}
