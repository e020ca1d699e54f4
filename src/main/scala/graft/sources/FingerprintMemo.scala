package graft.sources

import org.apache.spark.sql.SparkSession

/** The one driver-side memo: entries keyed by (session, location tag,
  * variant) and VALIDATED by a fingerprint derived from
  * [[Tables.fingerprint]] — the listing id itself, or an artifact path
  * named by it ([[Layouts.artifactPath]]). The fingerprint rolls whenever
  * an underlying table is rewritten, so an entry built against the old
  * files is never served again; a lookup whose fingerprint differs from
  * the stored entry's rebuilds and REPLACES the entry — at most one live
  * entry per (session, tag, variant), so a long-lived session neither
  * serves stale state nor collects one entry per corpus state. Entries
  * of stopped sessions are purged on the next build. A spec simulates a
  * fresh process with `spark.newSession()`. Values hold nothing that
  * needs an explicit release: driver-side arrays and scalars, artifact
  * paths, or localCheckpointed frames whose blocks the ContextCleaner
  * frees once the replaced entry is unreachable. Cached relations belong
  * to a query scope ([[Materialize]]), never to a memo.
  *
  * Concurrency: the decision section is serialized (builds are rare —
  * once per corpus snapshot), but the build itself runs outside the
  * lock so Spark jobs never execute under it; if two threads race the
  * same build, the winner's value is served to both.
  */
private[graft] final class FingerprintMemo[V] {
  private val m = scala.collection.mutable.Map
    .empty[(SparkSession, String, String), (String, V)]

  def getOrBuild(s: SparkSession, tag: String, variant: String,
      fingerprint: String)(build: => V): V = {
    val key = (s, tag, variant)
    m.synchronized(m.get(key)) match {
      case Some((f, v)) if f == fingerprint => v
      case _ =>
        val built = build
        m.synchronized {
          // a stopped session's entries can never be served again either
          // — purge them so the memo cannot pin dead SparkSessions
          m.filterInPlace { case ((sess, _, _), _) =>
            (sess eq s) || !sess.sparkContext.isStopped
          }
          m.get(key) match {
            // a racer installed the same snapshot first — serve its value
            case Some((f, v)) if f == fingerprint => v
            case _ => m.put(key, (fingerprint, built)); built
          }
        }
    }
  }

  /** Number of live entries — spec hook. */
  private[graft] def size: Int = m.synchronized(m.size)
}
