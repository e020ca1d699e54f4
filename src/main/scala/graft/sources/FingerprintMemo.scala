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
  * serves stale state nor collects one entry per corpus state. A spec
  * simulates a fresh process with `spark.newSession()`. Values hold
  * nothing that needs an explicit release: driver-side arrays and
  * scalars, artifact paths, or localCheckpointed frames whose blocks the
  * ContextCleaner frees once the replaced entry is unreachable. Cached
  * relations belong to a query scope ([[Materialize]]), never to a memo.
  *
  * Sessions are held weakly: a session dropped without being stopped
  * (each `spark.newSession()` a caller lets go of) takes its entries with
  * it once it is collected, and the entries of a stopped session are
  * purged on the next build. A value that itself holds its session (a
  * DataFrame) keeps that session reachable, so such entries live until
  * the session stops.
  *
  * Concurrency: the decision section is serialized (builds are rare —
  * once per corpus snapshot), but the build itself runs outside the
  * lock so Spark jobs never execute under it; if two threads race the
  * same build, the winner's value is served to both.
  */
private[graft] final class FingerprintMemo[V] {
  private val m = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[(String, String), (String, V)]]

  def getOrBuild(s: SparkSession, tag: String, variant: String,
      fingerprint: String)(build: => V): V = {
    val key = (tag, variant)
    m.synchronized {
      val entries = m.get(s)
      if (entries == null) None else entries.get(key)
    } match {
      case Some((f, v)) if f == fingerprint => v
      case _ =>
        val built = build
        m.synchronized {
          // a stopped session's entries can never be served again
          m.keySet.removeIf(sess => (sess ne s) && sess.sparkContext.isStopped)
          val entries = m.computeIfAbsent(s, _ => scala.collection.mutable.Map.empty)
          entries.get(key) match {
            // a racer installed the same snapshot first — serve its value
            case Some((f, v)) if f == fingerprint => v
            case _ => entries.put(key, (fingerprint, built)); built
          }
        }
    }
  }

  /** Number of live entries — spec hook. */
  private[graft] def size: Int = m.synchronized {
    import scala.jdk.CollectionConverters._
    m.values.asScala.iterator.map(_.size).sum
  }
}
