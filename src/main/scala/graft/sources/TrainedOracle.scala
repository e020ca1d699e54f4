package graft.sources

/** Registry for oracle SQL that embeds DRIVER-TRAINED constants — the k5
  * literal-constants discipline applied to data-derived artifacts.
  *
  * Most oracles are static strings (or re-derive their model inside SQL,
  * the t15/t18 device). A few operators verify against constants that are
  * deterministic per corpus but NOT derivable in SQL — s9's k-means
  * quantizer centroids, t4c's learned BPE merge vocabulary. For those,
  * the driver contract itself guarantees an ordering: `graft.Verify` runs
  * every query BEFORE dumping `SparkEntry.oracleSql`, so the operator
  * registers its fully-spliced SQL here while building its plan (after
  * training/loading the persisted artifact), and the oracleSql map reads
  * the registration.
  *
  * The fallback (returned if the query never ran in this process) is a
  * loud sentinel: schema-correct but empty, so a dump taken out of order
  * fails the driver's row-count compare instead of silently passing. The
  * constants themselves are deterministic per corpus fingerprint (seeded
  * trainers, persisted artifacts), so WHAT is spliced never depends on
  * timing — only WHETHER it has been spliced yet.
  */
private[graft] object TrainedOracle {
  private val m = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Called by the operator after its trained constants are resolved. */
  def publish(name: String, sql: String): Unit = m.put(name, sql)

  /** The spliced SQL, or the loud schema-correct-but-empty fallback. */
  def sqlFor(name: String, fallback: String): String = m.getOrElse(name, fallback)
}
