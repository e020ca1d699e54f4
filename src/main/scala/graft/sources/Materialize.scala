package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

/** The one eager materialization: persist at `MEMORY_AND_DISK`, count, and
  * hand back the cached frame. Every operator that caches an intermediate
  * relation for the rest of its query goes through here; a source-scan
  * guard in `SessionSpec` keeps other `.persist(` sites out of `src/main`
  * (the self-releasing try/finally persists excepted).
  *
  * Why a site materializes, the reasons the sites share:
  *  - the relation is referenced more than once in the query's plan, and
  *    lambda exprIds defeat ReuseExchange, so without the cache Catalyst
  *    re-executes the whole subtree once per reference;
  *  - the count gives the optimizer real statistics, so a join on the
  *    relation broadcasts when it is small and shuffles when it is not;
  *  - eager, not lazy: building the frame RUNS the job (like fitting an
  *    MLlib model), so a consumer that only plans the frame still pays it.
  *  Each site keeps its own reason next to its call.
  *
  * Ownership: inside [[scoped]], the relation belongs to that scope and is
  * unpersisted when the scope exits — `Session.run` opens one per query,
  * the test suites one per test. Outside any scope nothing records it, and
  * the relation lives until someone clears the cache (a harness that
  * calls operators directly and clears the cache itself). The storage
  * level is fixed here, so this is the one place to try another. */
object Materialize {
  private val current = new DynamicVariable[Option[ArrayBuffer[DataFrame]]](None)

  def apply(df: DataFrame): DataFrame = {
    // a plan someone already cached stays theirs to release
    val fresh = df.storageLevel == StorageLevel.NONE
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    // recorded before the count, so a count that throws is still released
    if (fresh) current.value.foreach(_ += cached)
    cached.count()
    cached
  }

  /** Run `body`; when it exits, normally or by throwing, unpersist every
    * relation [[apply]] cached inside it. A nested scope releases only
    * what it cached itself: a plan an enclosing scope (or anyone) had
    * already cached is reused, not re-owned. Non-blocking, as Spark's own
    * whole-cache clear is; dependents are released before the relations
    * they were built from. */
  def scoped[T](body: => T): T = {
    val owned = ArrayBuffer.empty[DataFrame]
    try current.withValue(Some(owned))(body)
    finally owned.reverseIterator.foreach(_.unpersist(blocking = false))
  }
}
