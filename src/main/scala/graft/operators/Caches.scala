package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.CacheBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** The one lifecycle of an operator's internal caches.
  *
  * An operator builds its result inside [[scoped]] and persists
  * through the [[Scope]] it is handed:
  *  - [[Scope.persist]] persists lazily: the first consumer fills it.
  *  - [[Scope.fill]] persists and counts, so a fan-out of consumers
  *    reads a filled cache instead of racing to fill it.
  *  - If the construction throws, every cache it persisted is
  *    unpersisted before the exception propagates.
  *  - When it returns, its caches are registered as ONE release set.
  *    The whole set is unpersisted after the first finished action,
  *    successful or failed, whose query uses any of them, directly or
  *    through another cache's plan.
  *
  * A later action on the result recomputes what was released: a
  * caller that acts on a result several times persists the result. A
  * frame that is already persisted when the operator asks is the
  * caller's: it is used as it is, never filled and never released.
  *
  * The rule reads the query's plans, not a metric: a consumer filter
  * that prunes a union branch, or a consumer that persists a filtered
  * projection of the result, still uses the cache and still releases
  * it. "Uses" means the plan names the cache once cached data is
  * substituted in, before the optimizer runs, or the executed plan
  * reads it ([[CacheBridge.usedBy]]): a `count()` the optimizer
  * answers without reading a cache (a left join whose unique right
  * side it drops, a `filter(lit(false))`) still releases it.
  *
  * One QueryExecutionListener per session does the releasing; it is
  * registered on the first release set the session registers, so a
  * session that never uses these operators runs none. Release runs
  * on the listener bus, shortly after the action returns. Pending
  * sets are capped per session ([[pendingCap]]): past the cap the
  * oldest set is unpersisted at once, with a warning. A pending set
  * holds its frames, and through them its session. */
private[graft] object Caches {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val pendingCap = 1024

  /** The caches one operator call owns. */
  final class Scope private[Caches] () {
    private[Caches] val owned = mutable.ArrayBuffer.empty[DataFrame]

    /** `df`, persisted lazily. */
    def persist(df: DataFrame): DataFrame = { own(df); df }

    /** `df`, persisted and filled with a count. */
    def fill(df: DataFrame): DataFrame = { if (own(df)) df.count(); df }

    private def own(df: DataFrame): Boolean =
      df.storageLevel == StorageLevel.NONE && {
        df.persist(StorageLevel.MEMORY_AND_DISK)
        owned += df
        true
      }
  }

  /** Build an operator's result with `build`, under the lifecycle
    * above. */
  def scoped(build: Scope => DataFrame): DataFrame = {
    val scope = new Scope
    val result =
      try build(scope)
      catch { case e: Throwable => scope.owned.foreach(_.unpersist(false)); throw e }
    releaseOnFirstUse(scope.owned.toSeq)
    result
  }

  /** Register already-persisted `caches` as one release set, for a
    * caller that persisted them itself and acts on them once. */
  def releaseOnFirstUse(caches: Seq[DataFrame]): Unit =
    if (caches.nonEmpty) {
      val evicted = releaserFor(caches.head.sparkSession).add(caches)
      evicted.foreach { set =>
        log.warn(s"Caches: over $pendingCap pending release sets; " +
          s"unpersisting the oldest (${set.size} caches) before any action used it")
        set.foreach(_.unpersist(false))
      }
    }

  /** The cached relations the session holds, polled for up to
    * `timeoutMs` until there are none: release runs on the listener
    * bus, after the action returns. */
  def residentAfter(spark: SparkSession, timeoutMs: Long): Int = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (CacheBridge.cachedCount(spark) > 0 && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    CacheBridge.cachedCount(spark)
  }

  private val releasers = new java.util.WeakHashMap[SparkSession, Releaser]()

  private def releaserFor(spark: SparkSession): Releaser =
    releasers.synchronized {
      var r = releasers.get(spark)
      if (r == null) {
        r = new Releaser
        releasers.put(spark, r)
        spark.listenerManager.register(r)
      }
      r
    }

  private final class Releaser extends QueryExecutionListener {
    private val pending = mutable.ArrayBuffer.empty[Seq[DataFrame]]

    def add(caches: Seq[DataFrame]): Option[Seq[DataFrame]] = synchronized {
      pending += caches
      if (pending.size > pendingCap) Some(pending.remove(0)) else None
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = finished(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = finished(qe)

    /** Unpersist every pending set the action used. Sets whose caches
      * are all gone already (a `clearCache()`) are dropped. Spark
      * re-caches a not-yet-filled cache when a cache under it is
      * released, so each set's relations are looked up now, not at
      * registration. */
    private def finished(qe: QueryExecution): Unit =
      if (synchronized(pending.nonEmpty)) {
        val used = CacheBridge.usedBy(qe)
        val done = synchronized {
          val (d, live) = pending.partition { set =>
            val relations = set.flatMap(CacheBridge.cachedOf)
            relations.isEmpty || relations.exists(used.contains)
          }
          pending.clear()
          pending ++= live
          d
        }
        done.foreach(_.foreach(_.unpersist(false)))
      }
  }
}
