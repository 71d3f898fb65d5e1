package org.apache.spark.sql.graftbridge

import java.util.{Collections, IdentityHashMap}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic
import scala.util.Try
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation,
  InMemoryTableScanExec}

/** Read-only access to the `private[sql]` cache bookkeeping that
  * [[graft.operators.Caches]] needs: which cached relations a query
  * uses, which cached relation a frame is, and how many the session
  * holds. A cached relation is identified by its
  * `CachedRDDBuilder`, compared by reference. */
object CacheBridge extends AdaptiveSparkPlanHelper {

  /** The cached relations `qe` uses: those its plan names once the
    * cache is substituted in, before the optimizer prunes any read
    * (a count over a left join drops a unique right side unread),
    * those its executed plan reads, and those the plans of these
    * cached relations read in turn. Subqueries included; a plan that
    * fails to build uses nothing. */
  def usedBy(qe: QueryExecution): java.util.Set[AnyRef] = {
    val seen = Collections.newSetFromMap(new IdentityHashMap[AnyRef, java.lang.Boolean]())
    def add(b: CachedRDDBuilder): Unit = if (seen.add(b)) walk(b.cachedPlan)
    def walk(p: SparkPlan): Unit =
      collectWithSubqueries(p) { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
        .foreach(add)
    Try(qe.withCachedData.collectWithSubqueries { case r: InMemoryRelation => r.cacheBuilder })
      .foreach(_.foreach(add))
    Try(walk(qe.executedPlan))
    seen
  }

  /** The cached relation `df` currently maps to, if any. */
  def cachedOf(df: DataFrame): Option[AnyRef] =
    manager(df.sparkSession)
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)

  /** Cached relations the session holds. */
  def cachedCount(spark: SparkSession): Int = manager(spark).numCachedEntries

  private def manager(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
}
