package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, NumericType, StringType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** Session-scoped delivery of `Dataset.observe` metrics to in-process
  * handlers — the shared plumbing behind [[Similarity]]'s skew
  * warning and [[Components]]'s convergence counter.
  *
  * One QueryExecutionListener is registered per session (lazily, on
  * the first `ensure`) and dispatches every observed metric to the
  * matching handlers. Sessions are weak keys so a stopped-and-dropped
  * SparkSession stays collectable. The map is synchronized because
  * WeakHashMap is not thread-safe. Handlers run on the listener bus
  * thread — keep them cheap and non-blocking. */
private[graft] object MetricListener {

  // prefix → the ONE session-wide handler for that prefix
  private type Dispatch =
    java.util.concurrent.ConcurrentHashMap[String, (String, Row) => Unit]

  private val registered = new java.util.WeakHashMap[SparkSession, Dispatch]()

  private def dispatchFor(spark: SparkSession): Dispatch =
    registered.synchronized {
      var d = registered.get(spark)
      if (d == null) {
        d = new Dispatch
        registered.put(spark, d)
        val dd = d
        spark.listenerManager.register(new QueryExecutionListener {
          override def onSuccess(funcName: String, qe: QueryExecution,
                                 durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              dd.forEach { (p, h) => if (name.startsWith(p)) h(name, row) }
            }
          override def onFailure(funcName: String, qe: QueryExecution,
                                 exception: Exception): Unit = ()
        })
      }
      d
    }

  /** Register the session-wide handler for metric names starting with
    * `prefix`.
    *
    * CONTRACT — first registration wins: a second `ensure` for the
    * same (session, prefix) is a no-op even with a DIFFERENT handler
    * (pinned in MetricListenerSpec). The call sites pass stable,
    * capture-free handlers, so this is what keeps re-entrant
    * operators from stacking one duplicate warning per call. */
  def ensure(spark: SparkSession, prefix: String)
            (handler: (String, Row) => Unit): Unit = {
    dispatchFor(spark).putIfAbsent(prefix, handler)
    ()
  }

  /** A zero-row twin of `schema` riding on `observed`: filtered by
    * `opaqueFalse` — a predicate that never passes but that the
    * optimizer cannot constant-fold away. Use a comparison on VALUES
    * the optimizer has no bounds for: `count < 0` on an aggregate
    * output, `size(arr) < 0`, `bit_count(x) < 0`. NOT `rand() < -1`:
    * Spark 4 knows rand's [0,1) range, folds the filter to false, and
    * then prunes the whole branch — CollectMetrics included (verified
    * empirically; the metric silently never fires). Projected to
    * `schema`'s columns, `unionByName` it onto a real result to keep `observed`'s
    * CollectMetrics node in the FINAL stage, where AQE's
    * empty-relation propagation cannot delete it (the round-9 find:
    * a metric riding a prunable branch vanishes exactly when that
    * branch goes empty — see Similarity's in-code note).
    *
    * Fields are projected as NON-NULL zero literals for
    * numeric/string/boolean types, so the union does not widen the
    * real result's nullability (a null-literal branch marks every
    * output column nullable — the round-9 ADVICE item); other types
    * fall back to a null literal and DO widen, so keep such columns
    * out of hash-pinned schemas or extend the zero table.
    * [[Similarity.nearDupPairs]]' skew metric is its one user. Cache
    * release does not ride a twin: a consumer filter on the result's
    * columns is pushed into the twin branch, folds to false there and
    * prunes the branch, CollectMetrics included (see [[Caches]]). */
  def zeroRowTwin(observed: DataFrame, opaqueFalse: Column,
                  schema: StructType): DataFrame =
    observed.filter(opaqueFalse).select(schema.fields.toIndexedSeq.map { f =>
      val z = f.dataType match {
        case BooleanType      => lit(false)
        case StringType       => lit("")
        case _: NumericType   => lit(0).cast(f.dataType)
        case dt               => lit(null).cast(dt)
      }
      z.as(f.name)
    }: _*)
}
