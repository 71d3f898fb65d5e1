package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryPack, Tables}

/** Row-shape operators: sort/limit (top-k), distinct, union-all
  * ("conglomerate"), and window functions.
  *
  * The reference's only set op is the implicit UNION ALL of partial
  * outputs (reference file_server/fileserver.py:598-635,
  * "conglomerate"); user-facing sort/limit/distinct/windows are absent
  * there (SURVEY.md §2.6/§2.9) and are shipped here as the Spark-free
  * extensions a switching user expects.
  *
  * Determinism: every ORDER BY / window ordering carries a unique-key
  * tiebreak so LIMIT and rank results are stable across engines.
  * Top-k via orderBy+limit is Spark's TakeOrderedAndProject — each
  * partition keeps only k rows, the driver merges n_partitions*k, so
  * it scales to arbitrarily wide scans.
  */
object ShapePack extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_topk" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(10)),

    "q_distinct" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()),

    // "conglomerate": union-all of independently produced slices
    "q_union" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .unionAll(
          o.filter(col("o_orderstatus") === "O")
            .select(col("o_orderkey"), col("o_orderstatus")))
    }),

    // ranking window: top-3 priciest lines per return flag, through
    // saltedTopK's dispatch. At k=3 that is the plain window — Spark's
    // WindowGroupLimit already bounds the 3-task hot-flag sort with a
    // per-partition partial top-k (the explicit salted form measured
    // strictly slower in this regime, see Skew.saltedTopK); the salted
    // two-phase engages only above the group-limit threshold, where
    // the rule goes dark.
    "q_window_rank" -> ((s, d) =>
      graft.operators.Skew.saltedTopK(
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
                  col("l_extendedprice")),
        groupCols = Seq("l_returnflag"),
        orderCols = Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
                        col("l_linenumber").asc),
        k = 3)),

    // exact distinct-count aggregate
    "q_count_distinct" -> ((s, d) =>
      Tables.lineitem(s, d)
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"))),

    // min/max/avg statistics per group
    "q_stats" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(min(col("l_extendedprice")).as("min_price"),
             max(col("l_extendedprice")).as("max_price"),
             round(avg(col("l_extendedprice")), 4).as("avg_price"))),

    // exact interpolated percentiles (both engines use the same
    // continuous-quantile definition; approx_percentile would not
    // cross-check). One aggregate answers both quantiles from one
    // per-group value buffer; two would each build and sort their own.
    "q_percentile" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.5, 0.9))").as("q"))
        .select(col("l_returnflag"), round(col("q")(0), 4).as("med"),
                round(col("q")(1), 4).as("p90"))),

    // ROLLUP with sentinel'd subtotal rows (no NULLs in compared cols)
    "q_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
                coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
                col("cnt"))),

    // CUBE: all 2^2 grouping sets in one pass (Expand + one shuffle,
    // not four scans) — same sentinel trick as q_rollup
    "q_cube" -> ((s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
             round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
                coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
                col("cnt"), col("sum_qty"))),

    // GROUPING SETS: the two one-dimension marginals WITHOUT the
    // (flag, status) cross or the grand total — the report shape
    // cube/rollup can't express without waste; one Expand + one
    // shuffle like q_cube
    "q_grouping_sets" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
             round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
                coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
                col("cnt"), col("sum_qty"))),

    // PIVOT: long→wide with an explicit value list (one Expand-free
    // aggregate — each value becomes a conditional-agg column, the
    // same single shuffle a plain groupBy pays)
    "q_pivot" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy((col("user_id") % 10).as("user_mod"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        // a (user_mod, type) combo with no rows pivots to NULL, but the
        // oracle's count(*) FILTER yields 0 — align on 0 so sparse data
        // can't diverge
        .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))),

    // UNPIVOT (wide→long): per-flag aggregates melted to
    // (flag, metric, value) rows — map-side Expand, no shuffle beyond
    // the upstream aggregate
    "q_unpivot" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
             round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price")), "metric", "value")),

    // NTILE: equal-depth length quartiles WITHIN each source (the
    // window partitions by source — never a global single-task sort),
    // deterministic via the doc_id tiebreak
    "q_ntile" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          coalesce(length(col("text")), lit(0)).as("n_chars2"))
        .withColumn("quartile", ntile(4).over(Window.partitionBy(col("source"))
          .orderBy(col("n_chars2"), col("doc_id"))))
        .groupBy(col("source"), col("quartile"))
        .agg(count(lit(1)).as("docs"), max(col("n_chars2")).as("max_chars"))),

    // set ops beyond union: INTERSECT / EXCEPT (distinct semantics)
    "q_intersect" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
    }),
    "q_except" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
    }),

    // date part extraction + string scalar functions
    "q_date_parts" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("cnt"))),
    "q_string_funcs" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"), upper(col("c_name")).as("uname"),
                substring(col("c_name"), 1, 8).as("prefix"),
                length(col("c_name")).as("len"))),

    // running-total window per customer in order time
    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
                col("o_totalprice"))
        .withColumn("running", round(sum(col("o_totalprice")).over(w), 2))
        .select(col("o_custkey"), col("o_orderkey"), col("running"))
    }),
  )

  override def oracleSql: Map[String, String] = Map(
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q_union" ->
      """SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'""".stripMargin,

    "q_window_rank" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn
        |FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem
        |) WHERE rn <= 3""".stripMargin,

    "q_count_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps FROM lineitem""".stripMargin,

    "q_stats" ->
      """SELECT l_returnflag, min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price,
        |  round(avg(l_extendedprice), 4) AS avg_price
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS med,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    // conditional aggregation IS the pivot semantics; column names
    // match Spark's single-agg pivot naming (the bare value)
    "q_pivot" ->
      """SELECT user_id % 10 AS user_mod,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'view') AS view,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY 1""".stripMargin,

    "q_unpivot" ->
      """WITH agg AS (
        |  SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |    round(sum(l_extendedprice), 2) AS sum_price
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM agg
        |UNION ALL
        |SELECT l_returnflag, 'sum_price', sum_price FROM agg""".stripMargin,

    "q_ntile" ->
      """WITH t AS (
        |  SELECT source, doc_id, coalesce(length(text), 0) AS n_chars2,
        |    ntile(4) OVER (PARTITION BY source
        |      ORDER BY coalesce(length(text), 0), doc_id) AS quartile
        |  FROM documents
        |)
        |SELECT source, quartile, count(*) AS docs,
        |  max(n_chars2) AS max_chars
        |FROM t GROUP BY 1, 2""".stripMargin,

    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus, count(*) AS cnt,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus, count(*) AS cnt,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin,

    "q_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin,

    "q_date_parts" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m, count(*) AS cnt
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS uname,
        |  substr(c_name, 1, 8) AS prefix,
        |  CAST(length(c_name) AS INT) AS len
        |FROM customer""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM orders""".stripMargin,
  )
}
