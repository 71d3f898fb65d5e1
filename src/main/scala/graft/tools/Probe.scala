package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType
import scala.collection.mutable
import graft.{LocalSession, SparkEntry}
import graft.operators.Caches

/** Per-query probes for optimization work, on the Bench session.
  *
  * `time <sfDir> <query> [query...]` times the named bench queries
  * with the Bench method: `benchWarm` off the clock, an action that
  * reads every output column ([[consumeAll]], as the benchmark's
  * output digest does), `clearCache` between runs, and
  * `SPARK_GRAFT_BENCH_RUNS` (default 3) trials interleaved across the
  * queries, so host drift hits every query alike. It prints each
  * trial, with the cached relations the trial left after its action
  * (polled briefly, since operator caches are released on the listener
  * bus), a median and min per query, and then each trial's job and
  * stage counts and its stages: wall, executor run time, shuffle
  * read/write and tasks.
  *
  * `plan <sfDir> <outDir> [query...]` writes each query's formatted
  * physical plan to `<outDir>/<query>.txt` (the gated form) and, where
  * the query has a bench override, `<outDir>/<query>_bench.txt`. It
  * prints each plan's Exchange count and flags CartesianProduct and
  * BroadcastNestedLoopJoin. No query named means every query.
  *
  * Run from the repo root, e.g.
  * {{{
  * sbt 'runMain graft.tools.Probe time <sfDir> q_project q_dedup_pairs_capped'
  * sbt 'runMain graft.tools.Probe plan <sfDir> <outDir> q_join_big'
  * }}}
  */
object Probe {
  private val usage =
    "usage: Probe time <sfDir> <query> [query...] | Probe plan <sfDir> <outDir> [query...]"

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: names if names.nonEmpty => time(sfDir, names)
    case "plan" :: sfDir :: outDir :: names => plan(sfDir, outDir, names)
    case _ => sys.error(usage)
  }

  private def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }

  private final case class StageRow(id: Int, name: String, wallMs: Long,
                                    runMs: Long, readBytes: Long,
                                    writeBytes: Long, tasks: Int)

  /** Jobs and stages of every job run under a job group, keyed by that
    * group. */
  private final class StageCollector extends SparkListener {
    private val groupOfStage = mutable.Map.empty[Int, String]
    val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
    val byGroup = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[StageRow]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          jobs(g) += 1
          e.stageIds.foreach(groupOfStage(_) = g)
        }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      for (g <- groupOfStage.get(si.stageId); a <- si.submissionTime;
           b <- si.completionTime; if m != null)
        byGroup.getOrElseUpdate(g, mutable.ArrayBuffer.empty) +=
          StageRow(si.stageId, si.name.split("\n").head.take(60), b - a,
            m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, si.numTasks)
    }
  }

  private def time(sfDir: String, names: Seq[String]): Unit = {
    requireKnown(names)
    val spark = LocalSession(LocalSession.cpus())
    val stages = new StageCollector
    spark.sparkContext.addSparkListener(stages)
    val qs = SparkEntry.benchQueries

    spark.range(1L << 20).selectExpr("sum(id)").collect()
    try SparkEntry.benchWarm(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[probe] benchWarm failed: ${e.getMessage}")
    }
    spark.catalog.clearCache()

    val trials = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).getOrElse(3)
    val runs = mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    for (t <- 1 to trials; name <- names) {
      spark.sparkContext.setJobGroup(s"$name t$t", s"probe $name t$t",
        interruptOnCancel = false)
      val t0 = System.nanoTime()
      val n = consumeAll(qs(name)(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      val cached = Caches.residentAfter(spark, 2000L)
      spark.catalog.clearCache()
      runs(name) = runs(name) :+ sec
      println(f"trial $t  $name%-28s $sec%8.3f s  ($n rows, $cached cached after)")
    }
    println("--- medians")
    names.foreach { name =>
      val rs = runs(name).sorted
      println(f"$name%-28s median ${rs(rs.size / 2)}%8.3f  min ${rs.head}%8.3f")
    }
    // stop() drains the listener bus, so every stage event is in
    spark.stop()
    println("--- stages (slowest 25 per trial)")
    stages.synchronized {
      for ((group, rows) <- stages.byGroup) {
        println(f"== $group: ${stages.jobs(group)} jobs, ${rows.size} stages, " +
          f"${rows.map(_.wallMs).sum} ms summed stage wall")
        rows.sortBy(-_.wallMs).take(25).foreach { r =>
          println(f"  stage ${r.id}%4d wall=${r.wallMs}%6d ms run=${r.runMs}%7d ms " +
            f"sRead=${r.readBytes / 1024}%8d KB sWrite=${r.writeBytes / 1024}%8d KB " +
            f"tasks=${r.tasks}%3d  ${r.name}")
        }
      }
    }
  }

  /** Row count of `df`, from an action that also sums a hash of every
    * output column. A bare `count()` lets the optimizer prune each
    * expression no aggregate reads, so it can time a fraction of the
    * query. Columns are renamed by position first, since names may
    * repeat or hold dots. */
  private def consumeAll(df: DataFrame): Long = {
    val cols = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val hash = xxhash64(cols.columns.toSeq.map(col): _*)
    cols.agg(count(lit(1)), sum(hash.cast(DecimalType(38, 0)))).head().getLong(0)
  }

  private def plan(sfDir: String, outDir: String, named: Seq[String]): Unit = {
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    requireKnown(names)
    val spark = LocalSession(LocalSession.cpus())
    val overrides = SparkEntry.packs.flatMap(_.benchOverrides).toMap
    Files.createDirectories(Paths.get(outDir))
    try names.foreach { name =>
      val forms = Seq(name -> SparkEntry.queries(name)) ++
        overrides.get(name).map(s"${name}_bench" -> _)
      for ((file, build) <- forms) {
        val plan = build(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        val out = Paths.get(outDir, s"$file.txt")
        Files.writeString(out, plan)
        val flags = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
          .filter(plan.contains)
        println(s"$file -> $out (${"Exchange".r.findAllIn(plan).size} Exchange" +
          s"${if (flags.nonEmpty) s", FLAGS: ${flags.mkString(",")}" else ""})")
        spark.catalog.clearCache()
      }
    } finally spark.stop()
  }
}
