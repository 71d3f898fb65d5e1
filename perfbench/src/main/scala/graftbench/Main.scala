package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** The closed loop: one client runs a workload's operations back to
  * back, each starting when the previous one returned. */
final class Loop(spark: SparkSession, w: Workload, tracer: Tracer) {
  @volatile private var concurrent = false
  private var nextId = 1L
  /** op id -> counters the workload read after the op (traced run). */
  val counters = mutable.Map.empty[Long, Map[String, Double]]

  def runOp(op: Op, pass: Int): OpRun = {
    val id = synchronized { nextId += 1; nextId - 1 }
    val t0 = tracer.nowMs
    val error =
      try tracer.op(id, op.name)(op.run(tracer))
      catch { case e: Throwable => Some(s"${op.name} threw $e") }
    val t1 = tracer.nowMs
    if (tracer.enabled) {
      tracer.noteResidue(id)
      counters(id) = w.afterOp()
    }
    if (!concurrent) spark.catalog.clearCache()
    error.foreach(e => System.err.println(s"[perfbench] wrong output: $e"))
    OpRun(id, op.name, pass, t0, t1, error)
  }

  /** The untimed warm-up. Independent ops run on `threads`
    * threads at once: the pass exists to compile and fill caches, and
    * its wall time is set-up time. */
  def warm(pass: Int, threads: Int): Seq[OpRun] =
    if (threads <= 1) w.warmOps.map(runOp(_, pass))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      concurrent = true
      try {
        val futures = w.warmOps.map(op => pool.submit(() => runOp(op, pass)))
        futures.map(_.get())
      } finally {
        pool.shutdown()
        concurrent = false
        spark.catalog.clearCache()
      }
    }

  /** Runs whole passes from `firstPass` until `seconds` have passed:
    * a window of whole passes holds every op of the workload equally
    * often, whatever order the seed gives them. Returns the finished
    * ops and the first pass index not yet started. */
  def window(firstPass: Int, seconds: Double): (Seq[OpRun], Int) = {
    val deadline = tracer.nowMs + seconds * 1000
    val out = mutable.ArrayBuffer.empty[OpRun]
    var k = firstPass
    while (k == firstPass || tracer.nowMs < deadline) {
      out ++= w.pass(k).map(runOp(_, k))
      k += 1
    }
    (out.toSeq, k)
  }
}

/** The largest heap occupancy left after any collection since it was
  * created: the peak of the live heap (plus old garbage not yet
  * collected), which the fixed-size heap hides from `peak_rss_mb`. */
final class HeapAfterGcPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }, null, null)
    case _ =>
  }

  def mb: Double = peak / 1048576.0
}

object Main {

  final case class Opts(mode: String = "run", workload: String = "", seed: Long = 1L,
                        seconds: Double = 10, trace: Boolean = false, data: String = "",
                        expected: String = "", benchmark: String = "BENCHMARK.json",
                        workDir: String = ".bench_work",
                        outDir: String = ".bench_out", launchMs: Long = -1L,
                        stamp: Map[String, String] = Map.empty, rest: Seq[String] = Nil)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--expected" :: v :: t => parse(t, o.copy(expected = v))
    case "--benchmark" :: v :: t => parse(t, o.copy(benchmark = v))
    case "--work-dir" :: v :: t => parse(t, o.copy(workDir = v))
    case "--out-dir" :: v :: t => parse(t, o.copy(outDir = v))
    case "--launch-ms" :: v :: t => parse(t, o.copy(launchMs = v.toLong))
    case "--stamp" :: k :: v :: t => parse(t, o.copy(stamp = o.stamp + (k -> v)))
    case ("--selftest" | "--oracle-sql" | "--digest") :: t =>
      o.copy(mode = args.head.drop(2), rest = t)
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(workDir: Path, threads: Int = cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", workDir.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val code = o.mode match {
      case "selftest" => SelfTest.run(Paths.get(o.workDir))
      case "oracle-sql" => oracleSql(Paths.get(o.rest.head)); 0
      case "digest" => digest(Paths.get(o.workDir), Paths.get(o.rest.head), Paths.get(o.rest(1))); 0
      case _ => run(o)
    }
    sys.exit(code)
  }

  /** Writes the DuckDB oracle SQL of every query a workload runs. */
  def oracleSql(out: Path): Unit = {
    val qs = Workloads.interactiveQueries
    Files.writeString(out, json.writeValueAsString(qs.map { case (q, p) => q -> p.oracleSql(q) }.toMap))
  }

  /** Digests every oracle answer (one parquet per query under `dir`). */
  def digest(workDir: Path, dir: Path, out: Path): Unit = {
    val spark = session(workDir)
    val names = Files.list(dir).toArray.map(_.asInstanceOf[Path]).sortBy(_.toString)
    val digests = names.map { p =>
      val d = OutputHash.of(spark.read.parquet(p.toString))
      p.getFileName.toString.stripSuffix(".parquet") -> Map("rows" -> d.rows, "hash" -> d.hash)
    }.toMap
    Files.writeString(out, json.writerWithDefaultPrettyPrinter().writeValueAsString(digests) + "\n")
    spark.stop()
  }

  def loadExpected(path: String): Map[String, OutputHash.Digest] = {
    val node = json.readTree(Paths.get(path).toFile).get("queries")
    node.fieldNames().asScala.map { q =>
      val e = node.get(q)
      q -> OutputHash.Digest(e.get("rows").asLong(), e.get("hash").asText())
    }.toMap
  }

  /** A metric as BENCHMARK.json lists it. */
  final case class Metric(name: String, unit: String)
  /** BENCHMARK.json's workload names and its end-to-end and per-layer
    * metrics, in file order. */
  final case class Spec(workloads: Seq[String], endToEnd: Seq[Metric], perLayer: Seq[Metric])

  def loadSpec(path: String): Spec = {
    val root = json.readTree(Paths.get(path).toFile)
    def list(key: String) = root.get(key).elements().asScala.toSeq
    def metrics(key: String) = list(key).map(m => Metric(m.get("name").asText(), m.get("unit").asText()))
    Spec(list("workloads").map(_.get("name").asText()), metrics("end_to_end"), metrics("per_layer"))
  }

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  final case class Window(ops: Seq[OpRun]) {
    val ok: Seq[OpRun] = ops.filter(_.error.isEmpty)
    val seconds: Double = (ops.map(_.end).max - ops.map(_.start).min) / 1000.0
    def throughput: Double = ok.size / seconds
  }

  def run(o: Opts): Int = {
    val spec = loadSpec(o.benchmark)
    require(spec.workloads.contains(o.workload),
      s"--workload must be one of ${spec.workloads.mkString(", ")}")
    val launchMs = if (o.launchMs > 0) o.launchMs else ManagementFactory.getRuntimeMXBean.getStartTime
    val workDir = Paths.get(o.workDir).toAbsolutePath
    val outDir = Paths.get(o.outDir).toAbsolutePath
    Files.createDirectories(outDir)
    val mainMs = System.currentTimeMillis()
    val heapPeak = new HeapAfterGcPeak
    val spark = session(workDir)
    val builtMs = System.currentTimeMillis()
    spark.range(1L << 20).selectExpr("sum(id)").collect()
    val sessionMs = System.currentTimeMillis()
    val sfDir = s"${o.data}/sf0.1"
    val w: Workload = o.workload match {
      case "repl_mapreduce" => new ReplWorkload(spark, workDir, o.seed)
      case "interactive_queries" => new QueryWorkload(spark, sfDir,
        Workloads.interactiveQueries, loadExpected(o.expected), o.seed)
    }
    w.prepare()
    val preparedMs = System.currentTimeMillis()
    val loop = new Loop(spark, w, new Tracer(false, spark.sparkContext))
    val warm = loop.warm(0, w.warmThreads)

    // The traced run traces the window the untraced run times, then
    // times an untraced window after it for the overhead.
    val events = new SparkCollector
    val tracer = new Tracer(o.trace, spark.sparkContext)
    val tloop = new Loop(spark, w, tracer)
    if (o.trace) {
      spark.sparkContext.addSparkListener(events)
      spark.listenerManager.register(events)
      w.afterOp() // the baseline for the first op's written files
    }
    val (firstOps, nextPass) = (if (o.trace) tloop else loop).window(1, o.seconds)
    val setupS = (firstOps.head.start - launchMs) / 1000.0
    val timedOps = if (o.trace) loop.window(nextPass, o.seconds)._1 else firstOps
    val timed = Window(timedOps)
    val rssMb = peakRssMb
    val lat = timedOps.map(_.ms / 1000.0)
    val tail = Stats.tail(lat)

    val stamp = o.stamp ++ Map(
      "workload" -> o.workload, "seed" -> o.seed.toString, "trace" -> (if (o.trace) "1" else "0"),
      "nproc" -> cores.toString, "jvm_max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "seconds" -> o.seconds.toString)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "throughput_ops_s" -> timed.throughput,
      "latency_p50_s" -> Stats.median(lat),
      "latency_tail_s" -> tail.value,
      "peak_rss_mb" -> rssMb)
    // printed and kept with the end-to-end figures, but not metrics of
    // BENCHMARK.json: failed_frac is 0 on a correct tree
    val unlisted = Map(
      "failed_frac" -> ((timedOps.size - timed.ok.size).toDouble / timedOps.size, "fraction"),
      "heap_after_gc_peak_mb" -> (heapPeak.mb, "MB"))

    val measured = if (o.trace) firstOps ++ timedOps else timedOps
    // the probes are the last Spark work; stopping the context then
    // delivers every queued listener event before the trace is read
    val probes = if (o.trace) w.probeFunctions() else Map.empty[String, Double]
    spark.stop()
    val perLayer: Map[String, Double] =
      if (!o.trace) Map.empty
      else {
        val layers = Layers.compute(firstOps, 1, tracer, events, tloop.counters.toMap)
        val traced = Window(firstOps)
        // the untraced window runs later, on a warmer JVM, so this
        // overstates the cost of tracing rather than hiding it
        val overhead = Map("traced_throughput_ops_s" -> traced.throughput,
          "untraced_throughput_ops_s" -> timed.throughput,
          "overhead_ops_s" -> (traced.throughput - timed.throughput))
        val traceFile = outDir.resolve(s"${o.workload}-seed${o.seed}.trace.json")
        Files.writeString(traceFile, json.writeValueAsString(Map(
          "stamp" -> stamp, "tracing_overhead" -> overhead, "layer_self_ms_per_pass" -> layers.selfMs,
          "per_op" -> layers.perOp, "spans" -> layers.spans)) + "\n")
        println(s"trace: $traceFile (${layers.spans.size} spans)")
        println(f"tracing overhead: traced ${traced.throughput}%.4f - untraced ${timed.throughput}%.4f" +
          f" = ${traced.throughput - timed.throughput}%.4f ops/s")
        layers.selfMs.toSeq.sortBy(_._1).foreach { case (l, ms) =>
          println(f"self time per pass  $l%-10s $ms%12.1f ms")
        }
        layers.metrics ++ probes ++ w.layerFacts()
      }

    println("stamp: " + json.writeValueAsString(stamp))
    def show(k: String, v: Double, unit: String): Unit = {
      val extra = if (k == "latency_tail_s")
        s"  (p${tail.percentile}, ${tail.beyond} of ${tail.samples} samples beyond)" else ""
      println(f"$k%-32s $v%16.6f $unit$extra")
    }
    spec.endToEnd.foreach(m => show(m.name, endToEnd(m.name), m.unit))
    unlisted.toSeq.sortBy(_._1).foreach { case (k, (v, unit)) => show(k, v, unit) }
    spec.perLayer.filter(_ => o.trace).foreach(m => show(m.name, perLayer.getOrElse(m.name, 0.0), m.unit))
    val reported =
      if (o.trace) spec.perLayer.map(m => m -> perLayer.getOrElse(m.name, 0.0))
      else spec.endToEnd.map(m => m -> endToEnd(m.name))
    val result = Map(
      "correct" -> (warm ++ measured).forall(_.error.isEmpty),
      "attempted" -> measured.size,
      "failed" -> measured.count(_.error.nonEmpty),
      "metrics" -> reported.map { case (m, v) => m.name -> Map("value" -> v, "unit" -> m.unit) }.toMap)
    Files.writeString(outDir.resolve(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"),
      json.writeValueAsString(Map("stamp" -> stamp, "result" -> result,
        "setup_phases_s" -> Map("jvm" -> (mainMs - launchMs) / 1000.0,
          "spark_session" -> (builtMs - mainMs) / 1000.0,
          "first_job" -> (sessionMs - builtMs) / 1000.0,
          "prepare" -> (preparedMs - sessionMs) / 1000.0,
          "untimed_pass" -> (firstOps.head.start - preparedMs) / 1000.0),
        "ops" -> (warm ++ measured).map(r => Map("name" -> r.name, "pass" -> r.pass, "ms" -> r.ms,
          "error" -> r.error.orNull)),
        "latency_tail" -> Map("percentile" -> tail.percentile, "beyond" -> tail.beyond,
          "samples" -> tail.samples),
        "end_to_end" -> (endToEnd ++ unlisted.map { case (k, (v, _)) => k -> v }))) + "\n")
    println(json.writeValueAsString(result))
    0
  }
}
