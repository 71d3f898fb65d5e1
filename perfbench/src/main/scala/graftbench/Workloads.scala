package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Engine, QueryPack, Tables}
import graft.functions.{DotProduct, GramHashes, MinHashSignature, Pct, RollingHash, SimHash64}
import graft.operators.{HashPartition, RangePartition, Traffic}
import graft.queries.{JoinPack, RelationalPack, SelectPack, ShapePack}
import graft.sql.SelectParser

/** One benchmark operation. `run` returns None when the output is
  * correct, or why it is not. */
final case class Op(name: String, run: Tracer => Option[String])

/** A set of inputs and the operations the closed-loop client sends. */
trait Workload {
  /** Builds the inputs and warms caches, off the clock. */
  def prepare(): Unit
  /** The operations of pass `k`, in that pass's seeded order. */
  def pass(k: Int): IndexedSeq[Op]
  /** Traced run only: rows per second of one direct call per hot
    * expression over this workload's own frame. */
  def probeFunctions(): Map[String, Double]
  /** Called after each op, outside its latency, in the traced run:
    * per-op counters only this workload can read. */
  def afterOp(): Map[String, Double] = Map.empty
  /** The untimed warm-up, run once before the clock starts. */
  def warmOps: IndexedSeq[Op] = pass(0)
  /** Threads for the untimed warm-up pass: more than one only when
    * the ops share no state. */
  def warmThreads: Int = 1
  /** Per-layer facts only this workload can measure. */
  def layerFacts(): Map[String, Double] = Map.empty
}

object Workloads {

  val InteractivePacks: Seq[QueryPack] = Seq(RelationalPack, SelectPack, JoinPack, ShapePack)
  /** Query name -> the pack that owns it, for the queries a workload runs. */
  def interactiveQueries: Seq[(String, QueryPack)] =
    InteractivePacks.flatMap(p => p.queries.keys.filter(p.oracleSql.contains).toSeq.sorted.map(_ -> p))

  def shuffled[T](xs: IndexedSeq[T], seed: Long, pass: Int): IndexedSeq[T] =
    new Random(seed * 1000003L + pass).shuffle(xs)

  /** Times one call of `expression` over `frame` (already cached);
    * returns rows per second. The digest consumes every value. */
  def rowsPerSecond(frame: DataFrame, rows: Long, expression: String): Double = {
    val t0 = System.nanoTime()
    OutputHash.of(frame.select(expr(expression).as("v")))
    rows / ((System.nanoTime() - t0) / 1e9)
  }

  /** The four hot expressions: the string ones over a `text` column,
    * the dot product over a `vec` array<double> column. Inputs are
    * computed and cached off the clock. */
  def probe(spark: SparkSession, text: DataFrame, vecs: DataFrame): Map[String, Double] = {
    Seq[SparkSession => Unit](RollingHash.register, MinHashSignature.register,
      SimHash64.register, DotProduct.register, GramHashes.register)
      .foreach(_(spark))
    val texts = text.select(col("text"), expr("graft_chargrams(text, 5)").as("grams"),
      expr("graft_shingles(text, 1)").as("toks")).cache()
    val vec = vecs.select(col("vec")).cache()
    try {
      val (nText, nVec) = (texts.count(), vec.count())
      Map(
        "functions.rolling_hash_rows_s" -> rowsPerSecond(texts, nText, "rolling_hash(text)"),
        "functions.minhash_rows_s" -> rowsPerSecond(texts, nText, "graft_minhash(grams, 64, 42)"),
        "functions.simhash_rows_s" -> rowsPerSecond(texts, nText, "graft_simhash(toks)"),
        "functions.dot_rows_s" -> rowsPerSecond(vec, nVec, "graft_dot(vec, vec)"))
    } finally { texts.unpersist(blocking = true); vec.unpersist(blocking = true) }
  }
}

/** Query-pack queries at one scale factor, each checked against the
  * row count and digest of its DuckDB oracle answer. */
final class QueryWorkload(spark: SparkSession, sfDir: String,
                          queries: Seq[(String, QueryPack)],
                          expected: Map[String, OutputHash.Digest], seed: Long)
    extends Workload {

  private val missing = queries.map(_._1).filterNot(expected.contains)
  require(missing.isEmpty, s"no certified answer for: ${missing.mkString(", ")}")

  def prepare(): Unit = queries.map(_._2).distinct.foreach(_.benchWarm(spark, sfDir))

  override def warmThreads: Int = Main.cores

  private val ops = queries.map { case (q, pack) =>
    val fn = pack.queries(q)
    Op(q, t => {
      val df = t.span("queries", "build")(fn(spark, sfDir))
      val got = t.span("spark", "action")(OutputHash.of(df))
      if (got == expected(q)) None else Some(s"$q: got $got, oracle ${expected(q)}")
    })
  }.toIndexedSeq

  def pass(k: Int): IndexedSeq[Op] = Workloads.shuffled(ops, seed, k)

  /** The workload's own sf0.1 frames: the document texts for the
    * string expressions, lineitem's four measures as the vector. */
  def probeFunctions(): Map[String, Double] =
    Workloads.probe(spark, Tables.documents(spark, sfDir),
      Tables.lineitem(spark, sfDir).select(array(
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(c => col(c).cast("double")): _*).as("vec")))
}

/** The reference REPL session (SURVEY.md §0) in a loop over a seeded
  * traffic CSV of the reference's shape (FIXTURES.md §1: 120 rows):
  * put, maple, juice, percentage of total, SELECT, get, ls,
  * multiread, delete. Each session is one operation. */
final class ReplWorkload(spark: SparkSession, workDir: Path, seed: Long) extends Workload {

  private val catalogRoot = workDir.resolve("catalog")
  private val name = "traffic.csv"
  private val csvPath = workDir.resolve("inputs").resolve(name)
  private var csv: TrafficGen.Csv = _
  private var engine: Engine = _

  def prepare(): Unit = {
    Files.createDirectories(csvPath.getParent)
    csv = TrafficGen.generate(TrafficGen.ReferenceRows, seed)
    Files.writeString(csvPath, csv.text)
    engine = new Engine(spark, catalogRoot.toString)
  }

  /** Pass `k` runs two sessions per maple parameter, one per juice
    * partitioning: the parameters in seeded order with hash and range
    * alternating, then the same order with the partitionings swapped.
    * Each session draws its SELECT regex. Eight sessions take about
    * 17 s, so a 10 s window always holds exactly one pass. */
  def pass(k: Int): IndexedSeq[Op] = {
    val rnd = new Random(seed * 1000003L + k)
    val params = Workloads.shuffled(TrafficGen.Params, seed, k)
    for (swap <- IndexedSeq(0, 1); (param, i) <- params.zipWithIndex) yield {
      val regex = TrafficGen.Regexes(rnd.nextInt(TrafficGen.Regexes.size))
      val mode = if ((i + swap) % 2 == 0) HashPartition else RangePartition
      Op(s"session[$param,$regex,$mode]", t => session(t, param, regex, mode))
    }
  }

  /** Warm-up: the first half of a pass, one session per parameter. */
  override def warmOps: IndexedSeq[Op] = pass(0).take(TrafficGen.Params.size)

  private def session(t: Tracer, param: String, regex: String,
                      mode: graft.operators.PartitionMode): Option[String] = {
    t.span("catalog", "put")(engine.put(name, Traffic.readCsv(spark, csvPath.toString)))
    t.span("operators", "maple")(
      engine.maple("bear", name, numTasks = 4)(Traffic.csvMaple(param = param)))
    t.span("operators", "juice")(
      engine.juice("bear", "final_juice.csv", numTasks = 4, mode) { (k, vs) =>
        Iterator(s"$k,${vs.size}")
      })
    val pct = t.span("catalog", "get") {
      val counts = engine.get("final_juice.csv")
        .select(split(col("value"), ",").as("kv"))
        .select(col("kv")(0).as("key"), col("kv")(1).cast("long").as("cnt"))
      Pct.withPctOfTotal(counts, "cnt", "pct")
        .select(col("key"), col("cnt"), Pct.pctString(col("pct")).as("pct"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    }
    val command = s"SELECT ALL FROM $name WHERE $regex"
    t.span("sql", "parse")(SelectParser.parse(command))
    val selected = t.span("sql", "select")(OutputHash.of(engine.select(command)).rows)
    val replicas = t.span("catalog", "ls")(engine.ls(name))
    val reads = t.span("catalog", "multiread")(engine.multiread(name, 4))
    val deleted = t.span("catalog", "delete")(engine.delete("bear"))

    val wantPct = TrafficGen.expectedPct(csv, param)
    val wantSelect = TrafficGen.expectedSelect(csv, regex)
    Seq(
      Option.when(pct != wantPct)(s"juice percentages $pct, generator $wantPct"),
      Option.when(selected != wantSelect)(s"SELECT rows $selected, generator $wantSelect"),
      Option.when(replicas.size != 4)(s"ls replicas $replicas"),
      Option.when(reads != Seq.fill(4)(csv.lines.size.toLong))(s"multiread counts $reads"),
      Option.when(!deleted)("delete of the intermediate returned false"),
    ).flatten.headOption.map(e => s"$param $regex: $e")
  }

  /** The generated lines are the frame: the raw CSV text for the string
    * expressions, the X/Y coordinates as the vector. */
  def probeFunctions(): Map[String, Double] = {
    val typed = Traffic.readCsv(spark, csvPath.toString)
    Workloads.probe(spark, typed.select(SelectParser.rowAsLine(typed).as("text")),
      typed.select(array(col("X").cast("double"), col("Y").cast("double")).as("vec")))
  }

  // files under the catalog root -> (size, mtime) at the last look
  private var seen = Map.empty[Path, (Long, Long)]

  private def walk(): Map[Path, (Long, Long)] = {
    val s = Files.walk(catalogRoot)
    try {
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    } finally s.close()
  }

  /** The files that appeared or changed under the catalog root since
    * the previous call. */
  override def afterOp(): Map[String, Double] = {
    val now = walk()
    val written = now.filter { case (p, st) => !seen.get(p).contains(st) }
    seen = now
    Map("catalog.bytes_written" -> written.values.map(_._1).sum.toDouble,
      "catalog.files_written" -> written.size.toDouble)
  }

  override def layerFacts(): Map[String, Double] = Map(
    "stored_bytes_per_input_byte" ->
      walk().values.map(_._1).sum.toDouble / csv.bytes)
}
