package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{HashPartition, Traffic}

/** End-to-end: the reference's canonical workload through the Engine
  * facade — put → maple → juice → SELECT (MP4-RUN-Command.txt:1-15)
  * — plus conglomerate and intermediate cleanup. The traffic input is
  * the committed reconstruction of the reference's fixture
  * ([[SparkSuite.trafficCsv]], FIXTURES.md §1).
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private def freshEngine(): Engine =
    new Engine(spark, Files.createTempDirectory("graft-engine").toString)

  test("canonical workload: put traffic.csv, maple(Radio), juice(count)") {
    val engine = freshEngine()
    engine.put("traffic.csv", SparkSuite.trafficCsv, "csv")

    engine.maple("bear", "traffic.csv", numTasks = 4)(
      Traffic.csvMaple(param = "Radio"))
    assert(engine.filetable.contains("bear"))

    val out = engine.juice("bear", "final_juice.csv", numTasks = 4,
      HashPartition, deleteIntermediate = true) { (k, vs) =>
      Iterator(s"$k,${vs.size}")
    }
    val counts = out.collect().map(_.getString(0))
      .map { l => val Array(k, c) = l.split(","); k -> c.toInt }.toMap
    // golden distribution (keys sanitized by the maple executable
    // semantics; Radio rows have no '/' keys so values are unchanged)
    assert(counts === Map("Video" -> 13, "Loop" -> 1, "None" -> 1))
    // delete=1 cleaned up the intermediate
    assert(!engine.filetable.contains("bear"))
  }

  test("SELECT ALL FROM <ds> WHERE <regex> over a catalog dataset") {
    val engine = freshEngine()
    val dir = Files.createTempDirectory("graft-sel")
    val f = dir.resolve("rows.csv")
    Files.writeString(f, "1,Video,x\n2,Radio,y\n3,Loop,z\n4,VideoRadio,w\n")
    engine.put("rows.csv", f.toString, "csv")
    assert(engine.select("SELECT ALL FROM rows.csv WHERE 'Video|Radio'")
      .count() === 3L)
    assert(engine.select("SELECT ALL FROM rows.csv WHERE Video.*Radio")
      .count() === 1L)
    assert(engine.select("SELECT ALL FROM rows.csv WHERE 2,Radio")
      .count() === 1L)
  }

  test("SELECT registers its output in the catalog (reference put + display ack)") {
    val engine = freshEngine()
    val dir = Files.createTempDirectory("graft-selreg")
    val f = dir.resolve("rows.csv")
    Files.writeString(f, "1,Video,x\n2,Radio,y\n3,Loop,z\n")
    engine.put("rows.csv", f.toString, "csv")
    val out = engine.select("SELECT ALL FROM rows.csv WHERE 'Video|Radio'")
    assert(out.count() === 2L)
    // the result itself is now a first-class catalog dataset: a
    // follow-up get() round-trips it, like the reference's
    // sql-juice-output.csv put back into SDFS (fileserver.py:661-668)
    assert(engine.filetable.contains(Engine.SelectOutputName))
    assert(engine.get(Engine.SelectOutputName).count() === 2L)
    // a second SELECT replaces the output (same fixed name, reference
    // semantics)
    engine.select("SELECT ALL FROM rows.csv WHERE Loop")
    assert(engine.get(Engine.SelectOutputName).count() === 1L)
  }

  test("conglomerate unions partial outputs into one catalog dataset") {
    val engine = freshEngine()
    import spark.implicits._
    val parts = Seq(Seq(1, 2).toDF("x"), Seq(3).toDF("x"), Seq(4, 5).toDF("x"))
    val all = engine.conglomerate("merged", parts)
    assert(all.collect().map(_.getInt(0)).sorted === Array(1, 2, 3, 4, 5))
  }

  test("REPL command surface drives the same workload") {
    val engine = freshEngine()
    Repl.handle(engine, s"put ${SparkSuite.trafficCsv} traffic.csv")
    Repl.handle(engine, "maple maple-exe 4 bear traffic.csv Radio")
    Repl.handle(engine, "juice juice-exe 4 bear final_juice.csv 0 hash")
    assert(engine.filetable.contains("final_juice.csv"))
    assert(engine.filetable.contains("bear")) // delete flag was 0
    val rows = engine.get("final_juice.csv").collect().map(_.getString(0)).toSet
    assert(rows === Set("Video,13", "Loop,1", "None,1"))
    Repl.handle(engine, "delete bear")
    assert(!engine.filetable.contains("bear"))
  }

  test("REPL multiwrite verb lands the dataset under concurrent puts") {
    val engine = freshEngine()
    Repl.handle(engine,
      s"multiwrite ${SparkSuite.trafficCsv} traffic_mw.csv 3")
    assert(engine.filetable.contains("traffic_mw.csv"))
    assert(engine.get("traffic_mw.csv").count() > 0L)
  }
}
