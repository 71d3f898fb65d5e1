package graft

import scala.io.StdIn
import graft.operators.{HashPartition, RangePartition, Traffic}

/** Interactive shell speaking the reference's command language
  * (file_server/fileserver.py:1234-1388, prompt at :1236; README.md:23-31).
  * Storage verbs hit the catalog; `maple`/`juice` run the built-in
  * traffic UDF pair (the reference ships its UDFs as Go binaries —
  * here the canonical pair is compiled in, and the typed API
  * [[Engine.maple]]/[[Engine.juice]] is the programmatic surface for
  * arbitrary UDFs).
  *
  * `runMain graft.Repl [catalogRoot]`
  */
object Repl {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft-catalog")
    val spark = LocalSession(4)
    val engine = new Engine(spark, root)
    println("Please Enter message for SDFS:")
    var line = StdIn.readLine()
    while (line != null && line.trim != "exit") {
      try handle(engine, line.trim)
      catch { case e: Exception => println(s"error: ${e.getMessage}") }
      line = StdIn.readLine()
    }
    spark.stop()
  }

  private[graft] def handle(engine: Engine, cmd: String): Unit = {
    val toks = cmd.split("\\s+").toSeq
    toks match {
      case Seq("put", local, name) =>
        engine.put(name, local); println(s"put $name")
      case Seq("get", name, local) =>
        engine.get(name).write.mode("overwrite").csv(local)
        println(s"Output is saved to: $local")
      case Seq("delete", name) =>
        println(if (engine.delete(name)) s"deleted $name" else s"no such file $name")
      case Seq("ls", name) =>
        println(engine.ls(name).mkString(", "))
      case Seq("store") =>
        println(engine.store(graft.catalog.Catalog.defaultHosts.head).mkString(", "))
      case Seq("filetable") =>
        engine.filetable.foreach { case (n, e) =>
          println(s"$n -> ${e.path} [${e.replicas.mkString(",")}]") }
      case Seq("multiread", name, m) =>
        println(engine.multiread(name, m.toInt).mkString(", "))
      case Seq("multiwrite", local, name, m) =>
        // reference: m simultaneous puts of the same local file
        // (fileserver.py:1276-1281); last writer wins on the pointer
        val df = engine.spark.read.csv(local)
        engine.multiwrite(name, Seq.fill(m.toInt)(df))
        println(s"multiwrite done -> $name x$m")
      case Seq("maple", _, num, prefix, src, param) =>
        engine.maple(prefix, src, num.toInt)(
          Traffic.csvMaple(param = param))
        println(s"maple done -> $prefix")
      case Seq("juice", _, num, prefix, dest, del, part) =>
        val mode = if (part == "range") RangePartition else HashPartition
        engine.juice(prefix, dest, num.toInt, mode,
          deleteIntermediate = del == "1") { (k, vs) =>
          Iterator(s"$k,${vs.size}")
        }
        println(s"juice done -> $dest")
      case _ if cmd.toUpperCase.startsWith("SELECT") =>
        engine.select(cmd).show(100, truncate = false)
        // the reference's display ack (fileserver.py:254-256)
        println(s"Output is saved to: ${Engine.SelectOutputName}")
      case _ if cmd.toUpperCase.startsWith("JOIN") =>
        // parity with the reference's stub (fileserver.py:1383-1384) —
        // except the real join surface exists programmatically
        println("received JOIN SQL command — use Engine/Dataset.join for real joins")
      case _ =>
        println(s"unrecognized command: $cmd")
    }
  }
}
