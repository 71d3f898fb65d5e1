package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{Catalog, NioLocalFileSystem}
import graft.operators.{RangePartition, Traffic}

/** Catalog writes run on [[NioLocalFileSystem]]: they start no OS
  * process, and the files and directories they create get the modes
  * Hadoop's own local file system gives them. */
class LocalWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** The command lines of the processes the JVM started during `body`,
    * less Spark's own background work, which runs whatever the body
    * does: the heartbeat's one-time `getconf PAGESIZE`, and the `rm -rf`
    * of a collected session's artifact directory (streaming queries
    * clone sessions). */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft-proc", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(_.getStackTrace.getFrames.asScala.exists(f =>
          SparkBackground.contains(f.getMethod.getType.getName)))
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  private val SparkBackground = Set(
    "org.apache.spark.executor.ProcfsMetricsGetter",
    "org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner")

  private def trafficCsv(): JPath = {
    val f = Files.createTempDirectory("graft-lw").resolve("traffic.csv")
    Files.writeString(f,
      "id,Interconne,Detection_\n1,Radio,Video\n2,Radio,Loop\n3,Fiber,Video\n4,Radio,Video\n")
    f
  }

  test("a put and a maple/juice/select round trip through Engine start no OS process") {
    val engine = new Engine(spark, Files.createTempDirectory("graft-lw-engine").toString)
    val csv = trafficCsv().toString
    var counts = Map.empty[String, Int]
    var selected = -1L
    val started = processStarts {
      engine.put("traffic.csv", Traffic.readCsv(spark, csv))
      engine.maple("bear", "traffic.csv", numTasks = 2)(
        Traffic.csvMaple(filterIdx = 1, projectIdx = 2, param = "Radio"))
      counts = engine.juice("bear", "final_juice.csv", numTasks = 2, RangePartition) {
        (k, vs) => Iterator(s"$k,${vs.size}")
      }.collect().map(_.getString(0).split(",")).map(a => a(0) -> a(1).toInt).toMap
      selected = engine.select("SELECT ALL FROM traffic.csv WHERE Video").count()
      assert(engine.multiread("traffic.csv", 2) === Seq(4L, 4L))
      assert(engine.delete("bear"))
    }
    assert(started === Seq.empty)
    assert(counts === Map("Video" -> 2, "Loop" -> 1))
    assert(selected === 3L)
  }

  test("every other catalog write path starts no OS process") {
    import spark.implicits._
    val cat = new Catalog(spark, Files.createTempDirectory("graft-lw-cat").toString)
    val rows = (1 to 40).map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "p", "v")
    val started = processStarts {
      cat.put("flat_csv", rows, format = "csv", options = Map("header" -> "true"))
      cat.putCompacted("compacted", rows, targetFileBytes = 1L << 20)
      cat.putZOrdered("zordered", rows, "id", "p", numFiles = 2)
      cat.putPartitioned("parted", rows, "p")
      cat.appendPartitioned("parted", rows, "p")
      cat.compactPartitioned("parted", targetFileBytes = 1L << 20)
      cat.putBlob("blob", Array[Byte](1, 2, 3))
    }
    assert(started === Seq.empty)
    assert(cat.get("flat_csv").count() === 40L)
    assert(cat.get("compacted").count() === 40L)
    assert(cat.get("zordered").count() === 40L)
    assert(cat.get("parted").count() === 80L)
    assert(cat.fileStats("parted").files === 3L, "each fragmented partition compacted to one file")
  }

  /** Relative path → full mode bits (setuid/setgid/sticky included) of
    * everything under `root`. */
  private def modes(root: JPath): Map[String, Int] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)).toMap
    finally s.close()
  }

  private def exercise(fs: FileSystem, root: JPath): Unit = {
    def p(rel: String) = new Path(root.toUri.toString, rel)
    def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
    assert(fs.mkdirs(p("a/b/c")))
    val plain = fs.create(p("a/b/c/data"))
    try plain.write(Array.fill[Byte](100)(7)) finally plain.close()
    val secret = fs.create(p("a/secret"), perm("600"), true, 4096, 1.toShort, 1L << 20, null)
    try secret.write(Array[Byte](1, 2)) finally secret.close()
    assert(fs.mkdirs(p("private"), perm("700")))
    // a sticky bit takes Hadoop's own path
    assert(fs.mkdirs(p("shared")))
    fs.setPermission(p("shared"), perm("1777"))
  }

  test("NioLocalFileSystem gives every file, .crc file and directory Hadoop's mode") {
    val conf = new Configuration()
    def open(fs: FileSystem): FileSystem = { fs.initialize(URI.create("file:///"), conf); fs }
    val nioRoot = Files.createTempDirectory("graft-lw-nio")
    val hadoopRoot = Files.createTempDirectory("graft-lw-hadoop")
    exercise(open(new NioLocalFileSystem), nioRoot)
    exercise(open(new LocalFileSystem), hadoopRoot)
    val nio = modes(nioRoot)
    assert(nio === modes(hadoopRoot))
    assert(nio.keySet === Set("a", "a/b", "a/b/c", "a/b/c/data", "a/b/c/.data.crc",
      "a/secret", "a/.secret.crc", "private", "shared"))
    assert(nio("a/b") === Integer.parseInt("755", 8))
    assert(nio("a/b/c/.data.crc") === Integer.parseInt("644", 8))
    assert(nio("a/.secret.crc") === Integer.parseInt("600", 8))
    assert(nio("private") === Integer.parseInt("700", 8))
    assert(nio("shared") === Integer.parseInt("1777", 8))
    // and the checksums still verify on read
    val in = open(new NioLocalFileSystem).open(new Path(nioRoot.toUri.toString, "a/b/c/data"))
    try assert(in.readAllBytes().toSeq === Seq.fill[Byte](100)(7)) finally in.close()
  }

  test("catalog writes carry the file-system options on the write only") {
    import spark.implicits._
    val cat = new Catalog(spark, Files.createTempDirectory("graft-lw-opts").toString)
    val e = cat.put("t", Seq(1, 2).toDF("x"), format = "csv", options = Map("header" -> "true"))
    assert(e.options === Map("header" -> "true"))
    assert(NioLocalFileSystem.WriteOptions.keySet.forall(k => !e.options.contains(k)))
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") !=
      classOf[NioLocalFileSystem].getName)
  }
}
