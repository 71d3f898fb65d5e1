package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.{Catalog, CatalogEntry}
import graft.operators.{Grep, MapleJuice, PartitionMode, HashPartition}
import graft.sql.SelectParser

/** The user-facing facade: every verb of the reference's REPL
  * (file_server/fileserver.py:1234-1388) on one object, so a
  * reference user can switch 1:1.
  *
  * | reference command                                        | here |
  * |----------------------------------------------------------|------|
  * | `put local sdfs` / `get sdfs local` / `delete sdfs`      | [[put]]/[[get]]/[[delete]] |
  * | `ls` / `store` / `filetable`                             | [[ls]]/[[store]]/[[filetable]] |
  * | `multiread`                                              | [[multiread]] |
  * | `maple exe n prefix src param`                           | [[maple]] |
  * | `juice exe n prefix dest delete partition`               | [[juice]] |
  * | `SELECT ALL FROM f WHERE regex`                          | [[select]] |
  * | grep client mode c / a                                   | [[grepCount]]/[[grepFetch]] |
  *
  * Storage-layer differences are intentional upgrades (SURVEY.md
  * §2.8): immutable writes instead of replica scp + R/W gates;
  * exactly-once job output instead of append-mode at-least-once.
  */
final class Engine(val spark: SparkSession, catalogRoot: String) {

  val catalog = new Catalog(spark, catalogRoot)

  // ---- SDFS verb surface -------------------------------------------------

  def put(name: String, df: DataFrame): CatalogEntry = catalog.put(name, df)
  def put(name: String, path: String, format: String = "csv"): CatalogEntry =
    catalog.putPath(name, path, format)
  def get(name: String): DataFrame = catalog.get(name)
  def delete(name: String): Boolean = catalog.delete(name)
  def ls(name: String): Seq[String] = catalog.ls(name)
  def store(host: String): Seq[String] = catalog.store(host)
  def filetable: Map[String, CatalogEntry] = catalog.filetable
  def multiread(name: String, m: Int): Seq[Long] = catalog.multiread(name, m)
  def multiwrite(name: String, dfs: Seq[DataFrame]): Seq[CatalogEntry] =
    catalog.multiwrite(name, dfs)

  /** Raw text lines of a catalog dataset (the reference's unit of
    * maple input; CSV files line-granular, fileserver.py:265-289).
    * Typed rows are [[SelectParser.rowAsLine]]: NULL cells serialize
    * as empty fields (concat_ws alone would silently DROP them,
    * shifting every later positional field the maple UDF indexes). */
  def lines(name: String): Dataset[String] = {
    val e = catalog.filetable.getOrElse(name,
      throw new NoSuchElementException(s"no such dataset: $name"))
    import spark.implicits._
    if (e.format == "csv" || e.format == "text")
      spark.read.text(e.path).select(col("value")).as[String]
    else {
      val df = get(name)
      df.select(SelectParser.rowAsLine(df)).as[String]
    }
  }

  // ---- MapleJuice job surface -------------------------------------------

  /** `maple <exe> <num> <prefix> <src> <param>`: run the map UDF over
    * the named dataset's lines; the intermediate KV set is registered
    * in the catalog as `<prefix>` (replacing the reference's
    * prefix--key.csv files, SURVEY.md §1.1). */
  def maple(prefix: String, src: String, numTasks: Int)(
      f: String => IterableOnce[(String, String)]): DataFrame = {
    val kv = MapleJuice.maple(lines(src), numTasks)(f)
      .toDF("key", "value")
    catalog.put(prefix, kv)
    kv
  }

  /** `juice <exe> <num> <prefix> <dest> <delete> <partition>`: reduce
    * the intermediate under `prefix` into `dest`; optional cleanup of
    * the intermediate (the reference's delete=1, fileserver.py:642-650). */
  def juice(prefix: String, dest: String, numTasks: Int,
            mode: PartitionMode = HashPartition,
            deleteIntermediate: Boolean = false)(
      g: (String, Iterator[String]) => IterableOnce[String]): DataFrame = {
    import spark.implicits._
    val kv = get(prefix).select(col("key"), col("value"))
      .as[(String, String)]
    val out = MapleJuice.juice(kv, numTasks, mode)(g).toDF("value")
    catalog.put(dest, out)
    if (deleteIntermediate) catalog.delete(prefix)
    get(dest)
  }

  // ---- SQL / grep surface ------------------------------------------------

  /** `SELECT ALL FROM <ds> WHERE <regex>` over a catalog dataset.
    *
    * The result is not just returned — it is registered back into the
    * catalog under `dest`, mirroring the reference's lifecycle: SELECT
    * runs as a maple+juice job whose juice output is `put` into SDFS
    * as sql-juice-output.csv and the requester is acked with the
    * location (fileserver.py:661-668; `put` + display ack at
    * :635-640, client print at :254-256). The returned frame reads
    * from the registered copy, so a follow-up `get(dest)` sees
    * exactly what the caller saw. */
  def select(command: String,
             dest: String = Engine.SelectOutputName): DataFrame = {
    val sel = SelectParser.parse(command)
    val out = SelectParser.run(get(sel.dataset), sel)
    catalog.put(dest, out)
    get(dest)
  }

  /** Distributed grep over files (mode `c`): per-file counts. */
  def grepCount(glob: String, regex: String): DataFrame =
    Grep.countPerFile(spark, glob, regex)

  /** Distributed grep over files (mode `a`): matching lines per file. */
  def grepFetch(glob: String, regex: String): DataFrame =
    Grep.fetch(spark, glob, regex)

  /** "Conglomerate" (fileserver.py:598-635): union independently
    * produced partial outputs into one dataset; optionally register. */
  def conglomerate(dest: String, parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "conglomerate requires at least one partial output")
    val all = parts.reduce(_ unionAll _)
    catalog.put(dest, all)
    get(dest)
  }
}

object Engine {
  /** Fixed SELECT output name, as the reference hard-codes it
    * (fileserver.py:666 `output_file_path = "sql-juice-output.csv"`). */
  val SelectOutputName = "sql-juice-output.csv"
}
