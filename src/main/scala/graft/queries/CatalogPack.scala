package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{QueryPack, Tables}
import graft.catalog.Catalog

/** Driver-checkable coverage for the SDFS verb surface (SURVEY.md
  * §2.1; reference file_server/fileserver.py:1240-1284): the data
  * makes a full put → (ls / store / filetable / multiread sanity) →
  * get round trip through a real on-disk catalog before being
  * compared against DuckDB reading the source table directly — so a
  * green hash row proves the catalog write/read path is lossless.
  */
object CatalogPack extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_catalog_roundtrip" -> ((s, d) => {
      // fresh root per run: the registered output must outlive this
      // call (Verify reads the returned frame lazily), so the temp
      // dir is created but never deleted here
      val root = Files.createTempDirectory("graft-cat-rt").toString
      val cat = new Catalog(s, root)
      cat.put("nation_rt", Tables.nation(s, d))
      require(cat.ls("nation_rt").size == 4, "replica placement missing")
      require(cat.store(cat.ls("nation_rt").head).contains("nation_rt"),
        "store() does not invert ls()")
      require(cat.filetable.contains("nation_rt"), "filetable missing entry")
      val counts = cat.multiread("nation_rt", m = 3)
      require(counts.distinct.size == 1,
        s"multiread saw divergent counts: $counts")
      cat.get("nation_rt")
    }),

    // JSONL round trip — the training-corpus interchange format: the
    // documents table (embedded newlines, quotes, unicode in `text`)
    // goes out as catalog-managed JSON lines and comes back through
    // the same `get`; a green hash row proves the escape/encode path
    // is lossless against DuckDB reading the source parquet directly.
    // Columns are re-selected by name because JSON read-back orders
    // fields alphabetically, and doc_id is cast back to BIGINT because
    // JSON carries no integer width.
    "q_source_jsonl" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val cat = new Catalog(s, storeRoot("jsonl", d))
      cat.put("docs_jsonl", Tables.documents(s, d).select("doc_id", "text"),
        format = "json")
      val out = cat.get("docs_jsonl")
        .select(col("doc_id").cast("bigint").as("doc_id"), col("text"))
      cat.close()
      out
    }),

    // CSV round trip — the reference's native format: options ride the
    // catalog ENTRY (persisted in the manifest), so the read side gets
    // header + multiLine + inference without the caller re-supplying
    // them; types are cast back to the parquet source's schema because
    // CSV carries none. A green hash proves quoting/escaping of the
    // comment text (commas, quotes) survives the trip.
    "q_source_csv" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val src = Tables.nation(s, d)
      val cat = new Catalog(s, storeRoot("csv", d))
      cat.put("nation_csv", src, format = "csv", options = Map(
        "header" -> "true", "multiLine" -> "true", "inferSchema" -> "true"))
      val cols = Seq("n_nationkey", "n_name", "n_regionkey")
      val types = src.schema.fields.map(f => f.name -> f.dataType).toMap
      val out = cat.get("nation_csv")
        .select(cols.map(c => col(c).cast(types(c)).as(c)): _*)
      cat.close()
      out
    }),
    // the append-then-compact maintenance loop end-to-end: a
    // partitioned store absorbs an append slice (file count grows),
    // compactPartitioned rewrites it into a fresh sized version (file
    // count collapses — asserted via fileStats), and the gate hash
    // proves the whole loop is read-invariant against DuckDB reading
    // the source parquet directly
    "q_catalog_compact" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val cat = new Catalog(s, storeRoot("compact", d))
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      // split on doc_id%40 (source is doc_id%20 in this data, so a %2
      // split would hand each half DISJOINT partitions and nothing
      // would fragment) — this way every partition gets files from
      // BOTH the put and the append
      cat.putPartitioned("docs_c", docs.filter(col("doc_id") % 40 < 20),
        "source")
      cat.appendPartitioned("docs_c", docs.filter(col("doc_id") % 40 >= 20),
        "source")
      val frag = cat.fileStats("docs_c")
      cat.compactPartitioned("docs_c", targetFileBytes = 8L << 20)
      val stats = cat.fileStats("docs_c")
      require(stats.files < frag.files,
        s"compaction must reduce file count: $frag -> $stats")
      val out = cat.get("docs_c").select("doc_id", "text", "source")
      cat.close()
      out
    }),

    // ORC round trip — the other columnar interchange format Spark
    // ships natively (Hive-ecosystem handoff): schema and integer
    // widths survive in-format (no casts, unlike CSV/JSON), so a
    // green hash pins the writer/reader pair end-to-end against
    // DuckDB reading the source parquet.
    "q_source_orc" -> ((s, d) => {
      val cat = new Catalog(s, storeRoot("orc", d))
      cat.put("docs_orc",
        Tables.documents(s, d).select("doc_id", "text", "source"),
        format = "orc")
      val out = cat.get("docs_orc").select("doc_id", "text", "source")
      cat.close()
      out
    }),
  )

  override def oracleSql: Map[String, String] = Map(
    "q_catalog_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q_source_jsonl" ->
      "SELECT doc_id, text FROM documents",
    "q_source_csv" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q_source_orc" ->
      "SELECT doc_id, text, source FROM documents",
    "q_catalog_compact" ->
      "SELECT doc_id, text, source FROM documents",
  )
}
