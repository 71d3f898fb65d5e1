package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Catalog

class CatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def freshCatalog(): (Catalog, String) = {
    val dir = Files.createTempDirectory("graft-catalog").toString
    (new Catalog(spark, dir), dir)
  }

  test("put/get round-trip preserves rows") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    cat.put("t1", df)
    assert(cat.get("t1").collect().map(_.getInt(0)).sorted === Array(1, 2, 3))
  }

  test("put/get round-trips json and csv formats too") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.put("j", df, format = "json")
    assert(cat.get("j").count() === 2L)
    assert(cat.filetable("j").format === "json")
  }

  test("delete removes data and entry; get then throws") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    cat.put("gone", Seq(1).toDF("x"))
    assert(cat.delete("gone"))
    assert(!cat.delete("gone"))
    intercept[NoSuchElementException](cat.get("gone"))
  }

  test("ls/store/filetable expose replica placement (4 hosts, deterministic)") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    cat.put("a", Seq(1).toDF("x"))
    cat.put("b", Seq(2).toDF("x"))
    assert(cat.ls("a").size === 4)
    assert(cat.ls("a") === cat.placeReplicas("a")) // stable
    assert(cat.ls("missing").isEmpty)
    // every name appears on exactly replicationFactor hosts
    val perHost = Catalog.defaultHosts.map(h => cat.store(h))
    assert(perHost.flatten.groupBy(identity).map(_._2.size).forall(_ == 4))
    // placement actually varies by name (guards against a degenerate
    // hash that pins every dataset to the same four hosts)
    assert(cat.placeReplicas("a").toSet !== cat.placeReplicas("b").toSet)
    assert(cat.filetable.keySet === Set("a", "b"))
  }

  test("manifest persists across catalog reopen") {
    import spark.implicits._
    val (cat, dir) = freshCatalog()
    cat.put("persist", Seq((1, "x")).toDF("id", "v"))
    val reopened = new Catalog(spark, dir)
    assert(reopened.filetable.contains("persist"))
    assert(reopened.get("persist").count() === 1L)
  }

  test("multiwrite: concurrent puts of different names all land (no leader gate needed)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val (cat, _) = freshCatalog()
    val fs = (1 to 4).map(i => Future {
      cat.put(s"w$i", Seq((i, s"v$i")).toDF("id", "v")); i
    })
    fs.foreach(f => Await.result(f, Duration.Inf))
    assert(cat.filetable.keySet === Set("w1", "w2", "w3", "w4"))
    (1 to 4).foreach(i => assert(cat.get(s"w$i").count() === 1L))
  }

  test("multiwrite: m concurrent puts of the SAME name — last writer wins") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    // writer i writes i rows, so the surviving version identifies itself
    val entries = cat.multiwrite("hot",
      (1 to 4).map(i => Seq.fill(i)(i).toDF("x")))
    assert(entries.size === 4)
    def version(p: String): Long = p.split("-v").last.toLong
    // the version stamp is taken inside the pointer-swap lock, so the
    // highest version IS the last writer; the catalog must point at it
    val winner = entries.maxBy(e => version(e.path))
    assert(cat.filetable("hot").path === winner.path)
    // and the surviving DATA matches the surviving pointer (writer i
    // wrote i rows)
    val winnerRows = entries.indexWhere(_.path == winner.path) + 1
    assert(cat.get("hot").count() === winnerRows.toLong)
  }

  test("multiread: concurrent readers all see the same count") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    cat.put("m", (1 to 100).toDF("x"))
    assert(cat.multiread("m", 5) === Seq.fill(5)(100L))
  }

  test("putPartitioned prunes partitions for filtered reads") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    val df = Seq((1, "a"), (2, "b"), (3, "a"), (4, "c")).toDF("id", "part")
    cat.putPartitioned("parted", df, "part")
    val filtered = cat.get("parted").filter($"part" === "a")
    assert(filtered.collect().map(_.getAs[Int]("id")).sorted === Array(1, 3))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("isnotnull(part"), s"expected partition pruning in:\n$plan")
  }

  test("appendPartitioned: exact union on read-back, untouched partitions keep their files") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    val base = Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "part")
    val entry = cat.putPartitioned("parted", base, "part")
    def files(p: String): Set[String] = {
      val d = java.nio.file.Paths.get(entry.path, s"part=$p")
      if (!java.nio.file.Files.exists(d)) Set.empty
      else {
        val s = java.nio.file.Files.list(d)
        try s.toArray.map(_.toString.split('/').last)
          .filter(_.endsWith(".parquet")).toSet
        finally s.close()
      }
    }
    val aBefore = files("a")
    val bBefore = files("b")
    assert(aBefore.nonEmpty && bBefore.nonEmpty)
    // append touches ONLY part=b and the new part=c
    cat.appendPartitioned("parted",
      Seq((4, "b"), (5, "c")).toDF("id", "part"), "part")
    assert(files("a") === aBefore, "untouched partition files must not change")
    assert(files("b").size > bBefore.size, "appended partition gains files")
    assert(bBefore.subsetOf(files("b")), "existing files never rewritten")
    assert(files("c").nonEmpty, "new partition value materializes")
    // read-back is the exact union; pruning still works post-append
    val got = cat.get("parted")
    assert(got.collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("part")))
      .toSet === Set((1, "a"), (2, "b"), (3, "a"), (4, "b"), (5, "c")))
    val plan = got.filter($"part" === "b").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"pruning lost after append:\n$plan")
    // appending to a name that was never put is an error, not a create
    intercept[IllegalArgumentException] {
      cat.appendPartitioned("never_put", base, "part")
    }
  }

  test("appendPartitioned runs no job beyond its layout check and its write") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    def slice(lo: Int) = (lo until lo + 6).map(i => (i, s"v$i", s"p${i % 3}"))
      .toDF("id", "v", "part").coalesce(1)
    cat.putPartitioned("parted", slice(0), "part")
    val (_, appendJobs) = JobCount(spark)(
      cat.appendPartitioned("parted", slice(6), "part"))
    // the same two steps by hand: read the stored schema, then a
    // dynamic-partition append of the same slice
    val control = Files.createTempDirectory("graft-append-control")
      .resolve("t").toString
    slice(0).write.partitionBy("part").parquet(control)
    val (_, controlJobs) = JobCount(spark) {
      spark.read.parquet(control).schema
      slice(6).write.partitionBy("part")
        .mode(org.apache.spark.sql.SaveMode.Append).parquet(control)
    }
    assert(controlJobs >= 1)
    assert(appendJobs <= controlJobs,
      s"appendPartitioned ran $appendJobs jobs; schema read + write run $controlJobs")
    assert(cat.get("parted").count() === 12L)
  }

  test("appendPartitioned enforces the stored layout: column set, types, partition column") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    val base = Seq((1, "x", "a"), (2, "y", "b")).toDF("id", "v", "part")
    cat.putPartitioned("parted", base, "part")
    // wrong partition column
    intercept[IllegalArgumentException] {
      cat.appendPartitioned("parted",
        Seq((3, "z", "c")).toDF("id", "v", "part"), "v")
    }
    // missing / extra columns
    intercept[IllegalArgumentException] {
      cat.appendPartitioned("parted", Seq((3, "c")).toDF("id", "part"), "part")
    }
    intercept[IllegalArgumentException] {
      cat.appendPartitioned("parted",
        Seq((3, "z", 1.0, "c")).toDF("id", "v", "extra", "part"), "part")
    }
    // wrong data-column type (id long, store has int)
    intercept[IllegalArgumentException] {
      cat.appendPartitioned("parted",
        Seq((3L, "z", "c")).toDF("id", "v", "part"), "part")
    }
    // a conforming frame still appends
    cat.appendPartitioned("parted", Seq((3, "z", "c")).toDF("id", "v", "part"), "part")
    assert(cat.get("parted").count() === 3L)
  }

  test("compactPartitioned: append fragmentation collapses, reads identical, fresh version") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    def slice(lo: Int, hi: Int) =
      (lo until hi).map(i => (i, s"v$i", s"p${i % 3}")).toDF("id", "v", "part")
    val before = cat.putPartitioned("parted", slice(0, 20), "part")
    // five append slices: file count grows with every one
    (1 to 5).foreach(k => cat.appendPartitioned("parted",
      slice(20 * k, 20 * (k + 1)), "part"))
    val frag = cat.fileStats("parted")
    assert(frag.partitions === 3)
    assert(frag.files >= 6 * 3 / 2,
      s"expected per-append file growth, got $frag") // >= 1 file per slice-partition touch
    val rowsBefore = cat.get("parted").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("v"), r.getAs[String]("part")))
      .sortBy(_._1)
    val after = cat.compactPartitioned("parted", targetFileBytes = 64L << 20)
    // fresh version: compaction keeps the immutable pointer-swap
    // contract, never rewrites in place
    assert(after.path !== before.path)
    val stats = cat.fileStats("parted")
    assert(stats.partitions === 3)
    assert(stats.files === 3L,
      s"tiny partitions must collapse to one file each, got $stats")
    val rowsAfter = cat.get("parted").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("v"), r.getAs[String]("part")))
      .sortBy(_._1)
    assert(rowsAfter === rowsBefore, "compaction must be read-invariant")
    // pruning still works on the compacted layout
    val plan = cat.get("parted").filter($"part" === "p1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"pruning lost after compact:\n$plan")
    // partition column still recorded: a second compact round-trips
    assert(cat.compactPartitioned("parted").path !== after.path)
    assert(cat.get("parted").count() === 120L)
  }

  test("compactPartitioned honors targetFileBytes (multi-file partitions) and escaped values") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    // partition values that need %XX path escaping, plus enough bytes
    // per partition to force >1 target file at a tiny targetFileBytes
    val df = (0 until 4000)
      .map(i => (i, "x" * 64, if (i % 2 == 0) "a/b" else "c d"))
      .toDF("id", "v", "part")
    cat.putPartitioned("parted", df, "part")
    val bytes = cat.fileStats("parted").bytes
    val target = bytes / 6 // ~3 files per partition
    val e = cat.compactPartitioned("parted", targetFileBytes = target)
    val stats = cat.fileStats("parted")
    assert(stats.files > 2 && stats.files <= 12,
      s"expected a handful of sized files, got $stats")
    // the escaped-directory join matched: every row survived
    assert(cat.get("parted").count() === 4000L)
    assert(cat.get("parted").groupBy("part").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a/b" -> 2000L, "c d" -> 2000L))
    // compaction on a flat entry is a contract error
    cat.put("flat", Seq(1).toDF("x"))
    intercept[IllegalArgumentException](cat.compactPartitioned("flat"))
    assert(e.options.get(Catalog.PartitionColKey) === Some("part"))
  }

  test("compactPartitioned is incremental: well-sized partitions carried by link, not rewritten") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    val a = (0 until 40).map(i => (i, s"v$i", "a"))
    val b = (100 until 140).map(i => (i, s"v$i", "b"))
    // single-task writes: one file per partition per write, so the
    // file-count fixture below is deterministic under local[4]
    val before = cat.putPartitioned("parted",
      (a ++ b).toDF("id", "v", "part").coalesce(1), "part")
    // fragment ONLY partition a with two appends
    cat.appendPartitioned("parted",
      (40 until 60).map(i => (i, s"v$i", "a")).toDF("id", "v", "part")
        .coalesce(1), "part")
    cat.appendPartitioned("parted",
      (60 until 80).map(i => (i, s"v$i", "a")).toDF("id", "v", "part")
        .coalesce(1), "part")
    def files(root: String, p: String): Set[String] = {
      val d = java.nio.file.Paths.get(root, s"part=$p")
      val st = java.nio.file.Files.list(d)
      try st.toArray.map(_.toString.split('/').last)
        .filter(f => !f.startsWith("_") && !f.startsWith(".")).toSet
      finally st.close()
    }
    val bBefore = files(before.path, "b")
    assert(files(before.path, "a").size === 3, "fixture: a must be fragmented")
    assert(bBefore.size === 1, "fixture: b must be well-sized")
    val rowsBefore = cat.get("parted").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val after = cat.compactPartitioned("parted", targetFileBytes = 64L << 20)
    // a rewritten (collapsed), b carried over with its FILE NAME intact
    // — the link path, so compaction cost scaled with the fragmented
    // partition only
    assert(files(after.path, "a").size === 1, "fragmented partition collapses")
    assert(files(after.path, "b") === bBefore,
      "well-sized partition must be hard-linked (same file names), not rewritten")
    val rowsAfter = cat.get("parted").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(rowsAfter === rowsBefore)
    // linked data survives reclamation of the version it came from: a
    // second compact links b onward into v3, and THAT writeVersioned
    // reclaims v1 (the dir b's inodes were first written under)
    val third = cat.compactPartitioned("parted", targetFileBytes = 64L << 20)
    assert(third.path !== after.path)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(before.path)),
      "fixture: the original version must have been reclaimed")
    assert(cat.get("parted").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1)
      === rowsBefore, "hard links must keep data alive past source-version reclamation")
  }

  test("compactPartitioned carries null-partition rows by link, never drops them") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    val df = Seq((1, "x", "a"), (2, "y", null), (3, "z", null))
      .toDF("id", "v", "part")
    cat.putPartitioned("parted", df, "part")
    // fragment BOTH the null dir and partition a
    cat.appendPartitioned("parted",
      Seq((4, "w", null), (5, "u", "a")).toDF("id", "v", "part"), "part")
    val got = cat.compactPartitioned("parted", targetFileBytes = 64L << 20)
    val rows = cat.get("parted").collect()
      .map(r => (r.getInt(0), Option(r.getString(2)))).toSet
    assert(rows === Set((1, Some("a")), (2, None), (3, None),
      (4, None), (5, Some("a"))),
      "null-partition rows must survive compaction (carried by link)")
    assert(got.options.get(Catalog.PartitionColKey) === Some("part"))
  }

  test("fileStats equals an independent FS walk after put, appends, compact and reopen") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    // independent FS truth: first-level partition dirs → (files, bytes)
    def walk(path: String): Map[String, (Long, Long)] = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("part="))
        .map { p =>
          val fs = {
            val s = java.nio.file.Files.list(p)
            try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
              .filter(f => java.nio.file.Files.isRegularFile(f) &&
                !f.getFileName.toString.startsWith("_") &&
                !f.getFileName.toString.startsWith("."))
              .toSeq
            finally s.close()
          }
          p.getFileName.toString ->
            (fs.size.toLong, fs.map(java.nio.file.Files.size(_)).sum)
        }.toMap
      finally st.close()
    }
    def check(c: Catalog, clue: String): Unit = {
      val truth = walk(c.filetable("parted").path)
      val fs = c.fileStats("parted")
      assert(fs.files === truth.valuesIterator.map(_._1).sum &&
        fs.bytes === truth.valuesIterator.map(_._2).sum &&
        fs.partitions === truth.size, s"$clue: fileStats must match the walk")
    }
    cat.putPartitioned("parted",
      Seq((1, "a"), (2, "b"), (3, null)).toDF("id", "part").coalesce(1), "part")
    check(cat, "after put")
    cat.appendPartitioned("parted",
      Seq((4, "a"), (5, "c"), (6, null)).toDF("id", "part").coalesce(1), "part")
    check(cat, "after first append")
    cat.appendPartitioned("parted",
      Seq((7, "a")).toDF("id", "part").coalesce(1), "part")
    check(cat, "after second append")
    cat.compactPartitioned("parted", targetFileBytes = 64L << 20)
    check(cat, "after compact")
    // a REOPENED catalog, with no prior in-memory state, walks the
    // same version
    cat.close()
    val reopened = new Catalog(spark, root)
    check(reopened, "on a reopened catalog")
    // flat entries: every data file, no partition dirs
    reopened.put("flat_stats", Seq(1, 2, 3).toDF("x"))
    val flat = reopened.fileStats("flat_stats")
    assert(flat.files > 0 && flat.partitions === 0)
  }

  test("compactPartitioned rewrite scan is partition-pruned to the fragmented values") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    cat.putPartitioned("parted",
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "part").coalesce(1), "part")
    // fragment partitions a and c, leave b well-sized
    cat.appendPartitioned("parted",
      Seq((4, "a"), (5, "c")).toDF("id", "part").coalesce(1), "part")
    // the exact production frame compactPartitioned writes, for a
    // fragmented set of {a, c}: its scan must carry a STATIC isin over
    // the partition column in PartitionFilters (planning-time pruning
    // — partition b's files are never listed), not rely on the join
    val frame = Catalog.rewriteFrame(cat.get("parted"), "part",
      Seq(("a", 1), ("c", 1)))
    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"),
      s"rewrite scan lost its partition filter:\n$plan")
    assert(plan.replaceAll("\\s+", " ").matches(
      """(?s).*PartitionFilters: \[[^\]]*IN \(a, ?c\)[^\]]*\].*"""),
      s"rewrite scan must prune to exactly the fragmented values:\n$plan")
    assert(frame.collect().map(_.getAs[Int]("id")).sorted === Array(1, 3, 4, 5))
  }

  test("compactPartitioned fails loudly instead of dropping rows on a value/dir mismatch") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    // string values '01'/'02' land in dirs part=01/part=02, but
    // read-back partition TYPE INFERENCE turns them into ints 1/2 —
    // the rewrite's value filter then matches nothing and the
    // fragmented partition's rows would silently vanish. The
    // row-count guard must abort the compact with the store intact.
    cat.putPartitioned("parted",
      Seq((1, "01"), (2, "02")).toDF("id", "part").coalesce(1), "part")
    cat.appendPartitioned("parted",
      Seq((3, "01")).toDF("id", "part").coalesce(1), "part")
    val before = cat.filetable("parted")
    val ex = intercept[IllegalStateException](
      cat.compactPartitioned("parted", targetFileBytes = 64L << 20))
    assert(ex.getMessage.contains("row count"))
    // aborted BEFORE the pointer swap: same version, all rows readable
    assert(cat.filetable("parted").path === before.path,
      "failed compact must not swap the version pointer")
    assert(cat.get("parted").count() === 3L)
    // and the failed attempt left no orphan version dir behind
    val leftovers = {
      val st = java.nio.file.Files.list(
        java.nio.file.Paths.get(before.path).getParent)
      try st.toArray.map(_.toString).filter(_.contains("parted-v")).toSeq
      finally st.close()
    }
    assert(leftovers === Seq(before.path),
      s"failed compact leaked a version dir: $leftovers")
  }

  test("compactPartitioned counts each version in one job and infers no schema") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    // three writer tasks each touch all three partitions: nine files,
    // every partition fragmented, so the whole store is rewritten
    cat.putPartitioned("parted", (0 until 30).map(i => (i, s"v$i", s"p${i % 3}"))
      .toDF("id", "v", "part").repartition(3), "part")
    assert(cat.fileStats("parted").files === 9L)
    val (_, jobs) = JobCount(spark)(
      cat.compactPartitioned("parted", targetFileBytes = 64L << 20))
    // each version's row count is one job and the fresh version is read
    // with the current one's schema: 6 jobs, where count() (two jobs
    // under adaptive execution) and an inferring read would run 9
    assert(jobs <= 6, s"compactPartitioned ran $jobs jobs")
    assert(cat.fileStats("parted").files === 3L)
    assert(cat.get("parted").count() === 30L)
  }

  test("putCompacted sizes the file count to the data, not the shuffle width") {
    val (cat, _) = freshCatalog()
    // 60000-row lineitem scan arrives pre-split; a naive put would
    // write one file per task
    val docs = Tables.lineitem(spark, SparkSuite.sf0001)
      .repartition(16)
    def partFiles(name: String): Int =
      new java.io.File(cat.filetable(name).path).listFiles()
        .count(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    // huge target → everything compacts into ONE file
    cat.putCompacted("li_one", docs, targetFileBytes = 1L << 40)
    assert(partFiles("li_one") === 1)
    // tiny target → file count scales with the size estimate
    // (ratio 1.0 pins the raw-estimate scaling independent of the
    // compression correction, which the next test covers)
    cat.putCompacted("li_many", docs, targetFileBytes = 64L << 10,
      compressionRatio = 1.0)
    assert(partFiles("li_many") > 1)
    // contents survive either layout
    assert(cat.get("li_one").count() === docs.count())
    assert(cat.get("li_many").count() === docs.count())
  }

  test("putCompacted compressionRatio lands on-disk file sizes near the target") {
    import org.apache.spark.sql.functions._
    val (cat, _) = freshCatalog()
    // md5 hex is effectively incompressible, so the measured ratio is
    // stable; 200k rows ≈ a few MB on disk
    val df = spark.range(200000L).select(col("id"),
      md5(col("id").cast("string")).as("h"))
    def onDiskBytes(name: String): Long =
      new java.io.File(cat.filetable(name).path).listFiles()
        .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
        .map(_.length()).sum
    def nFiles(name: String): Int =
      new java.io.File(cat.filetable(name).path).listFiles()
        .count(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    // calibrate: one file, then read the table's true on-disk ÷
    // in-memory ratio back from the catalog — measureRatio packages
    // the "prior version's size ÷ plan estimate" workflow the
    // docstring describes
    cat.putCompacted("cal", df, targetFileBytes = 1L << 40)
    val measured = cat.measureRatio("cal")
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val byHand = onDiskBytes("cal").toDouble / est
    // measureRatio counts every regular file (checksums, _SUCCESS),
    // the hand count only part-files — equal to within that overhead
    assert(measured >= byHand && measured <= byHand * 1.2,
      s"measureRatio=$measured disagrees with hand-computed $byHand")
    // for in-memory-built frames the plan estimate can undershoot, so
    // the measured ratio may exceed 1 — only positivity is guaranteed
    assert(measured > 0, s"ratio must be positive (ratio=$measured)")
    // the ratio is derived from the write-time estimate, which cannot
    // be recovered later: a name never putCompacted must fail fast
    intercept[IllegalStateException](cat.measureRatio("never_compacted"))
    // with the measured ratio, mean file size must land within 2× of
    // the target (the uncorrected estimate would miss by 1/ratio)
    val target = onDiskBytes("cal") / 4
    cat.putCompacted("sized", df, targetFileBytes = target,
      compressionRatio = measured)
    val mean = onDiskBytes("sized").toDouble / nFiles("sized")
    assert(mean >= target / 2.0 && mean <= target * 2.0,
      s"mean file size $mean vs target $target (nFiles=${nFiles("sized")})")
  }

  test("putBlob/getBlob round-trips arbitrary bytes byte-identically") {
    val (cat, _) = freshCatalog()
    // non-UTF8 bytes incl. every value 0..255 and a zero run — parquet
    // re-encoding or charset handling would corrupt these
    val bytes = (0 to 255).map(_.toByte).toArray ++ Array.fill(64)(0.toByte)
    cat.putBlob("ckpt.bin", bytes)
    assert(java.util.Arrays.equals(cat.getBlob("ckpt.bin"), bytes))
    // versioned overwrite: new bytes fully replace old
    val v2 = Array[Byte](9, 8, 7)
    cat.putBlob("ckpt.bin", v2)
    assert(java.util.Arrays.equals(cat.getBlob("ckpt.bin"), v2))
    // a dataframe entry refuses blob retrieval
    import spark.implicits._
    cat.put("df", Seq(1).toDF("x"))
    intercept[IllegalArgumentException](cat.getBlob("df"))
  }

  test("catalog verbs work over blob entries: ls/store/filetable/multiread/get/delete") {
    val (cat, _) = freshCatalog()
    cat.putBlob("blob.a", Array[Byte](1, 2, 3))
    assert(cat.ls("blob.a").size === 4)
    assert(cat.store(cat.ls("blob.a").head).contains("blob.a"))
    assert(cat.filetable("blob.a").format === "blob")
    // get reads the blob through binaryFile: one row, exact length
    val row = cat.get("blob.a").selectExpr("length").collect()
    assert(row.map(_.getLong(0)).toSeq === Seq(3L))
    assert(cat.multiread("blob.a", 3) === Seq.fill(3)(1L))
    assert(cat.delete("blob.a"))
    intercept[NoSuchElementException](cat.getBlob("blob.a"))
  }

  test("blob entries persist across catalog reopen") {
    val (cat, dir) = freshCatalog()
    val bytes = Array[Byte](42, -1, 0, 127, -128)
    cat.putBlob("keep.bin", bytes)
    val reopened = new Catalog(spark, dir)
    assert(java.util.Arrays.equals(reopened.getBlob("keep.bin"), bytes))
  }

  test("put overwrites atomically (second put replaces first)") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    cat.put("w", (1 to 10).toDF("x"))
    cat.put("w", (1 to 3).toDF("x"))
    assert(cat.get("w").count() === 3L)
  }

  test("retention window: a reader that resolved before a put still scans intact files") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    cat.put("r", (1 to 100).toDF("x"))
    // resolve now (file listing happens at planning time), act later
    val reader = cat.get("r")
    cat.put("r", (1 to 5).toDF("x")) // v1 retired, NOT deleted
    assert(reader.count() === 100L)  // old snapshot fully readable
    assert(cat.get("r").count() === 5L) // fresh resolve sees the swap
  }

  test("retention window: the put after next reclaims the dir — disk holds at most two versions") {
    import spark.implicits._
    val (cat, dir) = freshCatalog()
    import scala.jdk.CollectionConverters._
    def versionDirs(): Seq[String] = {
      val s = Files.list(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("r2-v")).toList
      finally s.close()
    }
    cat.put("r2", (1 to 4).toDF("x"))
    cat.put("r2", (1 to 4).toDF("x"))
    assert(versionDirs().size === 2) // current + one retained
    cat.put("r2", (1 to 4).toDF("x"))
    assert(versionDirs().size === 2) // oldest reclaimed, never three
    // delete takes the retained copy with it
    assert(cat.delete("r2"))
    assert(versionDirs().isEmpty)
  }

  test("writer lock: a second live writer on one root fails fast; readers and handover work") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-catalog-lock").toString
    val a = new Catalog(spark, dir)
    a.put("t", Seq(1).toDF("x"))
    // readers never touch the lock
    val reader = new Catalog(spark, dir)
    assert(reader.get("t").count() === 1L)
    // a second WRITER on the same root must fail fast, not clobber
    val b = new Catalog(spark, dir)
    intercept[IllegalStateException](b.put("u", Seq(2).toDF("x")))
    // the refused write left no trace
    assert(reader.get("t").count() === 1L)
    intercept[NoSuchElementException](b.get("u"))
    // explicit handover: after close() the next writer proceeds
    a.close()
    b.put("u", Seq(2).toDF("x"))
    assert(b.get("u").count() === 1L)
    assert(b.get("t").count() === 1L) // and a's dataset survived
    b.close()
  }

  test("writer lock liveness: dead-pid and stale-heartbeat locks are broken, fresh foreign locks are not") {
    import spark.implicits._
    val host = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName.split("@", 2)(1)
    def plantLock(dir: String, owner: String, jvm: String, hbAge: Long): Unit =
      Files.write(java.nio.file.Paths.get(dir, "_writer.lock"),
        java.util.List.of(
          s"$owner\t$jvm\t${System.currentTimeMillis() - hbAge}"))
    // dead pid on THIS host, fresh heartbeat → positively dead, broken
    val d1 = Files.createTempDirectory("graft-catalog-deadpid").toString
    plantLock(d1, "crashed-writer", s"999999999@$host", hbAge = 0L)
    val c1 = new Catalog(spark, d1)
    c1.put("after-crash", Seq(1).toDF("x")) // takeover, no exception
    assert(c1.get("after-crash").count() === 1L)
    c1.close()
    // unknown host (pid unverifiable) + stale heartbeat → broken
    val d2 = Files.createTempDirectory("graft-catalog-stale").toString
    plantLock(d2, "remote-writer", "1@graft-no-such-host", hbAge = 60000L)
    val c2 = new Catalog(spark, d2, writerLockStaleMs = 10L)
    c2.put("after-stale", Seq(1).toDF("x"))
    assert(c2.get("after-stale").count() === 1L)
    c2.close()
    // unknown host + FRESH heartbeat → presumed alive, fail fast
    val d3 = Files.createTempDirectory("graft-catalog-foreign").toString
    plantLock(d3, "remote-writer", "1@graft-no-such-host", hbAge = 0L)
    val c3 = new Catalog(spark, d3)
    intercept[IllegalStateException](c3.put("refused", Seq(1).toDF("x")))
  }

  test("two catalogs over one root: reload-on-miss sees the other instance's put") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-catalog-shared").toString
    val writer = new Catalog(spark, dir)
    val reader = new Catalog(spark, dir) // opened BEFORE the write
    writer.put("shared", (1 to 7).toDF("x"))
    // reader's in-memory map has never heard of "shared" — the miss
    // path reloads the manifest the writer saved
    assert(reader.get("shared").count() === 7L)
    // and a put-over-put from the writer stays visible through the
    // reader's stale entry only until it re-misses; a fresh name works
    writer.put("shared2", (1 to 2).toDF("x"))
    assert(reader.get("shared2").count() === 2L)
  }

  test("JSONL round trip is lossless for adversarial text") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-catalog-jsonl").toString
    val cat = new Catalog(spark, dir)
    val nasty = Seq(
      1L -> "plain",
      2L -> "embedded\nnewline\r\nand tab\t.",
      3L -> "\"quotes\" and \\backslashes\\ and } braces {",
      4L -> "unicode: é中文 😀 and NUL-adjacent ",
      5L -> "",
      6L -> null,
    ).toDF("doc_id", "text")
    cat.put("nasty_jsonl", nasty, format = "json")
    val back = cat.get("nasty_jsonl")
      .select(col("doc_id").cast("bigint"), col("text"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val want = nasty.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(back === want)
  }

  test("entry options persist in the manifest and apply in a fresh session") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-catalog-opts").toString
    val writer = new Catalog(spark, dir)
    // values chosen to collide with the manifest's own separators
    // (tab delimiter, ';' null marker) — the encoding must carry them
    val df = Seq((1L, "a;b", "x\ty"), (2L, null, "plain"))
      .toDF("id", "s1", "s2")
    writer.put("opted_csv", df, format = "csv", options = Map(
      "header" -> "true", "delimiter" -> "\t", "nullValue" -> ";",
      "multiLine" -> "true", "inferSchema" -> "true"))
    // a SECOND instance over the same root knows nothing in-memory:
    // everything must come back through the manifest
    val reader = new Catalog(spark, dir)
    val back = reader.get("opted_csv")
      .select(col("id").cast("bigint"), col("s1"), col("s2"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2)))
      .toSet
    assert(back === Set((1L, Some("a;b"), "x\ty"), (2L, None, "plain")))
  }

  // ---- recorded read schemas ---------------------------------------------

  /** Every column shape a flat parquet put must record exactly as the
    * file source infers it: the engine's own put types, the remaining
    * atomic types, non-nullable columns and nested containers, and a
    * field carrying metadata. */
  private def schemaZoo() = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.MetadataBuilder
    val meta = new MetadataBuilder().putString("comment", "carried")
      .putLong("width", 7L).build()
    spark.range(3).select(
      col("id"), // bigint, non-nullable
      col("id").cast("int").as("i"),
      col("id").cast("smallint").as("s"),
      col("id").cast("tinyint").as("t"),
      (col("id") / 3).as("d"),
      (col("id") / 3).cast("float").as("f"),
      concat(lit("k"), col("id")).as("str"),
      when(col("id") === 1, lit(null)).otherwise(col("id").cast("string")).as("maybe"),
      (col("id").cast("decimal(12,3)") / 7).cast("decimal(12,3)").as("dec"),
      date_add(lit(java.sql.Date.valueOf("2024-02-28")), col("id").cast("int")).as("day"),
      timestamp_micros(col("id") * 1000003L + 1700000000000000L).as("ts"),
      (timestamp_micros(col("id") * 1000003L + 1700000000000000L)
        .cast("timestamp_ntz")).as("ts_ntz"),
      col("id").cast("string").cast("binary").as("bin"),
      (col("id") % 2 === 0).as("flag"),
      array(lit(1), col("id").cast("int")).as("arr"), // containsNull = false
      map(lit("k"), col("id")).as("m"),               // valueContainsNull = false
      struct(lit(1).as("a"), struct(col("id").as("b")).as("inner")).as("nested"),
      col("id").as("tagged", meta))
  }

  test("a flat parquet put records the schema the file source infers") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val (cat, dir) = freshCatalog()
    val zoo = schemaZoo()
    // the fixture really holds the non-nullable shapes the helper must erase
    assert(!zoo.schema("id").nullable)
    assert(!zoo.schema("arr").dataType.asInstanceOf[ArrayType].containsNull)
    assert(!zoo.schema("m").dataType.asInstanceOf[MapType].valueContainsNull)
    assert(!zoo.schema("nested").dataType.asInstanceOf[StructType]("a").nullable)
    assert(zoo.schema("tagged").metadata.getString("comment") === "carried")
    val frames = Seq(
      "zoo" -> zoo,
      "empty" -> zoo.filter(col("id") < 0), // juice's output for an unmatched parameter
      "kv" -> zoo.select(col("str").as("key"), col("maybe").as("value")))
    frames.foreach { case (n, df) => cat.put(n, df) }
    cat.putCompacted("zoo_c", zoo, targetFileBytes = 1L << 20)
    cat.putZOrdered("zoo_z", zoo, "id", "i", numFiles = 2)
    val reopened = new Catalog(spark, dir)
    (frames :+ ("zoo_c" -> zoo) :+ ("zoo_z" -> zoo)).foreach { case (n, df) =>
      val inferred = spark.read.parquet(cat.filetable(n).path).schema
      assert(cat.filetable(n).schema === Some(inferred), n)
      assert(cat.get(n).schema === inferred, n)
      assert(reopened.filetable(n).schema === Some(inferred), s"$n reopened")
      assert(reopened.get(n).schema === inferred, s"$n reopened")
      val key = df.columns.head
      assert(cat.get(n).orderBy(key).collect().toSeq === df.orderBy(key).collect().toSeq, n)
    }
    assert(cat.get("empty").count() === 0L)
  }

  test("get of a recorded parquet entry plans without a job; text and partitioned entries still infer") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val (cat, _) = freshCatalog()
    cat.put("flat", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val (flat, flatJobs) = JobCount(spark)(cat.get("flat"))
    assert(flatJobs === 0)
    assert(flat.count() === 2L)
    // control: the same files without the recorded schema do infer
    assert(JobCount(spark)(spark.read.parquet(cat.filetable("flat").path))._2 >= 1)

    // csv: the reader options decide the types, so nothing is recorded
    // — without inferSchema every column reads back as a string
    val nation = Seq((0, "ALGERIA", 0), (1, "ARGENTINA", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    cat.put("nation_csv", nation, format = "csv", options = Map("header" -> "true"))
    assert(cat.filetable("nation_csv").schema.isEmpty)
    val (csv, csvJobs) = JobCount(spark)(cat.get("nation_csv"))
    assert(csvJobs >= 1)
    assert(csv.schema("n_nationkey").dataType === StringType)
    cat.put("nation_csv_typed", nation, format = "csv",
      options = Map("header" -> "true", "inferSchema" -> "true"))
    assert(cat.get("nation_csv_typed").schema("n_nationkey").dataType === IntegerType)

    // partitioned: the partition column's type comes from directory
    // names, so a string column of digits reads back as an int
    cat.putPartitioned("parted", Seq((1L, "10"), (2L, "20")).toDF("id", "p"), "p")
    assert(cat.filetable("parted").schema.isEmpty)
    assert(cat.get("parted").schema("p").dataType === IntegerType)
    cat.appendPartitioned("parted", Seq((3L, "30")).toDF("id", "p"), "p")
    assert(cat.filetable("parted").schema.isEmpty)
    cat.compactPartitioned("parted")
    assert(cat.filetable("parted").schema.isEmpty)
    assert(cat.get("parted").count() === 3L)

    // external registrations and blobs are not the catalog's writes
    cat.putPath("ext", cat.filetable("flat").path, "parquet")
    assert(cat.filetable("ext").schema.isEmpty)
    assert(cat.get("ext").count() === 2L)
    cat.putBlob("blob", Array[Byte](1, 2, 3))
    assert(cat.filetable("blob").schema.isEmpty)
  }

  test("a re-put reads back the new version's schema, never the previous one") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val (cat, dir) = freshCatalog()
    cat.put("x", Seq((1, "a")).toDF("id", "v"))
    cat.put("x", Seq(2.5, 3.5).toDF("score"))
    val want = StructType(Seq(StructField("score", DoubleType)))
    assert(cat.get("x").schema === want)
    assert(cat.get("x").as[Double].collect().sorted.toSeq === Seq(2.5, 3.5))
    assert(new Catalog(spark, dir).get("x").schema === want)
    // a text-format re-put drops the recorded schema with the version
    cat.put("x", Seq((1, "a")).toDF("id", "v"), format = "json")
    assert(cat.filetable("x").schema.isEmpty)
    assert(cat.get("x").columns.toSet === Set("id", "v"))
  }

  test("manifests from before the schema column open and read by inference") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val dir = Files.createTempDirectory("graft-catalog-legacy")
    val data = dir.resolve("old-v1").toString
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.parquet(data)
    // seven-column rows (options and partition stats, the seventh
    // column then, empty or set) and a four-column row, as layouts
    // before the schema column wrote them
    val stats = "part%3Da=1:123"
    // and an eight-column row (partition stats, then the schema), the
    // layout between the schema column and the stats column's removal
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("v", StringType)))
    val encoded = java.net.URLEncoder.encode(schema.json, "UTF-8")
    Files.write(dir.resolve("_catalog.tsv"), java.util.List.of(
      s"old\tparquet\t$data\tnode01,node02\t\t\t",
      s"old_stats\tparquet\t$data\tnode04\t\t\t$stats",
      s"older\tparquet\t$data\tnode03",
      s"with_stats_col\tparquet\t$data\tnode05\t\t\t\t$encoded"))
    val cat = new Catalog(spark, dir.toString)
    Seq("old", "old_stats", "older").foreach { n =>
      assert(cat.filetable(n).schema.isEmpty, n)
      assert(cat.get(n).orderBy("id").as[(Int, String)].collect().toSeq ===
        Seq((1, "a"), (2, "b")), n)
    }
    assert(cat.filetable("with_stats_col").schema === Some(schema))
    val (recorded, jobs) = JobCount(spark)(cat.get("with_stats_col"))
    assert(jobs === 0, "an eight-column row's schema must spare the inference job")
    assert(recorded.orderBy("id").as[(Int, String)].collect().toSeq ===
      Seq((1, "a"), (2, "b")))
    // the next write rewrites the manifest in the current layout; the
    // legacy entries keep inferring, the recorded schema survives, and
    // a fresh one records
    cat.put("new", Seq(1).toDF("x"))
    val reopened = new Catalog(spark, dir.toString)
    Seq("old", "old_stats").foreach { n =>
      assert(reopened.filetable(n).schema.isEmpty, n)
      assert(reopened.get(n).count() === 2L, n)
    }
    assert(reopened.filetable("with_stats_col").schema === Some(schema))
    assert(reopened.filetable("new").schema.nonEmpty)
  }
}
