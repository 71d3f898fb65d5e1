package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the committed traffic fixture to the facts FIXTURES.md §1
  * documents about the reference's `data/traffic.csv`, read with plain
  * java.nio and no Spark: the goldens' expected values then rest on
  * documents, never on what the engine prints. Also guards that the
  * suite stays hermetic: no source names the reference checkout.
  */
class TrafficFixtureSpec extends AnyFunSuite {
  private val header = Seq(
    "X", "Y", "OBJECTID", "Intersecti", "UPS", "Coord_Type", "CNTRL_Seri",
    "CNTRL_Mode", "Number_of_", "Detection_", "Interconne", "Percent_St",
    "Year_Timed", "LED_Status", "CNTRL_Vers", "Cabinet_Ty", "CNTRL_Note",
    "Install_Da", "Black_Hard", "Year_Paint", "Countdown_", "All_Red_Fl",
    "Condition", "ConditionDate", "InstallDate", "WarrantyDate", "LegacyID",
    "FACILITYID", "Ownership", "OwnershipPercent", "LED_Installed_Year",
    "Controller_ID", "Notes", "RepairYear", "FieldVerifiedDate")
  private val detection = header.indexOf("Detection_")
  private val interconne = header.indexOf("Interconne")

  private def counts(rows: Seq[Array[String]], idx: Int): Map[String, Int] =
    rows.groupMapReduce(_(idx))(_ => 1)(_ + _)

  test("traffic fixture holds FIXTURES.md §1's header, marginals and slices") {
    val lines = Files.readAllLines(Paths.get(SparkSuite.trafficCsv)).asScala.toSeq
    assert(lines.head.split(",", -1).toSeq === header)
    val rows = lines.tail.map(_.split(",", -1))
    assert(rows.forall(_.length == 35))
    assert(!lines.exists(_.contains('"')))

    assert(counts(rows, interconne) === Map(
      "Fiber" -> 62, "None" -> 25, "Radio" -> 15, "" -> 10,
      "Fiber/Radio" -> 8, " " -> 1))
    assert(counts(rows, detection) === Map(
      "Video" -> 53, "Loop" -> 32, "None" -> 18, "Loop/Video" -> 7, "" -> 5,
      "Loop/None" -> 2, " " -> 2, "Radar" -> 1, "NONE" -> 1))

    def slice(param: String) =
      counts(rows.filter(_(interconne) == param), detection)
    assert(slice("Radio") === Map("Video" -> 13, "Loop" -> 1, "None" -> 1))
    assert(slice("Fiber") === Map(
      "Loop" -> 24, "Video" -> 21, "None" -> 8, "Loop/Video" -> 4,
      "" -> 1, " " -> 1, "Loop/None" -> 2, "Radar" -> 1))
  }

  test("no source file names the reference checkout path") {
    // built from parts so that this file does not match itself
    val needle = Seq("", "root", "reference").mkString("/")
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    assert(roots.forall(Files.isDirectory(_)))
    val offenders = roots.flatMap { root =>
      val files = Files.walk(root)
      try files.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally files.close()
    }.filter(p => Files.readString(p).contains(needle))
    assert(offenders.isEmpty)
  }
}
