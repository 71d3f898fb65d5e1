package graftbench

import java.util.Locale
import java.util.regex.Pattern
import scala.util.Random

/** Seeded traffic-signal CSVs in the shape of the reference's
  * `traffic.csv`: the 35-column header of FIXTURES.md §1, with
  * `Detection_` and `Interconne` drawn from weighted distributions
  * whose weights are themselves perturbed by the seed. The generator
  * keeps the values it drew, so the answers the REPL session must
  * produce come from the generator, never from the engine. */
object TrafficGen {

  val Header: IndexedSeq[String] = IndexedSeq(
    "X", "Y", "OBJECTID", "Intersecti", "UPS", "Coord_Type", "CNTRL_Seri",
    "CNTRL_Mode", "Number_of_", "Detection_", "Interconne", "Percent_St",
    "Year_Timed", "LED_Status", "CNTRL_Vers", "Cabinet_Ty", "CNTRL_Note",
    "Install_Da", "Black_Hard", "Year_Paint", "Countdown_", "All_Red_Fl",
    "Condition", "ConditionDate", "InstallDate", "WarrantyDate", "LegacyID",
    "FACILITYID", "Ownership", "OwnershipPercent", "LED_Installed_Year",
    "Controller_ID", "Notes", "RepairYear", "FieldVerifiedDate")

  /** Data rows of the reference's `traffic.csv` (FIXTURES.md §1). */
  val ReferenceRows = 120

  val DetectionIdx = 9
  val InterconneIdx = 10

  /** FIXTURES.md §1 marginals of the real file: value -> rows of 120. */
  val DetectionBase: Seq[(String, Int)] = Seq("Video" -> 53, "Loop" -> 32,
    "None" -> 18, "Loop/Video" -> 7, "" -> 5, "Loop/None" -> 2, " " -> 2,
    "Radar" -> 1, "NONE" -> 1)
  val InterconneBase: Seq[(String, Int)] = Seq("Fiber" -> 62, "None" -> 25,
    "Radio" -> 15, "" -> 10, "Fiber/Radio" -> 8, " " -> 1)

  /** `maple` parameters: the Interconne values that survive trimming. */
  val Params: IndexedSeq[String] = IndexedSeq("Fiber", "None", "Radio", "Fiber/Radio")
  /** SELECT regexes, in the three documented forms (wildcard, literal
    * comma, quoted alternation) plus two more of each shape. */
  val Regexes: IndexedSeq[String] = IndexedSeq("'Video|Radio'", "Video.*Radio",
    "Video,Radio", "Loop.*Fiber", "'Radar|NONE'", "None,None")

  private val streets = IndexedSeq("Main St", "Green St", "Neil St", "Prospect Ave",
    "Kirby Ave", "Mattis Ave", "Springfield Ave", "University Ave", "Church St",
    "State St", "First St", "Fourth St", "Windsor Rd", "Bradley Ave")

  final case class Csv(lines: IndexedSeq[String], detection: IndexedSeq[String],
                       interconne: IndexedSeq[String]) {
    def text: String = (Header.mkString(",") +: lines).mkString("", "\n", "\n")
    def bytes: Long = text.getBytes("UTF-8").length.toLong
  }

  private def draw(base: Seq[(String, Int)], rnd: Random): () => String = {
    val weights = base.map { case (v, w) => v -> w * (0.5 + rnd.nextDouble()) }
    val total = weights.map(_._2).sum
    () => {
      var u = rnd.nextDouble() * total
      weights.find { case (_, w) => u -= w; u < 0 }.getOrElse(weights.last)._1
    }
  }

  def generate(rows: Int, seed: Long): Csv = {
    val rnd = new Random(seed)
    val det = draw(DetectionBase, rnd)
    val inter = draw(InterconneBase, rnd)
    val d = IndexedSeq.fill(rows)(det())
    val i = IndexedSeq.fill(rows)(inter())
    val lines = (0 until rows).map { r =>
      val f = Array.fill(Header.size)("")
      f(0) = "%.6f".formatLocal(Locale.ROOT, -88.3 + rnd.nextDouble() * 0.1)
      f(1) = "%.6f".formatLocal(Locale.ROOT, 40.07 + rnd.nextDouble() * 0.1)
      f(2) = (r + 1).toString
      f(3) = s"${streets(rnd.nextInt(streets.size))} & ${streets(rnd.nextInt(streets.size))}"
      f(4) = if (rnd.nextBoolean()) "Yes" else "No"
      f(5) = "NAD83"
      f(6) = f"S${rnd.nextInt(100000)}%05d"
      f(7) = IndexedSeq("Actuated", "Pretimed", "Semi")(rnd.nextInt(3))
      f(8) = (2 + rnd.nextInt(7)).toString
      f(DetectionIdx) = d(r)
      f(InterconneIdx) = i(r)
      f(11) = rnd.nextInt(101).toString
      f(12) = (1995 + rnd.nextInt(28)).toString
      f(13) = if (rnd.nextBoolean()) "Complete" else "Partial"
      f(14) = s"v${1 + rnd.nextInt(9)}.${rnd.nextInt(10)}"
      f(15) = IndexedSeq("P", "M", "R")(rnd.nextInt(3))
      (16 until Header.size).foreach { c =>
        f(c) = if (rnd.nextInt(4) == 0) "" else s"k${rnd.nextInt(1000)}"
      }
      f.mkString(",")
    }
    Csv(lines, d, i)
  }

  /** The juice key the maple executable emits for a Detection_ value:
    * trimmed, empty as "empty", then `/` and space sanitized to `_`. */
  def juiceKey(detection: String): String = {
    val v = detection.trim
    (if (v.isEmpty) "empty" else v).replace('/', '_').replace(' ', '_')
  }

  /** Expected juice output for `maple param`: key -> (count, "%.2f%%"
    * share of the filtered total). */
  def expectedPct(csv: Csv, param: String): Map[String, (Long, String)] = {
    val counts = csv.detection.indices
      .filter(r => csv.interconne(r).trim == param)
      .groupMapReduce(r => juiceKey(csv.detection(r)))(_ => 1L)(_ + _)
    val total = counts.values.sum
    counts.map { case (k, c) =>
      k -> (c, String.format(Locale.US, "%.2f%%", Double.box(c * 100.0 / total)))
    }
  }

  /** Expected `SELECT ALL ... WHERE regex` row count over the data lines. */
  def expectedSelect(csv: Csv, regex: String): Long = {
    val r = if (regex.length >= 2 && regex.startsWith("'") && regex.endsWith("'"))
      regex.substring(1, regex.length - 1) else regex
    val p = Pattern.compile(r)
    csv.lines.count(l => p.matcher(l).find()).toLong
  }
}
