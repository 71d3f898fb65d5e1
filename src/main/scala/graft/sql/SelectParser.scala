package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's entire SQL surface: `SELECT ALL FROM <ds> WHERE <regex>`.
  *
  * Grammar is hard-coded at reference file_server/fileserver.py:1375 —
  * exactly six space-separated tokens; the regex may be single-quoted
  * (MP4-RUN-Command.txt:13-15 shows `'Video|Radio'`). Semantics: the
  * whole raw row is matched against the regex and matching rows are
  * returned verbatim (reference data/sql-juice.go:49-57, Go RE2
  * `MatchString`; unanchored substring match — Java `rlike` is also
  * unanchored, and the three documented forms — wildcard `a.*b`,
  * literal comma `a,b`, alternation `a|b` — behave identically in
  * both dialects; backrefs/lookahead would diverge but are outside
  * the reference's usage).
  *
  * The reference plans this as identity-map + post-shuffle filter
  * (sql-maple.go / sql-juice.go). Spark-first, it is a single-stage
  * scan + pushed predicate: no shuffle at any scale.
  */
object SelectParser {

  final case class SelectAll(dataset: String, regex: String)

  /** Parse the 6-token command; raises IllegalArgumentException on any
    * other shape, mirroring the reference's fixed tokenization.
    */
  def parse(command: String): SelectAll = {
    val toks = command.trim.split("\\s+")
    require(toks.length == 6,
      s"expected 'SELECT ALL FROM <ds> WHERE <regex>' (6 tokens), got ${toks.length}")
    require(toks(0).equalsIgnoreCase("SELECT") && toks(1).equalsIgnoreCase("ALL") &&
      toks(2).equalsIgnoreCase("FROM") && toks(4).equalsIgnoreCase("WHERE"),
      s"malformed SELECT command: $command")
    val raw = toks(5)
    val regex =
      if (raw.length >= 2 && raw.startsWith("'") && raw.endsWith("'"))
        raw.substring(1, raw.length - 1)
      else raw
    SelectAll(toks(3), regex)
  }

  /** The reference's "row" is a CSV line; for a typed frame the
    * equivalent raw view is the comma-joined columns. NULL cells must
    * serialize as EMPTY fields — bare concat_ws skips NULL arguments
    * entirely, which would shift comma adjacency and let a comma-form
    * regex false-match across the dropped cell. [[graft.Engine.lines]]
    * serializes typed rows with this column too. */
  def rowAsLine(df: DataFrame): Column =
    concat_ws(",",
      df.columns.map(c => coalesce(col(c).cast("string"), lit(""))).toIndexedSeq: _*)

  /** Run a parsed SELECT against a resolved DataFrame: regex filter on
    * the raw line, rows returned verbatim. */
  def run(df: DataFrame, sel: SelectAll): DataFrame =
    df.filter(rowAsLine(df).rlike(sel.regex))

  def select(df: DataFrame, command: String): DataFrame =
    run(df, parse(command))
}
