package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ClickHouse TabSeparated escape/unescape, re-expressed as codegen-friendly
  * Spark column expressions.
  *
  * The reference TSV-encodes every row it ships to ClickHouse, escaping
  * backslash, tab and newline, and writing SQL NULL as `\N`
  * (pg2ch `pkg/utils/chutils` [recall:med]; SURVEY.md §2.A5 — /root/reference
  * was empty at survey time, paths from public-repo knowledge).
  *
  * Built on `replace` (whole-stage codegen'd `StringReplace`) rather than a
  * Scala UDF so the hot encode path stays inside Tungsten codegen.
  * Escape order matters: backslash FIRST on escape, LAST on unescape.
  */
object TsvCodec {

  val Null = "\\N"

  /** The escaped control characters, raw -> escaped form. Covers what
    * PostgreSQL text COPY emits for data bytes (\b \f \n \r \t \v — PG
    * `copyto.c` output alphabet), a superset of what ClickHouse
    * TabSeparated needs (\t \n \\ at minimum; CH also accepts \r \b \f).
    * A bare CR left unescaped would corrupt twice over: Hadoop's line
    * reader treats lone \r as a row terminator (a CR-containing cell
    * splits into extra rows on read-back), and unescape would leave the
    * two characters `\` `r` in parsed data.
    */
  private val ctl: Seq[(String, String)] = Seq(
    "\t" -> "\\t", "\n" -> "\\n", "\r" -> "\\r",
    "\b" -> "\\b", "\f" -> "\\f", "\u000b" -> "\\v")

  /** Escape one string cell: \ -> \\ first, then TAB/NL/CR/BS/FF/VT ->
    * \t \n \r \b \f \v; NULL -> \N.
    */
  def escape(c: Column): Column = {
    val esc = ctl.foldLeft(replace(c, lit("\\"), lit("\\\\"))) {
      case (acc, (raw, escd)) => replace(acc, lit(raw), lit(escd))
    }
    coalesce(esc, lit(Null))
  }

  /** Inverse of [[escape]]. `\N` (exactly) -> NULL.
    *
    * Plain replace would corrupt `\\t` (escaped backslash followed by t), so
    * unescape routes through a NUL sentinel: mark escaped backslashes first,
    * decode the control escapes, then restore backslashes. NUL never
    * survives escape's output alphabet in practice (PG text cannot carry
    * NUL); roundtrip property-tested in TsvCodecSpec.
    */
  def unescape(c: Column): Column = {
    val sentinel = "\u0000"
    val s = replace(c, lit("\\\\"), lit(sentinel))
    val d = ctl.foldLeft(s) { case (acc, (raw, escd)) =>
      replace(acc, lit(escd), lit(raw))
    }
    val out = replace(d, lit(sentinel), lit("\\"))
    when(c === lit(Null), lit(null: String)).otherwise(out)
  }

  /** Encode a full row of cells as one escaped TSV line. */
  def tsvLine(cells: Seq[Column]): Column =
    concat_ws("\t", cells.map(escape): _*)

  /** ClickHouse wire rendering of one typed cell — the PG→CH value
    * conversion pg2ch performs before TSV encoding (SURVEY.md §1.2):
    * booleans ship as UInt8 `1`/`0` (CH has no true/false in
    * TabSeparated), timestamps as `yyyy-MM-dd HH:mm:ss` (DateTime wire
    * form, seconds precision), dates as `yyyy-MM-dd`; everything else is
    * its SQL string cast. NULL handling stays in [[escape]] (`\N`).
    */
  def wireCell(c: Column, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => when(c.isNull, lit(null: String))
        .otherwise(when(c, lit("1")).otherwise(lit("0")))
      case TimestampType => date_format(c, "yyyy-MM-dd HH:mm:ss")
      case DateType => date_format(c, "yyyy-MM-dd")
      case ArrayType(et, _) =>
        // CH array literal: [1,2,3]; strings/dates single-quoted with
        // \-escaping; nulls inside arrays are the NULL keyword
        val rendered: Column = et match {
          case StringType => transform(c, x => chQuote(x))
          case BooleanType =>
            transform(c, x => when(x, lit("1")).otherwise(lit("0")))
          case TimestampType =>
            transform(c, x => chQuote(date_format(x, "yyyy-MM-dd HH:mm:ss")))
          case DateType => transform(c, x => chQuote(date_format(x, "yyyy-MM-dd")))
          case _ => transform(c, _.cast("string"))
        }
        when(c.isNull, lit(null: String)).otherwise(
          concat(lit("["), array_join(rendered, ",", "NULL"), lit("]")))
      case _ => c.cast("string")
    }
  }

  /** Single-quoted CH string literal: `\` and `'` escaped. */
  private def chQuote(c: Column): Column =
    when(c.isNull, lit(null: String)).otherwise(concat(lit("'"),
      replace(replace(c, lit("\\"), lit("\\\\")), lit("'"), lit("\\'")), lit("'")))

  /** Schema-aware TSV line for a whole row — what the CH sinks ship. */
  def tsvLineFor(df: org.apache.spark.sql.DataFrame): Column =
    tsvLine(df.schema.fields.toSeq.map(f => wireCell(col(f.name), f.dataType)))
}
