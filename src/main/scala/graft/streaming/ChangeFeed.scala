package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Change-feed deserialization — the Spark-native form of the reference's
  * WAL decode stage (pg2ch `pkg/decoder/decoder.go` parses binary pgoutput
  * messages into typed row events [recall:high]; SURVEY.md §2.A3).
  *
  * Two layers, mirroring pg2ch's decode-then-route consumer:
  *
  *  1. RAW decode ([[fromJsonLinesRaw]] / [[rawFromFrames]]): one pass over
  *     the feed producing the UNTYPED change relation — `before`/`after`
  *     as `map<string,string>` keyed by column NAME. Table-agnostic, so a
  *     multi-table feed decodes ONCE and every table routes off the same
  *     relation (see [[StreamRunner.run]]).
  *  2. TYPED projection ([[typed]]): per-table name-based cell lookup +
  *     `try_cast` to the table's row struct — a pure codegen'd projection,
  *     applied after routing. Name-based (not positional) lookup is what
  *     makes mid-stream schema drift safe: pgoutput `R` frames can add or
  *     reorder columns, and each tuple decodes against the LATEST relation
  *     definition at-or-below its LSN, exactly like pg2ch's live relation
  *     map (`pkg/message` Relation handling [recall:med]).
  *
  * Poison-pill policy, identical across both feed formats (ANSI-safe:
  * Spark 4 defaults `spark.sql.ansi.enabled=true`, so a strict
  * `element_at`/`cast` would KILL the stream on one corrupt cell):
  *  - structurally malformed input → null `op`/`lsn` → dropMalformed;
  *  - a tuple whose arity disagrees with its governing relation
  *    definition (or a definition with duplicate columns) → malformed;
  *  - cell-level corruption (non-numeric text in a BIGINT column) →
  *    `try_cast` null in that cell, row survives — same degradation the
  *    PERMISSIVE JSON path has always had.
  */
object ChangeFeed {

  /** The untyped change relation: cells keyed by column name. */
  val rawSchema: StructType = StructType(Seq(
    StructField("lsn", LongType),
    StructField("op", StringType),
    StructField("table", StringType),
    StructField("before", MapType(StringType, StringType)),
    StructField("after", MapType(StringType, StringType))))

  // ------------------------------------------------------------ JSON feed

  /** Decode a `value: String` JSON-lines feed into a TYPED
    * [[ChangeRelation]]. Malformed lines surface as null structs
    * (PERMISSIVE), which `dropMalformed = true` filters out — the
    * reference would instead kill the replication connection; we keep the
    * poison-pill policy explicit.
    */
  def fromJsonLines(raw: DataFrame, rowSchema: StructType,
                    dropMalformed: Boolean = true): DataFrame = {
    val decoded = raw
      .select(from_json(col("value"), ChangeRelation.schema(rowSchema)).as("c"))
      .select(col("c.*"))
    if (dropMalformed) decoded.filter(col("lsn").isNotNull && col("op").isNotNull)
    else decoded
  }

  /** Decode a JSON-lines feed into the UNTYPED change relation (cells as
    * name-keyed string maps) — the single-decode form: one `from_json`
    * covers every table in the feed. JSON scalars re-render as their
    * canonical literal (`1.50` → `"1.5"`); [[typed]]'s `try_cast` restores
    * the exact typed value, so the typed result matches [[fromJsonLines]].
    */
  def fromJsonLinesRaw(raw: DataFrame,
                       dropMalformed: Boolean = true): DataFrame = {
    val decoded = raw
      .select(from_json(col("value"), rawSchema).as("c"))
      .select(col("c.*"))
    if (dropMalformed)
      decoded.filter(col("lsn").isNotNull && col("op").isNotNull &&
        col("table").isNotNull)
    else decoded
  }

  // ---------------------------------------------------------- binary feed

  /** Parse a `value: Binary` frame feed into decoded [[PgOutput.Frame]]s
    * (total — malformed bytes become the poison-pill frame, never throw).
    */
  def parseFrames(raw: DataFrame): Dataset[PgOutput.Frame] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.select(col("value")).as[Array[Byte]].map(PgOutput.parse)
  }

  /** [[parseFrames]] over a base64 text feed — the file-directory delivery
    * of the binary wire format (one text line per frame survives the
    * line-oriented file stream source).
    */
  def parseBase64Frames(raw: DataFrame): Dataset[PgOutput.Frame] =
    parseFrames(raw.select(unbase64(col("value")).as("value")))

  /** One relation definition: an entry of pg2ch's live relation map,
    * governing the relation's tuples from `rlsn` on.
    */
  final case class RelationDef(relId: Int, rlsn: Long, relName: String,
                               cols: Seq[String])

  /** The feed's `R` frames as relation definitions. Tiny by construction
    * (one row per schema change), so callers collect them to the driver.
    */
  def relationDefs(frames: Dataset[PgOutput.Frame]): Dataset[RelationDef] = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.filter(f => f.tag == "R")
      .map(f => RelationDef(f.relId, f.lsn.getOrElse(0L), f.relName, f.colNames))
  }

  /** A static relation registry as definitions at `rlsn = -1`: in effect
    * from before the first frame, superseded by any feed `R` frame.
    */
  def staticDefs(defs: Seq[(Int, String, Seq[String])]): Seq[RelationDef] =
    defs.map { case (id, n, cols) => RelationDef(id, -1L, n, cols) }

  // rlsn first, as the as-of pick below requires; the rest only makes
  // exact-rlsn ties deterministic
  private val defOrder: Ordering[RelationDef] = {
    import scala.math.Ordering.Implicits.seqOrdering
    Ordering.by((d: RelationDef) => (d.rlsn, d.relName, d.cols))
  }

  /** Decoded frames → the UNTYPED change relation. `defs` is the complete
    * definition set (feed `R` frames, cached definitions from earlier
    * batches, the static registry). Each tuple resolves its table name and
    * column list from the latest definition at-or-below its LSN.
    *
    * The definitions are a driver-side set of at most #tables ×
    * #schema-changes entries, so the as-of lookup is a map LITERAL in the
    * projection: no join, no broadcast job, and the change stream itself
    * never shuffles.
    */
  def rawFromFrames(frames: Dataset[PgOutput.Frame],
                    defs: Seq[RelationDef],
                    dropMalformed: Boolean = true): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._

    // every definition per relid, rlsn-ascending: the as-of pick below is
    // "last element ≤ lsn"
    val byRel: Map[Int, Seq[RelationDef]] =
      defs.distinct.groupBy(_.relId).map { case (id, ds) => id -> ds.sorted(defOrder) }

    // tuple/truncate frames → raw change rows (B/C framing and R frames
    // carry no row data). Malformed frames surface with null op/lsn.
    val rows = frames.flatMap { f =>
      f.tag match {
        case "I" | "U" | "D" =>
          Seq((f.lsn, f.tag, f.relId, Option(f.before), Option(f.after)))
        case "T" =>
          f.relIds.map(r => (f.lsn, "T", r,
            None: Option[Seq[String]], None: Option[Seq[String]]))
        case "B" | "C" | "R" | "O" | "Y" => Seq.empty // framing/metadata
        case _ => // malformed
          Seq((None: Option[Long], null: String, -1,
            None: Option[Seq[String]], None: Option[Seq[String]]))
      }
    }.toDF("lsn", "op", "relId", "bcells", "acells")

    val resolved = rows
      // as-of: last definition with rlsn ≤ this tuple's lsn. try_element_at:
      // an unknown relid or an empty filter result (tuple before any
      // definition) → null, not an ANSI key/index error.
      .withColumn("eff", try_element_at(
        filter(try_element_at(typedLit(byRel), col("relId")),
          d => d("rlsn") <= col("lsn")), lit(-1)))
      .withColumn("cols", col("eff.cols"))
      .withColumn("table", col("eff.relName"))

    // tuple-bearing rows must agree with their governing definition:
    // misaligned arity (schema drift the definition does not cover) or a
    // duplicate-column definition is POISON, not a silent misdecode.
    val colsOk = col("cols").isNotNull &&
      size(array_distinct(col("cols"))) === size(col("cols"))
    val cellsOk = colsOk &&
      (col("bcells").isNull || size(col("bcells")) === size(col("cols"))) &&
      (col("acells").isNull || size(col("acells")) === size(col("cols")))
    val needsCells = col("op").isin("I", "U", "D")
    val marked = resolved.withColumn("op",
      when(!needsCells || cellsOk, col("op")))

    // name-keyed cell maps; guarded by cellsOk so map_from_arrays can
    // never hit a length mismatch or duplicate key at runtime.
    def side(cells: String): Column =
      when(col(cells).isNotNull && cellsOk,
        map_from_arrays(col("cols"), col(cells)))

    val decoded = marked.select(col("lsn"), col("op"), col("table"),
      side("bcells").as("before"), side("acells").as("after"))
    if (dropMalformed)
      decoded.filter(col("lsn").isNotNull && col("op").isNotNull &&
        col("table").isNotNull)
    else decoded
  }

  /** Decode a binary frame feed into the TYPED [[ChangeRelation]] — the
    * historical single-table entry point: raw decode + [[typed]]
    * projection in one call. When `relations` is provided it acts as the
    * static registry (column names taken positionally from `rowSchema`,
    * the pre-R-frame contract); feed `R` frames still supersede it from
    * their LSN onward.
    */
  def fromBinaryFrames(raw: DataFrame, rowSchema: StructType,
                       dropMalformed: Boolean = true,
                       relations: Map[Int, String] = Map.empty): DataFrame = {
    val frames = parseFrames(raw)
    val static = staticDefs(relations.toSeq.map { case (id, n) =>
      (id, n, rowSchema.fieldNames.toSeq) })
    // one job collects the feed's own definitions for the as-of literal
    val defs = relationDefs(frames).collect().toSeq ++ static
    typed(rawFromFrames(frames, defs, dropMalformed), rowSchema)
  }

  /** [[fromBinaryFrames]] over a base64 text feed. */
  def fromBase64Frames(raw: DataFrame, rowSchema: StructType,
                       dropMalformed: Boolean = true,
                       relations: Map[Int, String] = Map.empty): DataFrame =
    fromBinaryFrames(raw.select(unbase64(col("value")).as("value")),
      rowSchema, dropMalformed, relations)

  // ------------------------------------------------------ typed projection

  /** Project the untyped change relation onto one table's typed row struct
    * — a codegen'd map-lookup + `try_cast` per column, no shuffle.
    *
    * `columnsMap` is pg2ch's `tables.<t>.columns` subset/rename (target
    * column → feed column [recall:med]): each target field reads the
    * feed cell named `columnsMap(field)` (default: its own name). Feed
    * columns not in `rowSchema` are dropped — the config-driven column
    * subset (SURVEY §2.A4's config half). Every other column passes
    * through unchanged, so a `__row_id` stamped on the raw relation rides
    * along into each table's slice.
    */
  def typed(rawDf: DataFrame, rowSchema: StructType,
            columnsMap: Map[String, String] = Map.empty): DataFrame = {
    def side(m: String): Column =
      when(col(m).isNotNull, struct(rowSchema.fields.toSeq.map { f =>
        val src = columnsMap.getOrElse(f.name, f.name)
        try_element_at(col(m), lit(src)).try_cast(f.dataType).as(f.name)
      }: _*))
    rawDf.select(rawDf.columns.toSeq.map {
      case c @ ("before" | "after") => side(c).as(c)
      case c => col(s"`$c`")
    }: _*)
  }
}
