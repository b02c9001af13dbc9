package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch CDC-apply operators over a [[ChangeRelation]] — the engine's
  * re-expression of pg2ch's three table-engine semantics
  * (`pkg/tableengines/{mergetree,replacingmergetree,collapsingmergetree}
  * .go` [recall:med]; SURVEY.md §2.A6–A8). The `cdc_*` declared queries
  * exercise the same algebra over the events table; these functions give
  * the general form over arbitrary key/row structs, and the streaming path
  * reuses them inside foreachBatch (see [[BufferedSink]]).
  *
  * Scale notes: every apply is a single hash shuffle on the key columns.
  * applyReplacing uses max_by-style window; applyCollapsing is partial-agg
  * friendly (sum of signs). Nothing here sorts globally.
  */
object CdcApply {

  /** A9 truncate: a pgoutput `T` message wipes the target and buffer
    * tables (the reference truncates both on receipt — SURVEY §2.A9). In
    * the change-relation algebra that means only changes whose LSN is
    * AFTER the table's LAST truncate survive; the `T` rows themselves
    * carry no data and are dropped.
    *
    * Scale shape: truncates are rare, so the per-table frontiers
    * ([[truncateFrontiers]]) are ≤ #tables entries, resolved on the
    * driver; the drop is then a literal filter per truncated table, and
    * the change stream itself never shuffles or joins. (A window over
    * `table` would funnel the whole stream into #tables partitions; a
    * broadcast join of the frontier relation would cost its own jobs on
    * every evaluation.)
    */
  def dropTruncated(changes: DataFrame, frontiers: Map[String, Long]): DataFrame =
    frontiers.foldLeft(changes.filter(col("op") =!= ChangeRelation.OpTruncate)) {
      case (live, (table, frontier)) =>
        live.filter(!(col("table") <=> lit(table)) || col("lsn") > frontier)
    }

  /** Every table's truncate frontier (the LSN of its last `T` event),
    * collected to the driver by one aggregate of ≤ #tables rows.
    */
  def truncateFrontiers(changes: DataFrame): Map[String, Long] =
    changes.filter(col("op") === ChangeRelation.OpTruncate)
      .groupBy(col("table")).agg(max(col("lsn")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  // Each apply below takes the changes' truncate frontiers, or resolves
  // them itself (one aggregate job) when the caller has none in hand.

  /** MergeTree append: inserts only; U/D are not supported by the plain
    * engine (the reference rejects them at config time — SURVEY §2.A6).
    * Truncate-aware: inserts before a table's last `T` event are wiped.
    */
  def applyAppend(changes: DataFrame, frontiers: Map[String, Long]): DataFrame =
    dropTruncated(changes, frontiers)
      .filter(col("op") === ChangeRelation.OpInsert).select(col("after.*"))

  def applyAppend(changes: DataFrame): DataFrame =
    applyAppend(changes, truncateFrontiers(changes))

  /** ReplacingMergeTree FINAL: latest version (= LSN) per key wins;
    * a DELETE tombstone removes the key entirely. Truncate-aware.
    */
  def applyReplacing(changes: DataFrame, keyCols: Seq[String],
                     frontiers: Map[String, Long]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(k => col(s"key_$k")): _*).orderBy(col("lsn").desc)
    val keyed = dropTruncated(changes, frontiers).withColumns(
      keyCols.map(k => s"key_$k" ->
        coalesce(col(s"after.$k"), col(s"before.$k"))).toMap)
    keyed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= ChangeRelation.OpDelete)
      .select(col("after.*"))
  }

  def applyReplacing(changes: DataFrame, keyCols: Seq[String]): DataFrame =
    applyReplacing(changes, keyCols, truncateFrontiers(changes))

  /** CollapsingMergeTree: signed row pairs; rows whose sign-sum collapses
    * to 0 vanish, survivors are the net +1 row values.
    * Emits the signed physical stream (what the reference buffers to CH)
    * in ONE pass: each change explodes into its signed rows (I → +after,
    * U → −before +after, D → −before), where a union of per-op filters
    * would scan the changes once per op.
    * Truncate-aware: pre-truncate history never enters the signed stream.
    */
  def toSignedRows(changes: DataFrame, frontiers: Map[String, Long]): DataFrame = {
    def signed(side: String, sign: Int): Column =
      struct(col(side).as("row"), lit(sign).as("sign"))
    val op = col("op")
    dropTruncated(changes, frontiers)
      .select(col("lsn"), explode(
        when(op === ChangeRelation.OpInsert, array(signed("after", 1)))
          .when(op === ChangeRelation.OpUpdate,
            array(signed("before", -1), signed("after", 1)))
          .when(op === ChangeRelation.OpDelete, array(signed("before", -1))))
        .as("s"))
      .select(col("lsn"), col("s.row").as("row"), col("s.sign").as("sign"))
  }

  def toSignedRows(changes: DataFrame): DataFrame =
    toSignedRows(changes, truncateFrontiers(changes))

  /** Read-side collapse of the signed stream: groupBy full row value,
    * keep sum(sign) != 0 — ClickHouse's merge-time collapse as one agg.
    */
  def collapse(signed: DataFrame): DataFrame =
    signed.groupBy(col("row"))
      .agg(sum(col("sign")).as("net"))
      .filter(col("net") =!= 0)
      .select(col("row.*"))

  /** Within-segment merge — ClickHouse's background part-merge analog:
    * when buffer batches compact into a main segment, a ReplacingMergeTree
    * table's segment can drop every change row superseded by a same-key,
    * higher-LSN change IN THE SAME slice (CH merges parts by applying the
    * engine inside the part; read-side FINAL across parts is still
    * needed, exactly like [[applyReplacing]] here). Truncate markers all
    * survive, and a dropped row is by construction never a key's global
    * maximum, so `readFinal` is bit-identical — the merge only bounds log
    * growth to O(live keys + churn since last compaction) instead of
    * O(all history). Non-replacing engines return the slice unchanged:
    * append needs every row, and collapsing pair-cancellation is only
    * sound between truncate boundaries — not worth the subtlety here.
    */
  def mergeSlice(slice: DataFrame, engine: String, keyCols: Seq[String]): DataFrame =
    engine match {
      case "ReplacingMergeTree" =>
        val truncates = slice.filter(col("op") === ChangeRelation.OpTruncate)
        val keyed = slice.filter(col("op") =!= ChangeRelation.OpTruncate)
          .withColumns(keyCols.map(k => s"__key_$k" ->
            coalesce(col(s"after.$k"), col(s"before.$k"))).toMap)
        // deterministic tiebreak: equal-LSN changes to one key (snapshot
        // rows land at lsn=0) would otherwise keep an arbitrary winner and
        // compaction would not be bit-stable. __row_id is always present in
        // a compaction slice (BufferedSink stamps it at write time); fall
        // back to lsn-only for direct library calls on bare change logs.
        val tiebreak =
          if (slice.columns.contains("__row_id")) Seq(col("__row_id").desc)
          else Seq.empty
        val w = Window
          .partitionBy(keyCols.map(k => col(s"__key_$k")): _*)
          .orderBy(col("lsn").desc +: tiebreak: _*)
        keyed
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop(keyCols.map(k => s"__key_$k") :+ "__rn": _*)
          .unionByName(truncates)
      case _ => slice
    }

  /** A12 restart dedup: drop redelivered changes at-or-below the persisted
    * per-table LSN frontier. Idempotent replay = filter + apply.
    */
  def dropReplayed(changes: DataFrame, frontier: Long): DataFrame =
    changes.filter(col("lsn") > frontier)

  /** The LSN frontier after applying a batch (max commit LSN). */
  def frontierOf(changes: DataFrame): Column = max(col("lsn"))
}
