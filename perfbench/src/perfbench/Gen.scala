package perfbench

import scala.collection.mutable
import graft.streaming.PgOutput

/** Seeded WAL generator and its own model of the replicated state.
  *
  * Three tables, one per engine. The two mutable tables take a 60/30/10
  * insert/update/delete mix; updates and deletes pick a live key with a
  * Zipf (s = 1) skew over key age, so the oldest keys are the hottest.
  * The MergeTree table is an append-only log and takes inserts only,
  * since the plain engine has no update or delete. Every row value is
  * unique (`v` carries the LSN that wrote it), so each row the ClickHouse
  * mirror receives maps back to exactly one change.
  *
  * The model is what the benchmark checks the program against: the
  * FINAL rows of each table, the LSN of every change, and the
  * engine-encoded TabSeparated lines the mirror must hold.
  */
final class Gen(seed: Long, snapshotRows: Int) {
  import Gen._

  private val rng = new java.util.SplittableRandom(seed)
  private var lsn = 1000L
  private var xid = 1
  private var nextKey = snapshotRows.toLong + 1

  private final class Live {
    val rows = mutable.HashMap.empty[Long, Row]
    val keys = mutable.ArrayBuffer.empty[Long]
    val pos = mutable.HashMap.empty[Long, Int]
    def put(r: Row): Unit = {
      if (!rows.contains(r.k)) { pos(r.k) = keys.length; keys += r.k }
      rows(r.k) = r
    }
    def remove(k: Long): Unit = {
      rows -= k
      val i = pos.remove(k).get
      val last = keys.remove(keys.length - 1)
      if (last != k) { keys(i) = last; pos(last) = i }
    }
  }

  private val live = Map(Replacing -> new Live, Collapsing -> new Live)
  private val appended = mutable.ArrayBuffer.empty[Row]
  // feed column order per relation; the mid-stream R frame reorders one
  private val feedCols = mutable.Map(tables.map(t => t.name -> Seq("k", "v", "n")): _*)

  /** Every streamed change, in LSN order. */
  val changes = mutable.ArrayBuffer.empty[Change]

  val snapshot: Map[String, Seq[Row]] = tables.map { t =>
    val rows = (1L to snapshotRows).map(k => Row(k, s"s$k", rng.nextLong(1000000L)))
    t.name -> rows
  }.toMap
  snapshot.foreach { case (name, rows) =>
    live.get(name).fold(rows.foreach(appended += _))(l => rows.foreach(l.put))
  }

  private def step(): Long = { lsn += 16; lsn }

  private def relation(name: String): (Long, Array[Byte]) = {
    val at = step()
    at -> PgOutput.encodeRelation(at, relId(name), name, feedCols(name))
  }

  private def cells(table: String, r: Row): Seq[String] =
    feedCols(table).map {
      case "k" => r.k.toString
      case "v" => r.v
      case "n" => r.n.toString
    }

  /** The R frame of every table — what a subscription sends first. */
  def relationFrames(): Seq[(Long, Array[Byte])] = tables.map(t => relation(t.name))

  /** A schema-change R frame for the Replacing table: same columns in a
    * new feed order, so later tuples decode only through the relation
    * definition the frame carries.
    */
  def reorderFrame(): (Long, Array[Byte]) = {
    feedCols(Replacing) = Seq("n", "k", "v")
    relation(Replacing)
  }

  /** One transaction of 1..maxChanges changes: `B`, the changes, `C`. */
  def nextTx(maxChanges: Int): Seq[(Long, Array[Byte])] = {
    val out = mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    val begin = step()
    out += begin -> PgOutput.encodeBegin(begin, 0L, 0L, xid)
    xid += 1
    (1 to 1 + rng.nextInt(maxChanges)).foreach(_ => out += change())
    val commit = step()
    out += commit -> PgOutput.encodeCommit(commit, 0L)
    out.toSeq
  }

  private def change(): (Long, Array[Byte]) = {
    val at = step()
    val roll = rng.nextInt(100)
    val table = if (roll < 40) Replacing else if (roll < 80) Collapsing else Appended
    val id = relId(table)
    val mix = rng.nextInt(100)
    live.get(table) match {
      case Some(l) if mix >= 60 && l.keys.nonEmpty =>
        // Zipf(s = 1) over key age: rank r with probability ∝ 1/(r+1)
        val n = l.keys.length
        val rank = math.min(n - 1, (math.exp(rng.nextDouble() * math.log(n + 1.0)) - 1).toInt)
        val old = l.rows(l.keys(rank))
        if (mix < 90) {
          val now = Row(old.k, s"u$at", rng.nextLong(1000000L))
          l.put(now)
          changes += Change(at, table, 'U', old, now)
          at -> PgOutput.encodeUpdate(at, id, cells(table, old), cells(table, now))
        } else {
          l.remove(old.k)
          changes += Change(at, table, 'D', old, null)
          at -> PgOutput.encodeDelete(at, id, cells(table, old))
        }
      case other =>
        val r = Row(nextKey, s"i$at", rng.nextLong(1000000L))
        nextKey += 1
        other.fold[Unit](appended += r)(_.put(r))
        changes += Change(at, table, 'I', null, r)
        at -> PgOutput.encodeInsert(at, id, cells(table, r))
    }
  }

  /** FINAL rows the model holds for `table`, as `k\tv\tn`, sorted. */
  def finalRows(table: String): Seq[String] =
    live.get(table).fold(appended.toSeq)(_.rows.values.toSeq).map(_.tsv).sorted
}

object Gen {
  val Replacing = "t_replacing"
  val Collapsing = "t_collapsing"
  val Appended = "t_append"

  final case class TableSpec(name: String, engine: String, relId: Int)
  val tables: Seq[TableSpec] = Seq(
    TableSpec(Replacing, "ReplacingMergeTree", 101),
    TableSpec(Collapsing, "CollapsingMergeTree", 102),
    TableSpec(Appended, "MergeTree", 103))
  def relId(table: String): Int = tables.find(_.name == table).get.relId

  final case class Row(k: Long, v: String, n: Long) {
    def tsv: String = s"$k\t$v\t$n"
  }

  final case class Change(lsn: Long, table: String, op: Char, before: Row, after: Row) {
    /** The TabSeparated lines the engine encoding ships for this change. */
    def chLines: Seq[String] = (table, op) match {
      case (Replacing, 'D') => Seq(s"${before.tsv}\t$lsn\t1")
      case (Replacing, _) => Seq(s"${after.tsv}\t$lsn\t0")
      case (Collapsing, 'I') => Seq(s"${after.tsv}\t1")
      case (Collapsing, 'U') => Seq(s"${before.tsv}\t-1", s"${after.tsv}\t1")
      case (Collapsing, _) => Seq(s"${before.tsv}\t-1")
      case _ => Seq(after.tsv)
    }
  }
}
