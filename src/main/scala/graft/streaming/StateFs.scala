package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Streaming-state I/O through the Hadoop `FileSystem` API.
  *
  * pg2ch persists its replication state (LSN, table buffers) to paths the
  * single replicator process owns — fine for a one-process native engine.
  * A Spark cluster's driver and executors do NOT share a local filesystem:
  * the sink manifests, segment metadata, and the relation-definition cache
  * must live where the stream's checkpoint lives (HDFS, S3, ABFS…). Every
  * state path in [[BufferedSink]], [[StreamRunner]], and the CH sinks
  * resolves through this object, so a `RunnerConfig.outputDir` of
  * `hdfs://…` or `s3a://…` works exactly like the local paths the tests
  * use, on a cluster whose nodes share no local disk.
  *
  * Two deliberate choices for object-store compatibility:
  *  - NO appends. HDFS append is optional and S3 has none, so batch
  *    manifests are marker DIRECTORIES — one `b=<id>` file per committed
  *    batch, creation = commit. Same shape as Spark's own
  *    `_spark_metadata` per-batch commit log.
  *  - Commits are `rename(staged, final)` — atomic on HDFS; on S3 a
  *    real deployment points these paths at a rename-atomic layer
  *    (HBOSS, S3Guard-era committers, or a posix-ish store), exactly as
  *    Spark requires of its checkpoint location.
  */
private[graft] object StateFs {

  /** The active session's Hadoop conf (so `fs.s3a.*` etc. apply); a bare
    * default conf outside a session (plain local paths still resolve).
    */
  private def conf(): Configuration =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fs(p: Path): FileSystem = p.getFileSystem(conf())

  def exists(p: Path): Boolean = fs(p).exists(p)

  /** Child names of `dir`; empty when the dir doesn't exist. */
  def listNames(dir: Path): Seq[String] = {
    val f = fs(dir)
    if (f.exists(dir)) f.listStatus(dir).toSeq.map(_.getPath.getName)
    else Seq.empty
  }

  def readLines(file: Path): Seq[String] = {
    val in = fs(file).open(file)
    try {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().toList finally src.close()
    } finally in.close()
  }

  /** Create/overwrite one small file. Used for marker files and segment
    * metadata — contents are tiny and single-writer, so create-then-close
    * is the whole protocol.
    */
  def writeFile(file: Path, content: String): Unit = {
    val out = fs(file).create(file, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  /** Commit `src` to `dst` by rename. Returns false when `dst` already
    * exists or the rename was lost to a concurrent committer — callers
    * treat false as "another replay won; discard my staging". Any other
    * failed rename throws.
    */
  def commitMove(src: Path, dst: Path): Boolean = {
    val f = fs(src)
    Option(dst.getParent).foreach(f.mkdirs(_))
    if (f.exists(dst)) false
    else if (f.rename(src, dst)) true
    // a rename that failed with nothing at `dst` lost no race: callers
    // would drop their staging and go on as if it had committed
    else if (f.exists(dst)) false
    else throw new java.io.IOException(s"could not move $src to $dst")
  }

  def delete(p: Path): Unit = {
    val f = fs(p)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  // ---- small record files ----

  /** One line per record, its fields tab-separated; backslash, tab, CR
    * and LF inside a field are escaped, so any string round-trips through
    * [[readRecords]], and a record of one or more fields keeps its field
    * count (a trailing empty field included).
    */
  def writeRecords(file: Path, records: Seq[Seq[String]]): Unit =
    writeFile(file, records.map(_.map(escape).mkString("\t") + "\n").mkString)

  def readRecords(file: Path): Seq[Seq[String]] =
    readLines(file).map(_.split("\t", -1).toSeq.map(unescape))

  private def escape(s: String): String = {
    val b = new StringBuilder(s.length)
    s.foreach {
      case '\\' => b ++= "\\\\"
      case '\t' => b ++= "\\t"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case c => b += c
    }
    b.result()
  }

  private def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) {
        b += (s(i + 1) match { case 't' => '\t'; case 'n' => '\n'; case 'r' => '\r'; case c => c })
        i += 2
      } else { b += s(i); i += 1 }
    }
    b.result()
  }

  // ---- marker-directory manifests (append-free) ----

  /** Batch ids recorded in a manifest directory of `b=<id>` markers. */
  def markers(dir: Path): Set[Long] =
    listNames(dir).collect {
      case s if s.startsWith("b=") => s.stripPrefix("b=").toLong
    }.toSet

  /** Record `id`: one marker file whose NAME carries the id (the body is
    * informational), so even a partially-flushed marker still commits.
    */
  def addMarker(dir: Path, id: Long): Unit =
    writeFile(new Path(dir, s"b=$id"), s"$id\n")
}
