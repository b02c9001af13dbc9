package graft.streaming

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.types.StructType

/** Config-file entry point — pg2ch is driven by a YAML file
  * (`tables.<t>.{engine, key_columns, buffer_size, merge_threshold}` plus
  * the inactivity flush timeout; `pkg/config` [recall:med] — SURVEY.md §0
  * caveat, §3.4 lifecycle mapping), and a user of the reference boots the
  * whole replication from that file. This loader parses the same shape
  * into [[StreamRunner.RunnerConfig]].
  *
  * The environment has no YAML dependency (offline resolver), so this is
  * a deliberately strict parser for exactly the pg2ch config shape — flat
  * `key: value` scalars, one `tables:` block of named sub-blocks, `[a,b]`
  * lists, `"…"` quoting, `#` comments — not a general YAML engine. Table
  * row schemas are Spark DDL strings (`columns: "k BIGINT, v STRING"`),
  * playing the role PG's catalog plays for the reference.
  *
  * ```yaml
  * input_dir: /feeds/wal
  * output_dir: /tables
  * checkpoint_dir: /ckpt
  * inactivity_flush_timeout: 5s
  * merge_threshold: 3
  * merge_on_compact: true          # CH part-merge analog (optional)
  * feed_format: pgoutput           # json (default) | pgoutput
  * source_wire: pg-host:5433       # replication socket → PgWireClient (optional)
  * source_user: graft              # replication role (optional)
  * source_password: s3cret         # SCRAM-SHA-256 / MD5 auth (optional)
  * source_ssl: verify-full         # disable|require|verify-ca|verify-full
  * source_ssl_truststore: /etc/pg/root.p12   # sslrootcert analogue
  * source_ssl_truststore_password: changeit
  * source_auth: scram              # any (default) | scram | md5 — refuse downgrades
  * clickhouse_url: http://ch:8123  # ship TSV inserts too (optional)
  * tables:
  *   users:
  *     engine: ReplacingMergeTree
  *     key_columns: [k]
  *     columns: "k BIGINT, v STRING, amt DECIMAL(12,2)"
  *     columns_map: [k:user_id, v:payload]  # target:feed-column rename/subset (optional)
  *     buffer_size: 1000
  *     merge_threshold: 16         # per-table compaction override (optional)
  *     relid: 42                   # pgoutput relation OID (binary feeds)
  * ```
  *
  * `columns_map` is pg2ch's `tables.<t>.columns` subset/rename
  * [recall:med]: `columns:` declares the TARGET schema; each
  * `target:source` entry reads the feed cell named `source` into the
  * `target` column (default: the target's own name), and feed columns no
  * target maps are dropped.
  */
object GraftConfig {

  def load(path: String): StreamRunner.RunnerConfig =
    parse(Files.readString(Paths.get(path)))

  def parse(text: String): StreamRunner.RunnerConfig = {
    val top = mutable.Map.empty[String, String]
    val tables = mutable.LinkedHashMap.empty[String, mutable.Map[String, String]]
    var inTables = false
    var tableIndent = -1
    var current: mutable.Map[String, String] = null

    text.linesIterator.foreach { raw =>
      val indent = raw.takeWhile(_ == ' ').length
      val line = raw.trim
      if (line.nonEmpty && !line.startsWith("#")) {
        val (key, value) = splitKV(line)
        if (indent == 0) {
          if (key == "tables" && value.isEmpty) { inTables = true; tableIndent = -1 }
          else { inTables = false; current = null; top(key) = value }
        } else if (inTables && value.isEmpty && (tableIndent < 0 || indent <= tableIndent)) {
          tableIndent = indent
          current = mutable.Map.empty[String, String]
          tables(key) = current
        } else {
          require(current != null, s"config attribute outside a table block: $line")
          current(key) = value
        }
      }
    }

    def req(m: collection.Map[String, String], k: String, ctx: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"config: missing '$k' in $ctx"))

    val tcs = tables.map { case (name, attrs) =>
      StreamRunner.TableConfig(
        name = name,
        engine = req(attrs, "engine", s"table $name"),
        keyColumns = list(attrs.getOrElse("key_columns", "[]")),
        rowSchema = StructType.fromDDL(req(attrs, "columns", s"table $name")),
        bufferSize = attrs.get("buffer_size").map(_.toInt).getOrElse(0),
        relId = attrs.get("relid").map(_.toInt).getOrElse(-1),
        mergeThreshold = attrs.get("merge_threshold").map(_.toInt),
        columnsMap = attrs.get("columns_map")
          .map(v => list(v).map(pair => {
            val i = pair.indexOf(':')
            require(i > 0 && i < pair.length - 1,
              s"config: bad columns_map entry '$pair' in table $name " +
                "(expected target:source)")
            (pair.take(i).trim, pair.drop(i + 1).trim)
          }).toMap)
          .getOrElse(Map.empty))
    }.toSeq
    require(tcs.nonEmpty, "config: no tables declared")

    StreamRunner.RunnerConfig(
      inputDir = req(top, "input_dir", "top level"),
      outputDir = req(top, "output_dir", "top level"),
      checkpointDir = req(top, "checkpoint_dir", "top level"),
      tables = tcs,
      mergeThreshold = top.get("merge_threshold").map(_.toInt).getOrElse(0),
      inactivityFlushMs = top.get("inactivity_flush_timeout").map(durationMs),
      feedFormat = top.getOrElse("feed_format", "json"),
      clickhouseUrl = top.get("clickhouse_url"),
      mergeOnCompact = top.get("merge_on_compact").exists(_.toBoolean),
      sourceWire = top.get("source_wire").map { hp =>
        val i = hp.lastIndexOf(':')
        val port = if (i > 0) hp.substring(i + 1).toIntOption else None
        require(port.isDefined, s"source_wire must be host:port, got '$hp'")
        (hp.substring(0, i), port.get)
      },
      sourcePassword = top.get("source_password"),
      sourceUser = top.getOrElse("source_user", "graft"),
      sourceSsl = {
        // fail-fast: an invalid sslmode or a verify-* mode
        // without its trust store should fail at CONFIG LOAD, not when
        // the replication client first connects hours later
        val mode = top.getOrElse("source_ssl", "disable")
        require(Set("disable", "require", "verify-ca", "verify-full")(mode),
          s"config: source_ssl '$mode' is not one of disable|require|verify-ca|verify-full")
        require(!mode.startsWith("verify-") || top.contains("source_ssl_truststore"),
          s"config: source_ssl=$mode requires source_ssl_truststore (the sslrootcert analogue)")
        mode
      },
      sourceSslTrustStore = top.get("source_ssl_truststore"),
      sourceSslTrustStorePassword =
        top.getOrElse("source_ssl_truststore_password", "changeit"),
      sourceAuth = {
        val m = top.getOrElse("source_auth", "any")
        require(Set("any", "scram", "md5")(m),
          s"config: source_auth '$m' is not one of any|scram|md5")
        m
      })
  }

  /** `500ms` / `5s` / `2m` / `1h` → milliseconds. */
  def durationMs(s: String): Long = {
    val m = raw"(\d+)\s*(ms|s|m|h)".r
    s.trim match {
      case m(n, "ms") => n.toLong
      case m(n, "s") => n.toLong * 1000L
      case m(n, "m") => n.toLong * 60000L
      case m(n, "h") => n.toLong * 3600000L
      case other => throw new IllegalArgumentException(s"bad duration: '$other'")
    }
  }

  private def splitKV(line: String): (String, String) = {
    val i = line.indexOf(':')
    require(i > 0, s"bad config line (expected 'key: value'): $line")
    (line.take(i).trim, unquote(line.drop(i + 1).trim))
  }

  /** Strip quotes; outside quotes, ` #` starts a trailing comment (a
    * `#` inside a quoted value survives).
    */
  private def unquote(v: String): String =
    if (v.startsWith("\"")) {
      val close = v.indexOf('"', 1)
      require(close > 0, s"unterminated quote in config value: $v")
      v.substring(1, close)
    } else {
      val cut = v.indexOf(" #")
      (if (cut >= 0) v.take(cut) else v).trim
    }

  private def list(v: String): Seq[String] =
    if (v.startsWith("[") && v.endsWith("]")) {
      v.substring(1, v.length - 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    } else if (v.isEmpty) Seq.empty
    else Seq(v)
}
