package graft
package entries

import org.apache.spark.sql.functions._

import graft.search._
import graft.streaming.Streaming

import OracleSql._

/** The streaming entries: each runs a Structured Streaming query over
  * the sf tables to completion.
  */
object StreamingEntries extends EntryFamily {
  exact("stream_percolate")((s, d) => {
    val stored = Seq(
      "alert_sd" -> Query.parse("spark AND data"),
      "alert_vm" -> Query.parse("vector OR merge"),
      "alert_cb" -> Query.parse("customer NOT batch"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    Streaming.percolateParquetStream(s, s"$d/documents.parquet",
      "doc_id", "text", stored, ckpt)
      .orderBy(col("query_id"), col("doc"))
  })(
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |d AS (SELECT DISTINCT doc_id FROM documents)
       |SELECT 'alert_cb' AS query_id, doc_id AS doc FROM d
       |WHERE ${hasTerm("customer")} AND NOT ${hasTerm("batch")}
       |UNION ALL
       |SELECT 'alert_sd', doc_id FROM d WHERE ${hasTerm("spark")} AND ${hasTerm("data")}
       |UNION ALL
       |SELECT 'alert_vm', doc_id FROM d WHERE ${hasTerm("vector")} OR ${hasTerm("merge")}
       |ORDER BY query_id, doc""".stripMargin)
  exact("stream_session")((s, d) => {
    // per-user session windows at a 30-minute inactivity gap
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    Streaming.sessionWindows(s, s"$d/events.parquet", "30 minutes", "0 seconds", ckpt)
      .orderBy(col("user_id"), col("session_start"))
  })(
    """WITH d AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT user_id, ts, value,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
      |  FROM d
      |)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
      |       round(sum(value), 4) AS sum_value
      |FROM s GROUP BY user_id, sess
      |ORDER BY user_id, session_start""".stripMargin)
  exact("stream_dedup", bench = true)((s, d) => {
    // exactly-once under at-least-once delivery: every event arrives
    // TWICE (duplicated source files); streaming dropDuplicates on the
    // event key restores single-delivery counts
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    Streaming.dedupedEventCounts(s, s"$d/events.parquet", "event_id", ckpt)
      .orderBy(col("event_type"))
  })(
    """SELECT event_type, count(*) AS n,
      |       round(sum(value::DECIMAL(30,6))::DOUBLE, 4) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  exact("stream_window_agg")((s, d) => {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    Streaming.windowedEventCounts(s, s"$d/events.parquet", "1 hour", "0 seconds", ckpt)
      .orderBy(col("window_start"), col("event_type"))
  })(
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |       count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)
  exact("stream_join", bench = true)((s, d) => {
    // stream-stream interval join (attribution: purchases within 1 hour
    // after a view by the same user); watermarks bound the join state to
    // one window per side, inner-append emits matches immediately
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    Streaming.intervalJoinPairs(s, s"$d/events.parquet",
        "view", "purchase", "1 hour", ckpt)
      .orderBy(col("left_id"), col("right_id"))
  })(
    """WITH v AS (SELECT event_id AS left_id, user_id, ts FROM events
      |           WHERE event_type = 'view'),
      |p AS (SELECT event_id AS right_id, user_id, ts FROM events
      |      WHERE event_type = 'purchase')
      |SELECT v.left_id, p.right_id, v.user_id
      |FROM v JOIN p ON v.user_id = p.user_id
      | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
      |ORDER BY left_id, right_id""".stripMargin)
}
