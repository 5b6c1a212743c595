package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.{cleanupAtExit, t}

/** True-streaming gate rows: AvailableNow drains of the events table. */
object StreamingRows {

  /** Streaming-source plumbing for the TRUE-streaming gate rows: expose
    * the events table as a readStream (FileStreamSource wants a DIRECTORY
    * — the vendored table is a single parquet file, symlinked into a temp
    * source dir) and drain a streaming frame to parquet with
    * Trigger.AvailableNow, returning the read-back batch frame. */
  private final case class StreamedSource(
      stream: DataFrame, tmp: java.nio.file.Path)
  private def streamedEvents(s: SparkSession, d: String): StreamedSource = {
    val batchSchema = t(s, d, "events").schema
    val tmp = cleanupAtExit(java.nio.file.Files.createTempDirectory("graft_stream"))
    val srcPath = {
      // absolutize: a symlink target resolves relative to the LINK's dir,
      // so a relative sfDir would yield a dangling link inside tmp/src
      val p = java.nio.file.Paths.get(d, "events.parquet").toAbsolutePath
      if (java.nio.file.Files.isDirectory(p)) p.toString
      else {
        val sd = java.nio.file.Files.createDirectory(tmp.resolve("src"))
        java.nio.file.Files.createSymbolicLink(sd.resolve("events.parquet"), p)
        sd.toString
      }
    }
    StreamedSource(s.readStream.schema(batchSchema).parquet(srcPath), tmp)
  }
  private def drainToParquet(s: SparkSession, streamed: DataFrame,
                             src: StreamedSource): DataFrame = {
    val outDir = src.tmp.resolve("out").toString
    // A stateful query's state-store count = spark.sql.shuffle.partitions
    // AT FIRST START (pinned into the checkpoint for the query's life).
    // The session's batch setting (2-3× cores) sizes scan/join exchanges;
    // for a stateful stream it would spin up that many state-store
    // instances, each paying per-microbatch delta/snapshot/commit file IO
    // regardless of data volume. 8 fits this drain's key cardinality;
    // production sizes it to rate × keys since it's fixed per checkpoint.
    // Restored after the drain — batch queries keep the session setting.
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      streamed.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", src.tmp.resolve("ckpt").toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.read.parquet(outDir)
  }

  val rows: Seq[GateRow] = Seq(
    // ---- TRUE streaming gate row: AvailableNow drain of the events table
    // through the flatMapGroupsWithState sessionizer (round-3 verdict #6).
    // Append mode emits only CLOSED sessions — each user's final session
    // stays open in state at end-of-drain — so the DuckDB oracle is the
    // batch sessionize mirror MINUS each user's last session: the
    // streaming operator is hash-checked against an independent engine,
    // which also pins it to its batch twin (events_sessionize runs the
    // same mirror WITH the final sessions). The single-file source makes
    // this drain ONE microbatch (FileStreamSource admits whole files), so
    // it exercises the worst case of the operator's documented per-batch
    // buffering contract (EventStreams.sessionize scaladoc); the bounded
    // multi-batch path is pinned by the one-user-100%-of-rows
    // EventStreamsSpec. -----------------------------------------------------
    // streaming drain vs independent batch mirror: append mode emits only
    // CLOSED sessions, so each user's LAST session (still open in state at
    // end-of-drain) is excluded from the expectation
    GateRow("events_stream_sessionize", (s, d) => {
      import s.implicits._
      import graft.streaming.EventStreams
      val src = streamedEvents(s, d)
      val sessions = EventStreams.sessionize(
        src.stream.select($"user_id", $"ts", $"event_type").as[EventStreams.SessionEvent])
      drainToParquet(s, sessions.toDF(), src)
        .select($"user_id",
          date_format(timestamp_millis($"startMs"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(timestamp_millis($"endMs"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          $"nEvents".cast("long").as("n_events"))
        .orderBy($"user_id", $"session_start")
    }, """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM marked),
        |agg AS (
        |  SELECT user_id, session_seq,
        |    strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |    strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |    count(*) AS n_events
        |  FROM sessions GROUP BY 1, 2)
        |SELECT user_id, session_start, session_end, n_events FROM agg
        |WHERE session_seq < (SELECT max(a2.session_seq) FROM agg a2
        |                     WHERE a2.user_id = agg.user_id)
        |ORDER BY user_id, session_start""".stripMargin),

    // ---- TRUE streaming gate row #2: watermarked tumbling windows. The
    // final watermark of an AvailableNow drain is max(ts) − 10 min, so
    // append mode emits exactly the windows whose END the watermark
    // passed — the DuckDB oracle is the batch window mirror restricted to
    // those finalized windows. Counts only: the operator's double-sum
    // aggregate is float-order-dependent and has its exact-cents batch
    // face under events_tumbling_window. ----------------------------------
    // streaming tumbling drain vs batch mirror restricted to the windows
    // the final watermark (max ts - 10 min) finalized. Boundary semantics
    // verified empirically: a window whose END equals the final watermark
    // IS emitted by the AvailableNow drain — Spark's append-mode eviction
    // is `window.end <= watermark` — so the mirror's `<=` below matches
    // exactly (strict `<` was considered; a drain over an exact-boundary
    // window shows non-strict is correct)
    GateRow("events_stream_tumbling", (s, d) => {
      import s.implicits._
      import graft.streaming.EventStreams
      val src = streamedEvents(s, d)
      // driver tables carry TIMESTAMP_NTZ; watermarks need TIMESTAMP —
      // the UTC session timezone makes the cast a no-op on wall time
      val wc = EventStreams.windowedCounts(
        src.stream.withColumn("ts", $"ts".cast("timestamp")),
        watermark = "10 minutes", windowLen = "1 hour")
      drainToParquet(s, wc.select($"win_start", $"event_type", $"n"), src)
        .select(date_format($"win_start", "yyyy-MM-dd HH").as("h"),
          $"event_type", $"n")
        .orderBy($"h", $"event_type")
    }, """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
        |agg AS (
        |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start, event_type,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT strftime(win_start, '%Y-%m-%d %H') AS h, event_type, n
        |FROM agg, wm
        |WHERE win_start + INTERVAL 1 HOUR <= wm.w
        |ORDER BY h, event_type""".stripMargin),
  )
}
