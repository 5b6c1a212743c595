package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The plain batch sessionizer, the reference `Sessions.sessionizeBucketed`
  * is checked against (`OpsSpec`, `PropertySpec`): the same gap rule with
  * both windows partitioned by the user key alone. */
object SessionsReference {

  /** Adds a 1-based `session_seq` per user ordered by event time.
    * Ordering ties on the timestamp stay in one session (gap 0). The gap
    * is computed in MICROSECONDS so batch and streaming agree on
    * sub-second timestamps (the streaming sessionizer compares
    * millisecond epochs; `unix_timestamp` would truncate to seconds and
    * under-measure gaps like 1800.05 s).
    *
    * HOT-KEY CONTRACT: both windows partition by the user key alone — a
    * single user holding a large fraction of the table serializes into
    * one task's sort. For skewed keys at scale use
    * `Sessions.sessionizeBucketed` (output-identical; equivalence specs in
    * OpsSpec and PropertySpec). */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
                 gapSeconds: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol))
    events
      .withColumn("__prev", lag(col(tsCol), 1).over(byUser))
      .withColumn("__new", when(col("__prev").isNull ||
        unix_micros(col(tsCol).cast("timestamp")) - unix_micros(col("__prev").cast("timestamp")) > gapSeconds * 1000000L, 1)
        .otherwise(0))
      .withColumn("session_seq", sum(col("__new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__new")
  }
}
