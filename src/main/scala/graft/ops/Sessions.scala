package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch gap-based sessionization — the batch face of
  * [[graft.streaming.EventStreams.sessionize]] (which holds the same gap
  * rule in `flatMapGroupsWithState` for unbounded streams): a new session
  * starts when the gap to the user's previous event exceeds `gapSeconds`.
  * Ordering ties on the timestamp stay in one session (gap 0); the gap is
  * computed in MICROSECONDS so batch and streaming agree on sub-second
  * timestamps.
  *
  * The plain form — two windows partitioned by the user key alone, so a
  * hot user serializes into one task's sort — is kept in test code as
  * `SessionsReference.sessionize`, the equivalence reference of
  * [[Sessions.sessionizeBucketed]] (OpsSpec, PropertySpec).
  */
object Sessions {

  /** Skew-safe sessionization — output-identical to the plain form, with
    * every data-sized window partitioned by (user, TIME BUCKET):
    *
    *  1. in-bucket pass: lag/running-sum within (user, bucket) — the only
    *     unknown is whether each bucket's FIRST event opens a session,
    *     which needs the previous bucket's last timestamp;
    *  2. a per-(user, bucket) SPINE frame (first/last ts + in-bucket
    *     start count) resolves the boundary flag and prefix-sums the
    *     per-bucket session-start counts with tiny per-user windows
    *     (≤ #buckets rows per user);
    *  3. the spine joins back on (user, bucket) — the same partitioning
    *     the in-bucket pass produced, so Catalyst plans no extra
    *     exchange for the data side — and `session_seq` = bucket prefix
    *     + in-bucket running count (+ the resolved boundary flag).
    *
    * Per-task bound = events per (user, bucket); `bucketSeconds` is the
    * granularity knob exactly as on [[graft.ops.AsOfJoin.asOfBucketed]].
    *
    * NULL handling matches the plain form exactly: null-timestamp rows sort
    * first in the user's timeline (nulls-first, the plain form's window
    * order) and each opens its own session; a null user key is its own
    * partition. Null timestamps ride a SENTINEL bucket (Long.MinValue — a
    * null bucket would silently fall out of the spine equi-join), and the
    * spine join-back is null-safe on the user key. */
  def sessionizeBucketed(events: DataFrame, userCol: String, tsCol: String,
                         gapSeconds: Long = 1800L,
                         bucketSeconds: Long = 86400L): DataFrame = {
    val gapMicros = gapSeconds * 1000000L
    val micros = unix_micros(col(tsCol).cast("timestamp"))
    // sentinel bucket for null timestamps: sorts before every real bucket,
    // mirroring the nulls-first order of sessionize's (user) window
    val bucket = when(col(tsCol).isNull, lit(Long.MinValue))
      .otherwise(floor(micros / (bucketSeconds * 1000000L)).cast("long"))

    val byBucket = Window.partitionBy(col(userCol), col("__bucket"))
      .orderBy(col(tsCol))
    val inBucket = events
      .withColumn("__bucket", bucket)
      .withColumn("__us", micros)
      .withColumn("__rn", row_number().over(byBucket))
      .withColumn("__prev", lag(col("__us"), 1).over(byBucket))
      // boundary-independent flags: rows 2..n of each bucket. A null __prev
      // VALUE on a row that HAS a predecessor is a null timestamp (sentinel
      // bucket) — sessionize opens a new session there (__prev.isNull ||),
      // so the in-bucket rule must too; __rn distinguishes "no predecessor"
      // (boundary, resolved by the spine) from "null-ts predecessor".
      .withColumn("__new_rest", when(col("__rn") > 1 &&
        (col("__prev").isNull || col("__us") - col("__prev") > gapMicros), 1)
        .otherwise(0))
      .withColumn("__in_seq", sum(col("__new_rest")).over(
        byBucket.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    // spine: one row per touched (user, bucket)
    val spine = inBucket.groupBy(col(userCol), col("__bucket"))
      .agg(min(col("__us")).as("__first"), max(col("__us")).as("__last"),
        sum(col("__new_rest")).as("__starts_rest"))
    val byUser = Window.partitionBy(col(userCol)).orderBy(col("__bucket"))
    val resolved = spine
      .withColumn("__prev_last", lag(col("__last"), 1).over(byUser))
      .withColumn("__first_new", when(col("__prev_last").isNull ||
        col("__first") - col("__prev_last") > gapMicros, 1).otherwise(0))
      .withColumn("__base", coalesce(sum(col("__starts_rest") + col("__first_new"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
      .select(col(userCol).as("__r_user"), col("__bucket").as("__r_bucket"),
        col("__first_new"), col("__base"))

    inBucket
      // null-safe on the user key: a null user is a legitimate partition in
      // sessionize (its own window group) — a plain equi-join would drop it
      .join(resolved, col(userCol) <=> col("__r_user") &&
        col("__bucket") === col("__r_bucket"))
      // starts before this bucket + this bucket's boundary start (0/1)
      // + starts among in-bucket rows 2..current (__in_seq is 0 at row 1)
      .withColumn("session_seq",
        col("__base") + col("__first_new") + col("__in_seq"))
      .drop("__bucket", "__us", "__rn", "__prev", "__new_rest", "__in_seq",
        "__r_user", "__r_bucket", "__first_new", "__base")
  }
}
