package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The plain as-of join, the reference `AsOfJoin.asOfBucketed` is checked
  * against (`OpsSpec`, `PropertySpec`): the same union + running
  * `last(payload)` pass and the same semantics, with one window
  * partitioned by the key alone, so a hot key serializes into one task. */
object AsOfReference {

  /** Guard for the right-uniqueness contract of both forms: fails when any
    * (key, ts) holds more than one right row (where the operators would
    * otherwise silently pick an arbitrary winner). One aggregate pass. */
  def requireUniqueRight(right: DataFrame, keys: Seq[String], rightTs: String): Unit = {
    val dup = right.filter(col(rightTs).isNotNull)
      .groupBy((keys :+ rightTs).map(col): _*)
      .count().filter(col("count") > 1)
      .limit(1).collect()
    require(dup.isEmpty,
      s"as-of right side not unique per (${keys.mkString(",")}, $rightTs): e.g. ${dup.mkString}")
  }

  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTs: String, rightTs: String, payloads: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq

    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__pay", lit(null).cast(
        org.apache.spark.sql.types.StructType(payloads.map(right.schema(_)))))

    // a null right timestamp matches NOTHING (it would otherwise sort
    // nulls-first and poison the whole key partition via last(ignoreNulls))
    var r = right
      .filter(col(rightTs).isNotNull)
      .withColumn("__ts", col(rightTs))
      .withColumn("__side", lit(0))
      .withColumn("__pay", struct(payloads.map(col): _*))
      .select((keys :+ "__ts" :+ "__side" :+ "__pay").map(col): _*)
    leftCols.filterNot(c => keys.contains(c)).foreach { c =>
      r = r.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }

    // right rows (side 0) sort before left rows (side 1) at equal ts →
    // inclusive as-of; the running frame ends at the current row
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val unioned = l.select((leftCols :+ "__ts" :+ "__side" :+ "__pay").map(col): _*)
      .unionByName(r.select((leftCols :+ "__ts" :+ "__side" :+ "__pay").map(col): _*))

    unioned
      .withColumn("__pay", last(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++ payloads.map(p => col(s"__pay.$p").as(p)): _*)
  }
}
