package graft.tools

import org.apache.spark.sql.SparkSession

/** Prints formatted physical plans for selected queries — the plan-quality
  * audit loop (PushedFilters reach the scan? dims broadcast? shuffles only
  * where semantics demand?).
  * `runMain graft.tools.ExplainQueries [corpusDir [query...]]`; the corpus
  * defaults to the vendored `perfbench/data` tables, the queries to every
  * relational gate row. */
object ExplainQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "perfbench/data"
    val names = if (args.length > 1) args.tail.toSeq
      else graft.gate.RelationalRows.rows.map(_.name)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      println(s"========== $n ==========")
      println(graft.SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
