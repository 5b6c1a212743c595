package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate row: a query over the tables in a corpus directory, and the
  * DuckDB SQL over the same tables whose result it must equal. */
final case class GateRow(
    name: String, run: (SparkSession, String) => DataFrame, oracle: String)
