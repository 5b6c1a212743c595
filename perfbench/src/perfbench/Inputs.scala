package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.SynthDocs

/** Seeded benchmark inputs, built from the vendored 500-document base
  * corpus (`perfbench/data/documents.parquet`, byte-identical to the
  * sf0.001 `documents.parquet` that `RunPipeline` reads by default).
  *
  * Seed `s` with `k` replicas selects `SynthDocs` replicas `s … s+k-1`:
  * replica 0 is the base corpus as-is, replica `r > 0` is what
  * `SynthDocs.fromDocuments(..., replicate)` makes of copy `r` (doc ids
  * offset by `r · 10^9`, text suffixed with `" rep<r>"`). So seed 0 with
  * `k = 1` is exactly `RunPipeline`'s default input. */
object Inputs {

  /** The `documents.parquet` rows `(doc_id, text)` of replicas
    * `seed … seed+k-1`; `limit > 0` keeps only the lowest `limit` base ids. */
  def documents(spark: SparkSession, base: String, seed: Int, k: Int, limit: Int): DataFrame = {
    import spark.implicits._
    val all = spark.read.parquet(base).select($"doc_id".cast("long").as("doc_id"), $"text")
    val b = if (limit > 0) all.orderBy($"doc_id").limit(limit) else all
    b.crossJoin(spark.range(seed.toLong, seed.toLong + k).select($"id".as("rep")))
      .select(($"doc_id" + $"rep" * 1000000000L).as("doc_id"),
        when($"rep" === 0, $"text").otherwise(concat($"text", lit(" rep"), $"rep")).as("text"))
  }

  /** Writes the seeded `documents.parquet` under `dir`, runs
    * `SynthDocs.fromDocuments` on it and materializes the doc table to
    * `dir/docs` in `splits` files. Returns the doc table read back, so the
    * engine receives only the generated, materialized input. */
  def materialize(spark: SparkSession, base: String, seed: Int, k: Int, limit: Int,
                  dir: String, splits: Int): DataFrame = {
    documents(spark, base, seed, k, limit).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SynthDocs.fromDocuments(spark, dir, 1).repartition(splits)
      .write.mode("overwrite").parquet(s"$dir/docs")
    spark.read.parquet(s"$dir/docs")
  }

  private val alpha = "abcdefghijklmnopqrstuvwxyz"

  /** The dedup scale-ladder corpus: `k` copies of the base corpus with
    * disjoint vocabularies (copy `j` rotates the alphabet by
    * `(seed + j) mod 26`), so near-duplicate structure repeats `k` times
    * with no pairs across copies. `k` is at most 26. */
  def ladder(spark: SparkSession, base: String, seed: Int, k: Int, limit: Int): DataFrame = {
    import spark.implicits._
    val all = spark.read.parquet(base)
      .select($"doc_id".cast("long").as("doc_id"), lower($"text").as("text"))
    val b = if (limit > 0) all.orderBy($"doc_id").limit(limit) else all
    (0 until k).map { j =>
      val r = (seed + j) % 26
      b.select(($"doc_id" + lit(j.toLong * 1000000000L)).as("doc_id"),
        translate($"text", alpha, alpha.drop(r) + alpha.take(r)).as("text"))
    }.reduce(_ unionByName _)
  }
}
