package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.ShingleHash64Expression
import graft.ops.TextAnalysis

/** Pins the fused shingle-hash expression against the reference pipeline
  * (shinglesFromTokens string distinct, then xxhash64 per shingle) —
  * identical hash sequences wherever no two distinct shingle strings
  * collide in xxhash64 (the documented tolerance; none occur here). */
class ShingleHashSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def compare(tokArrays: Seq[Seq[String]], n: Int): Unit = {
    val df = tokArrays.map(Tuple1(_)).toDF("toks")
      .withColumn("fast", ShingleHash64Expression.shingleHash64($"toks", n))
      .withColumn("ref", transform(ShingleHashSpec.shinglesFromTokens($"toks", n), s => xxhash64(s)))
      .collect()
    df.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Long](r.fieldIndex("fast")) == r.getSeq[Long](r.fieldIndex("ref")),
        s"row $i (${tokArrays(i)}) diverged")
    }
  }

  test("matches the reference on word arrays incl. duplicates, short, empty") {
    compare(Seq(
      Seq("the", "quick", "brown", "fox", "jumps", "over", "the", "lazy", "dog"),
      Seq("a", "b", "a", "b", "a", "b", "a"), // repeated shingles -> distinct
      Seq("one", "two"),                      // len < n: single short window
      Seq("solo"),
      Seq.empty[String],                      // empty array -> hash("")
      Seq("", "x", ""),                       // empty-string tokens kept (double space)
      Seq("ä", "ö", "岸", "😀", "z"), // multi-byte UTF-8
    ), n = 3)
  }

  test("matches the reference on the real corpus tokenization") {
    val docs = spark.read.parquet(s"${SparkTestBase.corpusDir}/documents.parquet")
      .withColumn("toks", TextAnalysis.tokens($"text"))
    val diff = docs
      .withColumn("fast", ShingleHash64Expression.shingleHash64($"toks", 3))
      .withColumn("ref", transform(ShingleHashSpec.shinglesFromTokens($"toks"), s => xxhash64(s)))
      .filter(not($"fast" <=> $"ref"))
      .count()
    assert(diff == 0)
  }

  test("null token elements are skipped with their separator, like concat_ws") {
    val df = Seq(Tuple1(Seq[String]("a", null, "b", "c")))
      .toDF("toks")
      .withColumn("fast", ShingleHash64Expression.shingleHash64($"toks", 3))
      .withColumn("ref", transform(ShingleHashSpec.shinglesFromTokens($"toks"), s => xxhash64(s)))
      .head()
    assert(df.getSeq[Long](df.fieldIndex("fast")) == df.getSeq[Long](df.fieldIndex("ref")))
  }

  test("null input array yields null") {
    val r = Seq(Tuple1(null: Seq[String])).toDF("toks")
      .select(ShingleHash64Expression.shingleHash64($"toks", 3).as("h")).head()
    assert(r.isNullAt(0))
  }

  test("distinct=false matches the positional winnowing gram sequence") {
    val df = Seq(
      Tuple1(Seq("a", "b", "a", "b", "a", "b", "c")), // repeated grams KEPT
      Tuple1(Seq("x")),
      Tuple1(Seq.empty[String]),
    ).toDF("toks")
      .withColumn("fast",
        ShingleHash64Expression.shingleHash64($"toks", 3, distinct = false))
      .withColumn("ref", transform(
        sequence(lit(0), greatest(size($"toks") - 3, lit(0))),
        i => xxhash64(concat_ws(" ", slice($"toks", i + 1, lit(3))))))
      .collect()
    df.foreach { r =>
      assert(r.getSeq[Long](r.fieldIndex("fast")) == r.getSeq[Long](r.fieldIndex("ref")))
    }
  }

  test("different n values match the reference") {
    val toks = Seq(
      Seq("w1", "w2", "w3", "w4", "w5", "w6"),
      Seq("x", "y"))
    compare(toks, n = 1)
    compare(toks, n = 2)
    compare(toks, n = 5)
  }
}

object ShingleHashSpec {

  /** The string form of the word n-gram shingle set: distinct
    * `concat_ws(" ", slice(toks, j+1, n))` windows over a materialized
    * token array (a short doc yields one truncated window, an empty array
    * the empty string). `ShingleHash64Expression` hashes exactly these
    * strings without building them. */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
}
