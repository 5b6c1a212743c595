package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.WinnowMinExpression

/** Pins the fused winnowing window-min expression against the
  * array_distinct(transform(..., array_min(slice(...)))) reference tree:
  * identical fingerprint sequences on random arrays, short arrays,
  * constant runs, and the real corpus gram streams. */
class WinnowMinSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ref(grams: org.apache.spark.sql.Column, w: Int) =
    array_distinct(transform(
      sequence(lit(0), greatest(size(grams) - w, lit(0))),
      i => array_min(slice(grams, i + 1, lit(w)))))

  private def compare(arrays: Seq[Seq[Long]], w: Int): Unit = {
    val rows = arrays.map(Tuple1(_)).toDF("g")
      .withColumn("fast", WinnowMinExpression.winnowMin($"g", w))
      .withColumn("ref", ref($"g", w))
      .collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Any](r.fieldIndex("fast")) == r.getSeq[Any](r.fieldIndex("ref")),
        s"row $i (${arrays(i)}, w=$w) diverged")
    }
  }

  test("matches the reference on random, short, constant, descending arrays") {
    val rnd = new scala.util.Random(11)
    val cases = Seq(
      Seq.fill(40)(rnd.nextLong() % 100),
      Seq.fill(200)(rnd.nextLong()),
      Seq(5L, 4L, 3L, 2L, 1L),            // descending: every window a new min
      Seq(7L, 7L, 7L, 7L),                // constant: one distinct min
      Seq(1L, 2L),                        // len < w
      Seq(42L),                           // single element
      Seq.empty[Long],                    // empty -> [null] like array_min(empty)
    )
    compare(cases, w = 4)
    compare(cases, w = 1)
    compare(cases, w = 7)
  }

  test("matches the reference through the real fingerprint pipeline") {
    import graft.ops.TextAnalysis
    val docs = spark.read.parquet(s"${SparkTestBase.corpusDir}/documents.parquet")
    val toks = col("__t")
    val grams = col("__g")
    val both = docs.withColumn("__t", TextAnalysis.tokens($"text"))
      .withColumn("__g", graft.functions.ShingleHash64Expression
        .shingleHash64(toks, 3, distinct = false))
      .withColumn("fast", WinnowMinExpression.winnowMin(grams, 4))
      .withColumn("ref", ref(grams, 4))
      .filter(not($"fast" <=> $"ref"))
    assert(both.count() == 0)
  }

  test("null input yields null") {
    val r = Seq(Tuple1(null: Seq[Long])).toDF("g")
      .select(WinnowMinExpression.winnowMin($"g", 4).as("f")).head()
    assert(r.isNullAt(0))
  }
}
