package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.MaxRunLengthExpression
import graft.ops.TextAnalysis

/** Pins the repetition signal's native path — hashed positional bigrams
  * plus [[MaxRunLengthExpression]] — against the expression tree it
  * replaced: sort the doc's STRING bigram array, then one `aggregate` fold
  * tracking the best and the current run of equal neighbours. Identical
  * (top_gram_count, n_grams) per doc on random docs and edge shapes. */
class MaxRunLengthSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Non-distinct string bigrams over a materialized token array: a doc
    * with fewer than 2 tokens yields one truncated gram, the same window
    * count as `shingleHash64(toks, 2, distinct = false)`. */
  private def bigrams(toks: Column): Column =
    transform(sequence(lit(0), greatest(size(toks) - 2, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(2))))

  /** The original formulation of `TextAnalysis.repetitionCounts`. */
  private def reference(docs: DataFrame): DataFrame = {
    val sorted = col("__rep_sorted")
    val n = size(sorted)
    val idxs = when(n > 1, sequence(lit(1), n - 1))
      .otherwise(array().cast("array<int>"))
    val top = aggregate(idxs,
      named_struct(lit("best"), lit(1), lit("cur"), lit(1)),
      (acc, i) => {
        val cur2 = when(element_at(sorted, i + 1) === element_at(sorted, i),
          acc.getField("cur") + 1).otherwise(lit(1))
        named_struct(lit("best"), greatest(acc.getField("best"), cur2),
          lit("cur"), cur2)
      },
      acc => acc.getField("best"))
    docs.withColumn("__rep_toks", TextAnalysis.tokens(lower($"text")))
      .withColumn("__rep_sorted", array_sort(bigrams(col("__rep_toks"))))
      .select($"doc_id", top.cast("long").as("top_gram_count"),
        n.cast("long").as("n_grams"))
  }

  private def compare(texts: Seq[String]): Unit = {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def byId(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fast = byId(TextAnalysis.repetitionCounts(docs, "doc_id", "text"))
    val ref = byId(reference(docs))
    assert(fast.size == texts.size && ref.size == texts.size)
    texts.indices.foreach { i =>
      assert(fast(i.toLong) == ref(i.toLong),
        s"doc $i ${texts(i).take(60)}: native ${fast(i.toLong)} vs reference ${ref(i.toLong)}")
    }
  }

  test("matches the reference fold on random docs") {
    val rnd = new scala.util.Random(5)
    // a small vocabulary so bigrams repeat and runs of every length occur
    val vocab = Seq("a", "b", "c", "d", "sota", "vanki", "leiri")
    val texts = (1 to 200).map { _ =>
      Seq.fill(rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size)))
        .mkString(if (rnd.nextBoolean()) " " else "  \t")
    }
    compare(texts)
  }

  test("matches the reference fold on edge shapes") {
    compare(Seq(
      "",                         // no tokens: one empty truncated gram
      "   ",                      // whitespace only
      "yksi",                     // 1 token: one truncated gram
      "yksi kaksi",               // 2 tokens: exactly one bigram
      "x x x x x x",              // all-equal bigrams: one run of 5
      "a b a b c d c d",          // tie: "a b" and "c d" both twice
      "c d a b c d a b e f e f",  // three-way tie at 2, out of sorted order
      "p q r s t u",              // all distinct: best stays 1
      "Spam SPAM spam",           // case folds before gramming
    ))
  }

  test("null array yields null") {
    val r = Seq(Tuple1(null: Seq[Long])).toDF("g")
      .select(MaxRunLengthExpression.maxRunLength($"g").as("m")).head()
    assert(r.isNullAt(0))
  }
}
