package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ShingleHash64Expression
import graft.ops.{Dedup, TextAnalysis}

/** Pins the shared gram representation: minhash verification on sorted
  * distinct shingle hashes (`Dedup.jaccardVerified`) against the string
  * form it replaced — distinct string shingles and `size(array_intersect)`
  * over the same candidate pairs — and keeps the string form out of every
  * dedup plan. */
class GramVerificationSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** `Dedup.minhashNearDuplicates` verifying on STRING shingles: the same
    * signature, banding and candidate pairing, then exact Jaccard over
    * `ShingleHashSpec.shinglesFromTokens` sets with `size(array_intersect)`. */
  private def minhashReference(docs: DataFrame, threshold: Double,
                               numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val rowsPerBand = numHashes / bands
    val toks = docs.select($"doc_id".as("id"), TextAnalysis.tokens($"text").as("toks"))
    val sh = toks.select($"id", ShingleHashSpec.shinglesFromTokens($"toks").as("sh"))
    val banded = toks
      .select($"id", Dedup.minhashSignatureFromHashes(
        ShingleHash64Expression.shingleHash64($"toks", 3), numHashes).as("sig"))
      .select($"id", element_at($"sig", 1).as("sk"),
        element_at($"sig", numHashes).as("sk2"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice($"sig", b * rowsPerBand + lit(1), lit(rowsPerBand))))))
      .select(concat($"pos", lit(":"), $"col").as("bucket"), $"id", $"sk", $"sk2")
    Dedup.chainedBucketPairs(banded, maxBucket = 64, salts = 16)
      .join(sh.select($"id".as("id_a"), $"sh".as("sh_a")), Seq("id_a"))
      .join(sh.select($"id".as("id_b"), $"sh".as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect($"sh_a", $"sh_b")))
      .withColumn("jaccard",
        $"inter" / (size($"sh_a") + size($"sh_b") - $"inter"))
      .filter($"jaccard" >= threshold)
      .select($"id_a", $"id_b", $"jaccard")
  }

  private def pairMap(df: DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private def minhash(docs: DataFrame, threshold: Double) =
    pairMap(Dedup.minhashNearDuplicates(docs, "doc_id", "text", threshold = threshold))

  /** Near-duplicates below Jaccard 1: one word changed or appended. */
  private def nearDups = Seq(
    (9100000001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
    (9100000002L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu"),
    (9100000003L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
  ).toDF("doc_id", "text")

  test("minhash ≡ string-shingle reference on the corpus plus planted docs") {
    val docs = spark.read.parquet(s"${SparkTestBase.corpusDir}/documents.parquet")
      .select($"doc_id", $"text")
      .unionByName(SparkEntry.plantedDocs(spark))
      .unionByName(nearDups)
    Seq(0.0, 0.5).foreach { t =>
      val got = minhash(docs, t)
      val ref = pairMap(minhashReference(docs, t))
      assert(got == ref, s"threshold $t: ${(got.toSet diff ref.toSet).take(5)} vs " +
        s"${(ref.toSet diff got.toSet).take(5)}")
      assert(got.exists { case (_, j) => j > 0.5 && j < 1.0 },
        s"threshold $t: no near-duplicate below Jaccard 1 was verified")
      assert(got.contains((SparkEntry.PlantBase + 10, SparkEntry.PlantBase + 11)))
    }
  }

  test("minhash ≡ string-shingle reference on short, empty, repeated and null text") {
    val docs = Seq[(Long, String)](
      (1L, null), (2L, null),
      (3L, ""), (4L, ""), (5L, " \t "),               // no tokens: one empty shingle
      (6L, "solo"), (7L, "solo"),                      // 1 token: one truncated shingle
      (8L, "two words"), (9L, "two words"),            // 2 tokens
      (10L, "a b a b a b a b"), (11L, "a b a b a b a b a"), // repeated shingles
      (12L, "a b a b c"),
    ).toDF("doc_id", "text")
    val got = minhash(docs, 0.0)
    val ref = pairMap(minhashReference(docs, 0.0))
    // null text has no grams and pairs with nothing, as in ngramJaccardPairs
    // and simhashNearDuplicates; the string form verified it as the empty
    // shingle and paired two null-text docs at Jaccard 1
    assert(ref.get((1L, 2L)).contains(1.0))
    assert(!got.keys.exists { case (a, b) => a <= 2L || b <= 2L })
    assert(got == ref.filter { case ((a, b), _) => a > 2L && b > 2L })
    assert(got.get((10L, 11L)).contains(1.0))
    assert(got.get((3L, 5L)).contains(1.0) && got.get((6L, 7L)).contains(1.0) &&
      got.get((8L, 9L)).contains(1.0))
  }

  test("dedup plans build no string shingles and call no array_intersect") {
    val docs = spark.read.parquet(s"${SparkTestBase.corpusDir}/documents.parquet")
      .select($"doc_id", $"text")
    def exprClasses(df: DataFrame): Set[String] =
      df.queryExecution.optimizedPlan.collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case e => e.getClass.getSimpleName }).toSet
    val plans = Map(
      "minhash" -> exprClasses(Dedup.minhashNearDuplicates(docs, "doc_id", "text")),
      "simhash" -> exprClasses(Dedup.simhashNearDuplicates(docs, "doc_id", "text")),
      "ngram" -> exprClasses(Dedup.ngramJaccardPairs(docs, "doc_id", "text")))
    plans.foreach { case (name, classes) =>
      assert(!classes.contains("ArrayIntersect"), s"$name plan has array_intersect")
      assert(!classes.contains("ConcatWs"), s"$name plan has concat_ws")
    }
    Seq("minhash", "ngram").foreach { name =>
      assert(plans(name).contains("SortedIntersectCountExpression"),
        s"$name does not verify with the sorted merge")
    }
  }
}
