package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Equivalence pin for the native minhash-signature expression: the fused
  * one-pass fold must agree BIT-FOR-BIT with the original expression-tree
  * formulation (`array_min(transform(hs, h => xxhash64(h, lit(k))))` per
  * family) on every input shape — real shingle hashes, empty arrays, and
  * null elements (XxHash64 skips null children; array_min of empty is
  * null). */
class MinhashSignatureSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** The original expression-tree formulation of
    * `Dedup.minhashSignatureFromHashes`. `hs` must be a materialized
    * attribute: the `numHashes` syntactic references block CollapseProject
    * from inlining the upstream shingle+hash projection into the lambdas. */
  private def minhashSignatureReference(hs: Column, numHashes: Int): Column =
    array((0 until numHashes).map(k =>
      array_min(transform(hs, h => xxhash64(h, lit(k))))): _*)

  test("native signature ≡ reference tree on real shingle hashes") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "ja on ei se että oli hän mutta joka myös"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "x"),   // single token -> one truncated shingle
      (5L, ""),    // empty text -> [""] single shingle
    ).toDF("doc_id", "text")
    val hs = docs
      .withColumn("__toks", graft.ops.TextAnalysis.tokens(col("text")))
      .select(col("doc_id"),
        transform(ShingleHashSpec.shinglesFromTokens(col("__toks")), s => xxhash64(s)).as("hs"))
    val both = hs.select(col("doc_id"),
        Dedup.minhashSignatureFromHashes(col("hs"), 64).as("fused"),
        minhashSignatureReference(col("hs"), 64).as("ref"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2),
        s"signature mismatch for doc ${r.getLong(0)}")
    }
  }

  test("native signature ≡ reference tree on empty and null-element arrays") {
    val df = Seq(
      (1L, Seq[java.lang.Long](1L, 2L, Long.MinValue, Long.MaxValue, -1L)),
      (2L, Seq[java.lang.Long]()),                       // empty -> all-null sig
      (3L, Seq[java.lang.Long](7L, null, 42L)),          // null element skipped
      (4L, Seq[java.lang.Long](null)),
    ).toDF("id", "hs")
    val both = df.select(col("id"),
        Dedup.minhashSignatureFromHashes(col("hs"), 16).as("fused"),
        minhashSignatureReference(col("hs"), 16).as("ref"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2),
        s"signature mismatch for row ${r.getLong(0)}")
    }
  }
}
