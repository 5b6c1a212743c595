package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.SynthDocs
import graft.streaming.StreamingIngest

class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("incremental drain: second run processes only new files, exactly-once") {
    SparkTestBase.withTempDir("graft_stream") { base =>
      val docsDir = s"$base/docs"
      val outDir = s"$base/triples"
      val ckpt = s"$base/ckpt"

      val all = SynthDocs.fromDocuments(spark, SparkTestBase.corpusDir).cache()
      val first = all.filter($"doc_id" < "prisoner_3") // string compare: subset
      val second = all.filter($"doc_id" >= "prisoner_3")

      first.write.mode("append").parquet(docsDir)
      StreamingIngest.drainAvailable(spark, docsDir, outDir, ckpt)
      val n1 = spark.read.parquet(outDir).count()
      assert(n1 > 0)

      // re-drain with no new files: nothing appended
      StreamingIngest.drainAvailable(spark, docsDir, outDir, ckpt)
      assert(spark.read.parquet(outDir).count() == n1)

      // new files arrive -> only they are processed
      second.write.mode("append").parquet(docsDir)
      StreamingIngest.drainAvailable(spark, docsDir, outDir, ckpt)
      val n3 = spark.read.parquet(outDir).count()
      assert(n3 > n1)

      // the union equals a one-shot batch extraction over everything
      val batch = graft.extract.Extraction.triples(all).count()
      assert(n3 == batch, s"streaming total $n3 != batch $batch")
      all.unpersist()
    }
  }

  test("dedup-on-ingest: watermarked state drops in-horizon duplicates") {
    import org.apache.spark.sql.functions._
    SparkTestBase.withTempDir("graft_dedupstream") { base =>
      val docsDir = s"$base/docs"
      val outDir = s"$base/docs_unique"
      val ckpt = s"$base/ckpt"

      val docs = SynthDocs.fromDocuments(spark, SparkTestBase.corpusDir)
        .limit(50)
        .withColumn("ingest_ts", to_timestamp(lit("2026-01-01 10:00:00")))
        .cache()
      val nDocs = docs.count()
      // the same 50 docs land twice in the first drop (same micro-batch
      // horizon), plus fresh duplicate copies in a later file
      docs.write.mode("append").parquet(docsDir)
      docs.write.mode("append").parquet(docsDir)
      StreamingIngest.drainDeduped(spark, docsDir, outDir, ckpt)
      val n1 = spark.read.parquet(outDir).count()
      assert(n1 == nDocs, s"expected $nDocs unique docs, got $n1")

      // replayed duplicates within the watermark horizon are still dropped
      docs.withColumn("ingest_ts", to_timestamp(lit("2026-01-01 10:30:00")))
        .write.mode("append").parquet(docsDir)
      StreamingIngest.drainDeduped(spark, docsDir, outDir, ckpt)
      val n2 = spark.read.parquet(outDir).count()
      assert(n2 == nDocs, s"in-horizon duplicates must be dropped, got $n2")
      docs.unpersist()
    }
  }
}
