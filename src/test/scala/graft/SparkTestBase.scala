package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.Assertions.assert

/** One shared local SparkSession for the whole test run. */
object SparkTestBase {
  /** The sf0.001 tables vendored with the benchmark, relative to the
    * checkout root. */
  val corpusDir: String = graft.extract.SynthDocs.corpusDir

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Equal columns and the same multiset of rows, order-free. */
  def assertSameRows(actual: DataFrame, expected: DataFrame, what: String): Unit = {
    assert(actual.columns.toSeq == expected.columns.toSeq, s"$what: columns differ")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val (a, e) = (rows(actual), rows(expected))
    assert(a == e, s"$what: ${a.diff(e).take(5)} not expected; ${e.diff(a).take(5)} missing")
  }

  /** Runs `body` on a fresh temporary directory and deletes the directory
    * afterwards, whether `body` succeeds or not. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  /** The Spark jobs `body` starts on the calling thread, counted by a
    * listener that matches a local property. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (key, marker) = ("graft.spec.jobs", "marker")
    val jobs = new AtomicInteger()
    val seenMarker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("body") => jobs.incrementAndGet()
          case Some(`marker`) => seenMarker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      body
      // listener events arrive in order: once the marker job's start is
      // seen, every job of the body has been counted
      sc.setLocalProperty(key, marker)
      sc.parallelize(Seq(1), 1).count()
      assert(seenMarker.await(60, TimeUnit.SECONDS), "listener bus stalled")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }
}
