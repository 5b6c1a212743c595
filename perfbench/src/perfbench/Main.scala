package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.extract.Extraction
import graft.pipeline.{Pipeline, SnapshotStore}

/** One benchmark JVM. `perfbench/run.py` launches it and turns its
  * `PERFBENCH_RESULT` line into the benchmark's output:
  *
  *  - `kg`: fresh `Pipeline.run`, in a closed loop with one client;
  *  - `extract`: fully materialized `Extraction.triples` at one
  *    parallelism level (`run.py` starts one JVM per level);
  *  - `trace`: the traced run, timing every layer's public functions;
  *  - `record`: prints the output digests that `perfbench/record.py`
  *    writes to `data/expected.json`.
  *
  * Every timed operation counts as attempted; one that throws or fails its
  * output check counts as failed and its elapsed time stays in the sample. */
object Main {

  /** Privacy cut-off date of every run, fixed so outputs are reproducible. */
  val Today: java.time.LocalDate = java.time.LocalDate.parse("2026-01-01")

  final class Args(a: Array[String]) {
    private val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def str(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def opt(k: String): Option[String] = m.get(k)
    def int(k: String, d: Int): Int = m.get(k).map(_.toInt).getOrElse(d)
    def dbl(k: String, d: Double): Double = m.get(k).map(_.toDouble).getOrElse(d)
  }

  /** Attempts, failures and output checks of one JVM. */
  final class Outcome {
    var attempted = 0
    var failed = 0
    val checks: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer()

    /** Times `f`, counting it as attempted and, if it throws, as failed.
      * `injectS > 0` turns it into a failing operation that first spends
      * that many seconds. The elapsed time is returned either way. */
    def timed[A](name: String, injectS: Double)(f: => A): (Double, Option[A]) = {
      attempted += 1
      val t0 = System.nanoTime()
      val r =
        try {
          val v = f
          if (injectS > 0) {
            Thread.sleep((injectS * 1000).toLong)
            sys.error(s"injected failure in $name")
          }
          Some(v)
        } catch {
          case e: Throwable =>
            failed += 1
            System.err.println(s"[perfbench] $name failed: $e")
            None
        }
      ((System.nanoTime() - t0) / 1e9, r)
    }

    /** An output check; a failing one counts as a failed operation. */
    def check(name: String, ok: Boolean, detail: String): Unit = {
      attempted += 1
      if (!ok) {
        failed += 1
        System.err.println(s"[perfbench] check $name failed: $detail")
      }
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    }
  }

  def session(cores: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$runDir/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Seconds from JVM start to now. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }
  }

  def files(dir: String, pred: Path => Boolean): Int = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.count(f => Files.isRegularFile(f) && pred(f)) finally s.close()
  }

  def rmrf(dir: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))

  /** Order-insensitive digest of a triple table: row count plus the sums
    * of two row hashes over the six triple columns. */
  def digest(df: DataFrame): String = {
    val cols = Seq("subj", "pred", "objValue", "objIsUri", "objLang", "objDatatype").map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")),
      sum(hash(cols: _*).cast("long"))).head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }

  def rows(d: String): Long = d.takeWhile(_ != ':').toLong

  /** Committed stages of a workDir in manifest commit order (manifest
    * modification time), oldest first. */
  def commitOrder(workDir: String): Seq[String] =
    new File(workDir).listFiles().toSeq.filter(_.isDirectory).flatMap { st =>
      Option(st.listFiles()).toSeq.flatten
        .map(v => new File(v, "_MANIFEST.json")).filter(_.exists())
        .map(m => Files.getLastModifiedTime(m.toPath).to(TimeUnit.NANOSECONDS))
        .sorted.lastOption.map(st.getName -> _)
    }.sortBy(_._2).map(_._1)

  /** Invalidates the newest half (rounded up) of the committed stages. */
  def invalidateNewestHalf(spark: SparkSession, workDir: String): Seq[String] = {
    val order = commitOrder(workDir)
    val newest = order.takeRight((order.size + 1) / 2)
    val store = new SnapshotStore(spark, workDir)
    newest.foreach(store.invalidate)
    newest
  }

  def emit(o: Outcome, metrics: Map[String, Any], info: Map[String, Any]): Unit =
    println("PERFBENCH_RESULT " + Json(Map("attempted" -> o.attempted, "failed" -> o.failed,
      "checks" -> o.checks.toSeq, "metrics" -> metrics, "info" -> info)))

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.drop(1))
    argv.headOption match {
      case Some("kg") => kg(a)
      case Some("extract") => extract(a)
      case Some("trace") => Replay.run(a)
      case Some("record") => record(a)
      case other => sys.error(s"unknown mode $other")
    }
  }

  /** Session start plus the median of three materializations of the
    * seeded input; returns (setup seconds, materialization seconds, input). */
  def setUp(spark: SparkSession, a: Args, k: Int, splits: Int): (Double, Seq[Double], DataFrame) = {
    val sessionS = sinceJvmStart()
    val runDir = a.str("run-dir")
    val mats = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val df = Inputs.materialize(spark, a.str("base"), a.int("seed", 0), k, a.int("limit", 0),
        s"$runDir/input$i", splits)
      df.count()
      ((System.nanoTime() - t0) / 1e9, df)
    }
    (sessionS + median(mats.map(_._1)), mats.map(_._1), mats.last._2)
  }

  /** One cold fresh `Pipeline.run` plus `count()`: the first run in its
    * JVM, as every `RunPipeline` invocation pays it. The resume is
    * exercised by the traced run, which checks that it reproduces the
    * fresh result. */
  def kg(a: Args): Unit = {
    val cores = a.int("cores", 1)
    val runDir = a.str("run-dir")
    val spark = session(cores, runDir)
    val o = new Outcome
    val (setupS, mats, docs) = setUp(spark, a, 1, 2 * cores)
    val nDocs = docs.count()
    val wd = s"$runDir/work"
    val (tf, nf) = o.timed("fresh", a.dbl("inject-failure", 0))(Pipeline.run(spark, docs, wd, Today).count())
    // a failed run leaves nothing to check: that shows as one failed
    // check, not as a crash that hides the timing
    val (d, storeBytes) =
      try (digest(new SnapshotStore(spark, wd).read("final")), du(wd))
      catch { case e: Exception => (s"unreadable: $e", 0L) }
      finally rmrf(wd)
    checkOutput(o, "fresh", nf, d, a.str("expect"))
    emit(o,
      Map("setup_s" -> setupS, "pipeline_s" -> tf, "store_bytes" -> storeBytes, "docs" -> nDocs,
        "peak_rss_mb" -> peakRssMb()),
      Map("materialize_s" -> mats, "digest" -> d))
    spark.stop()
  }

  /** The output checks of a triple table with digest `d`: the count the
    * timed operation returned agrees with the digest, the table is not
    * empty, and `d` equals the digest recorded for this input in
    * `data/expected.json` (`run.py` passes `missing` where none is
    * recorded, which fails the check). */
  def checkOutput(o: Outcome, name: String, counted: Option[Long], d: String, expect: String): Unit = {
    val n = scala.util.Try(rows(d)).getOrElse(-1L)
    o.check(s"$name.count", counted.forall(_ == n), s"count=$counted digest=$d")
    o.check(s"$name.nonempty", n > 0, s"digest=$d")
    o.check(s"$name.recorded", d == expect, s"expected=$expect got=$d")
  }

  /** Fully materialized extraction at one parallelism level. With
    * `--input` the doc table is read from there, otherwise it is generated
    * and materialized to `run-dir/input2/docs` first. The digest is
    * checked against the recorded one at every level. */
  def extract(a: Args): Unit = {
    val cores = a.int("cores", 1)
    val runDir = a.str("run-dir")
    val inject = a.dbl("inject-failure", 0)
    val spark = session(cores, runDir)
    val o = new Outcome
    val (setupInput, mats, docs) = a.opt("input") match {
      case Some(p) =>
        val df = spark.read.parquet(p)
        df.count()
        (sinceJvmStart(), Seq.empty[Double], df)
      case None => setUp(spark, a, a.int("k", 1), a.int("splits", 16))
    }
    val nDocs = docs.count()
    def once(): Long = Extraction.triples(docs).queryExecution.toRdd.count()
    // discarded passes until JIT compilation has settled: pass times keep
    // falling for a few seconds after the first pass
    val tw = System.nanoTime()
    do once() while ((System.nanoTime() - tw) / 1e9 < a.dbl("warmup-s", 0))
    val setupS = setupInput + (System.nanoTime() - tw) / 1e9
    val times = mutable.ArrayBuffer[Double]()
    val counts = mutable.LinkedHashSet[Long]()
    val t0 = System.nanoTime()
    while (times.size < 3 || (System.nanoTime() - t0) / 1e9 < a.dbl("seconds", 1)) {
      val (t, n) = o.timed("extract", inject)(once())
      times += t
      n.foreach(counts += _)
    }
    val d = digest(Extraction.triples(docs).toDF())
    o.check("reps.agree", counts.size <= 1, s"counts=$counts")
    checkOutput(o, "extract", counts.headOption, d, a.str("expect"))
    emit(o,
      Map("setup_s" -> setupS, "extract_s" -> median(times.toSeq), "docs" -> nDocs,
        "peak_rss_mb" -> peakRssMb()),
      Map("extract_s" -> times.toSeq, "materialize_s" -> mats, "digest" -> d, "cores" -> cores))
    spark.stop()
  }

  /** Prints one `PERFBENCH_DIGEST <key> <digest>` line per recorded output:
    * `kg` and `extract` for the seeds `--seeds a-b` (the same inputs and
    * digests as the `kg` and `extract` modes), `ops` for every runnable
    * `SparkEntry.queries` entry on the tables in `--tables`. */
  def record(a: Args): Unit = {
    val cores = a.int("cores", 1)
    val runDir = a.str("run-dir")
    val spark = session(cores, runDir)
    def out(key: String, d: String): Unit = println(s"PERFBENCH_DIGEST $key $d")
    val seeds = a.opt("seeds").map(_.split("-").map(_.toInt)).map(r => r.head to r.last).getOrElse(0 to -1)
    def input(seed: Int, k: Int, splits: Int) = Inputs.materialize(spark, a.str("base"), seed, k,
      a.int("limit", 0), s"$runDir/input", splits)
    a.str("what") match {
      case "kg" => seeds.foreach { s =>
        val wd = s"$runDir/work"
        try {
          Pipeline.run(spark, input(s, 1, 2 * cores), wd, Today).count()
          out(s.toString, digest(new SnapshotStore(spark, wd).read("final")))
        } finally rmrf(wd)
      }
      case "extract" => seeds.foreach { s =>
        out(s.toString, digest(Extraction.triples(input(s, a.int("k", 1), a.int("splits", 16))).toDF()))
      }
      case "ops" => SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot { case (n, _) => Queries.OutsideCheckout(n) }
        .foreach { case (n, f) => out(n, Queries.digest(f(spark, a.str("tables")).collect().toSeq)) }
      case w => sys.error(s"unknown --what $w")
    }
    spark.stop()
  }
}
