package graft

import scala.collection.mutable

import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

import graft.extract.SynthDocs
import graft.pipeline.{Pipeline, SnapshotStore}

/** `Pipeline.run` plans every stage but extraction in a private child
  * session without codegen: the child really compiles (almost) nothing,
  * the caller's session is left as it was, and the caller's listeners see
  * every stage write. */
class InterpretedSessionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val today = java.time.LocalDate.of(2026, 8, 16)
  private val factoryMode = "spark.sql.codegen.factoryMode"
  private val stages = Seq("camps", "schema", "extract", "extract_errors", "pruned", "linked",
    "media", "person_links", "sourced", "canonical", "record_frame", "events", "final")
  private val extraction = Set("extract", "extract_errors")

  /** Records, for every file write, the stage it wrote and whether its
    * session planned without codegen. */
  private final class StageWrites(dir: String) extends QueryExecutionListener {
    private val seen = mutable.Map.empty[String, Boolean]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val paths = qe.analyzed.collect { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
      val interpreted = qe.sparkSession.conf.getOption(factoryMode).contains("NO_CODEGEN")
      synchronized {
        paths.map(_.stripPrefix("file:").stripPrefix(dir).split('/').filter(_.nonEmpty).head)
          .foreach(st => seen(st) = interpreted)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    /** stage -> planned without codegen, once every stage is seen. */
    def await(): Map[String, Boolean] = eventually(timeout(60.seconds)) {
      val m = synchronized(seen.toMap)
      assert(stages.toSet.subsetOf(m.keySet), s"writes seen: $m")
      m
    }
  }

  /** Janino compiles so far in this JVM. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Empties Spark's cache of compiled classes, so that a run compiles what
    * it generates, whatever other specs compiled before in this JVM. */
  private def clearCompiledClasses(): Unit = {
    val module = Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    val field = module.getDeclaredField("cache")
    field.setAccessible(true)
    val cache = field.get(module.getField("MODULE$").get(null))
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  private def docs: DataFrame = SynthDocs.fromDocuments(spark, SparkTestBase.corpusDir)

  test("a fresh small run compiles almost nothing and leaves the caller's session as it was") {
    val before = spark.conf.getAll
    SparkTestBase.withTempDir("graft_interp") { dir =>
      val writes = new StageWrites(dir)
      spark.listenerManager.register(writes)
      try {
        clearCompiledClasses()
        val c0 = compiles
        val out = Pipeline.run(spark, docs, dir, today)
        val compiled = compiles - c0
        info(s"$compiled classes compiled")
        // the extract stages keep the caller's codegen; with codegen in
        // every stage a cold run compiles about 530 classes
        assert(compiled <= 60, s"a small run compiled $compiled classes")

        // the caller's listener saw every stage write, only extraction's
        // with codegen
        val seen = writes.await()
        assert(seen.keySet == stages.toSet, seen)
        assert(stages.forall(st => seen(st) == !extraction(st)), seen)
        // the result is the caller's frame
        assert(out.sparkSession eq spark)
        assert(out.count() == new SnapshotStore(spark, dir).read("final").count())
      } finally spark.listenerManager.unregister(writes)
    }
    assert(spark.conf.getAll == before)
    assert(spark.conf.get(factoryMode) != "NO_CODEGEN")
  }
}
