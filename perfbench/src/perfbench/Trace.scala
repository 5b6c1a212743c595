package perfbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters summed per label. */
final class Tally {
  var jobs = 0L
  var tasks = 0L
  var runS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var schedDelayS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L

  def add(o: Tally): Unit = {
    jobs += o.jobs; tasks += o.tasks; runS += o.runS; cpuS += o.cpuS
    gcS += o.gcS; schedDelayS += o.schedDelayS
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "exec_run_s" -> runS, "exec_cpu_s" -> cpuS,
    "gc_s" -> gcS, "sched_delay_s" -> schedDelayS,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes)
}

/** Attributes Spark jobs, tasks and file writes to the label carried in
  * the job's `perfbench.span` local property. The benchmark registers it
  * itself; the engine is not changed. Also records every Hadoop-FS write
  * (output path and execution time) seen by the query-execution listener. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val stageLabel = mutable.Map[Int, String]()
  private val tallies = mutable.Map[String, Tally]()
  private val writesBuf = mutable.ArrayBuffer[(String, Double)]()

  private def tally(label: String) = tallies.getOrElseUpdate(label, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.Key)))
      .getOrElse(Counters.Untraced)
    tally(label).jobs += 1
    e.stageIds.foreach(stageLabel(_) = label)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tally(stageLabel.getOrElse(e.stageId, Counters.Untraced))
    t.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      t.runS += m.executorRunTime / 1e3
      t.cpuS += m.executorCpuTime / 1e9
      t.gcS += m.jvmGCTime / 1e3
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      if (info != null) {
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        t.schedDelayS += math.max(0L, info.duration - busy) / 1e3
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planned = qe.executedPlan.collect {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) => c.outputPath.toString
    }
    val paths = if (planned.nonEmpty) planned else qe.analyzed.collect {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    synchronized { paths.foreach(p => writesBuf += (p -> durationNs / 1e9)) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Tally of one label, after the listener bus has drained. */
  def of(label: String): Tally = synchronized(tallies.getOrElse(label, new Tally))

  /** (output path, seconds) of every file write so far. */
  def writes: Seq[(String, Double)] = synchronized(writesBuf.toSeq)
}

object Counters {
  val Key = "perfbench.span"
  val Untraced = "-"

  def register(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}

final case class SpanRec(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                         tally: Tally, attrs: Map[String, Any])

/** One span per layer call: name, start, end, parent and the run's trace
  * id. Spark counters of the jobs a span starts are attributed to the
  * innermost open span. Spans stay in memory until [[toJson]]. */
final class Tracer(spark: SparkSession, val counters: Counters, traceId: String) {
  private val spans = mutable.ArrayBuffer[SpanRec]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  private val t0 = System.nanoTime()

  def span[A](name: String, attrs: => Map[String, Any] = Map.empty)(f: => A): A = {
    val sc = spark.sparkContext
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    sc.setLocalProperty(Counters.Key, id.toString)
    val start = System.nanoTime()
    try f
    finally {
      val end = System.nanoTime()
      BenchBus.drain(sc)
      stack.pop()
      sc.setLocalProperty(Counters.Key, stack.headOption.map(_.toString).orNull)
      spans += SpanRec(id, parent, name, start, end, counters.of(id.toString), attrs)
    }
  }

  def all: Seq[SpanRec] = spans.toSeq.sortBy(_.id)

  /** Seconds of every span with this name. */
  def seconds(name: String): Double =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Counters of a span and all its descendants. */
  def inclusive(id: Int): Tally = {
    val t = new Tally
    def go(i: Int): Unit = {
      spans.find(_.id == i).foreach(s => t.add(s.tally))
      spans.filter(_.parent == i).foreach(c => go(c.id))
    }
    go(id)
    t
  }

  /** Spans with self time: the span's duration minus the part of it
    * covered by its direct children. */
  def toJson: String = {
    val rows = all.map { s =>
      val kids = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var upTo = s.startNs
      kids.foreach { case (a, b) =>
        val from = math.max(a, upTo)
        if (b > from) { covered += b - from; upTo = b }
      }
      Map[String, Any](
        "trace_id" -> traceId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> (s.endNs - s.startNs - covered) / 1e9,
        "counters" -> s.tally.toMap, "attrs" -> s.attrs)
    }
    Json(rows)
  }
}
