package graft.tools

import org.apache.spark.sql.SparkSession

import graft.extract.SynthDocs
import graft.pipeline.{Pipeline, SnapshotStore}

/** spark-submit entrypoint for the full KG pipeline:
  * `runMain graft.tools.RunPipeline [sfDir] [workDir]` (default: the
  * vendored corpus `perfbench/data`) — runs (or resumes)
  * every stage, prints the manifest of each committed stage in commit order
  * and the final triple count. Runs at `local[nproc]`, or at the master
  * `SPARK_MASTER` names, with 2 × nproc shuffle partitions. */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else SynthDocs.corpusDir
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_pipeline"
    val replicate = if (args.length > 2) args(2).toInt else 1
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // explicit privacy-cutoff date: env-pinnable for reproducible runs;
    // whatever is passed, Pipeline pins the FIRST run's date in the
    // workDir so resumes across midnight stay self-consistent
    val today = sys.env.get("SPARK_GRAFT_TODAY")
      .map(java.time.LocalDate.parse)
      .getOrElse(java.time.LocalDate.now())

    val docs = SynthDocs.fromDocuments(spark, sfDir, replicate)
    val t0 = System.nanoTime()
    val out = Pipeline.run(spark, docs, workDir, today)
    val n = out.count()
    val sec = (System.nanoTime() - t0) / 1e9

    val store = new SnapshotStore(spark, workDir)
    store.committedStages.foreach { st =>
      val m = store.readManifest(st)
      val rows = "\"rows\": (\\d+)".r.findFirstMatchIn(m).map(_.group(1)).getOrElse("?")
      val sec = "\"sec\": ([0-9.]+)".r.findFirstMatchIn(m).map(_.group(1)).getOrElse("?")
      val metrics = "\"metrics\": \\{([^}]*)\\}".r.findFirstMatchIn(m).map(_.group(1)).getOrElse("")
      println(s"[stage] $st rows=$rows sec=$sec metrics={$metrics}")
    }
    println(f"[pipeline] final_triples=$n sec=$sec%.1f workDir=$workDir")
    spark.stop()
  }
}
