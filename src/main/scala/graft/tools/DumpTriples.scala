package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.extract.{DocIngest, Extraction}

/** CLI sink: prisoners CSV → canonical sorted N-Triples dump
  * (the reference's `csv_to_rdf.py PRISONERS in.csv --outdata out.ttl`
  * surface; canonical ordering replaces the rapper normalize step,
  * SURVEY.md §2.1 S12). */
object DumpTriples {
  def main(args: Array[String]): Unit = {
    val csvPath = if (args.length > 0) args(0) else "/root/reference/test_data/prisoners.csv"
    val outPath = if (args.length > 1) args(1) else "/tmp/graft_triples.nt"
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-dump-triples")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = DocIngest.prisonersDocs(spark, csvPath)
    val triples = Extraction.triples(docs).collect().toSeq
    val errors = Extraction.errors(docs).collect().toSeq

    Files.writeString(Paths.get(outPath), triples.map(_.key).sorted.mkString("", "\n", "\n"))
    println(s"docs=${docs.count()} triples=${triples.size} errors=${errors.size} -> $outPath")
    errors.foreach(e => println(s"[error] doc=${e.docId} col='${e.column}' ${e.error} :: ${e.value.take(60)}"))
    spark.stop()
  }
}
