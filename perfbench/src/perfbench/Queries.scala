package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** The operator suite: every `SparkEntry.queries` entry, grouped into the
  * families the per-layer metrics `ops.<family>.*` report. */
object Queries {

  val Families: Seq[String] = Seq("relational", "text", "similarity", "dedup", "streaming", "kg")

  /** Entries that are never run: `kg_golden_fixture` reads a reference
    * fixture at a fixed path outside the repository, and the benchmark
    * reads only inside its checkout. They count as failed queries. */
  val OutsideCheckout: Set[String] = Set("kg_golden_fixture")

  def family(query: String): String =
    if (query.startsWith("dedup_")) "dedup"
    else if (query.startsWith("text_")) "text"
    else if (query.startsWith("embed_") || query == "j9_pair_score") "similarity"
    else if (query.startsWith("events_stream_")) "streaming"
    else if (query.startsWith("kg_")) "kg"
    else "relational"

  /** Order-insensitive digest of a collected result: row count plus the
    * sums of two hashes of each row's text form. Computed on the driver,
    * so checking a result starts no Spark job. */
  def digest(rows: Seq[Row]): String = {
    val texts = rows.map(_.toString)
    s"${rows.size}:${texts.map(t => MurmurHash3.stringHash(t, 1).toLong).sum}:" +
      s"${texts.map(t => MurmurHash3.stringHash(t, 2).toLong).sum}"
  }
}
