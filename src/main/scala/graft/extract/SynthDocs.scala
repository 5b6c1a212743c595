package graft.extract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic doc-table generator.
  *
  * Expands the driver's `documents.parquet` into the BASELINE.json
  * `input_hint` shape `(doc_id, spans[])` — every value is a pure function
  * of `doc_id`, so the table is identical across runs, parallelism levels
  * and resume attempts (no RNG state, no timestamps). Zipf-ish hot keys:
  * ranks/occupations are drawn with `pmod(id, k)` so low indices repeat
  * heavily, exercising the hot-entity skew paths downstream.
  *
  * `replicate` > 1 scales the table for benches: copy `r` gets doc ids
  * offset by r * 10^9 and distinct span values (same distributions).
  */
object SynthDocs {

  private val surnames = Seq("Virtanen", "Korhonen", "Mäkinen", "Nieminen", "Hämäläinen",
    "Laine", "Heikkinen", "Koskinen", "Järvinen", "Lehtonen", "Saarinen", "Salminen",
    "Heino", "Tuominen", "Rantanen", "Kinnunen", "Laitinen", "Karjalainen", "Jokinen", "Mattila")
  private val firstnames = Seq("Matti", "Juho", "Olavi", "Antti", "Eino", "Veikko",
    "Toivo", "Ilmari", "Aarne", "Lauri", "Erkki", "Paavo", "Reino", "Tauno", "Kauko", "Pentti")
  private val ranks = Seq("sotamies", "korpraali", "alikersantti", "kersantti", "vänrikki",
    "luutnantti", "kapteeni", "majuri")
  private val occupations = Seq("maanviljelijä", "sekatyömies", "kirvesmies", "posteljooni",
    "kaavaaja", "opettaja", "suutari", "räätäli")
  private val municipalities = Seq("Helsinki", "Viipuri", "Tampere", "Karkkila", "Juuka",
    "Kiihtelysvaara", "Lavia", "Hämeenlinna", "Ylämaa", "Sortavala", "Käkisalmi", "Kuopio")
  private val camps = Seq("74", "75", "99", "135", "158", "1825", "Vienan Kemi", "Arkangel")

  /** The sf0.001 tables vendored with the benchmark (the 500-document
    * `documents.parquet`, `embeddings.parquet`, …), relative to the
    * checkout root: the default input of `SparkEntry.entry` and
    * `RunPipeline`. */
  val corpusDir = "perfbench/data"

  private def pick(values: Seq[String], idx: org.apache.spark.sql.Column) =
    element_at(typedlit(values), pmod(idx, lit(values.size)).cast("int") + 1)

  /** documents.parquet → doc table with name/date/rank/occupation/
    * municipality/captivity/free-text spans. */
  def fromDocuments(spark: SparkSession, sfDir: String, replicate: Int = 1): DataFrame = {
    import spark.implicits._
    // the local test parquet is one split; spread it so the narrow
    // extraction pipeline actually parallelizes (a production table has
    // many splits and needs no repartition)
    var base = spark.read.parquet(s"$sfDir/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .select($"doc_id".cast("long").as("id"), $"text")
    if (replicate > 1) {
      base = base.crossJoin(
          spark.range(replicate.toLong).select($"id".as("rep")))
        .select(($"id" + $"rep" * 1000000000L).as("id"),
          concat($"text", lit(" rep"), $"rep").as("text"))
    }

    // Zipf-ish skew on entity mentions: square the uniform residue so low
    // indices dominate (hot ranks/units), deterministic in id.
    def skewed(n: Int) = pmod(pmod($"id", lit(n)) * pmod($"id", lit(n)), lit(n))

    val name = concat(pick(surnames, $"id"), lit(" "), pick(firstnames, $"id" / 7))
    // ~6% of births are "n.<year>" partial strings -> unparseable date ->
    // validation-error side channel gets realistic traffic
    val birth = when(pmod($"id", lit(17)) === 0,
      concat(lit("n."), (lit(1900) + pmod($"id", lit(25))).cast("int")))
      .otherwise(concat(
        (pmod($"id", lit(28)) + 1).cast("int"), lit("."),
        (pmod($"id" / 31, lit(12)) + 1).cast("int"), lit("."),
        (lit(1900) + pmod($"id", lit(25))).cast("int")))
    val capture = concat(
      (pmod($"id" / 3, lit(28)) + 1).cast("int"), lit("."),
      (pmod($"id" / 5, lit(12)) + 1).cast("int"),
      lit("."), (lit(1941) + pmod($"id", lit(4))).cast("int"),
      lit(" ("), pick(Seq("mikrofilmi", "Talvisodan kortisto", "VEN 195", "KA T-26073/48"), $"id" / 11), lit(")"))
    val captivity = concat(
      pick(camps, skewed(camps.size)), lit(" "),
      (pmod($"id", lit(28)) + 1).cast("int"), lit("."), (pmod($"id" / 2, lit(12)) + 1).cast("int"),
      lit(".1942-"), (pmod($"id" / 3, lit(28)) + 1).cast("int"), lit("."),
      (pmod($"id" / 7, lit(12)) + 1).cast("int"), lit(".1943"),
      lit("; "), pick(camps, skewed(camps.size) + 1))

    def span(kind: String, text: org.apache.spark.sql.Column, offset: Int) =
      struct(lit(kind).as("kind"), text.as("text"),
        lit(null).cast("string").as("media_ref"), lit(offset).as("offset"))

    // every 9th record carries a Sotilaan Ääni issue reference in the
    // magazine-index "nro <n>/<year>" shape, so the J10 magazine linker has
    // real in-pipeline traffic; empty values are dropped by the P3 guard
    val magazine = when(pmod($"id", lit(9)) === 0,
      concat(lit("nro "), (pmod($"id" / 9, lit(30)) + 1).cast("int"),
        lit("/"), (lit(1940) + pmod($"id", lit(5))).cast("int")))
      .otherwise(lit(""))

    base.select(
      concat(lit("prisoner_"), $"id").as("doc_id"),
      array(
        span(FieldSpecs.NameKind, name, 0),
        span("syntymäaika", birth, 0),
        span("sotilasarvo", pick(ranks, skewed(ranks.size)), 0),
        span("ammatti", pick(occupations, skewed(occupations.size)), 0),
        span("synnyinkunta", pick(municipalities, $"id" / 13), 0),
        span("vangiksi aika", capture, 0),
        // the ';'-separated captivity cell yields two spans (offsets 0,1)
        span("vankeuspaikat", substring_index(captivity, "; ", 1), 0),
        span("vankeuspaikat", substring_index(captivity, "; ", -1), 1),
        span("Sotilaan Ääni-lehti, digitoitu ja indeksoitu", magazine, 0),
        span("muita tietoja", $"text", 0),
      ).as("spans"))
  }
}
