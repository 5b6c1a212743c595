package graft.extract

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Builds the canonical document table
  * `(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)`
  * from the reference's prisoners CSV shape.
  *
  * Re-expression of the reference's pandas ingest + row loop *up to* the
  * per-value parse (reference: src/csv_to_rdf.py:308-335 read/preprocess,
  * :207-219 multi-value split): the split (E1/E2) happens here with
  * Catalyst `split`/`filter`/`transform` expressions so span `offset` is
  * the multi-value enumeration index; the per-span parse happens later in
  * [[SpanProcessor]].
  *
  * Scale note: everything here is narrow (no shuffle) except the
  * duplicate-id window, which partitions by `nro` — at 10^12 docs ids are
  * unique by construction and the window degenerates to one row per
  * partition key; the `ordinal` column is the stable input ordinal the
  * reference gets implicitly from single-threaded row order
  * (src/csv_to_rdf.py:356-362).
  */
object DocIngest {

  /** Python-strip as a Column (unicode whitespace, unlike Spark `trim`). */
  private def pyStrip(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")

  private def nullStr: Column = lit(null).cast("string")

  def readPrisonersCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("encoding", "UTF-8")
      .csv(path)
    // stable ingest ordinal within source order (contract: single file or
    // ordered source; the reference relies on CSV row order the same way)
    raw.withColumn("ordinal", monotonically_increasing_id())
  }

  private def span(kind: String, text: Column, mediaRef: Column, offset: Column): Column =
    struct(lit(kind).as("kind"), text.as("text"), mediaRef.as("media_ref"),
      offset.cast("int").as("offset"))

  /** CSV → doc table. Mirrors preprocess_prisoners_data (rename + id
    * filter, csv_to_rdf.py:325-335), the id converter (int-or−1,
    * :317-320), duplicate-id suffixing (:356-361) and the per-column
    * multi-value split (:207-219).
    */
  def toDocTable(csv: DataFrame): DataFrame = {
    val spark = csv.sparkSession
    import spark.implicits._

    val cols = csv.columns.filterNot(_ == "ordinal")
    val idColRaw = cols.head // 'nro' or 'Unnamed: 0' (renamed, csv_to_rdf.py:326)

    // id: int-or−1 (`int(x) if x.isnumeric() else -1`, csv_to_rdf.py:319),
    // drop invalid rows; digits-guard keeps ANSI-mode cast from throwing
    val idStr = pyStrip(coalesce(col(s"`$idColRaw`"), lit("")))
    var df = csv
      .withColumn("nro",
        when(idStr.rlike("^[0-9]+$"), idStr.cast("int")).otherwise(lit(-1)))
      .filter($"nro" >= 0)

    // duplicate-id suffixing: "1","1_duplicate","1_duplicate_duplicate"...
    // (stateful seen-list of the reference, csv_to_rdf.py:356-361)
    val w = Window.partitionBy($"nro").orderBy($"ordinal")
    df = df.withColumn("dup_rank", row_number().over(w) - 1)
      .withColumn("doc_local",
        concat(lit("prisoner_"), $"nro".cast("string"),
          when($"dup_rank" > 0, concat_ws("", array_repeat(lit("_duplicate"), $"dup_rank")))
            .otherwise(lit(""))))

    val nameCol = cols(1) // 'sukunimi ja etunimet'

    val nameSpans: Column = {
      val t = pyStrip(coalesce(col(s"`$nameCol`"), lit("")))
      filter(
        array(span(FieldSpecs.NameKind, t, nullStr, lit(0))),
        s => length(s("text")) > 0)
    }

    // Columns after the name column go through the mapping resolution
    // (row.index[1:] loop, csv_to_rdf.py:199); unmapped columns drop.
    val valueSpans: Seq[Column] = cols.drop(2).toSeq.flatMap { c =>
      FieldSpecs.resolve(c).map { spec =>
        // pandas: na_values [' '] → '' + applymap(strip)  (csv_to_rdf.py:314-322)
        val cell = pyStrip(coalesce(col(s"`$c`"), lit("")))
        // 'ammatti' read-time lowercase only on exact header match — the
        // pandas converters key misses 'ammatti ' (trailing space) and that
        // miss is load-bearing for golden fidelity (csv_to_rdf.py:317-318)
        val cellConv = if (c == "ammatti") lower(cell) else cell
        val values: Column = spec.sep match {
          case "/" => filter(split(cellConv, "(?: /)|(?:/ )"), v => v =!= "")
          case ";" => filter(split(cellConv, ";"), v => v =!= "")
          case _ if spec.converter == "swedish" =>
            // converter applies even to the empty cell (''→Suomi,
            // converters.py:85-88) → always exactly one span
            array(cellConv)
          case _ => filter(array(cellConv), v => length(v) > 0)
        }
        val isMediaRef = FieldSpecs.mediaRefPreds.contains(spec.uri)
        transform(values, (v, i) =>
          span(spec.kind, pyStrip(v), if (isMediaRef) pyStrip(v) else nullStr, i))
      }
    }

    df.select(
      $"doc_local".as("doc_id"),
      flatten(array(nameSpans +: valueSpans: _*)).as("spans"),
    )
  }

  /** Convenience: reference fixture → doc table. */
  def prisonersDocs(spark: SparkSession,
                    path: String = "/root/reference/test_data/prisoners.csv"): DataFrame =
    toDocTable(readPrisonersCsv(spark, path))
}
