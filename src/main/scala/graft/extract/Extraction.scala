package graft.extract

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructType}

import graft.model.{NS, RdfTriple, ValidationError}

/** Doc table → RDF triples + error side channel.
  *
  * The whole of the reference's `process_rows`/`map_row_to_rdf` pass
  * (reference: src/csv_to_rdf.py:165-296,352-374) as ONE narrow Catalyst
  * plan: `scan → generate(span dispatch) → out`, where the dispatch
  * ([[ExtractSpans]]) reads the doc rows and writes triple rows without a
  * Scala object in between. No collect, NO SHUFFLE —
  * per-doc set-dedup realizes rdflib's set semantics (SURVEY.md §2.8 U1)
  * because every extraction triple is doc-scoped.
  */
object Extraction {

  /** Data triples (no schema graph), deduplicated with set semantics.
    *
    * Set semantics WITHOUT a shuffle: every triple the extraction emits has
    * a doc-scoped subject (all minted URIs embed the doc id; the ingest
    * guarantees unique doc ids via duplicate suffixing), so identical
    * triples can only originate within one document — a per-doc dedup is
    * exactly equivalent to a global `dropDuplicates`, and the whole stage
    * stays narrow (rdflib-Graph-per-row semantics of the reference,
    * csv_to_rdf.py:176, realized shuffle-free). */
  def triples(docs: DataFrame): Dataset[RdfTriple] = {
    val spark = docs.sparkSession
    import spark.implicits._
    dispatch(docs, errors = false).as[RdfTriple]
  }

  /** Validation errors incl. the no-data rows (csv_to_rdf.py:286-288) —
    * the same span dispatch as [[triples]]: per doc, either its span errors
    * (with the converted fullname, like the reference's error rows) or the
    * single no-data row when nothing was emitted. */
  def errors(docs: DataFrame): Dataset[ValidationError] = {
    val spark = docs.sparkSession
    import spark.implicits._
    dispatch(docs, errors = true).as[ValidationError]
  }

  /** [[ExtractSpans]] over `docs`' `doc_id` and `spans`, the span struct's
    * `kind`, `text` and `offset` resolved by name like an `as[Doc]` would:
    * other columns, other span fields and any column order are fine. */
  private def dispatch(docs: DataFrame, errors: Boolean): DataFrame = {
    val in = docs.select(col("doc_id").cast(StringType).as("doc_id"), col("spans"))
    val span = in.schema("spans").dataType match {
      case ArrayType(s: StructType, _) => s
      case t => throw new IllegalArgumentException(s"spans must be an array of structs, got $t")
    }
    def at(name: String, dataType: DataType): Int = {
      val i = span.fields.indexWhere(f => SQLConf.get.resolver(f.name, name))
      require(i >= 0 && span(i).dataType == dataType,
        s"spans must have a $name field of type ${dataType.simpleString}, got ${span.simpleString}")
      i
    }
    in.select(Bridge.column(ExtractSpans(Bridge.expression(col("doc_id")),
      Bridge.expression(col("spans")), at("kind", StringType), at("text", StringType),
      at("offset", IntegerType), errors)))
  }

  /** Schema graph derived from the FieldSpec table
    * (reference: src/csv_to_rdf.py:367-374), concatenated with the static
    * base schema ([[schemaBaseTriples]]) the way process.sh folds
    * `input_rdf/schema_base.ttl` into the schema output. */
  def schemaTriples(spark: SparkSession): Dataset[RdfTriple] = {
    import spark.implicits._
    val rows = FieldSpecs.prisonerFields.flatMap { s =>
      Seq(RdfTriple.uri(s.uri, NS.RDF_TYPE, NS.RDF_PROPERTY)) ++
        (if (s.nameFi.nonEmpty) Seq(RdfTriple.langLit(s.uri, NS.SKOS_PREF_LABEL, s.nameFi, "fi")) else Nil) ++
        (if (s.nameEn.nonEmpty) Seq(RdfTriple.langLit(s.uri, NS.SKOS_PREF_LABEL, s.nameEn, "en")) else Nil)
    }.distinct
    spark.createDataset(rows ++ schemaBase)
  }

  /** The hand-written base schema constants of
    * `input_rdf/schema_base.ttl:12-84` — record/camp classes and camp
    * properties that no mapping row derives. */
  private[graft] val schemaBase: Seq[RdfTriple] = {
    val rdfs = NS.RDFS
    val ws = NS.SCHEMA_WARSA
    val ps = NS.SCHEMA_POW
    def cls(uri: String, subClassOf: Seq[String], en: String, fi: String) =
      Seq(RdfTriple.uri(uri, NS.RDF_TYPE, rdfs + "Class"),
        RdfTriple.langLit(uri, NS.SKOS_PREF_LABEL, en, "en"),
        RdfTriple.langLit(uri, NS.SKOS_PREF_LABEL, fi, "fi")) ++
        subClassOf.map(p => RdfTriple.uri(uri, rdfs + "subClassOf", p))
    def prop(uri: String, domain: Option[String], range: Option[String],
             en: String, fi: String) =
      Seq(RdfTriple.uri(uri, NS.RDF_TYPE, NS.RDF_PROPERTY),
        RdfTriple.langLit(uri, NS.SKOS_PREF_LABEL, en, "en"),
        RdfTriple.langLit(uri, NS.SKOS_PREF_LABEL, fi, "fi")) ++
        domain.map(d => RdfTriple.uri(uri, rdfs + "domain", d)) ++
        range.map(r => RdfTriple.uri(uri, rdfs + "range", r))

    cls(ws + "PrisonerRecord", Seq(NS.CRM + "E31_Document"),
      "Prisoner of War Record", "Sotavankiasiakirja") ++
      prop(ps + "warsa_unit", None, Some(ws + "Group"),
        "Military Unit", "Joukko-osasto") ++
      cls(ws + "PowLocation", Seq(NS.CRM + "E27_Site", NS.CRM + "E53_Place"),
        "Prisoner-of-War Captivity Location", "Sotavangin sijoituspaikka") ++
      cls(ws + "PowCamp", Seq(ws + "PowLocation"),
        "Prisoner-of-War Camp", "Sotavankileiri") ++
      cls(ws + "PowHospital", Seq(ws + "PowLocation"),
        "Prisoner-of-War Hospital", "Sotavankisairaala") ++
      prop(ps + "camp_id", Some(ws + "PowLocation"), Some(rdfs + "Literal"),
        "Prisoners of war captivity location identifier", "Sotavankeuspaikan tunniste") ++
      prop(ps + "location", Some(ws + "PowLocation"), Some(rdfs + "Literal"),
        "Captivity location whereabouts", "Vankeuspaikan sijainti") ++
      prop(ps + "captivity_location", Some(ws + "PowCamp"), Some(rdfs + "Literal"),
        "Captivity location", "Vankeuspaikka") ++
      prop(ps + "time_of_operation", Some(ws + "PowCamp"), Some(rdfs + "Literal"),
        "Time of operation", "Toiminta-aika") ++
      prop(ps + "camp_information", Some(ws + "PowLocation"), Some(rdfs + "Literal"),
        "Captivity location information", "Tietoja vankeuspaikasta") ++
      prop(ps + "camp_photographs", Some(ws + "PowLocation"), Some(rdfs + "Literal"),
        "Captivity location photographs", "Vankeuspaikan valokuvia") ++
      prop(ps + "coordinates", Some(ws + "PowLocation"), Some(rdfs + "Literal"),
        "Captivity location coordinates", "Vankeuspaikan koordinaatit")
  }
}
