package graft.extract

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Converters
import graft.model.{Doc, NS, RdfTriple, Span, ValidationError}

/** Doc table → RDF triples + error side channel.
  *
  * The whole of the reference's `process_rows`/`map_row_to_rdf` pass
  * (reference: src/csv_to_rdf.py:165-296,352-374) as ONE narrow Catalyst
  * plan: `scan → typed flatMap(doc → triples) → out`. No driver loop, no
  * collect, NO SHUFFLE — per-doc in-closure set-dedup realizes rdflib's
  * set semantics (SURVEY.md §2.8 U1) because every extraction triple is
  * doc-scoped.
  */
object Extraction {

  import FieldSpecs.NameKind

  /** Data triples (no schema graph), deduplicated with set semantics.
    *
    * Doc-level typed path: one closure call per DOCUMENT (not per span);
    * [[SpanProcessor]] emits the flat [[RdfTriple]] rows, doc id included,
    * so there is no nested-struct encoder, no explode operator and no
    * per-triple copy.
    *
    * Set semantics WITHOUT a shuffle: every triple the extraction emits has
    * a doc-scoped subject (all minted URIs embed the doc id; the ingest
    * guarantees unique doc ids via duplicate suffixing), so identical
    * triples can only originate within one document — a per-doc in-closure
    * dedup is exactly equivalent to a global `dropDuplicates`, and the
    * whole stage stays narrow (rdflib-Graph-per-row semantics of the
    * reference, csv_to_rdf.py:176, realized shuffle-free). */
  def triples(docs: DataFrame): Dataset[RdfTriple] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.as[Doc].flatMap { doc =>
      val seen = new java.util.HashSet[RdfTriple]()
      spanResults(doc, originalName(doc)).flatMap { case (_, res) =>
        res.triples.iterator.filter(seen.add) // per-doc set semantics, no shuffle needed
      }
    }
  }

  /** Validation errors incl. the no-data rows (csv_to_rdf.py:286-288) —
    * same doc-level typed pass as [[triples]]: per doc, either its
    * span errors (with the converted fullname, like the reference's error
    * rows) or the single no-data row when nothing was emitted. */
  def errors(docs: DataFrame): Dataset[ValidationError] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.as[Doc].flatMap { doc =>
      val name = originalName(doc)
      val fullname =
        if (name.isEmpty) "" else Converters.convertPersonName(name).full
      var emitted = false
      val errs = spanResults(doc, name).flatMap { case (s, res) =>
        if (res.triples.nonEmpty) emitted = true
        res.errors.map(e => ValidationError(doc.doc_id, fullname, s.kind, e, s.text))
      }.toVector
      if (!emitted)
        errs :+ ValidationError(doc.doc_id, fullname, "", "Ei tietoa henkilöstä", "")
      else errs
    }
  }

  /** The doc's raw name span text, "" if it has none. */
  private def originalName(doc: Doc): String =
    doc.spans.collectFirst { case Span(NameKind, text, _, _) => text }.getOrElse("")

  /** Per-doc span dispatch shared by [[triples]] and [[errors]]: each span
    * in order with its [[SpanResult]] — the name span through the name
    * converter, mapped kinds through their [[FieldSpecs]] row, unmapped
    * kinds empty. */
  private def spanResults(doc: Doc, originalName: String): Iterator[(Span, SpanResult)] =
    doc.spans.iterator.map { s =>
      val res =
        if (s.kind == NameKind) SpanProcessor.processName(doc.doc_id, s.text)
        else FieldSpecs.byKind.get(s.kind) match {
          case Some(spec) =>
            SpanProcessor.process(spec, doc.doc_id, s.text, s.offset, originalName)
          case None => SpanResult(Nil, Nil)
        }
      s -> res
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
