package graft.extract

import graft.functions._
import graft.model.{NS, RdfTriple}

final case class SpanResult(triples: Seq[RdfTriple], errors: Seq[String])

/** The scalar per-span core: parse → convert → validate → triples.
  *
  * This is the reference's `map_row_to_rdf` inner loop body
  * (reference: src/csv_to_rdf.py:219-281) re-expressed as a pure
  * deterministic function over one span. [[Extraction]] calls it from its
  * one typed per-document pass; every triple carries the id of the
  * document the span came from.
  */
object SpanProcessor {

  private val instanceClass = NS.SCHEMA_WARSA + "PrisonerRecord"

  /** The per-doc `rdf:type` gate (csv_to_rdf.py:283-284): any span that
    * emits at least one triple also emits the doc's type triple — dozens
    * of copies per doc, which the per-document set dedup of
    * [[Extraction.triples]] collapses, so no separate pass over distinct
    * doc ids is needed. */
  private def withTypeTriple(subj: String, docLocal: String,
                             ts: Vector[RdfTriple]): Vector[RdfTriple] =
    if (ts.isEmpty) ts
    else ts :+ RdfTriple.uri(subj, NS.RDF_TYPE, instanceClass, docLocal)

  /** Process the dedicated name span (reference: src/csv_to_rdf.py:180-196). */
  def processName(docLocal: String, text: String): SpanResult = {
    val subj = NS.DATA + docLocal
    val name = Converters.convertPersonName(text)
    val reassembled = if (name.given.nonEmpty) name.family + " " + name.given else name.family
    val errors = Validators.validatePersonName(reassembled, text).toSeq
    val originalName = PyStr.strip(text)
    var ts = Vector.empty[RdfTriple]
    if (name.given.nonEmpty)
      ts :+= RdfTriple.lit(subj, NS.SCHEMA_WARSA + "given_names", name.given, docLocal)
    if (name.family.nonEmpty)
      ts :+= RdfTriple.lit(subj, NS.SCHEMA_WARSA + "family_name", name.family, docLocal)
    if (name.full.nonEmpty)
      ts :+= RdfTriple.lit(subj, NS.SKOS_PREF_LABEL, name.full, docLocal)
    if (originalName.nonEmpty)
      ts :+= RdfTriple.lit(subj, NS.SCHEMA_POW + "original_name", originalName, docLocal)
    SpanResult(withTypeTriple(subj, docLocal, ts), errors)
  }

  /** Process one mapped value span (reference: src/csv_to_rdf.py:219-281). */
  def process(spec: FieldSpec, docLocal: String, text: String, offset: Int,
              originalName: String): SpanResult = {
    val subj = NS.DATA + docLocal
    var errors = Vector.empty[String]
    val originalValue = text

    // ---- parse (E3 / E4) -------------------------------------------------
    var value: String = text
    var source: String = null
    var dateBegin: DateOrString = null
    var dateEnd: DateOrString = null
    var sepErrors = Vector.empty[String]

    spec.sep match {
      case "/" =>
        val p = Parsers.readValueWithSource(text)
        value = p.value; source = p.source
        if (p.trash.nonEmpty)
          sepErrors :+= s"Ylimääräisiä merkintöjä suluissa annetun lähteen jälkeen: $originalValue"
      case ";" =>
        val p = Parsers.readSemicolonSeparated(text)
        value = p.value; source = p.source
        dateBegin = p.dateBegin; dateEnd = p.dateEnd
        sepErrors ++= p.errors
      case _ => // single raw value, already stripped at ingest
    }
    errors ++= sepErrors

    // ---- convert (E5/E7/E8/E9/E10) ---------------------------------------
    // The converted value is (objValue, isUri, datatype); empty objValue
    // suppresses emission ("if value:", csv_to_rdf.py:250).
    var objValue: String = value
    var objIsUri = false
    var objDatatype: String = null

    spec.converter match {
      case "dates" =>
        val d = Converters.convertDates(value)
        if (d.isDate) { objValue = d.lexical; objDatatype = NS.XSD_DATE }
        else objValue = d.raw
        val convError = validatorFor(spec.validator, d)
        if (convError.isDefined && sepErrors.isEmpty) errors :+= convError.get
      case "strip_dash" =>
        objValue = Converters.stripDash(value)
      case "swedish" =>
        objValue = Converters.convertSwedish(value)
        objIsUri = true
        val convError =
          if (spec.validator == "mother_tongue") Validators.validateMotherTongue(originalValue)
          else None
        if (convError.isDefined && sepErrors.isEmpty) errors :+= convError.get
      case "marital" =>
        objValue = Converters.convertMarital(value)
        objIsUri = true
      case "uriref" =>
        objIsUri = true
      case _ =>
        // plain literal; run a plain-date validator if configured (none in
        // practice for non-date fields)
    }

    // ---- emit ------------------------------------------------------------
    if (objValue == null || objValue.isEmpty) return SpanResult(Nil, errors)

    var ts = Vector.empty[RdfTriple]
    var rdfValue = RdfTriple(subj, spec.uri, objValue, objIsUri, null, objDatatype, docLocal)

    if (spec.createResource.nonEmpty) {
      // child resource (E15/E16; reference csv_to_rdf.py:143-163,256-268)
      val resUri = NS.DATA + s"${docLocal}_${spec.predLocal}_${offset * 10}"
      ts :+= RdfTriple.uri(resUri, NS.RDF_TYPE, spec.createResource, docLocal)
      ts :+= rdfValue.copy(subj = resUri, pred = spec.captureValueProp)
      ts :+= RdfTriple.langLit(resUri, NS.SKOS_PREF_LABEL,
        spec.labelFi.replace("{person}", originalName), "fi", docLocal)
      ts :+= RdfTriple.langLit(resUri, NS.SKOS_PREF_LABEL,
        spec.labelEn.replace("{person}", originalName), "en", docLocal)
      if (spec.captureOrder)
        ts :+= RdfTriple.typed(resUri, NS.SCHEMA_POW + "order", (offset * 10).toString,
          NS.XSD_INTEGER, docLocal)
      if (spec.captureDates && (dateBegin != null || dateEnd != null)) {
        ts :+= dateTriple(resUri, NS.SCHEMA_POW + "date_begin", dateBegin, docLocal)
        ts :+= dateTriple(resUri, NS.SCHEMA_POW + "date_end", dateEnd, docLocal)
      }
      rdfValue = RdfTriple.uri(subj, spec.uri, resUri, docLocal)
    }

    ts :+= rdfValue

    // reification (E17; reference csv_to_rdf.py:272-281)
    if (source != null && source.nonEmpty) {
      val reifUri = NS.DATA + s"${docLocal}_${spec.predLocal}_${offset}_reification_source"
      ts :+= RdfTriple.uri(reifUri, NS.RDF_SUBJECT, subj, docLocal)
      ts :+= RdfTriple.uri(reifUri, NS.RDF_PREDICATE, spec.uri, docLocal)
      ts :+= rdfValue.copy(subj = reifUri, pred = NS.RDF_OBJECT)
      ts :+= RdfTriple.uri(reifUri, NS.RDF_TYPE, NS.RDF_STATEMENT, docLocal)
      ts :+= RdfTriple.lit(reifUri, NS.DCT_SOURCE, source, docLocal)
    }

    SpanResult(withTypeTriple(subj, docLocal, ts), errors)
  }

  private def dateTriple(subj: String, pred: String, d: DateOrString,
                         docLocal: String): RdfTriple =
    if (d != null && d.isDate) RdfTriple.typed(subj, pred, d.lexical, NS.XSD_DATE, docLocal)
    else RdfTriple.lit(subj, pred, if (d == null) "None" else d.raw, docLocal)

  private def validatorFor(id: String, d: DateOrString): Option[String] = id match {
    case "dates_war"    => Validators.validateDates(d)
    case "dates_birth"  => Validators.validateDates(d,
      after = java.time.LocalDate.of(1860, 1, 1), before = java.time.LocalDate.of(1945, 1, 1))
    case "dates_return" => Validators.validateDates(d, before = java.time.LocalDate.of(1980, 1, 1))
    case "dates_death"  => Validators.validateDates(d, before = java.time.LocalDate.now())
    case _ => None
  }
}
