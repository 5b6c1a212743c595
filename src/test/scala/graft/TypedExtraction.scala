package graft

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.extract.{FieldSpec, FieldSpecs}
import graft.functions._
import graft.model.{Doc, NS, RdfTriple, Span, ValidationError}

/** The typed extraction that `Extraction.triples` / `Extraction.errors`
  * replaced, kept as the reference `ExtractionEquivalenceSpec` checks the row
  * dispatch against: `docs.as[Doc].flatMap` over Scala `Doc`/`Span`
  * objects, one `Vector[RdfTriple]` per span with the doc's `rdf:type`
  * triple appended to every emitting span, and a per-doc
  * `HashSet[RdfTriple]` for set semantics. */
object TypedExtraction {

  import FieldSpecs.NameKind

  final case class SpanResult(triples: Seq[RdfTriple], errors: Seq[String])

  def triples(docs: DataFrame): Dataset[RdfTriple] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.as[Doc].flatMap { doc =>
      val seen = new java.util.HashSet[RdfTriple]()
      spanResults(doc, originalName(doc)).flatMap { case (_, res) =>
        res.triples.iterator.filter(seen.add)
      }
    }
  }

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

  private def originalName(doc: Doc): String =
    doc.spans.collectFirst { case Span(NameKind, text, _, _) => text }.getOrElse("")

  private def spanResults(doc: Doc, originalName: String): Iterator[(Span, SpanResult)] =
    doc.spans.iterator.map { s =>
      val res =
        if (s.kind == NameKind) processName(doc.doc_id, s.text)
        else FieldSpecs.byKind.get(s.kind) match {
          case Some(spec) => process(spec, doc.doc_id, s.text, s.offset, originalName)
          case None => SpanResult(Nil, Nil)
        }
      s -> res
    }

  private val instanceClass = NS.SCHEMA_WARSA + "PrisonerRecord"

  private def withTypeTriple(subj: String, docLocal: String,
                             ts: Vector[RdfTriple]): Vector[RdfTriple] =
    if (ts.isEmpty) ts
    else ts :+ RdfTriple.uri(subj, NS.RDF_TYPE, instanceClass, docLocal)

  private def processName(docLocal: String, text: String): SpanResult = {
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

  private def process(spec: FieldSpec, docLocal: String, text: String, offset: Int,
                      originalName: String): SpanResult = {
    val subj = NS.DATA + docLocal
    var errors = Vector.empty[String]
    val originalValue = text

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
      case _ =>
    }
    errors ++= sepErrors

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
    }

    if (objValue == null || objValue.isEmpty) return SpanResult(Nil, errors)

    var ts = Vector.empty[RdfTriple]
    var rdfValue = RdfTriple(subj, spec.uri, objValue, objIsUri, null, objDatatype, docLocal)

    if (spec.createResource.nonEmpty) {
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
