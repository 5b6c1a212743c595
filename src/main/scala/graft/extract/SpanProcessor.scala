package graft.extract

import java.time.LocalDate

import org.apache.spark.unsafe.types.UTF8String

import graft.functions._
import graft.model.NS

/** The scalar per-span core: parse → convert → validate → triples.
  *
  * This is the reference's `map_row_to_rdf` inner loop body
  * (reference: src/csv_to_rdf.py:219-281) re-expressed as a pure
  * deterministic function over one span. Parsing, conversion and validation
  * run on `String`s; the triples go straight into the document's
  * [[DocTriples]] as `UTF8String` terms, so no triple object is built.
  * Constant terms (predicates, classes, language tags, datatypes) are
  * encoded once per [[FieldSpec]] ([[EncodedSpec]]) or once here; the doc
  * subject once per doc. Each call returns the span's validation errors.
  */
object SpanProcessor {

  private def u8(s: String): UTF8String = UTF8String.fromString(s)

  /** A [[FieldSpec]] with the constant terms of its triples encoded, and
    * its [[DocTriples]] dedup group. */
  final class EncodedSpec(val spec: FieldSpec, val group: Int) {
    val pred: UTF8String = u8(spec.uri)
    val valueProp: UTF8String = u8(spec.captureValueProp)
    /** The child resource's class, null when the spec mints none. */
    val resourceClass: UTF8String =
      if (spec.createResource.nonEmpty) u8(spec.createResource) else null
    /** `_<predLocal>_`, between the doc subject and the offset in the
      * child resource and reification URIs. */
    val idInfix: UTF8String = u8("_" + spec.predLocal + "_")
  }

  private[extract] val RdfType = u8(NS.RDF_TYPE)
  private val PrefLabel = u8(NS.SKOS_PREF_LABEL)
  private val GivenNames = u8(NS.SCHEMA_WARSA + "given_names")
  private val FamilyName = u8(NS.SCHEMA_WARSA + "family_name")
  private val OriginalName = u8(NS.SCHEMA_POW + "original_name")
  private val Order = u8(NS.SCHEMA_POW + "order")
  private val DateBegin = u8(NS.SCHEMA_POW + "date_begin")
  private val DateEnd = u8(NS.SCHEMA_POW + "date_end")
  private val RdfSubject = u8(NS.RDF_SUBJECT)
  private val RdfPredicate = u8(NS.RDF_PREDICATE)
  private val RdfObject = u8(NS.RDF_OBJECT)
  private val RdfStatement = u8(NS.RDF_STATEMENT)
  private val DctSource = u8(NS.DCT_SOURCE)
  private val XsdDate = u8(NS.XSD_DATE)
  private val XsdInteger = u8(NS.XSD_INTEGER)
  private val Fi = u8("fi")
  private val En = u8("en")
  private val ReificationSuffix = u8("_reification_source")
  private val NoneLiteral = u8("None")

  /** The doc's `rdf:type` class (csv_to_rdf.py:283-284). */
  private[extract] val RecordClass = u8(NS.SCHEMA_WARSA + "PrisonerRecord")

  /** Dedup groups of [[DocTriples]]: one per predicate local name of the
    * mapping, one for the name spans and one for the doc's type triple.
    * Every triple of a mapped span has the doc subject and the span's
    * predicate, or a subject minted from the local name and the offset
    * (`<doc>_<local>_<offset*10>`, `<doc>_<local>_<offset>_reification_source`;
    * the offset has no `_`, so the local name is recoverable), so spans of
    * different groups never share a triple as long as no mapped predicate
    * is one the name span or the type triple uses (required below). */
  private val groupOf: Map[String, Int] =
    FieldSpecs.prisonerFields.map(_.predLocal).distinct.zipWithIndex.toMap
  private val NameGroup = groupOf.size
  private[extract] val TypeGroup = groupOf.size + 1
  private[extract] val Groups = groupOf.size + 2

  private val docSubjectPreds = Set(RdfType, PrefLabel, GivenNames, FamilyName, OriginalName)
  require(FieldSpecs.prisonerFields.forall(s => !docSubjectPreds.contains(u8(s.uri))),
    "a mapped predicate is one the name span or the type triple emits")

  def encoded(spec: FieldSpec): EncodedSpec = new EncodedSpec(spec, groupOf(spec.predLocal))

  private val after1860 = LocalDate.of(1860, 1, 1)
  private val before1945 = LocalDate.of(1945, 1, 1)
  private val before1980 = LocalDate.of(1980, 1, 1)

  /** Process the dedicated name span (reference: src/csv_to_rdf.py:180-196). */
  def processName(out: DocTriples, text: String): Seq[String] = {
    out.span(NameGroup)
    val subj = out.subject
    val name = Converters.convertPersonName(text)
    val reassembled = if (name.given.nonEmpty) name.family + " " + name.given else name.family
    val originalName = PyStr.strip(text)
    if (name.given.nonEmpty) out.literal(subj, GivenNames, u8(name.given))
    if (name.family.nonEmpty) out.literal(subj, FamilyName, u8(name.family))
    if (name.full.nonEmpty) out.literal(subj, PrefLabel, u8(name.full))
    if (originalName.nonEmpty) out.literal(subj, OriginalName, u8(originalName))
    Validators.validatePersonName(reassembled, text).toSeq
  }

  /** Process one mapped value span (reference: src/csv_to_rdf.py:219-281). */
  def process(es: EncodedSpec, out: DocTriples, text: String, offset: Int,
              originalName: String): Seq[String] = {
    val spec = es.spec
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
    var objDatatype: UTF8String = null

    spec.converter match {
      case "dates" =>
        val d = Converters.convertDates(value)
        if (d.isDate) { objValue = d.lexical; objDatatype = XsdDate }
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
    if (objValue == null || objValue.isEmpty) return errors

    out.span(es.group)
    val subj = out.subject
    var obj = u8(objValue)

    if (es.resourceClass != null) {
      // child resource (E15/E16; reference csv_to_rdf.py:143-163,256-268)
      val order = u8((offset * 10).toString)
      val resUri = UTF8String.concat(subj, es.idInfix, order)
      out.uri(resUri, RdfType, es.resourceClass)
      out.add(resUri, es.valueProp, obj, objIsUri, null, objDatatype)
      out.literal(resUri, PrefLabel, u8(spec.labelFi.replace("{person}", originalName)), lang = Fi)
      out.literal(resUri, PrefLabel, u8(spec.labelEn.replace("{person}", originalName)), lang = En)
      if (spec.captureOrder)
        out.literal(resUri, Order, order, datatype = XsdInteger)
      if (spec.captureDates && (dateBegin != null || dateEnd != null)) {
        dateTriple(out, resUri, DateBegin, dateBegin)
        dateTriple(out, resUri, DateEnd, dateEnd)
      }
      // the value triple now points at the resource
      obj = resUri; objIsUri = true; objDatatype = null
    }

    out.add(subj, es.pred, obj, objIsUri, null, objDatatype)

    // reification (E17; reference csv_to_rdf.py:272-281)
    if (source != null && source.nonEmpty) {
      val reifUri = UTF8String.concat(subj, es.idInfix, u8(offset.toString), ReificationSuffix)
      out.uri(reifUri, RdfSubject, subj)
      out.uri(reifUri, RdfPredicate, es.pred)
      out.add(reifUri, RdfObject, obj, objIsUri, null, objDatatype)
      out.uri(reifUri, RdfType, RdfStatement)
      out.literal(reifUri, DctSource, u8(source))
    }

    errors
  }

  private def dateTriple(out: DocTriples, subj: UTF8String, pred: UTF8String,
                         d: DateOrString): Unit =
    if (d != null && d.isDate) out.literal(subj, pred, u8(d.lexical), datatype = XsdDate)
    else out.literal(subj, pred, if (d == null) NoneLiteral else u8(d.raw))

  private def validatorFor(id: String, d: DateOrString): Option[String] = id match {
    case "dates_war"    => Validators.validateDates(d)
    case "dates_birth"  => Validators.validateDates(d, after = after1860, before = before1945)
    case "dates_return" => Validators.validateDates(d, before = before1980)
    case "dates_death"  => Validators.validateDates(d, before = LocalDate.now())
    case _ => None
  }
}
