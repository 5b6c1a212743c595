package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, struct => structOf}

/** RDF namespace constants.
  *
  * Re-expression of the reference's namespace table
  * (reference: src/namespaces.py:8-26). Plain strings — URIs are data,
  * not objects, in a Spark-native triple pipeline.
  */
object NS {
  val RDF          = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val RDFS         = "http://www.w3.org/2000/01/rdf-schema#"
  val XSD          = "http://www.w3.org/2001/XMLSchema#"
  val SKOS         = "http://www.w3.org/2004/02/skos/core#"
  val DCT          = "http://purl.org/dc/terms/"
  val FOAF         = "http://xmlns.com/foaf/0.1/"
  val CRM          = "http://www.cidoc-crm.org/cidoc-crm/"
  val BIOC         = "http://ldf.fi/schema/bioc/"
  val SCHEMA_ORG   = "http://schema.org/"

  val DATA          = "http://ldf.fi/warsa/prisoners/"
  val SCHEMA_POW    = "http://ldf.fi/schema/warsa/prisoners/"
  val SCHEMA_WARSA  = "http://ldf.fi/schema/warsa/"
  val EVENTS        = "http://ldf.fi/warsa/events/"
  val RANKS         = "http://ldf.fi/schema/warsa/actors/ranks/"
  val MEDIA         = "http://ldf.fi/warsa/media/"
  val MARITAL       = "http://ldf.fi/warsa/marital_statuses/"
  val MOTHER_TONGUE = "http://ldf.fi/warsa/mother_tongues/"
  val ACTORS        = "http://ldf.fi/warsa/actors/"
  val SCHEMA_ACTORS = "http://ldf.fi/schema/warsa/actors/"
  val MUNICIPALITIES = "http://ldf.fi/warsa/places/municipalities/"

  val XSD_DATE    = XSD + "date"
  val XSD_INTEGER = XSD + "integer"
  val XSD_BOOLEAN = XSD + "boolean"

  val RDF_TYPE      = RDF + "type"
  val RDF_STATEMENT = RDF + "Statement"
  val RDF_SUBJECT   = RDF + "subject"
  val RDF_PREDICATE = RDF + "predicate"
  val RDF_OBJECT    = RDF + "object"
  val RDF_PROPERTY  = RDF + "Property"
  val SKOS_PREF_LABEL = SKOS + "prefLabel"
  val DCT_SOURCE    = DCT + "source"
  val DCT_DESCRIPTION = DCT + "description"

  /** Prefix table used for compact serialization
    * (reference: src/namespaces.py:29-43 bind_namespaces). */
  val prefixes: Seq[(String, String)] = Seq(
    "rdf"  -> RDF,  "rdfs" -> RDFS, "xsd" -> XSD, "skos" -> SKOS,
    "dct"  -> DCT,  "foaf" -> FOAF, "crm" -> CRM, "bioc" -> BIOC,
    "wp"   -> DATA, "wps"  -> SCHEMA_POW, "wsch" -> SCHEMA_WARSA,
    "wac"  -> ACTORS, "war" -> RANKS, "wam" -> MUNICIPALITIES,
  )
}

/** One RDF triple, flat row shape for `Dataset[RdfTriple]`.
  *
  * The object node is either a URI (`objIsUri`) or a literal with optional
  * language tag / datatype — mirrors rdflib's URIRef/Literal distinction
  * (reference: src/csv_to_rdf.py:251-254 typed literal creation,
  * :153-154 lang-tagged labels).
  *
  * `docId` is provenance lineage: the input document every triple was
  * derived from (empty for schema/global triples). It never participates in
  * triple equality but keys partition-local dedup and per-partition lineage
  * manifests at scale.
  */
final case class RdfTriple(
    subj: String,
    pred: String,
    objValue: String,
    objIsUri: Boolean,
    objLang: String,     // null when untagged
    objDatatype: String, // null for plain literals / URIs
    docId: String,       // lineage, not identity
) {
  /** Canonical N-Triples-style key for set comparison (identity = s,p,o). */
  def key: String = {
    val o =
      if (objIsUri) s"<$objValue>"
      else {
        val esc = objValue
          .replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
        val base = "\"" + esc + "\""
        if (objLang != null && objLang.nonEmpty) base + "@" + objLang
        else if (objDatatype != null && objDatatype.nonEmpty) base + "^^<" + objDatatype + ">"
        else base
      }
    s"<$subj> <$pred> $o ."
  }
}

object RdfTriple {
  def uri(subj: String, pred: String, obj: String, docId: String = ""): RdfTriple =
    RdfTriple(subj, pred, obj, objIsUri = true, null, null, docId)
  def lit(subj: String, pred: String, obj: String, docId: String = ""): RdfTriple =
    RdfTriple(subj, pred, obj, objIsUri = false, null, null, docId)
  def langLit(subj: String, pred: String, obj: String, lang: String, docId: String = ""): RdfTriple =
    RdfTriple(subj, pred, obj, objIsUri = false, lang, null, docId)
  def typed(subj: String, pred: String, obj: String, datatype: String, docId: String = ""): RdfTriple =
    RdfTriple(subj, pred, obj, objIsUri = false, null, datatype, docId)
}

/** The [[RdfTriple]] row format as Spark columns — the one place a stage
  * spells the triple schema. Every producer builds its rows from
  * [[columns]] (or the [[uri]] / [[literal]] shorthands), a `select` for
  * one row per input row or a [[struct]] array for an `explode`; every
  * set-semantics dedup goes through [[distinct]].
  *
  * The defaults are the format's: no language tag and no datatype are
  * NULL, and a global (not document-derived) triple has `docId` "". */
object Triples {

  /** The columns that make two rows the same triple: all but the `docId`
    * lineage. */
  val identity: Seq[String] = Seq("subj", "pred", "objValue", "objIsUri", "objLang", "objDatatype")

  private def none: Column = lit(null).cast("string")

  /** The seven triple columns in [[RdfTriple]] order. A column that
    * already is the reference of its name passes through unaliased, so a
    * pass-through select plans like a hand-written one. */
  def columns(subj: Column, pred: Column, objValue: Column, objIsUri: Column,
              objLang: Column = none, objDatatype: Column = none,
              docId: Column = lit("")): Seq[Column] =
    Seq("subj" -> subj, "pred" -> pred, "objValue" -> objValue, "objIsUri" -> objIsUri,
      "objLang" -> objLang, "objDatatype" -> objDatatype, "docId" -> docId).map {
      case (name, c) => if (c == col(name)) c else c.as(name)
    }

  /** A triple whose object is a URI. */
  def uri(subj: Column, pred: Column, obj: Column, docId: Column = lit("")): Seq[Column] =
    columns(subj, pred, obj, lit(true), docId = docId)

  /** A triple whose object is a literal, optionally tagged or typed. */
  def literal(subj: Column, pred: Column, obj: Column, lang: Column = none,
              datatype: Column = none, docId: Column = lit("")): Seq[Column] =
    columns(subj, pred, obj, lit(false), lang, datatype, docId)

  /** One triple as a struct of the same columns: the element of an
    * `explode(array(...))` that emits several triples per input row. */
  def struct(triple: Seq[Column]): Column = structOf(triple: _*)

  /** Set semantics: one row per [[identity]], whatever its `docId`. */
  def distinct(df: DataFrame): DataFrame = df.dropDuplicates(identity)

  /** [[distinct]] on the driver: the first row of each [[identity]]. */
  def distinctRows(rows: Seq[RdfTriple]): Seq[RdfTriple] = rows.distinctBy(_.copy(docId = ""))

  /** The rows of a bounded triple frame, on the driver. A frame built from
    * local rows (a local relation and its projections) collects without a
    * Spark job. */
  def collect(df: DataFrame): Seq[RdfTriple] = {
    import df.sparkSession.implicits._
    df.as[RdfTriple].collect().toSeq
  }
}

/** A validation/conversion error row — the reference's errors.csv side
  * channel (reference: src/csv_to_rdf.py:62,291-292,376-379). */
final case class ValidationError(
    docId: String,
    name: String,
    column: String,
    error: String,
    value: String,
)
