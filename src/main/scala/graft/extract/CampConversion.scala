package graft.extract

import java.util.regex.Pattern

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Converters
import graft.model.{NS, RdfTriple, Triples}

/** E19/E20 + J16 — subject re-minting and graph closure utilities.
  * Re-minting and the camp CONSTRUCT are plain Scala over the collected
  * (bounded) rows and return a local relation, so the camps chain runs no
  * Spark job. */
object CampConversion {

  /** E19's minting rule: `namespace` + slugify(the first of `p1`, `p2`
    * that is present, else "unknown"). [[remintSubjects]] and the camp
    * gazetteer (`Gazetteers.camps`) both mint through it. */
  def mintSubject(namespace: String, p1: Option[String], p2: Option[String]): String =
    namespace + Converters.slugify(p1.orElse(p2).getOrElse("unknown"))

  /** The camps graph: camps, then hospitals, re-minted under their slugified
    * URI spaces, then the camp CONSTRUCT (process.sh:20-23). `raw` must be
    * bounded: it is collected. */
  def campGraph(raw: DataFrame): DataFrame = {
    def remint(in: DataFrame, cls: String, prefix: String) = remintSubjects(in,
      NS.SCHEMA_WARSA + cls, NS.SCHEMA_POW + "camp_id", NS.SCHEMA_POW + "captivity_location",
      NS.DATA + prefix)
    constructCamps(remint(remint(raw, "PowCamp", "camp_"), "PowHospital", "hospital_"))
  }

  /** E19: camp/hospital URI re-minting — each subject typed `classUri` is
    * renamed to [[mintSubject]] of its least literal `prop1` and `prop2`
    * values (least in code-point order, as Spark's `min` orders strings);
    * all its triples move to the new subject (reference:
    * src/csv_to_rdf.py:382-398 simulates this with add+remove loops).
    * `triples` must be bounded: it is collected. */
  def remintSubjects(triples: DataFrame, classUri: String,
                     prop1: String, prop2: String, namespace: String): DataFrame = {
    val rows = Triples.collect(triples)
    val targets = rows.filter(t => t.pred == NS.RDF_TYPE && t.objValue == classUri).map(_.subj).toSet
    def least(prop: String): Map[String, String] = rows
      .filter(t => t.pred == prop && !t.objIsUri && t.objValue != null && targets(t.subj))
      .groupMapReduce(_.subj)(_.objValue)((a, b) => if (binaryCompare(a, b) <= 0) a else b)
    val (v1, v2) = (least(prop1), least(prop2))
    val minted = targets.map(s => s -> mintSubject(namespace, v1.get(s), v2.get(s))).toMap
    triples.sparkSession.createDataFrame(Triples.distinctRows(
      rows.map(t => minted.get(t.subj).fold(t)(s => t.copy(subj = s)))))
  }

  private def binaryCompare(a: String, b: String): Int =
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** The camp CONSTRUCT (sparql/construct_camps.sparql, run
    * process.sh:23), branch-faithful to the SPARQL:
    *  - CAMP branch (construct_camps.sparql:15-21): a camp's `?p ?o`
    *    triples emit ONLY when the camp has a `captivity_location` (it is
    *    a required pattern, not an OPTIONAL — a camp without one emits
    *    nothing at all); the `huomautuksia-…` worksheet predicate is
    *    filtered in THIS branch only; one skos:prefLabel@fi per literal
    *    captivity_location VALUE (STRLANG of an IRI errors to unbound, so
    *    IRI values produce no label);
    *  - HOSPITAL branch (:23-30): `poistettava-tyosarake` filtered in
    *    this branch only; one label per (hospital_type, camp_id) OPTIONAL
    *    combination with the IF(BOUND) space rule;
    *  - coordinates OPTIONAL (:32-36): wgs84 lat/long via REPLACE — a
    *    non-matching literal passes through RAW (SPARQL REPLACE returns
    *    its input unchanged when the pattern misses).
    * `triples` must be bounded: it is collected. */
  def constructCamps(triples: DataFrame): DataFrame = {
    val rows = Triples.collect(triples)
    val (pow, wgs) = (NS.SCHEMA_POW, "http://www.w3.org/2003/01/geo/wgs84_pos#")
    def subjectsOf(cls: String) =
      rows.filter(t => t.pred == NS.RDF_TYPE && t.objValue == NS.SCHEMA_WARSA + cls).map(_.subj).toSet
    def values(pred: String): Map[String, Seq[String]] =
      rows.filter(_.pred == pred).groupMap(_.subj)(_.objValue)
    val locations = values(pow + "captivity_location")
    // required pattern: camps WITHOUT a captivity_location emit nothing
    val camps = subjectsOf("PowCamp").filter(locations.contains)
    val hospitals = subjectsOf("PowHospital")

    val own = rows.filter(t =>
      (camps(t.subj) && t.pred != pow + "huomautuksia-poistetaan-kun-asiat-on-kayty-lapi") ||
        (hospitals(t.subj) && t.pred != pow + "poistettava-tyosarake"))
    // one label per literal captivity_location VALUE (per-solution BIND)
    val campLabels = rows.filter(t => camps(t.subj) && t.pred == pow + "captivity_location" && !t.objIsUri)
      .map(t => RdfTriple.langLit(t.subj, NS.SKOS_PREF_LABEL, t.objValue, "fi"))
    // one label per OPTIONAL (type, camp_id) combination; an absent value is null
    val (types, ids) = (values(pow + "hospital_type"), values(pow + "camp_id"))
    val hospitalLabels = rows.map(_.subj).distinct.filter(hospitals).flatMap { s =>
      for (h <- types.getOrElse(s, Seq(null)); id <- ids.getOrElse(s, Seq(null)))
        yield RdfTriple.langLit(s, NS.SKOS_PREF_LABEL,
          (if (h == null) "" else h + " ") + (if (id == null) "" else id), "fi")
    }
    // REPLACE semantics: a coordinate literal that misses the pattern
    // passes through unchanged, exactly like the reference
    def replace(v: String, pattern: Pattern) = if (v == null) null else pattern.matcher(v).replaceAll("$1")
    val coordinates = rows.filter(t => (camps(t.subj) || hospitals(t.subj)) && t.pred == pow + "coordinates")
      .flatMap(t => Seq(RdfTriple.lit(t.subj, wgs + "lat", replace(t.objValue, latitude)),
        RdfTriple.lit(t.subj, wgs + "long", replace(t.objValue, longitude))))

    triples.sparkSession.createDataFrame(
      Triples.distinctRows(own ++ campLabels ++ hospitalLabels ++ coordinates))
  }

  private val latitude = Pattern.compile("(\\d\\d\\.\\d+),.*")
  private val longitude = Pattern.compile(".*,\\W*(\\d\\d\\.\\d+)$")

  /** J16: all triples related to a set of persons — the person's own
    * triples, a 1-hop object expansion, and the reifications of the
    * person's statements (reference: src/csv_to_rdf.py:39-47
    * `get_person_related_triples`). `persons` is a one-column (subj) DF. */
  def personRelatedTriples(triples: DataFrame, persons: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val p = broadcast(persons.select($"subj").distinct())

    val own = triples.join(p, Seq("subj"), "left_semi")

    // 1-hop: triples whose subject is an object of a person triple
    val hopSubjects = own.filter($"objIsUri")
      .select($"objValue".as("subj")).distinct()
    val hop = triples.join(hopSubjects, Seq("subj"), "left_semi")

    // reifications: reif nodes whose rdf:subject is the person
    val reifs = triples.filter($"pred" === NS.RDF_SUBJECT)
      .join(p.select($"subj".as("objValue")), Seq("objValue"), "left_semi")
      .select($"subj").distinct()
    val reifTriples = triples.join(reifs, Seq("subj"), "left_semi")

    own.unionByName(hop).unionByName(reifTriples).transform(Triples.distinct)
  }
}
