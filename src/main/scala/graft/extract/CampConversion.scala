package graft.extract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.link.Normalize
import graft.model.{NS, Triples}

/** E19/E20 + J16 — subject re-minting and graph closure utilities.
  */
object CampConversion {

  /** E19: camp/hospital URI re-minting — new subject =
    * namespace + slugify(prop1 value, else prop2 value, else "unknown");
    * all triples of the old subject are copied to the new one and the old
    * ones dropped (reference: src/csv_to_rdf.py:382-398 simulates this
    * with add+remove loops; here it is one projection + broadcast join —
    * no mutation). Only subjects of `classUri` are re-minted. */
  def remintSubjects(triples: DataFrame, classUri: String,
                     prop1: String, prop2: String, namespace: String): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._

    val targets = triples
      .filter($"pred" === NS.RDF_TYPE && $"objValue" === classUri)
      .select($"subj").distinct()

    // plain aliases: property URIs contain dots, which Column-name parsing
    // would read as struct-field access
    def valueOf(prop: String, alias: String) =
      triples.filter($"pred" === prop && !$"objIsUri")
        .groupBy($"subj").agg(min($"objValue").as(alias))

    val mapping = targets
      .join(valueOf(prop1, "__p1"), Seq("subj"), "left")
      .join(valueOf(prop2, "__p2"), Seq("subj"), "left")
      .select($"subj",
        concat(lit(namespace),
          Normalize.slugifyCol(coalesce($"__p1", $"__p2", lit("unknown"))))
          .as("new_subj"))

    triples.join(broadcast(mapping), Seq("subj"), "left")
      .select(Triples.columns(coalesce($"new_subj", $"subj"), $"pred", $"objValue",
        $"objIsUri", $"objLang", $"objDatatype", $"docId"): _*)
      .transform(Triples.distinct)
  }

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
    *    its input unchanged when the pattern misses), so the mirror uses
    *    regexp_replace with NO match filter.
    * All joins are against the (tiny) camp-subject set → broadcast. */
  def constructCamps(triples: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val wgs = "http://www.w3.org/2003/01/geo/wgs84_pos#"

    def subjectsOf(cls: String) = triples
      .filter($"pred" === NS.RDF_TYPE && $"objValue" === (NS.SCHEMA_WARSA + cls))
      .select($"subj").distinct()
    val campLoc = triples
      .filter($"pred" === (NS.SCHEMA_POW + "captivity_location"))
    // required pattern: camps WITHOUT a captivity_location emit nothing
    // broadcast hints sit on the join sides only: Spark ignores (and
    // warns about) a hint inside a union or on a left outer join's left side
    val campSubj = subjectsOf("PowCamp")
      .join(campLoc.select($"subj").distinct(), Seq("subj"), "left_semi")
    val hospSubj = subjectsOf("PowHospital")
    val branchSubj = campSubj.unionByName(hospSubj).distinct()

    val campOwn = triples.join(broadcast(campSubj), Seq("subj"), "left_semi")
      .filter($"pred" =!= (NS.SCHEMA_POW + "huomautuksia-poistetaan-kun-asiat-on-kayty-lapi"))
    val hospOwn = triples.join(broadcast(hospSubj), Seq("subj"), "left_semi")
      .filter($"pred" =!= (NS.SCHEMA_POW + "poistettava-tyosarake"))

    val fiLabel = Triples.literal($"subj", lit(NS.SKOS_PREF_LABEL), $"label", lit("fi"))

    // one label per captivity_location VALUE (per-solution BIND)
    val campLabels = campLoc.filter(!$"objIsUri")
      .join(broadcast(campSubj), Seq("subj"), "left_semi")
      .select($"subj", $"objValue".as("label")).distinct()
      .select(fiLabel: _*)

    // one label per OPTIONAL (type, camp_id) combination
    val hospLabels = hospSubj
      .join(triples.filter($"pred" === (NS.SCHEMA_POW + "hospital_type"))
        .select($"subj", $"objValue".as("htype")), Seq("subj"), "left")
      .join(triples.filter($"pred" === (NS.SCHEMA_POW + "camp_id"))
        .select($"subj", $"objValue".as("cid")), Seq("subj"), "left")
      .select($"subj", concat(
        coalesce($"htype", lit("")),
        when($"htype".isNotNull, lit(" ")).otherwise(lit("")),
        coalesce($"cid", lit(""))).as("label")).distinct()
      .select(fiLabel: _*)

    // REPLACE semantics: no filter — a coord literal that misses the
    // regex passes through unchanged, exactly like the reference
    val coords = triples.filter($"pred" === (NS.SCHEMA_POW + "coordinates"))
      .join(broadcast(branchSubj), Seq("subj"), "left_semi")
      .select($"subj",
        regexp_replace($"objValue", "(\\d\\d\\.\\d+),.*", "$1").as("lat"),
        regexp_replace($"objValue", ".*,\\W*(\\d\\d\\.\\d+)$", "$1").as("long"))

    campOwn.unionByName(hospOwn)
      .unionByName(campLabels).unionByName(hospLabels)
      .unionByName(coords.select(Triples.literal($"subj", lit(wgs + "lat"), $"lat"): _*))
      .unionByName(coords.select(Triples.literal($"subj", lit(wgs + "long"), $"long"): _*))
      .transform(Triples.distinct)
  }

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
