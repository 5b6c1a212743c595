package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.link.Normalize
import graft.model.{NS, Triples}

/** The Spark bodies of the static graphs that `CampConversion` and the
  * media linkers replaced with driver-side Scala, kept as the reference
  * `StaticGraphsEquivalenceSpec` checks the driver forms against: E19
  * re-minting as a projection and broadcast join, the camp CONSTRUCT as
  * semi-joins and unions, and the three media linkers as column
  * expressions over their gazetteer tables. */
object StaticGraphsReference {

  /** The camps stage body: camps, then hospitals, re-minted, then the
    * CONSTRUCT; local checkpoints keep the lazy chain from re-executing
    * under the CONSTRUCT's references. */
  def campGraph(raw: DataFrame): DataFrame = {
    def remint(in: DataFrame, cls: String, prefix: String) = remintSubjects(in,
      NS.SCHEMA_WARSA + cls, NS.SCHEMA_POW + "camp_id", NS.SCHEMA_POW + "captivity_location",
      NS.DATA + prefix).localCheckpoint()
    constructCamps(remint(remint(raw, "PowCamp", "camp_"), "PowHospital", "hospital_"))
  }

  /** The media stage body: the three document-entity frames as one set. */
  def mediaGraph(entities: DataFrame*): DataFrame =
    entities.reduce(_ unionByName _).transform(Triples.distinct)

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

  def linkMagazines(triples: DataFrame, index: DataFrame): (DataFrame, DataFrame) = {
    val spark = triples.sparkSession
    import spark.implicits._
    val idx = index.select(
      regexp_replace($"viite", "^\\s+|\\s+$", "").as("k"),
      concat(lit(NS.MEDIA), lit("sotilaan_aani_"), $"hakemisto", lit("_"), $"tiedostonimi").as("uri"),
      $"hakemisto", $"tiedostonimi")

    def literals(pred: String) = triples.filter($"pred" === pred && !$"objIsUri")
      .select($"subj", $"objValue".as("literal"), $"docId")
    val refs = literals(NS.SCHEMA_POW + "sotilaan_aani")
      .unionByName(literals(NS.SCHEMA_POW + "photograph_sotilaan_aani"))
      .withColumn("k", regexp_replace($"literal", "^\\s+|\\s+$", ""))

    // a textual reference may hit several issues (multimap) — natural fanout
    val hits = refs.join(broadcast(idx), "k")
    val links = hits.select(
      Triples.uri($"subj", lit(NS.SCHEMA_WARSA + "sotilaan_aani_magazine"), $"uri", $"docId"): _*)

    val docs = idx.select($"uri", $"hakemisto", $"tiedostonimi").distinct()
      .select($"uri",
        concat(lit("Sotilaan Ääni "), $"hakemisto", lit("/"), $"tiedostonimi").as("label"),
        concat(lit("https://static.sotasampo.fi/sotilaan_aani/"), $"hakemisto",
          lit("/Thumbs/"), $"tiedostonimi", lit(".jpg")).as("contentUrl"))
    (links, mediaDocTriples(docs, NS.SCHEMA_WARSA + "SotilaanAani"))
  }

  def linkPersonDocuments(paths: DataFrame /* (path) */): (DataFrame, DataFrame) = {
    val spark = paths.sparkSession
    import spark.implicits._
    val re = "data/person_documents/([a-z_]+)/(\\d{1,4})(_.+\\.pdf)"
    val parsed = paths
      .select(regexp_extract($"path", re, 1).as("dir"),
        regexp_extract($"path", re, 2).as("pid"),
        regexp_extract($"path", re, 3).as("suffix"))
      .filter($"dir" =!= "" && $"pid" =!= "" && $"suffix" =!= "")
    val labelMap = typedlit(Map(
      "returned" -> "Neuvostoliittolainen palautettujen henkilömappi",
      "winterwar_registration" -> "Neuvostoliittolainen vangittujen ja internoitujen henkilömappi",
      "winterwar_interrogation" -> "Neuvostoliittolainen kuulustelulomake"))
    val rows = parsed.select(
      concat(lit(NS.DATA), lit("prisoner_"), $"pid").as("subj"),
      concat(lit(NS.MEDIA), $"dir", lit("_"), $"pid").as("uri"),
      coalesce(element_at(labelMap, $"dir"), lit("Dokumentti")).as("label"),
      concat(lit("https://static.sotasampo.fi/person_documents/"), $"dir", lit("/"),
        $"pid", $"suffix").as("contentUrl"),
      concat(lit("prisoner_"), $"pid").as("docId"))
    val links = rows.select(
      Triples.uri($"subj", lit(NS.SCHEMA_WARSA + "person_document"), $"uri", $"docId"): _*)
    (links, mediaDocTriples(rows.select($"uri", $"label", $"contentUrl").distinct(),
      NS.SCHEMA_WARSA + "PersonDocument"))
  }

  def linkVideos(index: DataFrame, labels: DataFrame): (DataFrame, DataFrame) = {
    val spark = index.sparkSession
    import spark.implicits._
    val exploded = index
      .select($"nro", $"warsa_uri",
        explode(filter(transform(split(coalesce($"video_files", lit("")), ","),
          v => regexp_replace(v, "\\s+", "")), v => v =!= "")).as("video_file"))
      .join(broadcast(labels), Seq("video_file"), "left")
      .select($"nro", $"warsa_uri", $"video_file", $"label",
        concat(lit(NS.MEDIA), lit("video_"),
          Normalize.slugifyCol($"video_file")).as("uri"),
        concat(lit("https://static.sotasampo.fi/videos/prisoners/"), $"video_file").as("contentUrl"))

    val video = lit(NS.SCHEMA_WARSA + "documented_in_video")
    val prisonerLinks = exploded.filter($"nro".isNotNull)
      .select(Triples.uri(concat(lit(NS.DATA), lit("prisoner_"), $"nro"), video, $"uri",
        concat(lit("prisoner_"), $"nro")): _*)
    val warsaLinks = exploded.filter($"warsa_uri".isNotNull)
      .select(Triples.uri($"warsa_uri", video, $"uri"): _*)

    val docs = mediaDocTriples(
      exploded.select($"uri", coalesce($"label", lit("Video")).as("label"),
        $"contentUrl").distinct(),
      NS.SCHEMA_WARSA + "Video")
    // links (prisoner + warsa actor) go to the prisoners graph
    // (person_video_links.ttl); doc entities to the media graph
    // (_media_videos.ttl) — process.sh:68-71,126-128
    (prisonerLinks.unionByName(warsaLinks), docs)
  }

  private def mediaDocTriples(docs: DataFrame /* (uri,label,contentUrl) */,
                              cls: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(Triples.uri($"uri", lit(NS.RDF_TYPE), lit(cls)): _*)
      .unionByName(docs.select(Triples.literal($"uri", lit(NS.SKOS_PREF_LABEL), $"label"): _*))
      .unionByName(docs.select(
        Triples.uri($"uri", lit(NS.SCHEMA_ORG + "contentUrl"), $"contentUrl"): _*))
  }
}
