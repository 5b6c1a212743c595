package graft.events

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.{NS, Triples}
import graft.model.Triples.{literal, uri}

/** Person/event materialization — ports of the reference's 8 SPARQL
  * CONSTRUCT queries (reference: sparql/construct_*.sparql, invoked
  * process.sh:98-124) as DataFrame transforms over the triples table.
  *
  * Execution shape: ONE pivot pass builds a wide per-record frame (each
  * needed predicate becomes a column — groupBy(subj) + conditional
  * aggregates = a single shuffle), and every event family is a narrow
  * projection off it. The reference pays one Fuseki BGP query per
  * CONSTRUCT; here Catalyst shares the pivot across all eight.
  *
  * Anti-join guards (`FILTER NOT EXISTS`, SURVEY.md §2.4 J15) take the
  * pre-existing event set as a DataFrame and are expressed as `left_anti`.
  */
object Events {

  private val CONFLICTS = "http://ldf.fi/warsa/conflicts/"
  private val SOURCE22 = "http://ldf.fi/warsa/sources/source22"
  private val EVENTS_NS = NS.EVENTS
  private val TIMES = NS.EVENTS + "times/time_"

  // ---------------------------------------------------------------------
  // shared scaffolding

  /** `REPLACE(STR(?sub), ".*_(\\d+(?:_duplicate)*)$", "wp$1")`
    * (construct_births.sparql:37). */
  private def personNo(subj: Column): Column =
    concat(lit("wp"), regexp_extract(subj, "_(\\d+(?:_duplicate)*)$", 1))

  /** Wide per-record frame: one row per PrisonerRecord with the columns the
    * constructs need. Linked predicates (rank, municipality_*, P70) must
    * already be in `triples`. */
  def recordFrame(triples: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._

    def firstLit(pred: String): Column =
      min(when($"pred" === pred && !$"objIsUri", $"objValue"))
    def firstUri(pred: String): Column =
      min(when($"pred" === pred && $"objIsUri", $"objValue"))
    def firstDate(pred: String): Column =
      min(when($"pred" === pred && $"objDatatype" === NS.XSD_DATE, $"objValue"))
    def rawDate(pred: String): Column =
      min(when($"pred" === pred, $"objValue"))

    val persons = triples
      .filter($"pred" === NS.RDF_TYPE && $"objValue" === (NS.SCHEMA_WARSA + "PrisonerRecord"))
      .select($"subj").distinct()

    val wide = triples.groupBy($"subj").agg(
      firstLit(NS.SCHEMA_WARSA + "given_names").as("fn"),
      firstLit(NS.SCHEMA_WARSA + "family_name").as("sn"),
      firstDate(NS.SCHEMA_WARSA + "date_of_birth").as("bd"),
      rawDate(NS.SCHEMA_WARSA + "date_of_birth").as("bd_raw"),
      firstDate(NS.SCHEMA_POW + "date_of_death").as("dd"),
      rawDate(NS.SCHEMA_POW + "date_of_death").as("dd_raw"),
      firstDate(NS.SCHEMA_POW + "date_of_capture").as("cd"),
      rawDate(NS.SCHEMA_POW + "date_of_capture").as("cd_raw"),
      firstDate(NS.SCHEMA_POW + "date_of_going_mia").as("md"),
      rawDate(NS.SCHEMA_POW + "date_of_going_mia").as("md_raw"),
      firstUri(NS.SCHEMA_WARSA + "municipality_of_birth").as("bp"),
      firstUri(NS.SCHEMA_POW + "municipality_of_death").as("dp"),
      firstUri(NS.SCHEMA_POW + "municipality_of_capture").as("cp"),
      firstUri(NS.CRM + "P70_documents").as("old_uri"),
      max(when($"pred" === (NS.SCHEMA_POW + "winter_war_collection"), lit(1))
        .otherwise(lit(0))).as("has_wwc"),
      min($"docId").as("docId"))

    persons.join(wide, "subj")
      .withColumn("no", personNo($"subj"))
      .withColumn("minted_person", concat(lit(NS.ACTORS + "person_"), $"no"))
      .withColumn("id", coalesce($"old_uri", $"minted_person"))
      .withColumn("pid", regexp_extract($"id", ".*(person_.+)$", 1))
      .withColumn("label",
        concat(coalesce(concat($"fn", lit(" ")), lit("")), coalesce($"sn", lit(""))))
  }

  /** Emit a Time-Span resource + typed event with fi/en labels — the
    * shared shape of births/deaths/captures/disappearances
    * (construct_births.sparql:14-27 etc.). */
  private def datedEvent(frame: DataFrame, eventKind: String, eventClass: String,
                         participantPred: String, dateCol: String, rawCol: String,
                         placeCol: String, labelFi: String, labelEn: String): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    val base = frame.filter(col(dateCol).isNotNull)
      .withColumn("event", concat(lit(EVENTS_NS + eventKind + "_"), $"pid"))
      .withColumn("ts", concat(lit(TIMES), col(dateCol), lit("-"), col(dateCol)))

    val (event, ts, doc) = ($"event", $"ts", $"docId")
    val label = lit(NS.SKOS_PREF_LABEL)
    val rows = array(Seq(
      uri(event, lit(NS.RDF_TYPE), lit(NS.SCHEMA_WARSA + eventClass), doc),
      uri(event, lit(participantPred), $"id", doc),
      uri(event, lit(NS.CRM + "P4_has_time-span"), ts, doc),
      uri(event, lit(NS.DCT_SOURCE), lit(SOURCE22), doc),
      literal(event, label, concat($"label", lit(labelFi)), lit("fi"), docId = doc),
      literal(event, label, concat($"label", lit(labelEn)), lit("en"), docId = doc),
      uri(ts, lit(NS.RDF_TYPE), lit(NS.CRM + "E52_Time-Span"), doc),
      literal(ts, label, col(rawCol), lit("fi"), docId = doc),
      literal(ts, label, col(rawCol), lit("en"), docId = doc),
      literal(ts, lit(NS.CRM + "P82a_begin_of_the_begin"), col(dateCol),
        datatype = lit(NS.XSD_DATE), docId = doc),
      literal(ts, lit(NS.CRM + "P82b_end_of_the_end"), col(dateCol),
        datatype = lit(NS.XSD_DATE), docId = doc),
    ).map(Triples.struct): _*)

    val placeRows = base.filter(col(placeCol).isNotNull)
      .select(explode(array(Triples.struct(
        uri(event, lit(NS.CRM + "P7_took_place_at"), col(placeCol), doc)))).as("t"))

    base.select(explode(rows).as("t")).unionByName(placeRows).select("t.*")
  }

  // ---------------------------------------------------------------------
  // the eight constructs

  /** construct_people.sparql: mint (or adopt linked) person entities. */
  def people(frame: DataFrame, linkedMedia: DataFrame): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    val base = frame.withColumn("is_new", $"old_uri".isNull)
    val (id, doc) = ($"id", $"docId")
    val rows = array(Seq(
      uri(id, lit(NS.RDF_TYPE), lit(NS.SCHEMA_WARSA + "Person"), doc),
      uri(id, lit(NS.CRM + "P70i_is_documented_in"), $"subj", doc),
      uri(id, lit(NS.DCT_SOURCE), lit(SOURCE22), doc),
    ).map(Triples.struct): _*)
    val newOnly = array(Seq(
      literal(id, lit(NS.SKOS_PREF_LABEL), $"label", docId = doc),
      literal(id, lit(NS.FOAF + "firstName"), $"fn", docId = doc),
      literal(id, lit(NS.FOAF + "familyName"), $"sn", docId = doc),
    ).map(Triples.struct): _*)

    val always = base.select(explode(rows).as("t"))
    val minted = base.filter($"is_new" && $"sn".isNotNull)
      .select(explode(newOnly).as("t"))
      .filter($"t.objValue".isNotNull)
    // media/occupation links re-hung onto the person entity
    val media = linkedMedia
      .join(base.select($"subj", $"id", $"docId".as("fdocId")), Seq("subj"))
      .select(Triples.columns($"id", $"pred", $"objValue", $"objIsUri", $"objLang",
        $"objDatatype", $"fdocId"): _*)
    always.unionByName(minted).select("t.*").unionByName(media)
  }

  /** construct_births.sparql (new persons only; guarded by anti-join on
    * existing Birth participants). */
  def births(frame: DataFrame, existingEvents: DataFrame): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    val guarded = frame
      .join(existingEvents
        .filter($"pred" === (NS.CRM + "P98_brought_into_life"))
        .select($"objValue".as("id")).distinct(),
        Seq("id"), "left_anti")
    datedEvent(guarded, "birth", "Birth", NS.CRM + "P98_brought_into_life",
      "bd", "bd_raw", "bp", " syntyi", " was born")
  }

  /** construct_deaths.sparql. */
  def deaths(frame: DataFrame, existingEvents: DataFrame): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    val guarded = frame
      .join(existingEvents
        .filter($"pred" === (NS.CRM + "P100_was_death_of"))
        .select($"objValue".as("id")).distinct(),
        Seq("id"), "left_anti")
    datedEvent(guarded, "death", "Death", NS.CRM + "P100_was_death_of",
      "dd", "dd_raw", "dp", " kuoli", " died")
  }

  /** construct_captures.sparql (linked persons). */
  def captures(frame: DataFrame): DataFrame =
    datedEvent(frame.filter(col("old_uri").isNotNull), "capture", "Capture",
      NS.CRM + "P11_had_participant", "cd", "cd_raw", "cp",
      " jäi vangiksi", " was taken prisoner")

  /** construct_disappearances.sparql: MIA events from date_of_going_mia,
    * guarded against pre-existing Disappearance participants. */
  def disappearances(frame: DataFrame, existingEvents: DataFrame): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    val existingMia = existingEvents
      .filter($"pred" === NS.RDF_TYPE && $"objValue" === (NS.SCHEMA_WARSA + "Disappearing"))
      .select($"subj".as("mia_event")).distinct()
      .join(existingEvents.filter($"pred" === (NS.CRM + "P11_had_participant"))
        .select($"subj".as("mia_event"), $"objValue".as("id")), Seq("mia_event"))
      .select($"id").distinct()
    val guarded = frame.join(existingMia, Seq("id"), "left_anti")
    datedEvent(guarded, "disappearing", "Disappearing",
      NS.CRM + "P11_had_participant", "md", "md_raw", "cp",
      " katosi", " went missing in action")
  }

  /** construct_promotions.sparql: one Promotion per (person, rank). */
  def promotions(triples: DataFrame, frame: DataFrame, ranksGaz: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val ranks = triples.filter($"pred" === (NS.SCHEMA_POW + "rank"))
      .select($"subj", $"objValue".as("wr"))
      .join(frame.select($"subj", $"pid", $"docId"), Seq("subj"))
      .join(broadcast(ranksGaz.select($"uri".as("wr"), $"label".as("wrl"))), Seq("wr"))
      .withColumn("wrno", lower(regexp_extract($"wr", ".*/(.+?)$", 1)))
      .withColumn("event", concat(lit(EVENTS_NS), $"wrno", lit("_"), $"pid"))
    val (event, doc) = ($"event", $"docId")
    val rows = array(Seq(
      uri(event, lit(NS.RDF_TYPE), lit(NS.SCHEMA_WARSA + "Promotion"), doc),
      uri(event, lit(NS.CRM + "P11_had_participant"), concat(lit(NS.ACTORS), $"pid"), doc),
      uri(event, lit(NS.SCHEMA_ACTORS + "hasRank"), $"wr", doc),
      uri(event, lit(NS.DCT_SOURCE), lit(SOURCE22), doc),
      literal(event, lit(NS.SKOS_PREF_LABEL), $"wrl", docId = doc),
    ).map(Triples.struct): _*)
    ranks.select(explode(rows).as("t")).select("t.*")
  }

  /** construct_unit_joinings.sparql: PersonJoining per (person, unit). */
  def unitJoinings(triples: DataFrame, frame: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val units = triples.filter($"pred" === (NS.SCHEMA_POW + "unit"))
      .select($"subj", $"objValue".as("unit"))
      .join(frame.select($"subj", $"pid", $"label", $"docId"), Seq("subj"))
      .withColumn("uno", regexp_extract($"unit", ".*/(.+?)$", 1))
      .withColumn("event", concat(lit(EVENTS_NS + "joining_"), $"uno", lit("_"), $"pid"))
    val (event, doc) = ($"event", $"docId")
    val rows = array(Seq(
      uri(event, lit(NS.RDF_TYPE), lit(NS.SCHEMA_WARSA + "PersonJoining"), doc),
      uri(event, lit(NS.CRM + "P143_joined"), concat(lit(NS.ACTORS), $"pid"), doc),
      uri(event, lit(NS.CRM + "P144_joined_with"), $"unit", doc),
      uri(event, lit(NS.DCT_SOURCE), lit(SOURCE22), doc),
    ).map(Triples.struct): _*)
    units.select(explode(rows).as("t")).select("t.*")
  }

  /** period.sparql: related_period classification. The reference's second
    * UNION block is a cascade of OPTIONALs over the same `?war` variable
    * (period.sparql:17-49) — SPARQL's OPTIONAL join semantics make the
    * FIRST binding win per solution row, so the Spark translation is a
    * per-VALUE `when`-chain, not a union of independent branches:
    *
    *  - each parseable capture date emits its war by the 1941-06-24 rule
    *    (one triple per distinct war, not min-date-only: a record with a
    *    1940 and a 1942 capture gets both, as the reference does);
    *  - each UNparseable capture value classifies winter-regex-first
    *    (a value matching both "40" and "4[12345]" is winter ONLY);
    *  - the additional_information fallback fires only when the record has
    *    NO capture literal at all (in the reference, `?date` is already
    *    bound to the capture value, so the info OPTIONALs can't join),
    *    winter-first at the RECORD level: any winter-matching info value
    *    binds ?war on every surviving solution row, so continuation
    *    matches on sibling values never emit;
    *  - winter_war_collection fills only rows where no earlier OPTIONAL
    *    bound `?war`: an unparseable capture value matching no regex
    *    (per VALUE — those rows carry their own ?date), or a no-capture
    *    record where NO info value matched either regex (non-matching
    *    info values produce no solution rows of their own — the FILTER
    *    inside the OPTIONAL removes them). */
  def relatedPeriods(triples: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val persons = triples
      .filter($"pred" === NS.RDF_TYPE && $"objValue" === (NS.SCHEMA_WARSA + "PrisonerRecord"))
      .select($"subj", $"docId")

    val capture = triples.filter($"pred" === (NS.SCHEMA_POW + "date_of_capture"))
      .select($"subj", $"objValue", $"objDatatype")
    val wwcSubjects = triples
      .filter($"pred" === (NS.SCHEMA_POW + "winter_war_collection"))
      .select($"subj").distinct()

    // block 1: one war per parseable capture value
    val dated = capture.filter($"objDatatype" === NS.XSD_DATE)
      .select($"subj",
        when($"objValue" < "1941-06-24", lit(CONFLICTS + "WinterWar"))
          .otherwise(lit(CONFLICTS + "ContinuationWar")).as("war"))

    // block 2, rows with a capture literal: per-value winter-first cascade
    val undatedWar = capture
      .filter($"objDatatype".isNull || $"objDatatype" =!= NS.XSD_DATE)
      .select($"subj",
        when(lower($"objValue").rlike("talvisota|39|40"), lit(CONFLICTS + "WinterWar"))
          .when(lower($"objValue").rlike("(4[12345])|jatkosota"), lit(CONFLICTS + "ContinuationWar"))
          .as("war"))
    val undatedResolved = undatedWar.filter($"war".isNotNull)
    val undatedWwc = undatedWar.filter($"war".isNull)
      .join(wwcSubjects, Seq("subj"), "left_semi")
      .select($"subj", lit(CONFLICTS + "WinterWar").as("war"))

    // block 2, rows with NO capture literal: info fallback with
    // RECORD-level winter precedence. SPARQL algebra (period.sparql:35-48):
    // the left side entering the info OPTIONALs is ONE solution row per
    // no-capture subject with ?date/?war unbound, so
    //  - the winter-info OPTIONAL's group keeps only regex-MATCHING info
    //    values (the FILTER is inside the OPTIONAL — a non-matching
    //    sibling value never yields a solution row); if any match, the
    //    single left row expands to one row PER matching value, each with
    //    ?war=WinterWar bound;
    //  - the continuation-info OPTIONAL then finds ?war already bound on
    //    every row (incompatible with its ContinuationWar BIND), so it can
    //    fire only when NO info value matched winter;
    //  - the wwc OPTIONAL fires only when NO info value matched either
    //    regex (or the subject has no info triples at all) — never on a
    //    "sibling row" of a match, because non-matching values produce no
    //    rows.
    // (Round 3 had a per-VALUE wwc here — a record with info values
    // "palasi 1944" + "ei tietoa" + wwc wrongly gained WinterWar; Jena
    // emits only ContinuationWar. Round-4 advice item, reverted.)
    val noCapture = persons.select($"subj")
      .join(capture.select($"subj").distinct(), Seq("subj"), "left_anti")
    val infoClass = triples.filter($"pred" === (NS.SCHEMA_POW + "additional_information"))
      .join(noCapture, Seq("subj"), "left_semi")
      .groupBy($"subj")
      .agg(
        max(when($"objValue".rlike("19(39|40)"), 1).otherwise(0)).as("has_w"),
        max(when($"objValue".rlike("194[12345]"), 1).otherwise(0)).as("has_c"))
    val infoResolved = infoClass
      .select($"subj",
        when($"has_w" === 1, lit(CONFLICTS + "WinterWar"))
          .when($"has_c" === 1, lit(CONFLICTS + "ContinuationWar"))
          .as("war"))
      .filter($"war".isNotNull)
    val infoUnbound = infoClass.filter($"has_w" === 0 && $"has_c" === 0).select($"subj")
      .unionByName(noCapture
        .join(infoClass.select($"subj"), Seq("subj"), "left_anti")
        .select($"subj"))
    val noCaptureWwc = infoUnbound
      .join(wwcSubjects, Seq("subj"), "left_semi")
      .select($"subj", lit(CONFLICTS + "WinterWar").as("war"))

    dated.unionByName(undatedResolved).unionByName(undatedWwc)
      .unionByName(infoResolved).unionByName(noCaptureWwc)
      .distinct()
      .join(persons, Seq("subj"))
      .select(uri($"subj", lit(NS.SCHEMA_WARSA + "events/related_period"), $"war", $"docId"): _*)
  }

  /** construct_documents_links.sparql: records with NO person link get a
    * forward `crm:P70_documents` triple to their minted
    * `actors/person_wp<no>` — the reference concatenates this construct's
    * output into the final prisoners graph (process.sh "Constructing
    * documents links"). The `old_uri IS NULL` predicate IS the
    * `FILTER NOT EXISTS { ?sub crm:P70_documents [] }` guard
    * (construct_documents_links.sparql:21), so a re-run over state that
    * already holds the link mints nothing — idempotent by construction. */
  def documentsLinks(frame: DataFrame): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    frame.filter($"old_uri".isNull)
      .select(uri($"subj", lit(NS.CRM + "P70_documents"), $"minted_person", $"docId"): _*)
  }

  /** E21 backlink inversion: `?p crm:P70_documents ?o` →
    * `?o crm:P70i_is_documented_in ?p` (process.sh:79 sed), guarded
    * against backlinks already present in the graph — the FILTER NOT
    * EXISTS discipline of construct_documents_links.sparql:21 applied to
    * the inversion, so an incremental re-run over pre-populated state
    * (which S14 resume explicitly supports) adds zero rows. */
  def invertDocumentsLinks(triples: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val produced = triples.filter($"pred" === (NS.CRM + "P70_documents"))
      .select(uri($"objValue", lit(NS.CRM + "P70i_is_documented_in"), $"subj", $"docId"): _*)
    val existing = triples.filter($"pred" === (NS.CRM + "P70i_is_documented_in"))
      .select($"subj", $"objValue")
    // the using-join would move its keys to the front: keep the triple order
    produced.join(existing, Seq("subj", "objValue"), "left_anti")
      .select(produced.columns.map(col): _*)
  }

  /** E22 camp coordinate split: `"lat, long"` → wgs84 lat/long literals
    * (construct_camps.sparql:30-34). */
  def campCoordinates(campsGaz: DataFrame): DataFrame = {
    val spark = campsGaz.sparkSession
    import spark.implicits._
    val wgs = "http://www.w3.org/2003/01/geo/wgs84_pos#"
    val parsed = campsGaz.filter($"coordinates".isNotNull)
      .select($"uri",
        regexp_extract($"coordinates", "(\\d+\\.\\d+),", 1).as("lat"),
        regexp_extract($"coordinates", ",\\s*(\\d+\\.\\d+)", 1).as("long"))
      .filter($"lat" =!= "" && $"long" =!= "")
    parsed.select(literal($"uri", lit(wgs + "lat"), $"lat"): _*)
      .unionByName(parsed.select(literal($"uri", lit(wgs + "long"), $"long"): _*))
  }
}
