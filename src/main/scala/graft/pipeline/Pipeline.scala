package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents
import graft.erlink.RecordLinkage
import graft.events.Events
import graft.extract.{CampConversion, Extraction}
import graft.gazetteer.Gazetteers
import graft.link.Linkers
import graft.model.{NS, Triples}
import graft.privacy.Privacy
import org.apache.spark.sql.graftbridge.Bridge

/** The full KG-construction pipeline: extract → prune → link → er-link →
  * canonicalize → materialize events → final predicate-partitioned store.
  *
  * This is the Spark re-expression of the reference's `process.sh` DAG
  * (reference: process.sh:19-137): the reference's per-stage TTL files +
  * Fuseki round-trips become versioned snapshot tables; stage boundaries
  * are exactly the places the reference could resume from, so resume-from-
  * checkpoint falls out of the snapshot layer (kill the JVM anywhere — on
  * restart, committed stages are read back, the interrupted stage recomputes).
  *
  * Stage manifests carry row counts only (`rows`, and the `triples`,
  * `errors` or `links` count a stage observes). Data-quality counters —
  * extraction error rate, per-task link hit counts (the reference's log
  * counters, linker.py:309-311) — are not recorded yet (ROADMAP item 6).
  *
  * Shuffle budget (SURVEY.md §4): extraction is narrow; every gazetteer
  * join broadcasts; the only wide exchanges are the triple-set dedup, the
  * ER candidate join (salted), connected components (iterative), and the
  * final `partitionBy(pred_key)` write.
  *
  * Codegen only for extraction. A cold run on a small input is mostly a
  * compile run: with codegen in every stage a 500-document run compiles
  * about 520 Janino classes at about 30 ms each, while the data would take
  * the interpreted operators a few seconds. So every stage but `extract`
  * and `extract_errors` plans in a private clone of the caller's session
  * with codegen off ([[Bridge.withoutCodegen]]); the two extraction stages
  * keep the caller's session, since their cost is the per-document span
  * dispatch, whatever the input size, and their plans compile few classes
  * (about 24). Generated code wins its compile time back only on large
  * inputs: on 4 slots a cold run planned this way was not slower than one
  * with codegen in every stage up to 20,000 documents, and about 8% slower
  * at 50,000 (about 1.5 M extracted triples; ROADMAP item 8).
  * The caller's session is never changed, its query-execution listeners
  * see every stage write (the clone copies them), and the result is
  * returned as a frame of the caller's session.
  */
object Pipeline {

  /** Derived physical partition key: predicate local name (the north
    * rule's "partitioned by predicate"; raw URIs make bad dir names). */
  def withPredKey(df: DataFrame): DataFrame =
    df.withColumn("pred_key", regexp_replace(
      regexp_extract(col("pred"), "([^/#]+)[/#]?$", 1), "[^A-Za-z0-9_.-]", "_"))

  /** `requestedToday` is the privacy-cutoff reference date; the EFFECTIVE
    * date is pinned per workDir on first run (`SnapshotStore.pinRunDate`),
    * so a kill-and-resume across midnight — or a caller passing a
    * different date to a half-finished workDir — still classifies privacy
    * exactly like the uninterrupted first run. Callers must choose the
    * date explicitly (no `LocalDate.now()` default: a wall-clock default
    * at this entrypoint is precisely the nondeterminism the snapshot
    * contract forbids). */
  def run(spark: SparkSession, docs: DataFrame, workDir: String,
          requestedToday: java.time.LocalDate): DataFrame = {
    import spark.implicits._
    // every stage plans in `s` but extraction, whose write plans in the
    // session of `docs`; the store reads each snapshot back in `s`
    val s = Bridge.withoutCodegen(spark)
    val store = new SnapshotStore(s, workDir)
    val today = store.pinRunDate(requestedToday)

    // a bounded static graph, written as one file (a local relation scans
    // as up to defaultParallelism partitions; coalesce adds no shuffle and
    // no job)
    def staticGraph(name: String)(graph: => DataFrame): Unit =
      store.stage(name, metrics = Seq("triples" -> count(lit(1))))(graph.coalesce(1))

    // -- 0. camps & hospitals conversion (process.sh:20-23; convert.sh
    // camps flow): raw row-numbered triples -> E19 re-mint under the
    // slugified camp/hospital URI space -> camp CONSTRUCT (labels +
    // wgs84 coordinates). A separate graph, like the reference's
    // camps.ttl/warsa graph — the camp LINKER's gazetteer shares its URI
    // minting rule, so location links resolve into this graph. Like the
    // schema and media graphs it reads no document: it is built on the
    // driver as a local relation, and the stage runs one Spark job, the
    // snapshot write.
    staticGraph("camps") {
      CampConversion.campGraph(Gazetteers.rawCampTriples(s))
    }

    // -- 0b. schema graph (csv_to_rdf.py --outschema + schema_base.ttl) ---
    staticGraph("schema") {
      Extraction.schemaTriples(s).toDF()
    }

    // -- 1. extraction, in the caller's session (the session of `docs`) --
    val extracted = store.stage("extract",
      metrics = Seq("triples" -> count(lit(1))), sortCols = Seq("pred")) {
      Extraction.triples(docs).toDF()
    }
    store.stage("extract_errors",
      metrics = Seq("errors" -> count(lit(1)))) {
      Extraction.errors(docs).toDF()
    }

    // -- 2. privacy pruning (process.sh:25-28 runs before linking); the
    // casualties name-count gazetteer plays the WarSampo SPARQL role in
    // the common-name rule (prune_nonpublic.py:149-175)
    val pruned = store.stage("pruned", sortCols = Seq("pred")) {
      Privacy.prunePersons(extracted, Gazetteers.casualtiesNameCounts(s), today)
    }

    // -- 3. linking (process.sh:30-96) ------------------------------------
    // media linkers return (links, media-doc entities): links join the
    // prisoners graph (…_links.ttl files), entities go to the separate
    // media stage below (prisoners_media.ttl, process.sh:126-128)
    val magazines = Linkers.linkMagazines(pruned, Gazetteers.magazineIndex(s))
    val personDocs = Linkers.linkPersonDocuments(Gazetteers.personDocumentPaths(s))
    val videos = Linkers.linkVideos(Gazetteers.videoIndex(s), Gazetteers.videoLabels(s))
    val linked = store.stage("linked", metrics = Seq("links" -> count(lit(1)))) {
      val periods = Linkers.docPeriods(pruned)
      val dictionaries = Seq(Linkers.rankTask(Gazetteers.ranks(s)),
        Linkers.campTask(Gazetteers.camps(s))) ++
        Linkers.municipalityTasks(Gazetteers.municipalities(s)) :+
        Linkers.pnrDeathTask(Gazetteers.pnrPlaces(s))
      val links =
        Linkers.linkDictionary(pruned, dictionaries)
          .unionByName(Linkers.linkOccupations(pruned, Gazetteers.occupations(s)))
          .unionByName(Linkers.linkUnits(pruned, Gazetteers.units(s), periods, Gazetteers.unitClasses(s)))
          .unionByName(magazines._1)
          .unionByName(personDocs._1)
          .unionByName(videos._1)
          // hand-curated extra links (input_rdf/additional_links.ttl,
          // cat'd into the graph at process.sh:78,96)
          .unionByName(Gazetteers.additionalLinks(s))
      links
    }

    // -- 3b. media graph: magazine/person-document/video doc entities -----
    staticGraph("media") {
      Linkers.mediaGraph(magazines._2, personDocs._2, videos._2)
    }

    // -- 4. person record linkage (J9) ------------------------------------
    val personLinks = store.stage("person_links",
      metrics = Seq("links" -> count(lit(1)))) {
      RecordLinkage.linkPersons(pruned.unionByName(linked),
        Gazetteers.ranks(s), Gazetteers.persons(s))
    }

    // -- 5. sources rewrite (linker.py:453-509, in-place) -----------------
    val withSources = store.stage("sourced", sortCols = Seq("pred")) {
      val all = pruned.unionByName(linked).unionByName(personLinks)
      val (added, removed) = Linkers.linkSources(all, Gazetteers.sourcesRegister(s))
      all.join(removed,
          Seq("subj", "pred", "objValue", "objIsUri", "objLang", "objDatatype", "docId"),
          "left_anti")
        .unionByName(added)
        .transform(Triples.distinct)
    }

    // -- 6. canonicalization (connected components over person links) -----
    val canonical = store.stage("canonical", sortCols = Seq("pred")) {
      val edges = ConnectedComponents.edgesFromLinks(
        withSources.filter($"pred" === (NS.CRM + "P70_documents")))
      ConnectedComponents.canonicalizeTriples(withSources, edges)
    }

    // -- 7. event materialization (process.sh:98-124) ---------------------
    // record_frame is its own snapshot stage: eight event constructors
    // consume it, and as a lazy plan the person-wide aggregation over the
    // whole canonical triple set would re-execute once PER constructor
    // inside the events write job. A materialized (and resumable) snapshot
    // is the scale-correct sharing mechanism — unlike executor-local
    // caching it survives executor loss and the write job reads it like
    // any other columnar input.
    // NESTED inside the events compute block: when 'events' is already
    // committed (resume), its by-name body never evaluates, so the
    // record_frame stage — whose only consumer is this block — is neither
    // computed nor written; a fresh run still materializes it first, and a
    // kill between the two commits resumes from the record_frame snapshot.
    val withEvents = store.stage("events") {
      val frame = store.stage("record_frame") {
        Events.recordFrame(canonical)
      }
      val none = canonical.limit(0)
      val mediaPreds = Seq(NS.SCHEMA_WARSA + "sotilaan_aani_magazine",
        NS.SCHEMA_WARSA + "person_document", NS.SCHEMA_WARSA + "documented_in_video",
        NS.BIOC + "has_occupation")
      val linkedMedia = canonical.filter($"pred".isin(mediaPreds: _*))
      val events =
        Events.people(frame, linkedMedia)
          .unionByName(Events.births(frame, none))
          .unionByName(Events.deaths(frame, none))
          .unionByName(Events.captures(frame))
          .unionByName(Events.disappearances(frame, none))
          .unionByName(Events.promotions(canonical, frame, Gazetteers.ranks(s)))
          .unionByName(Events.unitJoinings(canonical, frame))
          .unionByName(Events.relatedPeriods(canonical))
          .unionByName(Events.documentsLinks(frame))
          .unionByName(Events.invertDocumentsLinks(canonical))
          .unionByName(Events.campCoordinates(Gazetteers.camps(s)))
      canonical.unionByName(events)
        .transform(Triples.distinct)
    }

    // -- 8. final store: triples partitioned by predicate -----------------
    // repartition on (pred_key, 8-way salt) before the partitioned write:
    // without it every upstream shuffle partition holding rows of a
    // predicate opens its own file under that predicate's directory —
    // #shuffle-partitions × #predicates small files (at 1000 executors,
    // ~hundreds of thousands), which also serializes the manifest's
    // footer-lineage pass. The salt keeps a hot predicate (rdf:type holds
    // ~15% of all triples) spread over 8 writer tasks instead of one.
    val result = store.stage("final", partitionCols = Seq("pred_key"),
      metrics = Seq("triples" -> count(lit(1)))) {
      withPredKey(withEvents)
        .repartition(col("pred_key"), pmod(xxhash64(col("subj")), lit(8)))
    }
    Bridge.rooted(spark, result)
  }
}
