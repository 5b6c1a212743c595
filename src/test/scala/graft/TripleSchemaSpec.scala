package graft

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Encoders}

import graft.canon.ConnectedComponents
import graft.erlink.RecordLinkage
import graft.events.Events
import graft.extract.{CampConversion, Extraction, SynthDocs}
import graft.gazetteer.Gazetteers
import graft.link.Linkers
import graft.model.{NS, RdfTriple, Triples}
import graft.privacy.Privacy

/** One triple format: every public triple producer returns exactly the
  * [[RdfTriple]] columns, names and types in order, and [[Triples.distinct]]
  * is set semantics over the six identity columns. Producers run on the
  * sf0.001 corpus. */
class TripleSchemaSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val expected =
    Encoders.product[RdfTriple].schema.map(f => f.name -> f.dataType)

  private def producers: Seq[(String, DataFrame)] = {
    val docs = SynthDocs.fromDocuments(spark, SparkTestBase.corpusDir)
    val triples = Extraction.triples(docs).toDF()
    val ranks = Gazetteers.ranks(spark)
    val raw = Gazetteers.rawCampTriples(spark)
    val camps = CampConversion.remintSubjects(raw, NS.SCHEMA_WARSA + "PowCamp",
      NS.SCHEMA_POW + "camp_id", NS.SCHEMA_POW + "captivity_location", NS.DATA + "camp_")
    val (magazineLinks, magazineDocs) = Linkers.linkMagazines(triples, Gazetteers.magazineIndex(spark))
    val (personDocLinks, personDocs) =
      Linkers.linkPersonDocuments(Gazetteers.personDocumentPaths(spark))
    val (videoLinks, videoDocs) =
      Linkers.linkVideos(Gazetteers.videoIndex(spark), Gazetteers.videoLabels(spark))
    val (sourced, sourceLiterals) = Linkers.linkSources(triples, Gazetteers.sourcesRegister(spark))
    val frame = Events.recordFrame(triples)
    val none = triples.limit(0)
    Seq(
      "Extraction.triples" -> triples,
      "Extraction.schemaTriples" -> Extraction.schemaTriples(spark).toDF(),
      "Gazetteers.rawCampTriples" -> raw,
      "Gazetteers.additionalLinks" -> Gazetteers.additionalLinks(spark),
      "CampConversion.remintSubjects" -> camps,
      "CampConversion.constructCamps" -> CampConversion.constructCamps(camps),
      "Privacy.prunePersons" ->
        Privacy.prunePersons(triples, Gazetteers.casualtiesNameCounts(spark), LocalDate.of(2026, 1, 1)),
      "Linkers.linkDictionary" -> Linkers.linkDictionary(triples,
        Seq(Linkers.rankTask(ranks), Linkers.campTask(Gazetteers.camps(spark)))),
      "Linkers.linkCamps" -> Linkers.linkCamps(triples, Gazetteers.camps(spark)),
      "Linkers.linkMunicipalities" -> Linkers.linkMunicipalities(triples, Gazetteers.municipalities(spark)),
      "Linkers.linkPnrDeathMunicipality" ->
        Linkers.linkPnrDeathMunicipality(triples, Gazetteers.pnrPlaces(spark)),
      "Linkers.linkRanks" -> Linkers.linkRanks(triples, ranks),
      "Linkers.linkFuzzyByLabel" -> Linkers.linkFuzzyByLabel(triples,
        NS.SCHEMA_POW + "occupation_literal", NS.BIOC + "has_occupation",
        Gazetteers.occupations(spark), 0.84, "levenshtein"),
      "Linkers.linkOccupations" -> Linkers.linkOccupations(triples, Gazetteers.occupations(spark)),
      "Linkers.linkUnits" -> Linkers.linkUnits(triples, Gazetteers.units(spark),
        Linkers.docPeriods(triples), Gazetteers.unitClasses(spark)),
      "Linkers.linkMagazines links" -> magazineLinks,
      "Linkers.linkMagazines documents" -> magazineDocs,
      "Linkers.linkPersonDocuments links" -> personDocLinks,
      "Linkers.linkPersonDocuments documents" -> personDocs,
      "Linkers.linkVideos links" -> videoLinks,
      "Linkers.linkVideos documents" -> videoDocs,
      "Linkers.linkSources rewritten" -> sourced,
      "Linkers.linkSources removed" -> sourceLiterals,
      "RecordLinkage.linkPersons" -> RecordLinkage.linkPersons(triples, ranks, Gazetteers.persons(spark)),
      "ConnectedComponents.canonicalizeTriples" -> ConnectedComponents.canonicalizeTriples(triples,
        ConnectedComponents.edgesFromLinks(Gazetteers.additionalLinks(spark))),
      "Events.people" -> Events.people(frame, triples.filter($"pred" === (NS.BIOC + "has_occupation"))),
      "Events.births" -> Events.births(frame, none),
      "Events.deaths" -> Events.deaths(frame, none),
      "Events.captures" -> Events.captures(frame),
      "Events.disappearances" -> Events.disappearances(frame, none),
      "Events.promotions" -> Events.promotions(triples, frame, ranks),
      "Events.unitJoinings" -> Events.unitJoinings(triples, frame),
      "Events.relatedPeriods" -> Events.relatedPeriods(triples),
      "Events.documentsLinks" -> Events.documentsLinks(frame),
      "Events.invertDocumentsLinks" -> Events.invertDocumentsLinks(triples),
      "Events.campCoordinates" -> Events.campCoordinates(Gazetteers.camps(spark)),
    )
  }

  test("every public triple producer returns exactly the RdfTriple columns and types") {
    val wrong = producers.collect {
      case (name, df) if df.schema.map(f => f.name -> f.dataType) != expected =>
        s"$name: ${df.schema.simpleString}"
    }
    if (wrong.nonEmpty) fail(s"expected ${expected.mkString(", ")}; got\n${wrong.mkString("\n")}")
  }

  test("Triples.distinct merges rows that differ only in docId, keeps NULL vs tagged lang") {
    val rows = Seq(
      RdfTriple.lit("urn:s", "urn:p", "o", docId = "d1"),
      RdfTriple.lit("urn:s", "urn:p", "o", docId = "d2"),
      RdfTriple.langLit("urn:s", "urn:p", "o", "fi", docId = "d1"),
      RdfTriple.uri("urn:s", "urn:p", "o", docId = "d1"))
    val out = Triples.distinct(rows.toDF()).as[RdfTriple].collect()
    assert(out.map(_.copy(docId = "")).toSet ==
      rows.map(_.copy(docId = "")).toSet, out.mkString("\n"))
    assert(out.length == 3, out.mkString("\n"))
    assert(out.count(_.objLang == null) == 2 && out.count(_.objLang == "fi") == 1,
      out.mkString("\n"))
  }
}
