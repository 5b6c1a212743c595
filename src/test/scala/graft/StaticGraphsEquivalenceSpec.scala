package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.extract.{CampConversion, Extraction, SynthDocs}
import graft.gazetteer.Gazetteers
import graft.link.Linkers
import graft.model.{NS, RdfTriple}
import graft.pipeline.SnapshotStore

/** The static graphs built on the driver — camp re-minting and CONSTRUCT,
  * the three media linkers and the media graph — equal their Spark
  * reference ([[StaticGraphsReference]]) as exact multisets, and building
  * the camps, schema and media stage frames runs no Spark job. */
class StaticGraphsEquivalenceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.assertSameRows
  import spark.implicits._

  private val (pow, camp, hospital) =
    (NS.SCHEMA_POW, NS.SCHEMA_WARSA + "PowCamp", NS.SCHEMA_WARSA + "PowHospital")

  private def tdf(rows: (String, String, String, Boolean)*): DataFrame =
    rows.map { case (s, p, o, u) => (s, p, o, u, null: String, null: String, "") }
      .toDF("subj", "pred", "objValue", "objIsUri", "objLang", "objDatatype", "docId")

  /** Every camp function, one at a time and chained, against the reference. */
  private def assertCampsMatch(raw: DataFrame, what: String): Unit = {
    for ((cls, prefix) <- Seq(camp -> "camp_", hospital -> "hospital_")) {
      def remint(f: (DataFrame, String, String, String, String) => DataFrame) =
        f(raw, cls, pow + "camp_id", pow + "captivity_location", NS.DATA + prefix)
      assertSameRows(remint(CampConversion.remintSubjects),
        remint(StaticGraphsReference.remintSubjects), s"$what: remint $prefix")
    }
    assertSameRows(CampConversion.constructCamps(raw),
      StaticGraphsReference.constructCamps(raw), s"$what: constructCamps")
    assertSameRows(CampConversion.campGraph(raw),
      StaticGraphsReference.campGraph(raw), s"$what: camps graph")
  }

  test("camps graph equals the reference on the real gazetteer") {
    val raw = Gazetteers.rawCampTriples(spark)
    assertCampsMatch(raw, "gazetteer")
    val rows = CampConversion.campGraph(raw).as[RdfTriple].collect()
    assert(rows.length > raw.count())
    // every static triple is global: docId "" makes case-class identity
    // and triple identity the same
    assert(rows.forall(_.docId == ""))
  }

  test("camps functions equal the reference on the CampConversionSpec fixtures") {
    val cls = NS.SCHEMA_WARSA + "PowCamp"
    val remintFixture = tdf(
      ("urn:row1", NS.RDF_TYPE, cls, true),
      ("urn:row1", "urn:p:numero", "74", false),
      ("urn:row1", "urn:p:paikka", "Oranki", false),
      ("urn:row2", NS.RDF_TYPE, cls, true),
      ("urn:row2", "urn:p:paikka", "Vienan Kemi", false),
      ("urn:other", "urn:p:x", "y", false))
    assertSameRows(
      CampConversion.remintSubjects(remintFixture, cls, "urn:p:numero", "urn:p:paikka", NS.DATA + "camp_"),
      StaticGraphsReference.remintSubjects(remintFixture, cls, "urn:p:numero", "urn:p:paikka",
        NS.DATA + "camp_"), "remint fixture")
    val noise1 = pow + "huomautuksia-poistetaan-kun-asiat-on-kayty-lapi"
    val noise2 = pow + "poistettava-tyosarake"
    assertCampsMatch(tdf(
      ("urn:c1", NS.RDF_TYPE, camp, true),
      ("urn:c1", pow + "captivity_location", "Leiri A", false),
      ("urn:c1", pow + "captivity_location", "Leiri B", false),
      ("urn:c1", noise1, "drop-me", false),
      ("urn:c1", noise2, "keep-me-in-camp-branch", false),
      ("urn:c1", pow + "coordinates", "ei tiedossa", false),
      ("urn:c2", NS.RDF_TYPE, camp, true),
      ("urn:c2", pow + "camp_id", "99", false),
      ("urn:h1", NS.RDF_TYPE, hospital, true),
      ("urn:h1", pow + "hospital_type", "sairaala", false),
      ("urn:h1", pow + "camp_id", "7", false),
      ("urn:h1", noise1, "keep-me-in-hospital-branch", false),
      ("urn:h1", noise2, "drop-me", false),
      ("urn:h1", pow + "coordinates", "61.52, 29.31", false)), "construct fixture")
  }

  test("camps functions equal the reference on adversarial rows") {
    // U+FFFD sorts before U+1F600 by code point (Spark's min) but after
    // its surrogate pair in UTF-16 (String.compareTo)
    val (replacement, emoji) = ("\uFFFDb", "\uD83D\uDE00c")
    val rows = tdf(
      ("urn:c1", NS.RDF_TYPE, camp, true),
      ("urn:c1", pow + "camp_id", emoji, false),
      ("urn:c1", pow + "camp_id", replacement, false),
      ("urn:c1", pow + "captivity_location", "Leiri", false),
      ("urn:c1", pow + "coordinates", "ei tiedossa, 34.55", false), // misses the lat pattern
      ("urn:c1", pow + "huomautuksia-poistetaan-kun-asiat-on-kayty-lapi", "x", false),
      // no captivity_location: emits nothing; null camp_id mints "unknown"
      ("urn:c2", NS.RDF_TYPE, camp, true),
      ("urn:c2", pow + "camp_id", null, false),
      // URI-valued and null locations: no label from either, and both
      // satisfy the required pattern; re-mints onto c2's "unknown" URI
      ("urn:c3", NS.RDF_TYPE, camp, true),
      ("urn:c3", pow + "captivity_location", "http://example.org/place", true),
      ("urn:c3", pow + "captivity_location", null, false),
      ("urn:c3", pow + "coordinates", null, false),
      ("urn:c4", NS.RDF_TYPE, camp, true),
      ("urn:c4", pow + "camp_id", "4", false),
      ("urn:c4", pow + "captivity_location", "Leiri D", false),
      ("urn:c4", pow + "coordinates", "61.5, ei", false), // misses the long pattern
      ("urn:c4", pow + "coordinates", "http://example.org/coords", true),
      // 2 x 2 OPTIONAL (hospital_type, camp_id) combinations, one URI-valued
      ("urn:h1", NS.RDF_TYPE, hospital, true),
      ("urn:h1", pow + "hospital_type", "sairaala", false),
      ("urn:h1", pow + "hospital_type", "http://example.org/type", true),
      ("urn:h1", pow + "camp_id", "7", false),
      ("urn:h1", pow + "camp_id", "8", false),
      ("urn:h1", pow + "captivity_location", "Sairaala", false),
      ("urn:h1", pow + "coordinates", "61.52, 29.31", false),
      ("urn:h1", pow + "poistettava-tyosarake", "x", false),
      // null hospital_type, no camp_id: the empty label
      ("urn:h2", NS.RDF_TYPE, hospital, true),
      ("urn:h2", pow + "hospital_type", null, false),
      ("urn:h2", pow + "captivity_location", "Toinen sairaala", false),
      ("urn:other", "urn:p:x", "y", false))
    assertCampsMatch(rows, "adversarial")
    val minted = CampConversion.campGraph(rows).select("subj").distinct().as[String].collect().toSet
    assert(minted.contains(NS.DATA + "camp_b") && !minted.contains(NS.DATA + "camp_c"),
      s"code-point min expected: $minted")
    assertCampsMatch(Seq.empty[RdfTriple].toDF(), "empty input")
  }

  test("every camp gazetteer URI is a subject of the camps graph") {
    val subjects = CampConversion.campGraph(Gazetteers.rawCampTriples(spark))
      .select("subj").as[String].collect().toSet
    val uris = Gazetteers.camps(spark).select("uri").as[String].collect()
    assert(uris.nonEmpty && uris.forall(subjects), uris.filterNot(subjects).mkString(", "))
  }

  test("media linkers and the media graph equal the reference") {
    val docs = SynthDocs.fromDocuments(spark, SparkTestBase.corpusDir)
    val triples = Extraction.triples(docs).toDF()
      .unionByName(tdf(
        (NS.DATA + "p1", pow + "sotilaan_aani", " nro 5/1942 ", false),
        (NS.DATA + "p1", pow + "photograph_sotilaan_aani", "dup", false)))
    val magazineIndex = Gazetteers.magazineIndex(spark)
      .unionByName(Seq(("dup", "1941", "001"), ("\tdup\n", "1941", "002"), (null, "1942", "003"))
        .toDF("viite", "hakemisto", "tiedostonimi"))
    val paths = Gazetteers.personDocumentPaths(spark).unionByName(Seq(
      "data/person_documents/returned/12345_x.pdf", "x/data/person_documents/other/9_a.pdf.bak",
      "data/person_documents/returned/1_palautetut.pdf", null).toDF("path"))
    val videoIndex = Gazetteers.videoIndex(spark).unionByName(Seq(
      ("3", " a.mp4 ,, b .mp4,", NS.ACTORS + "person_9"), (null, null, null), ("4", "a.mp4", null))
      .toDF("nro", "video_files", "warsa_uri"))
    val videoLabels = Gazetteers.videoLabels(spark).unionByName(
      Seq(("a.mp4", "A"), ("a.mp4", "A2"), (null, "orphan")).toDF("video_file", "label"))

    val cases = Seq(
      ("magazines", Linkers.linkMagazines(triples, Gazetteers.magazineIndex(spark)),
        StaticGraphsReference.linkMagazines(triples, Gazetteers.magazineIndex(spark))),
      ("magazines, adversarial", Linkers.linkMagazines(triples, magazineIndex),
        StaticGraphsReference.linkMagazines(triples, magazineIndex)),
      ("person documents", Linkers.linkPersonDocuments(Gazetteers.personDocumentPaths(spark)),
        StaticGraphsReference.linkPersonDocuments(Gazetteers.personDocumentPaths(spark))),
      ("person documents, adversarial", Linkers.linkPersonDocuments(paths),
        StaticGraphsReference.linkPersonDocuments(paths)),
      ("videos", Linkers.linkVideos(Gazetteers.videoIndex(spark), Gazetteers.videoLabels(spark)),
        StaticGraphsReference.linkVideos(Gazetteers.videoIndex(spark), Gazetteers.videoLabels(spark))),
      ("videos, adversarial", Linkers.linkVideos(videoIndex, videoLabels),
        StaticGraphsReference.linkVideos(videoIndex, videoLabels)))
    for ((what, (links, entities), (refLinks, refEntities)) <- cases) {
      assert(links.count() > 0 && entities.count() > 0, what)
      assertSameRows(links, refLinks, s"$what: links")
      assertSameRows(entities, refEntities, s"$what: entities")
    }
    // the media stage: the entities of the gazetteer linkers, and of the
    // adversarial ones, as one set
    for (group <- Seq(Seq(0, 2, 4), Seq(1, 3, 5)).map(_.map(cases))) {
      val media = Linkers.mediaGraph(group.map(_._2._2): _*)
      assert(media.as[RdfTriple].collect().forall(_.docId == ""))
      assertSameRows(media, StaticGraphsReference.mediaGraph(group.map(_._3._2): _*), "media graph")
    }
  }

  test("building the camps, schema and media frames runs no job; each write runs one") {
    var frames = Seq.empty[(String, DataFrame)]
    val built = SparkTestBase.jobsOf {
      frames = Seq(
        "camps" -> CampConversion.campGraph(Gazetteers.rawCampTriples(spark)),
        "schema" -> Extraction.schemaTriples(spark).toDF(),
        "media" -> Linkers.mediaGraph(
          Linkers.linkMagazines(Gazetteers.additionalLinks(spark), Gazetteers.magazineIndex(spark))._2,
          Linkers.linkPersonDocuments(Gazetteers.personDocumentPaths(spark))._2,
          Linkers.linkVideos(Gazetteers.videoIndex(spark), Gazetteers.videoLabels(spark))._2))
    }
    assert(built == 0, s"building the static frames ran $built Spark jobs")
    SparkTestBase.withTempDir("graft_static") { dir =>
      val store = new SnapshotStore(spark, dir)
      for ((stage, df) <- frames) {
        val n = SparkTestBase.jobsOf(store.write(stage, df))
        assert(n == 1, s"writing the $stage stage ran $n Spark jobs")
      }
    }
  }
}
