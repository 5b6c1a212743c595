package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{DocIngest, Extraction}
import graft.model.NS

/** The P/R anchor: full extraction over the reference's own CSV fixture
  * must reproduce the reference-emitted RDF
  * (reference: src/tests.py:79-100 `test_mapping_field_contents`, golden
  * test_data/prisoners.ttl, vendored as the canonical N-Triples lines of the
  * `golden_prisoners.nt` resource). The BASELINE gate is P/R ≥ 0.95; this
  * spec asserts the hard gate and prints the diff when not at 1.0.
  */
class GoldenTtlSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("doc-table ingest reads 2 docs (tests.py:74-77)") {
    val docs = DocIngest.prisonersDocs(spark)
    assert(docs.count() == 2)
    val ids = docs.select("doc_id").collect().map(_.getString(0)).sorted
    assert(ids.sameElements(Array("prisoner_1", "prisoner_2")))
  }

  test("golden triple set P/R >= 0.95 vs test_data/prisoners.ttl") {
    val lines = {
      val src = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/golden_prisoners.nt"), "UTF-8")
      try src.getLines().filter(_.nonEmpty).toSeq finally src.close()
    }
    val golden = lines.toSet
    assert(golden.size == 289 && lines.size == 289, s"${lines.size} lines, ${golden.size} distinct")

    val docs = DocIngest.prisonersDocs(spark)
    val ours = Extraction.triples(docs).collect().map(_.key).toSet

    val inter = ours.intersect(golden)
    val precision = inter.size.toDouble / ours.size
    val recall = inter.size.toDouble / golden.size

    if (precision < 1.0 || recall < 1.0) {
      println(s"--- missing from ours (${(golden -- ours).size}):")
      (golden -- ours).toSeq.sorted.take(50).foreach(println)
      println(s"--- extra in ours (${(ours -- golden).size}):")
      (ours -- golden).toSeq.sorted.take(50).foreach(println)
    }
    info(f"precision=$precision%.4f recall=$recall%.4f (ours=${ours.size}, golden=${golden.size})")
    assert(precision >= 0.95, f"precision $precision%.4f below gate")
    assert(recall >= 0.95, f"recall $recall%.4f below gate")
  }

  test("span-sequence invariant: (kind,text,media_ref,offset) stable under repartition") {
    val docs = DocIngest.prisonersDocs(spark)
    val before = docs.collect().map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    val after = docs.repartition(7).collect().map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    assert(before == after)
  }

  test("schema graph emit: one Property + lang labels per mapped field (E18)") {
    import graft.extract.FieldSpecs
    val schema = Extraction.schemaTriples(spark).collect()
    // every mapped field URI is typed rdf:Property, plus the static base
    // properties (input_rdf/schema_base.ttl:12-84)
    val typed = schema.filter(t => t.pred == NS.RDF_TYPE && t.objValue == NS.RDF_PROPERTY)
      .map(_.subj).toSet
    val baseProps = Extraction.schemaBase
      .filter(t => t.pred == NS.RDF_TYPE && t.objValue == NS.RDF_PROPERTY).map(_.subj).toSet
    val expected = FieldSpecs.prisonerFields.map(_.uri).toSet ++ baseProps
    assert(typed == expected, s"typed=${typed.size} expected=${expected.size}")
    // the static base classes ride along: PrisonerRecord subClassOf E31
    assert(schema.exists(t => t.subj == NS.SCHEMA_WARSA + "PrisonerRecord" &&
      t.pred == NS.RDFS + "subClassOf" && t.objValue == NS.CRM + "E31_Document"))
    assert(schema.exists(t => t.subj == NS.SCHEMA_WARSA + "PowCamp" &&
      t.pred == NS.RDFS + "subClassOf" && t.objValue == NS.SCHEMA_WARSA + "PowLocation"))
    // labels carry fi/en language tags (csv_to_rdf.py:367-374)
    val labels = schema.filter(_.pred == NS.SKOS_PREF_LABEL)
    assert(labels.nonEmpty && labels.forall(t => t.objLang == "fi" || t.objLang == "en"))
    // known field: date_of_birth has both language labels
    val dob = labels.filter(_.subj == NS.SCHEMA_WARSA + "date_of_birth")
      .map(t => t.objLang -> t.objValue).toMap
    assert(dob == Map("fi" -> "Syntymäpäivä", "en" -> "Date of birth"))
  }

  test("reification lookup returns the mikrofilmi source (tests.py:102-115)") {
    val docs = DocIngest.prisonersDocs(spark)
    val triples = Extraction.triples(docs).collect()
    val s = NS.DATA + "prisoner_2"
    val p = NS.SCHEMA_POW + "municipality_of_residence_literal"
    val o = "Hämeenlinna"
    val reifs = triples.filter(t => t.pred == NS.RDF_SUBJECT && t.objValue == s).map(_.subj)
      .filter { r =>
        triples.exists(t => t.subj == r && t.pred == NS.RDF_PREDICATE && t.objValue == p) &&
        triples.exists(t => t.subj == r && t.pred == NS.RDF_OBJECT && t.objValue == o)
      }.distinct
    assert(reifs.length == 1)
    val src = triples.filter(t => t.subj == reifs.head && t.pred == NS.DCT_SOURCE).map(_.objValue)
    assert(src.sameElements(Array("mikrofilmi")))
  }
}
