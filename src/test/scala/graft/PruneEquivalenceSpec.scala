package graft

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.extract.{Extraction, SynthDocs}
import graft.gazetteer.Gazetteers
import graft.model.NS
import graft.privacy.Privacy

/** The one-pass `Privacy.prunePersons` equals the join form it replaced
  * ([[PruneReference]]) as exact seven-column multisets, `docId` included:
  * on the sf0.001 corpus with two endpoint tables, on adversarial persons,
  * captivity resources and reification nodes, and on empty input. */
class PruneEquivalenceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.assertSameRows
  import spark.implicits._

  private val today = LocalDate.of(2026, 1, 1)

  private lazy val corpus =
    Extraction.triples(SynthDocs.fromDocuments(spark, SparkTestBase.corpusDir)).toDF().persist()

  private def assertPrunesLikeReference(triples: DataFrame, endpoint: DataFrame,
                                        what: String): DataFrame = {
    val got = Privacy.prunePersons(triples, endpoint, today)
    assertSameRows(got, PruneReference.prunePersons(triples, endpoint, today), what)
    got
  }

  private type Row7 = (String, String, String, Boolean, String, String, String)
  private def fixture(rows: Row7*): DataFrame =
    rows.toDF("subj", "pred", "objValue", "objIsUri", "objLang", "objDatatype", "docId")

  test("pruning equals the join form on the corpus with the casualties name counts") {
    val got = assertPrunesLikeReference(corpus, Gazetteers.casualtiesNameCounts(spark),
      "sf0.001, casualties counts")
    val flags = got.filter($"pred" === (NS.SCHEMA_POW + "personal_information_removed")).count()
    assert(flags > 0 && got.count() != corpus.count())
  }

  test("pruning equals the join form on the corpus with a two-name endpoint") {
    val endpoint = Seq(("Virtanen", 3L), ("Korhonen", 5L)).toDF("fam", "count")
    assertPrunesLikeReference(corpus, endpoint, "sf0.001, two-name endpoint")
  }

  test("pruning equals the join form on adversarial persons, captivities and reifications") {
    val (pow, warsa, label) = (NS.SCHEMA_POW, NS.SCHEMA_WARSA, NS.SKOS_PREF_LABEL)
    val (death, dob, family, capt) =
      (pow + "date_of_death", warsa + "date_of_birth", warsa + "family_name", pow + "captivity")
    def s(id: String) = NS.DATA + id
    def t(id: String, p: String, o: String, isUri: Boolean = false): Row7 =
      (s(id), p, o, isUri, null, null, id)
    def link(id: String, p: String, target: String): Row7 = t(id, p, s(target), isUri = true)
    def person(id: String, facts: (String, String)*): Seq[Row7] =
      t(id, NS.RDF_TYPE, warsa + "PrisonerRecord", isUri = true) +:
        t(id, warsa + "given_names", "Etu " + id) +: t(id, label, "Nimi " + id) +:
        t(id, pow + "cause_of_death", "syy") +: facts.map { case (p, o) => t(id, p, o) }
    def captivity(id: String, of: String, labels: String*): Seq[Row7] =
      link(of, capt, id) +: labels.map(t(id, label, _))
    // the five triples of a reification node
    def reif(id: String, subjects: Seq[String], pred: Option[String]): Seq[Row7] =
      t(id, NS.RDF_TYPE, NS.RDF_STATEMENT, isUri = true) +: t(id, NS.RDF_OBJECT, "o") +:
        t(id, NS.DCT_SOURCE, "mikrofilmi") +:
        (subjects.map(link(id, NS.RDF_SUBJECT, _)) ++ pred.map(t(id, NS.RDF_PREDICATE, _)))
    val alive = dob -> "1.1.1930"

    val rows: Seq[Row7] =
      // one person of each class
      person("pub", death -> "1.1.1942", family -> "Virtanen", dob -> "1.1.1920") ++
        person("died", death -> "1.2.1980", family -> "Heino", pow + "additional_information" -> "x") ++
        person("undated", death -> "tuntematon") ++
        // possibly alive with 0, 1 and 2 family names, common and uncommon
        person("a0", alive) ++
        person("a1c", alive, family -> "Virtanen") ++
        person("a1u", alive, family -> "Harvinainen") ++
        person("a2", alive, family -> "Virtanen", family -> "Harvinainen") ++
        person("a2c", alive, family -> "Virtanen", family -> "Korhonen") ++
        person("anull", alive) ++ Seq((s("anull"), family, null, false, null, null, "anull")) ++
        // endpoint 2 + 2 local rows = 4: common; 2 + 1 = 3 and an
        // endpoint count of 1 with 5 local rows: uncommon
        person("lahti", alive, family -> "Lahti") ++ person("lahti2", death -> "1.1.1941",
          family -> "Lahti") ++
        person("maki", alive, family -> "Mäki") ++
        person("lampi", alive, family -> "Lampi") ++
        (1 to 4).map(i => t(s"lampi_rec$i", family, "Lampi")) ++
        // captivity resources of possibly-alive, died-recently and public
        // persons, with and without a common name; one shared; one whose
        // resource is itself a person; one null
        captivity("c_a0", "a0", "Vankeus a0") ++ captivity("c_a1c", "a1c", "Vankeus a1c") ++
        captivity("c_a1u", "a1u", "Vankeus a1u") ++ captivity("c_a2", "a2", "Vankeus a2") ++
        captivity("c_died", "died", "Vankeus died") ++ captivity("c_pub", "pub", "Vankeus pub") ++
        captivity("c_shared", "pub") ++ captivity("c_shared", "a2c", "Vankeus jaettu") ++
        captivity("dual", "a0") ++ person("dual", death -> "1.1.1943") ++
        Seq((s("a1c"), capt, null, true, null, null, "a1c")) ++
        // reification nodes: hidden and kept predicates, two subjects,
        // a missing rdf:predicate, a captivity label
        reif("r_died_cause", Seq("died"), Some(pow + "cause_of_death")) ++
        reif("r_died_given", Seq("died"), Some(warsa + "given_names")) ++
        reif("r_pub_cause", Seq("pub"), Some(pow + "cause_of_death")) ++
        reif("r_a1u_family", Seq("a1u"), Some(family)) ++
        reif("r_a1c_family", Seq("a1c"), Some(family)) ++
        reif("r_two", Seq("pub", "a0"), Some(warsa + "given_names")) ++
        reif("r_nopred", Seq("a0"), None) ++
        reif("r_capt_label", Seq("c_a0"), Some(label)) ++
        Seq(t("notperson", family, "Harvinainen"), t("notperson", pow + "cause_of_death", "y"))
    val triples = fixture(rows: _*)
    val endpoint = Seq(("Virtanen", 3L), ("Korhonen", 5L), ("Lahti", 2L), ("Mäki", 2L),
      ("Lampi", 1L)).toDF("fam", "count")
    val got = assertPrunesLikeReference(triples, endpoint, "adversarial fixture")

    val out = got.select("subj", "pred", "objValue").as[(String, String, String)].collect()
      .map { case (x, p, o) => (Option(x).map(_.stripPrefix(NS.DATA)).orNull, p, o) }.toSet
    def labels(id: String) = out.collect { case (`id`, `label`, o) => o }
    def subjects = out.map(_._1)
    assert(labels("c_a0") == Set("Henkilön sotavankeus", "Person's captivity"))
    assert(labels("c_a1c") == Set("Henkilön Virtanen sotavankeus", "Person's Virtanen captivity"))
    assert(labels("c_a2") == Set("Henkilön sotavankeus", "Person's captivity",
      "Henkilön Virtanen sotavankeus", "Person's Virtanen captivity"))
    assert(labels("c_died") == Set("Vankeus died") && labels("c_pub") == Set("Vankeus pub"))
    assert(labels("c_shared").size == 4 && !labels("c_shared").contains("Vankeus jaettu"))
    assert(labels("a2") == Set("Nimi rajoitettu", "Virtanen"))
    assert(labels("lahti") == Set("Lahti") && labels("maki") == Set("Nimi rajoitettu"))
    assert(labels("lampi") == Set("Nimi rajoitettu") && labels("anull") == Set("Nimi rajoitettu"))
    assert(labels("dual") == Set("Henkilön sotavankeus", "Person's captivity"))
    assert(!subjects.contains("r_died_cause") && subjects.contains("r_died_given"))
    assert(subjects.contains("r_pub_cause") && !subjects.contains("r_a1u_family"))
    assert(subjects.contains("r_a1c_family") && !subjects.contains("r_two"))
    assert(subjects.contains("r_nopred") && subjects.contains("r_capt_label"))
    // a1c's null captivity object names no resource: no label is minted for it
    assert(!subjects.contains(null), out.filter(_._1 == null))
  }

  test("pruning equals the join form on empty input") {
    val got = assertPrunesLikeReference(fixture(), Gazetteers.casualtiesNameCounts(spark), "empty")
    assert(got.isEmpty)
  }

  test("pruning scans its parquet input at most 10 times and caches nothing") {
    // over a parquet snapshot, as the pipeline's pruning stage reads it
    SparkTestBase.withTempDir("graft_prune") { dir =>
      corpus.write.parquet(s"$dir/extract")
      val pruned = Privacy.prunePersons(spark.read.parquet(s"$dir/extract"),
        Gazetteers.casualtiesNameCounts(spark), today)
      pruned.queryExecution.toRdd.count()
      // the final plan's nodes, a reused exchange as one leaf; `expand`
      // also walks the subtree each reused exchange stands for
      def nodes(p: SparkPlan, expand: Boolean): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, expand)
        case s: QueryStageExec => nodes(s.plan, expand)
        case r: ReusedExchangeExec => if (expand) nodes(r.child, expand) else Nil
        case _ => p.children.flatMap(nodes(_, expand))
      })
      val plan = pruned.queryExecution.executedPlan
      val all = nodes(plan, expand = false)
      val scans = nodes(plan, expand = true).count(_.isInstanceOf[FileSourceScanExec])
      info(s"${all.size} plan nodes, $scans scans of the input")
      assert(scans <= 10, s"the input is scanned $scans times")
      assert(all.size <= 150, s"the plan has ${all.size} nodes")
      assert(!all.exists(_.isInstanceOf[InMemoryTableScanExec]), "pruning should not cache")
    }
  }
}
