package graft

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.erlink.RecordLinkage
import graft.extract.{Extraction, SynthDocs}
import graft.functions.Converters
import graft.gazetteer.Gazetteers
import graft.link.{Closure, Linkers, Normalize}
import graft.model.NS
import graft.privacy.Privacy

/** The one-pass forms — the pivoted `RecordLinkage.prisonerFeatures` and
  * `Privacy.classify`, the batched `Linkers.linkDictionary` and the
  * driver-side `Closure.reflexiveTransitive` — pinned row for row against
  * the plain forms they replaced (kept below as references): one
  * filter → aggregate → join chain per predicate or per gazetteer, and an
  * iterative self-join closure. Checked on the sf0.001 corpus and on
  * adversarial fixtures. */
class OnePassEquivalenceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.assertSameRows
  import spark.implicits._

  private val today = LocalDate.of(2026, 1, 1)

  private lazy val corpus =
    Extraction.triples(SynthDocs.fromDocuments(spark, SparkTestBase.corpusDir)).toDF().persist()

  /** The corpus as person record linkage sees it: pruned, plus links. */
  private lazy val linkedCorpus = {
    val pruned = Privacy.prunePersons(corpus, Gazetteers.casualtiesNameCounts(spark), today)
    pruned.unionByName(Linkers.linkRanks(pruned, Gazetteers.ranks(spark)))
      .unionByName(Linkers.linkMunicipalities(pruned, Gazetteers.municipalities(spark)))
      .unionByName(Linkers.linkPnrDeathMunicipality(pruned, Gazetteers.pnrPlaces(spark)))
      .unionByName(Linkers.linkOccupations(pruned, Gazetteers.occupations(spark)))
      .persist()
  }

  // ---- references: the replaced plain forms --------------------------------

  private def literals(triples: DataFrame, pred: String): DataFrame =
    triples.filter(col("pred") === pred && !col("objIsUri"))
      .select(col("subj"), col("objValue").as("literal"), col("docId"))

  /** One dictionary join per linker: key the literals, broadcast equi-join,
    * min uri per (subj, literal). */
  private def dictionaryReference(triples: DataFrame, source: String, target: String,
                                  key: Column, dict: DataFrame /* (uri, k) */): DataFrame =
    literals(triples, source).withColumn("k", key).join(dict, "k")
      .groupBy("subj", "literal", "docId").agg(min("uri").as("uri"))
      .select(col("subj"), lit(target).as("pred"), col("uri").as("objValue"),
        lit(true).as("objIsUri"), lit(null).cast("string").as("objLang"),
        lit(null).cast("string").as("objDatatype"), col("docId"))

  private def labelKeys(gaz: DataFrame): DataFrame =
    gaz.select(col("uri"), Normalize.fold(col("label")).as("k"))

  private def ranksReference(triples: DataFrame, ranksGaz: DataFrame): DataFrame = {
    val stripped = regexp_replace(Normalize.fold(col("literal")), "\\.$", "")
    val key = Gazetteers.rankAbbreviations.foldLeft(stripped) {
      case (acc, (short, full)) => when(stripped === short, full).otherwise(acc)
    }
    dictionaryReference(triples, NS.SCHEMA_POW + "rank_literal", NS.SCHEMA_POW + "rank", key,
      labelKeys(ranksGaz))
  }

  private def campsReference(triples: DataFrame, campsGaz: DataFrame): DataFrame = {
    val l = col("literal")
    val remap = when(l === "Siestarjoki", "Siestarjoki, ven. Sestroretsk")
      .when(l === "Karhumäki", "Karhumäki, evakuointipiste")
      .when(l === "Sorokka", "Sorokka ven. Belomorsk")
      .otherwise(l)
    val keys = campsGaz.select(col("uri"), col("camp_id").as("k")).filter(length(col("k")) > 0)
      .unionByName(campsGaz.select(col("uri"), col("captivity_location").as("k")))
    dictionaryReference(triples, NS.SCHEMA_POW + "location_literal", NS.SCHEMA_POW + "location",
      remap, keys)
  }

  private def municipalitiesReference(triples: DataFrame, munGaz: DataFrame): DataFrame =
    Seq(
      NS.SCHEMA_WARSA + "municipality_of_birth_literal" -> (NS.SCHEMA_WARSA + "municipality_of_birth"),
      NS.SCHEMA_POW + "municipality_of_domicile_literal" -> (NS.SCHEMA_POW + "municipality_of_domicile"),
      NS.SCHEMA_POW + "municipality_of_residence_literal" -> (NS.SCHEMA_POW + "municipality_of_residence"),
      NS.SCHEMA_POW + "municipality_of_capture_literal" -> (NS.SCHEMA_POW + "municipality_of_capture"),
    ).map { case (src, dst) =>
      dictionaryReference(triples, src, dst, Normalize.fold(col("literal")), labelKeys(munGaz))
    }.reduce(_ unionByName _)

  private def pnrReference(triples: DataFrame, pnr: DataFrame): DataFrame =
    dictionaryReference(triples, NS.SCHEMA_POW + "municipality_of_death_literal",
      NS.SCHEMA_POW + "municipality_of_death", Normalize.fold(col("literal")),
      labelKeys(pnr.filter(col("place_type").isin(540, 550))))

  /** Feature extraction as 12 aggregations, 11 left joins and an anti-join. */
  private def prisonerFeaturesReference(triples: DataFrame, ranksGaz: DataFrame): DataFrame = {
    val persons = triples
      .filter($"pred" === NS.RDF_TYPE && $"objValue" === (NS.SCHEMA_WARSA + "PrisonerRecord"))
      .select($"subj".as("person_uri"), $"docId")
    val pruned = triples
      .filter($"pred" === (NS.SCHEMA_POW + "personal_information_removed"))
      .select($"subj".as("person_uri")).distinct()
    val live = persons.join(pruned, Seq("person_uri"), "left_anti")
    def objsOf(pred: String, name: String): DataFrame =
      triples.filter($"pred" === pred).groupBy($"subj".as("person_uri"))
        .agg(sort_array(collect_set($"objValue")).as(name))
    def firstOf(pred: String, name: String): DataFrame =
      triples.filter($"pred" === pred).groupBy($"subj".as("person_uri"))
        .agg(min($"objValue").as(name))
    def dates(pred: String, minName: String, maxName: String): DataFrame =
      triples.filter($"pred" === pred && $"objDatatype" === NS.XSD_DATE)
        .groupBy($"subj".as("person_uri"))
        .agg(min($"objValue").as(minName), max($"objValue").as(maxName))
    val rankLevels = triples.filter($"pred" === (NS.SCHEMA_POW + "rank"))
      .select($"subj".as("person_uri"), $"objValue".as("rank_uri"))
      .join(broadcast(ranksGaz.select($"uri".as("rank_uri"), $"level")), Seq("rank_uri"))
      .groupBy($"person_uri").agg(max($"level").as("rank_level"))
    live
      .join(firstOf(NS.SCHEMA_WARSA + "given_names", "given"), Seq("person_uri"), "left")
      .join(firstOf(NS.SCHEMA_WARSA + "family_name", "family_raw"), Seq("person_uri"), "left")
      .join(objsOf(NS.SCHEMA_POW + "rank", "rank"), Seq("person_uri"), "left")
      .join(rankLevels, Seq("person_uri"), "left")
      .join(objsOf(NS.SCHEMA_WARSA + "municipality_of_birth", "birth_place"), Seq("person_uri"), "left")
      .join(objsOf(NS.SCHEMA_POW + "municipality_of_death", "death_place"), Seq("person_uri"), "left")
      .join(objsOf(NS.SCHEMA_POW + "unit", "unit"), Seq("person_uri"), "left")
      .join(objsOf(NS.BIOC + "has_occupation", "occupation"), Seq("person_uri"), "left")
      .join(dates(NS.SCHEMA_WARSA + "date_of_birth", "birth_begin", "birth_end"), Seq("person_uri"), "left")
      .join(dates(NS.SCHEMA_POW + "date_of_death", "death_begin", "death_end"), Seq("person_uri"), "left")
      .withColumn("family", regexp_replace($"family_raw", "\\(ent\\.\\s*(.+)\\)", "$1"))
      .withColumn("activity_end", $"death_end")
      .drop("family_raw")
  }

  /** Classification as three aggregates joined on the person subjects. */
  private def classifyReference(triples: DataFrame, today: LocalDate): DataFrame = {
    val castDate = udf(Converters.castDateLenient _)
    val cutoff = java.sql.Date.valueOf(today.minusYears(50))
    val aliveDob = java.sql.Date.valueOf(LocalDate.of(1910, 9, 30))
    val persons = triples
      .filter($"pred" === NS.RDF_TYPE && $"objValue" === (NS.SCHEMA_WARSA + "PrisonerRecord"))
      .select($"subj").distinct()
    val deaths = triples.filter($"pred" === (NS.SCHEMA_POW + "date_of_death"))
      .select($"subj", castDate($"objValue").as("d"))
      .groupBy($"subj").agg(
        max($"d").as("latest_death"),
        max(when($"d".isNull, 1).otherwise(0)).as("death_without_date"),
        count(lit(1)).as("n_death"))
    val dob = triples.filter($"pred" === (NS.SCHEMA_WARSA + "date_of_birth"))
      .groupBy($"subj").agg(min(castDate($"objValue")).as("dob"))
    persons.join(deaths, Seq("subj"), "left").join(dob, Seq("subj"), "left")
      .select($"subj",
        when(($"latest_death".isNotNull && $"latest_death" >= lit(cutoff)) ||
             $"death_without_date" === 1, "died_recently")
          .when($"latest_death".isNull &&
                ($"death_without_date".isNull || $"death_without_date" === 0) &&
                $"dob".isNotNull && $"dob" >= lit(aliveDob), "possibly_alive")
          .otherwise("public").as("cls"))
  }

  /** The closure as an iterative self-join, a cache + count per hop. */
  private def closureReference(edges: DataFrame, node: String = "clazz",
                               parent: String = "parent", maxDepth: Int = 32): DataFrame = {
    val nodes = edges.select(col(node)).unionByName(edges.select(col(parent).as(node))).distinct()
    var closure = nodes.select(col(node), col(node).as("ancestor"))
      .unionByName(edges.select(col(node), col(parent).as("ancestor"))).distinct().cache()
    var n = closure.count()
    var depth = 0
    var grown = true
    while (grown && depth < maxDepth) {
      val next = closure.as("c")
        .join(edges.as("e"), col("c.ancestor") === col(s"e.$node"))
        .select(col(s"c.$node"), col(s"e.$parent").as("ancestor"))
        .unionByName(closure).distinct().cache()
      val m = next.count()
      grown = m > n
      closure.unpersist()
      closure = next
      n = m
      depth += 1
    }
    require(!grown, s"transitive closure still growing after $maxDepth iterations")
    closure
  }

  // ---- fixtures -----------------------------------------------------------

  private def t(s: String, p: String, o: String, uri: Boolean = false,
                dt: String = null, doc: String = null) =
    (NS.DATA + s, p, o, uri, null: String, dt, Option(doc).getOrElse(s))
  private def fixture(rows: (String, String, String, Boolean, String, String, String)*): DataFrame =
    rows.toDF("subj", "pred", "objValue", "objIsUri", "objLang", "objDatatype", "docId")
  private def typ(s: String, doc: String = null) =
    t(s, NS.RDF_TYPE, NS.SCHEMA_WARSA + "PrisonerRecord", uri = true, doc = doc)

  // ---- prisonerFeatures -------------------------------------------------------

  test("prisonerFeatures pivot equals the self-join form on the corpus") {
    val ranks = Gazetteers.ranks(spark)
    val got = RecordLinkage.prisonerFeatures(linkedCorpus, ranks)
    assert(got.count() > 100)
    assertSameRows(got, prisonerFeaturesReference(linkedCorpus, ranks), "sf0.001 features")
  }

  test("prisonerFeatures pivot equals the self-join form on adversarial persons") {
    val R = NS.RANKS
    val rank = NS.SCHEMA_POW + "rank"
    val unit = NS.SCHEMA_POW + "unit"
    val dob = NS.SCHEMA_WARSA + "date_of_birth"
    val triples = fixture(
      // bare: a person with no rank, unit or anything else
      typ("bare"),
      // multi: multi-valued sets, one rank outside the gazetteer, two
      // type rows (two docs) for one subject, typed and untyped dates
      typ("multi", "d1"), typ("multi", "d2"),
      t("multi", rank, R + "Korpraali", uri = true), t("multi", rank, R + "Kapteeni", uri = true),
      t("multi", rank, R + "Tuntematon", uri = true),
      t("multi", unit, "u2", uri = true), t("multi", unit, "u1", uri = true),
      t("multi", unit, "u1", uri = true, doc = "other"),
      t("multi", NS.SCHEMA_WARSA + "given_names", "Matti"),
      t("multi", NS.SCHEMA_WARSA + "given_names", "Aatu"),
      t("multi", NS.SCHEMA_WARSA + "family_name", "Heino (ent. Kalmari)"),
      t("multi", dob, "1910-01-02", dt = NS.XSD_DATE), t("multi", dob, "1909-05-06", dt = NS.XSD_DATE),
      t("multi", dob, "syksy 1908"),
      t("multi", NS.SCHEMA_POW + "date_of_death", "1942-03-04", dt = NS.XSD_DATE),
      // rankless: only ranks outside the gazetteer -> rank set, null level
      typ("rankless"), t("rankless", rank, R + "Tuntematon", uri = true),
      // a rank URI under another predicate must not give a level
      typ("other"), t("other", NS.SCHEMA_POW + "promoted_to", R + "Majuri", uri = true),
      // removed: flagged persons are skipped
      typ("removed"), t("removed", rank, R + "Majuri", uri = true),
      t("removed", NS.SCHEMA_POW + "personal_information_removed", "true", dt = NS.XSD_BOOLEAN),
      // facts of a subject that is not a PrisonerRecord stay out
      t("notperson", rank, R + "Majuri", uri = true))
    val ranks = Gazetteers.ranks(spark)
    val got = RecordLinkage.prisonerFeatures(triples, ranks)
    assertSameRows(got, prisonerFeaturesReference(triples, ranks), "fixture features")

    val bySubj = got.collect().groupBy(_.getAs[String]("person_uri"))
    assert(bySubj.keySet == Set("bare", "multi", "rankless", "other").map(NS.DATA + _))
    val bare = bySubj(NS.DATA + "bare").head
    Seq("rank", "unit", "rank_level", "occupation", "birth_begin").foreach { c =>
      assert(bare.isNullAt(bare.fieldIndex(c)), s"bare person's $c is not null")
    }
    val multi = bySubj(NS.DATA + "multi")
    assert(multi.map(_.getAs[String]("docId")).sorted.toSeq == Seq("d1", "d2"))
    assert(multi.head.getAs[scala.collection.Seq[String]]("unit").toSeq == Seq("u1", "u2"))
    assert(multi.head.getAs[Int]("rank_level") == 11)
    assert(multi.head.getAs[String]("family") == "Heino Kalmari")
    assert(multi.head.getAs[String]("birth_begin") == "1909-05-06")
    assert(bySubj(NS.DATA + "rankless").head.isNullAt(got.columns.indexOf("rank_level")))
  }

  // ---- classify -------------------------------------------------------------

  test("classify pivot equals the three-aggregate form on the corpus") {
    val got = Privacy.classify(corpus, today)
    assert(got.select("cls").distinct().count() > 1)
    assertSameRows(got, classifyReference(corpus, today), "sf0.001 classification")
  }

  test("classify pivot equals the three-aggregate form on adversarial persons") {
    val death = NS.SCHEMA_POW + "date_of_death"
    val dob = NS.SCHEMA_WARSA + "date_of_birth"
    val triples = fixture(
      typ("nodates"),
      typ("recent"), t("recent", death, "1.2.1980"), t("recent", death, "1.2.1940"),
      typ("old"), t("old", death, "3.4.1941"), t("old", dob, "1.1.1920"),
      typ("undated"), t("undated", death, "tuntematon"), t("undated", death, "1.1.1941"),
      typ("young"), t("young", dob, "5.6.1921"), t("young", dob, "1.1.1900"),
      typ("young2"), t("young2", dob, "5.6.1921"),
      typ("twice", "d1"), typ("twice", "d2"), t("twice", dob, "1.1.1925"),
      typ("flagged"), t("flagged", dob, "1.1.1930"),
      t("flagged", NS.SCHEMA_POW + "personal_information_removed", "true", dt = NS.XSD_BOOLEAN),
      t("notperson", death, "1.1.1999"))
    val got = Privacy.classify(triples, today)
    assertSameRows(got, classifyReference(triples, today), "fixture classification")
    val cls = got.as[(String, String)].collect().toMap.map { case (k, v) => k.stripPrefix(NS.DATA) -> v }
    assert(cls == Map("nodates" -> "public", "recent" -> "died_recently", "old" -> "public",
      "undated" -> "died_recently", "young" -> "public", "young2" -> "possibly_alive",
      "twice" -> "possibly_alive", "flagged" -> "possibly_alive"))
  }

  // ---- dictionary linking -----------------------------------------------------

  test("batched dictionary linker equals the per-linker joins on the corpus") {
    val (ranks, camps) = (Gazetteers.ranks(spark), Gazetteers.camps(spark))
    val (mun, pnr) = (Gazetteers.municipalities(spark), Gazetteers.pnrPlaces(spark))
    val all = Linkers.linkDictionary(corpus, Seq(Linkers.rankTask(ranks), Linkers.campTask(camps)) ++
      Linkers.municipalityTasks(mun) :+ Linkers.pnrDeathTask(pnr))
    val refs = Seq(ranksReference(corpus, ranks), campsReference(corpus, camps),
      municipalitiesReference(corpus, mun), pnrReference(corpus, pnr))
    // the corpus has no PNR hits; the adversarial fixture below has
    refs.take(3).foreach(r => assert(r.count() > 0))
    assertSameRows(all, refs.reduce(_ unionByName _), "all dictionary tasks")
    assertSameRows(Linkers.linkRanks(corpus, ranks), refs(0), "ranks")
    assertSameRows(Linkers.linkCamps(corpus, camps), refs(1), "camps")
    assertSameRows(Linkers.linkMunicipalities(corpus, mun), refs(2), "municipalities")
    assertSameRows(Linkers.linkPnrDeathMunicipality(corpus, pnr), refs(3), "pnr")
  }

  test("batched dictionary linker equals the per-linker joins on adversarial literals") {
    val rankLit = NS.SCHEMA_POW + "rank_literal"
    val loc = NS.SCHEMA_POW + "location_literal"
    val birth = NS.SCHEMA_WARSA + "municipality_of_birth_literal"
    val capture = NS.SCHEMA_POW + "municipality_of_capture_literal"
    val deathLit = NS.SCHEMA_POW + "municipality_of_death_literal"
    val triples = fixture(
      t("a", rankLit, "Korpr."), t("a", rankLit, "  STM "), t("a", rankLit, "Kapteeni"),
      t("b", rankLit, "kers."), t("b", rankLit, "vänr"), t("b", rankLit, "tuntematon"),
      t("a", loc, "Siestarjoki"), t("b", loc, "Karhumäki"), t("c", loc, "Sorokka"),
      // a URI object under a literal predicate is never linked
      t("c", rankLit, "korpraali", uri = true),
      t("a", birth, "  HELSINKI "), t("b", birth, "Lohjan \t kunta"), t("c", birth, "Kaksoisla"),
      t("a", capture, "kaksoisla"), t("b", capture, "Viipuri", doc = "b2"),
      t("a", deathLit, "Helsinki"), t("b", deathLit, "Juuka"), t("c", deathLit, "viipuri"),
      // a place of the wrong PNR type is never a death municipality
      t("d", deathLit, "Kaksoisla"))
    val camps = Gazetteers.camps(spark)
    assert(camps.filter($"captivity_location".startsWith("Siestarjoki")).count() > 0)
    // one literal hitting two gazetteer rows: the minimum uri wins
    val mun = Gazetteers.municipalities(spark).unionByName(
      Seq((NS.MUNICIPALITIES + "z2", "Kaksoisla"), (NS.MUNICIPALITIES + "z1", "KAKSOISLA"))
        .toDF("uri", "label"))
    val ranks = Gazetteers.ranks(spark)
    val pnr = Gazetteers.pnrPlaces(spark).unionByName(
      Seq(("http://ldf.fi/pnr/P_9", "Kaksoisla", 999)).toDF("uri", "label", "place_type"))

    val got = Linkers.linkDictionary(triples, Seq(Linkers.rankTask(ranks), Linkers.campTask(camps)) ++
      Linkers.municipalityTasks(mun) :+ Linkers.pnrDeathTask(pnr))
    val expected = ranksReference(triples, ranks).unionByName(campsReference(triples, camps))
      .unionByName(municipalitiesReference(triples, mun)).unionByName(pnrReference(triples, pnr))
    assertSameRows(got, expected, "fixture dictionary links")

    val links = got.select("subj", "pred", "objValue").as[(String, String, String)].collect()
      .map { case (s, p, o) => (s.stripPrefix(NS.DATA), p, o) }.toSet
    assert(links.count(l => l._1 == "a" && l._2 == NS.SCHEMA_POW + "rank") == 3)
    assert(links.contains(("a", NS.SCHEMA_WARSA + "municipality_of_birth", NS.MUNICIPALITIES + "k100")))
    assert(links.contains(("c", NS.SCHEMA_WARSA + "municipality_of_birth", NS.MUNICIPALITIES + "z1")))
    assert(links.contains(("a", NS.SCHEMA_POW + "municipality_of_capture", NS.MUNICIPALITIES + "z1")))
    assert(links.count(_._2 == NS.SCHEMA_POW + "location") == 3)
    assert(links.filter(_._2 == NS.SCHEMA_POW + "municipality_of_death").map(_._1) == Set("a", "b", "c"))
  }

  test("dictionary tasks must have distinct source predicates") {
    val ranks = Gazetteers.ranks(spark)
    intercept[IllegalArgumentException] {
      Linkers.linkDictionary(corpus, Seq(Linkers.rankTask(ranks), Linkers.rankTask(ranks)))
    }
  }

  // ---- closure ----------------------------------------------------------------

  test("driver-side closure equals the iterative self-join closure") {
    val ladder = Gazetteers.unitClasses(spark)
    assertSameRows(Closure.reflexiveTransitive(ladder), closureReference(ladder), "unit classes")
    // a diamond, a 2-cycle, a self-loop and null endpoints
    val odd = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"),
      ("x", "y"), ("y", "x"), ("s", "s"), ("n", null), (null, "m"))
      .toDF("clazz", "parent")
    assertSameRows(Closure.reflexiveTransitive(odd), closureReference(odd), "odd graph")
    // a chain exactly as long as the depth cap still converges in both;
    // one hop longer, both fail
    def chain(n: Int) = (0 until n).map(i => (s"c$i", s"c${i + 1}")).toDF("node", "up")
    assertSameRows(Closure.reflexiveTransitive(chain(4), "node", "up", maxDepth = 4),
      closureReference(chain(4), "node", "up", maxDepth = 4), "chain at the cap")
    intercept[IllegalArgumentException](Closure.reflexiveTransitive(chain(5), "node", "up", maxDepth = 4))
    intercept[IllegalArgumentException](closureReference(chain(5), "node", "up", maxDepth = 4))
  }

  test("a cyclic class ladder longer than the depth cap fails the require in both forms") {
    val cycle = (0 until 6).map(i => (s"k$i", s"k${(i + 1) % 6}")).toDF("clazz", "parent")
    intercept[IllegalArgumentException](Closure.reflexiveTransitive(cycle, maxDepth = 3))
    intercept[IllegalArgumentException](closureReference(cycle, maxDepth = 3))
    // at the default cap (the reference's plan doubles per hop, so it is
    // only run at small depths)
    val long = (0 until 40).map(i => (s"k$i", s"k${(i + 1) % 40}")).toDF("clazz", "parent")
    intercept[IllegalArgumentException](Closure.reflexiveTransitive(long))
  }
}
