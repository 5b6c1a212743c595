package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.extract.{Extraction, FieldSpecs, SynthDocs}
import graft.model.{Doc, NS, RdfTriple, Span}

/** The row-native span dispatch of `Extraction.triples` / `.errors`
  * pinned, as exact multisets, against the typed `as[Doc].flatMap` forms
  * it replaced ([[TypedExtraction]]): on the vendored corpus, on random
  * docs over every mapped kind and parser branch, and on the cases where
  * the type triple, the per-doc dedup or the by-name input resolution
  * could differ. */
class ExtractionEquivalenceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val NameKind = FieldSpecs.NameKind
  private val magazineLinkKinds = FieldSpecs.prisonerFields
    .filter(_.uri == NS.SCHEMA_POW + "propaganda_magazine_link").map(_.kind)
  private val recordType = NS.SCHEMA_WARSA + "PrisonerRecord"

  private def counts[A](xs: Seq[A]): Map[A, Int] = xs.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Both forms on `docs`: exact multiset equality of triples and errors.
    * Returns the row path's triples. */
  private def assertSame(docs: DataFrame): Seq[RdfTriple] = {
    val rows = Extraction.triples(docs).collect().toSeq
    val typed = TypedExtraction.triples(docs).collect().toSeq
    assert(counts(rows) == counts(typed),
      s"triples differ: only row path ${rows.diff(typed).take(5)}; only typed ${typed.diff(rows).take(5)}")
    val errs = Extraction.errors(docs).collect().toSeq
    val typedErrs = TypedExtraction.errors(docs).collect().toSeq
    assert(counts(errs) == counts(typedErrs),
      s"errors differ: only row path ${errs.diff(typedErrs).take(5)}; only typed ${typedErrs.diff(errs).take(5)}")
    rows
  }

  private def docs(ds: Doc*): DataFrame = spark.createDataFrame(spark.sparkContext.parallelize(
    ds.map(d => Row(d.doc_id, d.spans.map(s => Row(s.kind, s.text, s.media_ref, s.offset))))), Doc.schema)

  private def typeTriples(ts: Seq[RdfTriple], doc: String): Int =
    ts.count(t => t.subj == NS.DATA + doc && t.pred == NS.RDF_TYPE && t.objValue == recordType)

  /** Every doc with a triple has exactly one type triple. */
  private def assertOneTypeTriplePerDoc(ts: Seq[RdfTriple]): Unit = {
    val types = counts(ts.filter(t => t.pred == NS.RDF_TYPE && t.objValue == recordType).map(_.subj))
    ts.map(_.docId).distinct.foreach(d => assert(types.get(NS.DATA + d).contains(1), d))
  }

  test("the vendored corpus") {
    val corpus = SynthDocs.fromDocuments(spark, SparkTestBase.corpusDir)
    val ts = assertSame(corpus)
    assert(ts.size > 10000)
    assertOneTypeTriplePerDoc(ts)
  }

  // ---- random docs -----------------------------------------------------------

  private val texts: Map[String, Seq[String]] = Map(
    "/" -> Seq("Helsinki", "Helsinki (KA T-26073/48)", "Helsinki (lähde) jälkeen", "a (b) (c)",
      "x\n(y)", "rivi\n Viipuri (mikrofilmi)", "foo (bar", "(only)", " (lead)", "", "-", "  Kuopio  ",
      "Tampere (a (b))", "kersantti (VEN 195)\r"),
    ";" -> Seq("lähde: arvo", "lähde: arvo: toinen", "74 3.5.1942-5.6.1943", "Vienan Kemi 1.1.1942-xx.2.1943",
      "arvo 12345-12345", "arvo 1234-12345", "a: b 1.1.1950-1.1.1961", "x 123456-1234567", "nro 3/1942",
      "http://example.com/a (b)", "", "KA: 99 3.3.1942-4.4.1942", "teksti\n1.1.1942-2.2.1942"),
    "dates" -> Seq("1.2.1942", "31/12/1944", "n.1920", "xx.7.1944", "32.1.1942", "1.1.1800", "1.1.2099",
      "1.2.1942 (mikrofilmi)", ""),
    "swedish" -> Seq("X", "x", "", "epäselvä"),
    "marital" -> Seq("naimisissa", "naimaton", "leski", "tuntematon (lähde)", "foo"),
    "uriref" -> Seq("http://example.com/a", "http://example.com/b", "", "http://x.fi/1 (src)"),
    "name" -> Seq("Virtanen Matti", "KULENTO ent. Kulakov Nikolai", "", "  ", "von Essen Hans",
      "Ahjo ent. Germanoff Juho ent. Ivan", "Mäkinen", "x"),
  )

  private def textsFor(kind: String): Seq[String] =
    if (kind == NameKind) texts("name")
    else FieldSpecs.byKind.get(kind) match {
      case Some(s) if texts.contains(s.converter) => texts(s.converter) ++ texts(if (s.sep.isEmpty) "/" else s.sep)
      case Some(s) => texts(if (s.sep.isEmpty) "/" else s.sep)
      case None => Seq("anything", "")
    }

  private def randomDocs(n: Int, seed: Long): Seq[Doc] = {
    val rnd = new Random(seed)
    val kinds = FieldSpecs.prisonerFields.map(_.kind) ++ Seq(NameKind, NameKind, "tuntematon sarake", "ammatti (lisä)")
    (0 until n).map { d =>
      val spans = Seq.fill(rnd.nextInt(14)) {
        val kind = kinds(rnd.nextInt(kinds.size))
        val ts = textsFor(kind)
        Span(kind, ts(rnd.nextInt(ts.size)), if (rnd.nextBoolean()) null else "http://m/1", rnd.nextInt(3))
      }
      Doc(s"prisoner_r$d", spans)
    }
  }

  test("random docs over every mapped kind and parser branch") {
    val random = randomDocs(400, 7L)
    val ts = assertSame(docs(random: _*))
    assertOneTypeTriplePerDoc(ts)
  }

  // ---- the cases the dispatch could get wrong ----------------------------------

  test("a doc with no emitting span gets no type triple, and an empty spans array nothing") {
    val silent = Doc("prisoner_silent", Seq(
      Span("tuntematon sarake", "arvo", null, 0),
      Span("ammatti", "", null, 0),
      Span("lapset", "-", null, 0)))
    val empty = Doc("prisoner_empty", Nil)
    val ts = assertSame(docs(silent, empty))
    assert(ts.isEmpty)
    val errs = Extraction.errors(docs(silent, empty)).collect().toSeq
    assert(errs.map(_.docId).sorted == Seq("prisoner_empty", "prisoner_silent"))
    assert(errs.forall(_.error == "Ei tietoa henkilöstä"))
  }

  test("repeated identical spans, two name spans and unknown kinds") {
    val captivity = Span("vankeuspaikat", "KA: 74 3.5.1942-5.6.1943", null, 0)
    val repeated = Doc("prisoner_rep", Seq(
      Span(NameKind, "Virtanen Matti", null, 0), captivity, captivity,
      Span("ammatti", "suutari (lähde)", null, 0), Span("ammatti", "suutari (lähde)", null, 0),
      Span("kuollut", "1.1.1943", null, 0), Span("palanneiden kuolinaika", "1.1.1943", null, 0)))
    val twoNames = Doc("prisoner_names", Seq(
      Span(NameKind, "Virtanen Matti", null, 0), Span("mystery", "x", null, 0),
      Span(NameKind, "KORHONEN Juho", null, 0), Span(NameKind, "Virtanen Matti", null, 1),
      Span("vankeuspaikat", "99 1.1.1942-2.2.1942", null, 1)))
    val ts = assertSame(docs(repeated, twoNames))
    assert(typeTriples(ts, "prisoner_rep") == 1 && typeTriples(ts, "prisoner_names") == 1)
    assert(ts.size == ts.distinct.size, "per-doc set semantics")
    // the first name span labels the captivity resource
    assert(ts.exists(t => t.pred == NS.SKOS_PREF_LABEL && t.objValue == "Person Virtanen Matti captivity"))
  }

  test("the four kinds that share propaganda_magazine_link") {
    assert(magazineLinkKinds.size == 4)
    val shared = Doc("prisoner_links", magazineLinkKinds.zipWithIndex.flatMap { case (k, i) =>
      Seq(Span(k, "lähde: http://example.com/same", null, 0),
        Span(k, s"lähde $i: http://example.com/$i", "http://m/1", 0))
    })
    val ts = assertSame(docs(shared))
    assert(typeTriples(ts, "prisoner_links") == 1)
    assert(ts.count(t => t.pred == NS.SCHEMA_POW + "propaganda_magazine_link") == 5)
  }

  test("extra columns, other column order and other span field order resolve by name") {
    val sample = randomDocs(60, 11L) :+ Doc("prisoner_names", Seq(
      Span(NameKind, "Virtanen Matti", null, 0), Span("vankeuspaikat", "KA: 74 3.5.1942-5.6.1943", null, 2)))
    val spanType = StructType(Seq(
      StructField("offset", IntegerType), StructField("note", StringType), StructField("text", StringType),
      StructField("media_ref", StringType), StructField("kind", StringType)))
    val schema = StructType(Seq(
      StructField("extra", LongType), StructField("spans", ArrayType(spanType)),
      StructField("doc_id", StringType), StructField("more", StringType)))
    val shuffled = spark.createDataFrame(spark.sparkContext.parallelize(sample.zipWithIndex.map { case (d, i) =>
      Row(i.toLong, d.spans.map(s => Row(s.offset, "n", s.text, s.media_ref, s.kind)), d.doc_id, "m")
    }), schema)
    val ts = assertSame(shuffled)
    assert(counts(ts) == counts(Extraction.triples(docs(sample: _*)).collect().toSeq))
  }

  test("triples and errors plan no object deserialization, mapPartitions or serialization") {
    val corpus = SynthDocs.fromDocuments(spark, SparkTestBase.corpusDir)
    Seq("triples" -> Extraction.triples(corpus).queryExecution,
      "errors" -> Extraction.errors(corpus).queryExecution).foreach { case (name, qe) =>
      val nodes = qe.optimizedPlan.collect { case p => p.nodeName }.toSet
      Seq("DeserializeToObject", "MapPartitions", "SerializeFromObject").foreach { n =>
        assert(!nodes.contains(n), s"$name plan has $n:\n${qe.optimizedPlan}")
      }
      assert(nodes.contains("Generate"), s"$name plan:\n${qe.optimizedPlan}")
    }
    // the typed reference does have them, so the check can fail
    val typed = TypedExtraction.triples(corpus).queryExecution.optimizedPlan.collect { case p => p.nodeName }
    assert(typed.contains("DeserializeToObject") && typed.contains("SerializeFromObject"))
  }
}
