package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.canon.ConnectedComponents
import graft.erlink.RecordLinkage
import graft.events.Events
import graft.extract.{CampConversion, Extraction}
import graft.gazetteer.Gazetteers
import graft.link.Linkers
import graft.model.NS
import graft.ops.Dedup
import graft.pipeline.{Pipeline, SnapshotStore}
import graft.privacy.Privacy
import graft.streaming.StreamingIngest

/** The traced run. A fresh `Pipeline.run` and a resume are traced as one
  * span each, with Spark counters and per-stage write times attributed to
  * them; then every layer's public functions are replayed, one span per
  * call, on the snapshots that fresh run committed, and the operator suite
  * makes one pass over `SparkEntry.queries`. Writes the spans to
  * `--trace-out` and the per-layer metrics to the result line. */
object Replay {
  import Main._

  val Stages: Seq[String] = Seq("camps", "schema", "extract", "extract_errors", "pruned", "linked",
    "media", "person_links", "sourced", "canonical", "record_frame", "events", "final")

  /** Materializes every output row of `df`; returns the row count. */
  def mat(df: DataFrame): Long = df.queryExecution.toRdd.count()

  def run(a: Args): Unit = {
    val cores = a.int("cores", 1)
    val runDir = a.str("run-dir")
    val seed = a.int("seed", 0)
    val limit = a.int("limit", 0)
    val base = a.str("base")
    val spark = session(cores, runDir)
    val counters = Counters.register(spark)
    val tr = new Tracer(spark, counters, s"${a.str("workload")}-seed$seed-${System.currentTimeMillis()}")
    val o = new Outcome
    val m = mutable.LinkedHashMap[String, Any]()
    val (setupS, _, docs) = setUp(spark, a, 1, 2 * cores)
    val k = a.int("k", 1)
    val extractDocs =
      if (k == 1) docs
      else Inputs.materialize(spark, base, seed, k, limit, s"$runDir/extract_input", a.int("splits", 16))
    val ladder = Inputs.ladder(spark, base, seed, a.int("ladder", 20), limit)
      .repartition(spark.sparkContext.defaultParallelism).localCheckpoint()
    val wd = s"$runDir/work"
    val store = new SnapshotStore(spark, wd)

    def jobs(name: String): Long = tr.all.filter(_.name == name).map(s => tr.inclusive(s.id).jobs).sum
    /** Stage write seconds of the writes recorded after `from`, keyed by stage. */
    def stageWrites(from: Int): Seq[(String, Double)] = {
      val marker = Paths.get(wd).toAbsolutePath.toString + "/"
      counters.writes.drop(from).flatMap { case (p, s) =>
        val i = p.indexOf(marker)
        if (i < 0) None
        else {
          val rel = p.substring(i + marker.length)
          if (rel.contains("/v=")) Some(rel.takeWhile(_ != '/') -> s) else None
        }
      }
    }

    try {
      // -- pipeline: fresh run, then resume --------------------------------
      val w0 = counters.writes.size
      val (tf, nf) = o.timed("pipeline.run", 0)(tr.span("pipeline.run")(Pipeline.run(spark, docs, wd, Today).count()))
      val writes = stageWrites(w0)
      Stages.foreach(st => m(s"pipeline.stage.$st.s") = writes.filter(_._1 == st).map(_._2).sum)
      val writeS = writes.map(_._2).sum
      val runT = tr.inclusive(tr.all.find(_.name == "pipeline.run").get.id)
      m ++= Seq("pipeline.traced_s" -> tf, "pipeline.stage_write_s" -> writeS,
        "pipeline.unattributed_s" -> (tf - writeS), "pipeline.jobs" -> runT.jobs,
        "pipeline.tasks" -> runT.tasks, "pipeline.sched_delay_s" -> runT.schedDelayS,
        "pipeline.exec_cpu_s" -> runT.cpuS, "pipeline.gc_s" -> runT.gcS,
        "pipeline.shuffle_bytes" -> runT.shuffleBytes, "pipeline.spill_bytes" -> runT.spillBytes,
        "pipeline.files_written" -> files(wd, _.toString.endsWith(".parquet")),
        "pipeline.stages_committed" -> files(wd, _.getFileName.toString == "_MANIFEST.json"),
        "pipeline.store_bytes" -> du(wd))
      // the split is only as good as the path match: every stage must have
      // a write of its own, or its time would hide in unattributed_s
      Stages.foreach { st =>
        o.check(s"stage.$st.write", writes.exists(w => w._1 == st && w._2 > 0),
          s"writes found: ${writes.map(_._1).distinct.mkString(",")}")
      }
      o.check("unattributed.nonnegative", tf - writeS >= 0, s"traced=$tf writes=$writeS")
      val df = digest(store.read("final"))
      checkOutput(o, "fresh", nf, df, a.str("expect"))

      val dropped = invalidateNewestHalf(spark, wd)
      val w1 = counters.writes.size
      val (tr2, _) = o.timed("pipeline.resume", 0)(tr.span("pipeline.resume")(Pipeline.run(spark, docs, wd, Today).count()))
      m ++= Seq("pipeline.resume_s" -> tr2, "pipeline.resume.jobs" -> jobs("pipeline.resume"),
        "pipeline.resume.stages_recomputed" -> stageWrites(w1).map(_._1).distinct.size)
      val dr = digest(store.read("final"))
      o.check("resume.digest", dr == df, s"fresh=$df resumed=$dr invalidated=${dropped.mkString(",")}")

      // -- layer replay on the committed snapshots -------------------------
      o.timed("replay", 0)(replay(spark, tr, store, extractDocs, ladder, s"$runDir/input2/docs", runDir, m))
      opsSuite(spark, tr, o, a.str("tables"), a.str("ops-expect"), m)
      (Seq("gazetteer", "extract", "privacy", "link", "erlink", "canon", "events") ++
        Queries.Families.map(f => s"ops.$f")).foreach(l => m(s"$l.jobs") = jobs(l))
    } finally {
      a.opt("trace-out").foreach { p =>
        Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
        Files.write(Paths.get(p), tr.toJson.getBytes(StandardCharsets.UTF_8))
      }
    }
    m("setup_s") = setupS
    m("peak_rss_mb") = peakRssMb()
    emit(o, m.toMap, Map("spans" -> tr.all.size))
    spark.stop()
  }

  private def replay(spark: SparkSession, tr: Tracer, store: SnapshotStore, docs: DataFrame,
                     ladder: DataFrame, docsDir: String, runDir: String,
                     m: mutable.Map[String, Any]): Unit = {
    import spark.implicits._

    // -- gazetteer: every builder materialized once ------------------------
    val builders: Seq[(String, SparkSession => DataFrame)] = Seq(
      "ranks" -> Gazetteers.ranks, "units" -> Gazetteers.units, "unitClasses" -> Gazetteers.unitClasses,
      "municipalities" -> Gazetteers.municipalities, "pnrPlaces" -> Gazetteers.pnrPlaces,
      "camps" -> Gazetteers.camps, "rawCampTriples" -> Gazetteers.rawCampTriples,
      "casualtiesNameCounts" -> Gazetteers.casualtiesNameCounts,
      "additionalLinks" -> Gazetteers.additionalLinks,
      "personDocumentPaths" -> Gazetteers.personDocumentPaths,
      "occupations" -> Gazetteers.occupations, "persons" -> (s => Gazetteers.persons(s)),
      "magazineIndex" -> Gazetteers.magazineIndex, "videoIndex" -> Gazetteers.videoIndex,
      "videoLabels" -> Gazetteers.videoLabels, "sourcesRegister" -> Gazetteers.sourcesRegister)
    tr.span("gazetteer") {
      builders.foreach { case (n, f) => tr.span(s"gazetteer.$n")(mat(f(spark))) }
    }
    m("gazetteer.build_s") = tr.seconds("gazetteer")

    // -- extract ------------------------------------------------------------
    val (triplesOut, errors) = tr.span("extract") {
      val t = tr.span("extract.triples")(mat(Extraction.triples(docs).toDF()))
      val e = tr.span("extract.errors")(mat(Extraction.errors(docs).toDF()))
      tr.span("extract.camps") {
        val raw = Gazetteers.rawCampTriples(spark)
        val camps = CampConversion.remintSubjects(raw,
          NS.SCHEMA_WARSA + "PowCamp", NS.SCHEMA_POW + "camp_id",
          NS.SCHEMA_POW + "captivity_location", NS.DATA + "camp_").localCheckpoint()
        val both = CampConversion.remintSubjects(camps,
          NS.SCHEMA_WARSA + "PowHospital", NS.SCHEMA_POW + "camp_id",
          NS.SCHEMA_POW + "captivity_location", NS.DATA + "hospital_").localCheckpoint()
        mat(CampConversion.constructCamps(both))
      }
      (t, e)
    }
    val spans = docs.select(sum(size($"spans"))).head().getLong(0)
    m ++= Seq("extract.triples_s" -> tr.seconds("extract.triples"),
      "extract.errors_s" -> tr.seconds("extract.errors"), "extract.camps_s" -> tr.seconds("extract.camps"),
      "extract.triples_out" -> triplesOut, "extract.error_rate" -> errors.toDouble / spans)

    // -- privacy --------------------------------------------------------------
    val extracted = store.read("extract")
    val prunedRows = tr.span("privacy")(tr.span("privacy.prune")(
      mat(Privacy.prunePersons(extracted, Gazetteers.casualtiesNameCounts(spark), Today))))
    spark.catalog.clearCache()
    m ++= Seq("privacy.prune_s" -> tr.seconds("privacy.prune"),
      "privacy.rows_in" -> extracted.count(), "privacy.rows_out" -> prunedRows)

    // -- link -----------------------------------------------------------------
    val pruned = store.read("pruned")
    val links = tr.span("link") {
      val dict = tr.span("link.dict") {
        Seq(Linkers.linkRanks(pruned, Gazetteers.ranks(spark)),
          Linkers.linkCamps(pruned, Gazetteers.camps(spark)),
          Linkers.linkMunicipalities(pruned, Gazetteers.municipalities(spark)),
          Linkers.linkPnrDeathMunicipality(pruned, Gazetteers.pnrPlaces(spark))).map(mat).sum
      }
      val fuzzy = tr.span("link.fuzzy") {
        mat(Linkers.linkOccupations(pruned, Gazetteers.occupations(spark))) +
          mat(Linkers.linkUnits(pruned, Gazetteers.units(spark), Linkers.docPeriods(pruned),
            Gazetteers.unitClasses(spark)))
      }
      tr.span("link.media") {
        Seq(Linkers.linkMagazines(pruned, Gazetteers.magazineIndex(spark)),
          Linkers.linkPersonDocuments(Gazetteers.personDocumentPaths(spark)),
          Linkers.linkVideos(Gazetteers.videoIndex(spark), Gazetteers.videoLabels(spark)))
          .foreach { case (l, e) => mat(l); mat(e) }
      }
      tr.span("link.sources") {
        val all = pruned.unionByName(store.read("linked")).unionByName(store.read("person_links"))
        val (added, removed) = Linkers.linkSources(all, Gazetteers.sourcesRegister(spark))
        mat(added) + mat(removed)
      }
      dict + fuzzy
    }
    m ++= Seq("link.dict_s" -> tr.seconds("link.dict"), "link.fuzzy_s" -> tr.seconds("link.fuzzy"),
      "link.media_s" -> tr.seconds("link.media"), "link.sources_s" -> tr.seconds("link.sources"),
      "link.links" -> links)

    // -- erlink ---------------------------------------------------------------
    val persons = Gazetteers.persons(spark)
    val (cands, erLinks) = tr.span("erlink") {
      val (feats, c) = tr.span("erlink.candidate") {
        val f = RecordLinkage.prisonerFeatures(pruned.unionByName(store.read("linked")),
          Gazetteers.ranks(spark)).localCheckpoint()
        (f, RecordLinkage.candidatePairs(f, persons).localCheckpoint())
      }
      (c, tr.span("erlink.score")(mat(RecordLinkage.scorePairs(c, feats, persons))))
    }
    val nCands = cands.count()
    val maxPer = cands.groupBy($"prisoner").count().agg(max($"count")).head().get(0)
    m ++= Seq("erlink.candidate_s" -> tr.seconds("erlink.candidate"),
      "erlink.score_s" -> tr.seconds("erlink.score"), "erlink.candidates" -> nCands,
      "erlink.links" -> erLinks, "erlink.pair_yield" -> erLinks.toDouble / math.max(1L, nCands),
      "erlink.max_candidates_per_record" -> Option(maxPer).map(_.toString.toLong).getOrElse(0L))

    // -- canon ----------------------------------------------------------------
    val sourced = store.read("sourced")
    val edges = ConnectedComponents.edgesFromLinks(sourced.filter($"pred" === (NS.CRM + "P70_documents")))
    val comps = tr.span("canon") {
      val c = tr.span("canon.components")(ConnectedComponents.components(edges).localCheckpoint())
      tr.span("canon.rewrite")(mat(ConnectedComponents.canonicalizeTriples(sourced, edges)))
      c
    }
    val sizes = comps.groupBy($"comp").count()
    m ++= Seq("canon.components_s" -> tr.seconds("canon.components"),
      "canon.rewrite_s" -> tr.seconds("canon.rewrite"), "canon.edges" -> edges.count(),
      "canon.components" -> sizes.count(),
      "canon.max_component" -> Option(sizes.agg(max($"count")).head().get(0)).map(_.toString.toLong).getOrElse(0L))

    // -- events ---------------------------------------------------------------
    val canonical = store.read("canonical")
    val eventsOut = tr.span("events") {
      val frame = tr.span("events.frame")(Events.recordFrame(canonical).localCheckpoint())
      val none = canonical.limit(0)
      val mediaPreds = Seq(NS.SCHEMA_WARSA + "sotilaan_aani_magazine",
        NS.SCHEMA_WARSA + "person_document", NS.SCHEMA_WARSA + "documented_in_video",
        NS.BIOC + "has_occupation")
      val linkedMedia = canonical.filter($"pred".isin(mediaPreds: _*))
      tr.span("events.construct") {
        Seq[(String, () => DataFrame)](
          "people" -> (() => Events.people(frame, linkedMedia)),
          "births" -> (() => Events.births(frame, none)),
          "deaths" -> (() => Events.deaths(frame, none)),
          "captures" -> (() => Events.captures(frame)),
          "disappearances" -> (() => Events.disappearances(frame, none)),
          "promotions" -> (() => Events.promotions(canonical, frame, Gazetteers.ranks(spark))),
          "unitJoinings" -> (() => Events.unitJoinings(canonical, frame)),
          "relatedPeriods" -> (() => Events.relatedPeriods(canonical)),
          "documentsLinks" -> (() => Events.documentsLinks(frame)),
          "invertDocumentsLinks" -> (() => Events.invertDocumentsLinks(canonical)),
          "campCoordinates" -> (() => Events.campCoordinates(Gazetteers.camps(spark))))
          .map { case (n, f) => tr.span(s"events.$n")(mat(f())) }.sum
      }
    }
    m ++= Seq("events.frame_s" -> tr.seconds("events.frame"),
      "events.construct_s" -> tr.seconds("events.construct"), "events.triples_out" -> eventsOut)

    // -- ops: dedup ladder and streaming ingest ---------------------------------
    val pairs = tr.span("dedup_ladder") {
      tr.span("ops.dedup.ngram")(mat(Dedup.ngramJaccardPairs(ladder, "doc_id", "text", 0.5))) +
        tr.span("ops.dedup.minhash")(mat(Dedup.minhashNearDuplicates(ladder, "doc_id", "text", threshold = 0.5))) +
        tr.span("ops.dedup.simhash")(mat(Dedup.simhashNearDuplicates(ladder, "doc_id", "text", maxHamming = 3)))
    }
    val batches = tr.span("ops.streaming.ingest")(
      StreamingIngest.drainAvailable(spark, docsDir, s"$runDir/stream_out", s"$runDir/stream_ckpt"))
    m ++= Seq("ops.dedup.ngram_s" -> tr.seconds("ops.dedup.ngram"),
      "ops.dedup.minhash_s" -> tr.seconds("ops.dedup.minhash"),
      "ops.dedup.simhash_s" -> tr.seconds("ops.dedup.simhash"), "ops.dedup.pairs_out" -> pairs,
      "ops.streaming.ingest_s" -> tr.seconds("ops.streaming.ingest"),
      "ops.streaming.triples_out" -> spark.read.parquet(s"$runDir/stream_out").count())
    require(batches >= 1, "streaming drain produced no batch")
  }

  /** One pass over every `SparkEntry.queries` entry on the tables in
    * `tables`, family by family, one span per query that collects its
    * result. A query that throws or whose result digest differs from the
    * recorded one (`expectFile`, lines `name digest`) counts as failed; its
    * time stays in its family's seconds. The digests are checked after the
    * pass. `ops.queries_failed` also counts the entries that cannot run in
    * a checkout ([[Queries.OutsideCheckout]]). */
  private def opsSuite(spark: SparkSession, tr: Tracer, o: Outcome, tables: String,
                       expectFile: String, m: mutable.Map[String, Any]): Unit = {
    val expected = scala.io.Source.fromFile(expectFile).getLines()
      .map(_.split(" ", 2)).collect { case Array(n, d) => n -> d }.toMap
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    var failedQueries = queries.count { case (n, _) => Queries.OutsideCheckout(n) }
    val results = mutable.ArrayBuffer[(String, Array[Row])]()
    tr.span("ops.queries") {
      Queries.Families.foreach { f =>
        tr.span(s"ops.$f") {
          queries.filter { case (n, _) => Queries.family(n) == f && !Queries.OutsideCheckout(n) }
            .foreach { case (n, q) =>
              o.timed(s"ops.$n", 0)(tr.span(s"ops.$f.$n")(q(spark, tables).collect()))._2 match {
                case Some(rows) => results += n -> rows
                case None => failedQueries += 1
              }
            }
        }
      }
    }
    results.foreach { case (n, rows) =>
      val d = Queries.digest(rows.toSeq)
      val ok = expected.get(n).contains(d)
      o.check(s"ops.$n.recorded", ok, s"expected=${expected.get(n)} got=$d")
      if (!ok) failedQueries += 1
    }
    Queries.Families.foreach(f => m(s"ops.$f.s") = tr.seconds(s"ops.$f"))
    m("ops.queries_failed") = failedQueries
  }
}
