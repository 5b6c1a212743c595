package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents
import graft.extract.SynthDocs
import graft.model.NS
import graft.pipeline.{Pipeline, SnapshotStore}

class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val today = java.time.LocalDate.of(2026, 8, 16)

  test("connected components: min-label propagation to fixpoint") {
    val edges = Seq(
      ("b", "a"), ("c", "b"),          // chain -> comp a
      ("x", "y"),                      // pair  -> comp x
      ("p", "q"), ("q", "r"), ("r", "s"), ("s", "p"), // cycle -> comp p
    ).toDF("src", "dst")
    val comps = ConnectedComponents.components(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comps("a") == "a" && comps("b") == "a" && comps("c") == "a")
    assert(comps("x") == "x" && comps("y") == "x")
    assert(Set("p", "q", "r", "s").forall(comps(_) == "p"))
  }

  test("connected components: checkpointed edge set keeps its hash partitioning") {
    // the fixpoint's scale contract: the per-iteration edge⋈label join must
    // not re-shuffle the edge set (ConnectedComponents pre-partitions on
    // dst before the localCheckpoint, and LogicalRDD preserves it). Pin the
    // planner behavior directly: a join on the partitioning key against a
    // non-broadcast side plans an Exchange ONLY on the label side.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val sym = (1L to 1000L).map(i => (i, i % 50)).toDF("src", "dst")
        .repartition($"dst").localCheckpoint()
      val labels = (0L to 49L).map(i => (i, i)).toDF("dst2", "comp")
      val joined = sym.join(labels, $"dst" === $"dst2")
      joined.count()
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(joined.queryExecution.executedPlan.toString).size
      assert(exchanges == 1,
        s"expected only the label-side exchange, got $exchanges")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("snapshot store: versioning, manifest, resume") {
    SparkTestBase.withTempDir("graft_store") { dir =>
      val store = new SnapshotStore(spark, dir)
      assert(!store.exists("s1") && store.committedStages.isEmpty)

      var computed = 0
      def compute = { computed += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
      val d1 = store.stage("s1", metrics = Seq("rows" -> count(lit(1))))(compute)
      assert(computed == 1 && d1.count() == 2)

      // resume: second run must NOT recompute
      val d2 = store.stage("s1")(compute)
      assert(computed == 1 && d2.count() == 2)

      val manifest = store.readManifest("s1")
      assert(manifest.contains("\"rows\": 2") && manifest.contains("\"version\": 0"))

      // new version on explicit write
      val v = store.write("s1", Seq((3, "c")).toDF("id", "v"))
      assert(v == 1 && store.read("s1").count() == 1)
      store.stage("s0")(compute)
      assert(store.committedStages == Seq("s1", "s0"))
    }
  }

  test("snapshot store: metric'd stage evaluates its plan exactly once") {
    SparkTestBase.withTempDir("graft_onepass") { dir =>
      val store = new SnapshotStore(spark, dir)
      // an accumulator in the plan counts row evaluations: the old design
      // (caller df.count() + write + post-write count()) tripled this
      val acc = spark.sparkContext.longAccumulator("evals")
      val n = 1000L
      val counted = spark.range(n).as[Long]
        .map { x => acc.add(1); x }
        .toDF("id")
      store.stage("one", metrics = Seq("rows" -> count(lit(1))))(counted)
      assert(acc.value == n,
        s"stage evaluated the plan ${acc.value.toDouble / n}x, expected exactly 1x")
      val manifest = store.readManifest("one")
      assert(manifest.contains("\"rows\": 1000"), manifest)
      assert(manifest.contains("\"rows\": 1000") && manifest.contains("\"metrics\": {\"rows\": 1000}"),
        s"observe metric missing: $manifest")
    }
  }

  test("snapshot store: manifest sec times the compute block plus the write") {
    SparkTestBase.withTempDir("graft_sec") { dir =>
      val store = new SnapshotStore(spark, dir)
      // a first write in a fresh JVM can itself take over a second; warm the
      // write path so the write alone stays well under the asserted bound
      store.stage("warm")(Seq((0, "w")).toDF("id", "v"))
      // eager work inside the compute block (like a stage's local
      // checkpoints) is part of the stage and must land in its manifest time
      store.stage("slow") {
        Thread.sleep(1000)
        Seq((1, "a")).toDF("id", "v")
      }
      val manifest = store.readManifest("slow")
      val sec = "\"sec\": ([0-9.]+)".r.findFirstMatchIn(manifest)
        .getOrElse(fail(s"no sec in manifest: $manifest")).group(1).toDouble
      assert(sec >= 1.0, s"manifest sec $sec misses the compute block")
    }
  }

  test("full pipeline over synthetic docs: stages commit, output sane, resume identical") {
    SparkTestBase.withTempDir("graft_pipe") { dir =>
      val docs = SynthDocs.fromDocuments(spark, SparkTestBase.corpusDir)

      val out1 = Pipeline.run(spark, docs, dir, today)
      val n1 = out1.count()
      assert(n1 > 0)
      val k1 = out1.select("subj", "pred", "objValue").as[(String, String, String)]
        .collect().toSet

      // linked triples exist (rank links over the synthetic rank literals)
      val preds = out1.select("pred").distinct().as[String].collect().toSet
      assert(preds.contains(NS.SCHEMA_POW + "rank"), "rank links missing")
      assert(preds.contains(NS.BIOC + "has_occupation"), "occupation links missing")
      assert(preds.contains(NS.SCHEMA_WARSA + "municipality_of_birth"), "municipality links missing")
      assert(preds.contains(NS.CRM + "P70_documents"), "person links missing")
      assert(preds.exists(_.contains("related_period")), "periods missing")
      assert(preds.contains(NS.RDF_TYPE))

      // event entities minted
      val types = out1.filter($"pred" === NS.RDF_TYPE)
        .select("objValue").distinct().as[String].collect().toSet
      assert(types.contains(NS.SCHEMA_WARSA + "Birth"), "birth events missing")
      assert(types.contains(NS.SCHEMA_WARSA + "Capture"), "capture events missing")
      assert(types.contains(NS.SCHEMA_WARSA + "Person"), "person entities missing")

      // media links in the prisoners graph (J10/J11/J12 wired into the run)
      assert(preds.contains(NS.SCHEMA_WARSA + "sotilaan_aani_magazine"), "magazine links missing")
      assert(preds.contains(NS.SCHEMA_WARSA + "person_document"), "person-document links missing")
      assert(preds.contains(NS.SCHEMA_WARSA + "documented_in_video"), "video links missing")
      // ... and Events.people re-hangs them onto the person entities
      val personMedia = out1.filter($"subj".startsWith(NS.ACTORS) &&
        $"pred".isin(NS.SCHEMA_WARSA + "person_document",
          NS.SCHEMA_WARSA + "documented_in_video",
          NS.SCHEMA_WARSA + "sotilaan_aani_magazine"))
      assert(personMedia.count() > 0, "media predicates not re-hung on person entities")

      val store0 = new SnapshotStore(spark, dir)
      assert(store0.committedStages == Seq("camps", "schema", "extract", "extract_errors", "pruned",
        "linked", "media", "person_links", "sourced", "canonical", "record_frame", "events", "final"))
      // media graph: doc entities with type/label/contentUrl (the
      // prisoners_media.ttl analogue)
      val media = store0.read("media")
      val mediaTypes = media.filter($"pred" === NS.RDF_TYPE)
        .select("objValue").distinct().as[String].collect().toSet
      assert(mediaTypes.contains(NS.SCHEMA_WARSA + "SotilaanAani"))
      assert(mediaTypes.contains(NS.SCHEMA_WARSA + "PersonDocument"))
      assert(mediaTypes.contains(NS.SCHEMA_WARSA + "Video"))
      assert(media.filter($"pred" === (NS.SCHEMA_ORG + "contentUrl")).count() > 0)
      // every media link target in the final graph resolves to a media entity
      val linkTargets = out1.filter($"pred".isin(NS.SCHEMA_WARSA + "person_document",
          NS.SCHEMA_WARSA + "documented_in_video", NS.SCHEMA_WARSA + "sotilaan_aani_magazine"))
        .select($"objValue".as("subj")).distinct()
      val unresolved = linkTargets.join(media.select("subj").distinct(), Seq("subj"), "left_anti")
      assert(unresolved.count() == 0, "media link targets missing from the media graph")

      // camps graph: converted camp entities with label + wgs84 coordinates
      val camps = store0.read("camps")
      assert(camps.filter($"pred" === NS.SKOS_PREF_LABEL && $"objLang" === "fi").count() > 0)
      assert(camps.filter($"pred" === "http://www.w3.org/2003/01/geo/wgs84_pos#lat").count() > 0)
      // the re-minted camp URIs share the linker gazetteer's URI space, so
      // location links from the prisoners graph resolve into the camps graph
      val campTargets = out1.filter($"pred" === (NS.SCHEMA_POW + "location"))
        .select($"objValue".as("subj")).distinct()
      val campSubjects = camps.select("subj").distinct()
      assert(campTargets.join(campSubjects, Seq("subj"), "left_semi").count() > 0,
        "no location link resolves into the camps graph")

      // each bounded static graph is written as one file
      for (st <- Seq("camps", "schema", "media")) {
        val files = new java.io.File(s"$dir/$st/v=0").listFiles().count(_.getName.endsWith(".parquet"))
        assert(files == 1, s"the $st stage wrote $files parquet files")
      }

      // schema graph written (mapped properties + static base)
      val schema = store0.read("schema")
      assert(schema.filter($"subj" === (NS.SCHEMA_WARSA + "PowCamp")).count() > 0)

      // the privacy-cutoff date is pinned in the workDir's run config —
      // resume across midnight must reproduce the first run's classification
      val cfg = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_RUN_CONFIG.json")), "UTF-8")
      assert(cfg.contains(s""""today": "$today""""), s"run date not pinned: $cfg")

      // kill-and-resume: wipe the last two stages AND the privacy stage,
      // rerun with a DIFFERENT requested date — the pinned date must win,
      // so the re-computed privacy classification (and hence the whole
      // output) is bit-identical to the uninterrupted run
      val store = new SnapshotStore(spark, dir)
      Seq("pruned", "linked", "person_links", "sourced", "canonical",
        "events", "final").foreach(store.invalidate)
      val out2 = Pipeline.run(spark, docs, dir, today.plusYears(40))
      assert(out2.count() == n1)
      val k2 = out2.select("subj", "pred", "objValue").as[(String, String, String)]
        .collect().toSet
      assert(k1 == k2, "resumed run diverged from original")

      // predicate partitioning materialized on disk
      val finalDir = new java.io.File(s"$dir/final/v=0")
      assert(finalDir.listFiles().exists(_.getName.startsWith("pred_key=")),
        "final store not partitioned by predicate")
    }
  }

  test("a fresh pipeline run stays within its Spark job budget") {
    // one pass per entity in pruning, linking and person features, the
    // batched dictionary linker, the driver-side class closure and the
    // schema-carrying snapshot read-back took a fresh run on this corpus
    // from 209 jobs to 131 (local[4], 4 shuffle partitions); building the
    // camps and media graphs on the driver, so that each static stage runs
    // only its snapshot write, took it to 97; pruning in one pass per
    // subject took it to 83; the budget is that count plus 10%
    val docs = SynthDocs.fromDocuments(spark, SparkTestBase.corpusDir)
    val jobs = SparkTestBase.withTempDir("graft_jobs") { dir =>
      SparkTestBase.jobsOf(Pipeline.run(spark, docs, dir, today))
    }
    val budget = 91
    info(s"$jobs jobs")
    assert(jobs <= budget, s"fresh Pipeline.run took $jobs Spark jobs, budget $budget")
  }

  test("privacy: subjects preserved, possibly-alive redacted (tests.py:117-129)") {
    import graft.privacy.Privacy
    val docs = SynthDocs.fromDocuments(spark, SparkTestBase.corpusDir)
    val triples = graft.extract.Extraction.triples(docs).toDF()
    val endpoint = Seq(("Virtanen", 3L), ("Korhonen", 5L)).toDF("fam", "count")

    val pruned = Privacy.prunePersons(triples, endpoint, today)

    // person records are redacted, never dropped (reification nodes of
    // hidden statements DO disappear — the reference removes those too,
    // prune_nonpublic.py:65-78)
    def recordSubjects(df: org.apache.spark.sql.DataFrame) = df
      .filter($"pred" === NS.RDF_TYPE && $"objValue" === (NS.SCHEMA_WARSA + "PrisonerRecord"))
      .select("subj").distinct().as[String].collect().toSet
    val before = recordSubjects(triples)
    val after = recordSubjects(pruned)
    assert(before == after, s"lost records: ${(before -- after).take(5)}")

    // possibly-alive records got flagged and their given names removed
    val flagged = pruned
      .filter($"pred" === (NS.SCHEMA_POW + "personal_information_removed"))
      .select("subj").as[String].collect().toSet
    if (flagged.nonEmpty) {
      val givenOf = pruned.filter($"pred" === (NS.SCHEMA_WARSA + "given_names"))
        .select("subj").as[String].collect().toSet
      assert(flagged.intersect(givenOf).isEmpty, "redacted person kept given_names")
    }
  }
}
