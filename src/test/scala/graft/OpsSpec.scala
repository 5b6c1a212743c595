package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Training-data pipeline operators: dedup family, similarity search,
  * text analysis, multimodal plumbing. */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (4L, "ja on ei se että oli hän mutta joka myös"),      // finnish
    (5L, "completely different content about spark engines and parquet files"),
  ).toDF("doc_id", "text")

  test("exact dedup: digest groups + canonical keep") {
    val groups = Dedup.exactDuplicateGroups(docs, "doc_id", "text").collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("n_docs") == 2)
    assert(groups.head.getAs[Long]("canonical_id") == 1)
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 2L, 4L, 5L)))
  }

  test("ngram jaccard: finds the near-dup pair, not the unrelated ones") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 1L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((3L, 1L))) // exact pair too
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhash LSH: near-dup recall with verification") {
    val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)), "exact dup must collide in every band")
    assert(pairs.contains((1L, 2L)), "near dup should survive at 0.5")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhash: identical docs collide at hamming 0") {
    val pairs = Dedup.simhashNearDuplicates(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exact = pairs.find(p => p._1 == 1L && p._2 == 3L)
    assert(exact.isDefined && exact.get._3 == 0)
  }

  test("simhash64 is a native codegen expression (no ScalaUDF boundary)") {
    // parquet source, not the local fixture — ConvertToLocalRelation would
    // constant-fold a LocalRelation projection away before the check
    val plan = spark.read.parquet(s"${SparkTestBase.corpusDir}/documents.parquet")
      .select(graft.ops.Simhash.simhash64(
        graft.ops.TextAnalysis.tokens($"text")).as("sig"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("simhash64") && !plan.toLowerCase.contains("scalaudf"),
      s"expected native simhash64 expression in plan:\n$plan")
  }

  test("near-dup groups: pairs -> components -> canonical assignment + drop") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val groups = Dedup.nearDuplicateGroups(pairs)
      .as[(String, String)].collect().toMap
    assert(groups("1") == "1" && groups("2") == "1" && groups("3") == "1",
      "chain 1-2-3 collapses to canonical 1 (adjacency suffices)")
    assert(groups("7") == "7" && groups("8") == "7")
    val kept = Dedup.dropNearDuplicates(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 4L, 5L)), kept.mkString(","))
  }

  test("simhash: adversarial boilerplate corpus stays bounded by the bucket cap") {
    // 100k identical docs -> ONE simhash value -> 4 hot buckets. Uncapped,
    // that is ~2·10^10 candidate COMPARISONS (the r2 range-join form never
    // finished here even with a capped output); the offset-exploded
    // equi-join bounds comparisons at n·maxBucket while offset adjacency +
    // the representative star still chain the whole dup group.
    val n = 100000
    val boiler = spark.range(n.toLong)
      .select($"id".as("doc_id"),
        lit("copyright footer navigation subscribe newsletter terms privacy").as("text"))
    val cap = 8
    val pairs = Dedup.simhashNearDuplicates(boiler, "doc_id", "text",
      maxHamming = 3, maxBucket = cap).persist()
    val cnt = pairs.count()
    assert(cnt <= n.toLong * (cap + 2), s"pair count $cnt exceeds the salted cap bound")
    assert(cnt >= n - 1, s"cap must keep groups connected: got $cnt pairs")
    // the whole duplicate group must stay ONE connected component
    // (within-salt chains + representative chain)
    val groups = Dedup.nearDuplicateGroups(pairs)
    assert(groups.count() == n, "every doc assigned")
    assert(groups.select("canonical_id").distinct().count() == 1,
      "salting must not split the duplicate group")
    pairs.unpersist()
  }

  /** Fixed fixture with PLANTED duplicate groups whose expected pair sets
    * are derivable by hand regardless of hash values: identical texts have
    * identical signatures (minhash jaccard 1, simhash Hamming 0, identical
    * winnowing fingerprints) and the disjoint-vocabulary singles verify to
    * jaccard 0 — so at a high threshold the exact output pair set is
    * exactly the within-group cliques. Pins sketch-path semantics against
    * regressions that a rows-only oracle cannot see. */
  private def plantedCorpus = {
    val groupA = Seq( // 3 identical docs
      10L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      11L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      12L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val groupB = Seq( // 2 identical docs
      20L -> "one two three four five six seven eight nine ten eleven twelve",
      21L -> "one two three four five six seven eight nine ten eleven twelve")
    val singles = Seq(
      30L -> "red orange yellow green blue indigo violet purple pink brown",
      31L -> "monday tuesday wednesday thursday friday saturday sunday morning noon night",
      32L -> "north south east west up down left right forward backward")
    (groupA ++ groupB ++ singles).toDF("doc_id", "text")
  }
  private val plantedPairs = Set((10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L))

  test("minhash golden: exact expected pair set on the planted fixture") {
    val got = Dedup.minhashNearDuplicates(plantedCorpus, "doc_id", "text",
        threshold = 0.9)
      .collect().map(r => (r.getLong(0) min r.getLong(1), r.getLong(0) max r.getLong(1)))
      .toSet
    assert(got == plantedPairs, s"expected $plantedPairs, got $got")
  }

  test("simhash golden: exact expected pair set at Hamming 0") {
    val got = Dedup.simhashNearDuplicates(plantedCorpus, "doc_id", "text",
        maxHamming = 0)
      .collect().map(r => (r.getLong(0) min r.getLong(1), r.getLong(0) max r.getLong(1)))
      .toSet
    assert(got == plantedPairs, s"expected $plantedPairs, got $got")
  }

  test("fingerprint golden: identical-fingerprint pairs are exactly the planted groups") {
    val fps = TextAnalysis.fingerprints(plantedCorpus, "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Seq[Long]]("fingerprint").toSet)
    val got = (for {
      (ida, fa) <- fps; (idb, fb) <- fps
      if ida < idb && fa == fb
    } yield (ida, idb)).toSet
    assert(got == plantedPairs, s"expected $plantedPairs, got $got")
  }

  test("IVF persisted index: probe plan prunes unprobed cell partitions") {
    val emb = spark.read.parquet(s"${SparkTestBase.corpusDir}/embeddings.parquet")
      .select("vec_id", "embedding")
    val (centroids, indexed) = Similarity.ivfIndex(emb, k = 16, iters = 2)
    SparkTestBase.withTempDir("ivf_idx") { dir =>
      val persisted = Similarity.writeIvfIndex(indexed, dir)
      val res = Similarity.cosineTopKIvf(centroids, persisted,
        emb.filter($"vec_id" === 0), k = 3, nprobe = 4)
      // the probe must surface in the scan as a PartitionFilter over cell
      val plan = res.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cell"),
        s"expected partition pruning on cell, plan:\n$plan")
      val pruned = "PartitionFilters: \\[([^\\]]*)\\]".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(pruned.exists(f => f.contains("cell") && f.trim.nonEmpty),
        s"PartitionFilters empty, plan:\n$plan")
      // and the pruned probe returns the same rows as the in-memory index
      val mem = Similarity.cosineTopKIvf(centroids, indexed,
        emb.filter($"vec_id" === 0), k = 3, nprobe = 4)
      assert(res.collect().map(_.toString).sorted
        .sameElements(mem.collect().map(_.toString).sorted))
    }
  }

  test("sketch candidate pairing: bit-identical under input repartition") {
    // salts/ranks derive from id hashes and id-ordered windows, never from
    // physical layout — the resume/cluster-size determinism the north rule
    // needs (any stage recomputable bit-identically at any parallelism)
    def run(df: org.apache.spark.sql.DataFrame) = (
      Dedup.minhashNearDuplicates(df, "doc_id", "text", threshold = 0.5)
        .collect().map(_.toString).sorted.toSeq,
      Dedup.simhashNearDuplicates(df, "doc_id", "text", maxHamming = 16)
        .collect().map(_.toString).sorted.toSeq)
    val corpus = plantedCorpus
    assert(run(corpus) == run(corpus.repartition(7)))
    val emb = spark.read.parquet(s"${SparkTestBase.corpusDir}/embeddings.parquet")
      .select("vec_id", "embedding")
    def runAnn(df: org.apache.spark.sql.DataFrame) =
      Similarity.nearDuplicatePairsLsh(df, threshold = 0.3, bits = 8)
        .collect().map(_.toString).sorted.toSeq
    assert(runAnn(emb) == runAnn(emb.repartition(5)))
  }

  test("as-of join: latest right row at or before each left ts, per key") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dim = Seq(
      (1L, ts("2026-01-01 10:00:00"), "a"),
      (1L, ts("2026-01-01 11:00:00"), "b"),
      (3L, ts("2026-01-01 09:00:00"), "z"),
    ).toDF("k", "dim_ts", "v")
    val events = Seq(
      (100L, 1L, ts("2026-01-01 09:30:00")), // before any dim -> null
      (101L, 1L, ts("2026-01-01 10:00:00")), // exactly at dim -> inclusive "a"
      (102L, 1L, ts("2026-01-01 10:59:00")), // between -> "a"
      (103L, 1L, ts("2026-01-01 12:00:00")), // after both -> "b"
      (104L, 2L, ts("2026-01-01 10:00:00")), // key with no dim -> null
    ).toDF("event_id", "k", "ets")
    val got = AsOfReference.asOf(events, dim, Seq("k"), "ets", "dim_ts", Seq("v"))
      .select("event_id", "v").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(100L).isEmpty)
    assert(got(101L).contains("a"), s"inclusive as-of expected, got ${got(101L)}")
    assert(got(102L).contains("a"))
    assert(got(103L).contains("b"))
    assert(got(104L).isEmpty)
    // deterministic under repartition
    val again = AsOfReference.asOf(events.repartition(3), dim.repartition(2),
        Seq("k"), "ets", "dim_ts", Seq("v"))
      .select("event_id", "v").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(again == got)

    // a null right timestamp must match nothing (not poison the partition)
    val nullDim = dim.unionByName(Seq((1L, null.asInstanceOf[Timestamp], "poison"))
      .toDF("k", "dim_ts", "v"))
    val guarded = AsOfReference.asOf(events, nullDim, Seq("k"), "ets", "dim_ts", Seq("v"))
      .select("event_id", "v").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(guarded == got, s"null right ts changed results: $guarded")

    // right-uniqueness debug guard: clean dim passes, a duplicated
    // (k, ts) trips the require
    AsOfReference.requireUniqueRight(dim, Seq("k"), "dim_ts")
    intercept[IllegalArgumentException] {
      AsOfReference.requireUniqueRight(dim.unionByName(dim), Seq("k"), "dim_ts")
    }
  }

  test("asOfBucketed ≡ asOf: equivalence incl. hot key, ties, null ts, boundaries") {
    import java.sql.Timestamp
    // deterministic pseudo-random workload: one HOT key (0) holding half
    // the rows, arithmetic timestamps that straddle bucket boundaries and
    // produce exact left-ts == right-ts ties; key 7 has no right rows;
    // a few null left timestamps
    val base = 1767225600000000L // 2026-01-01 00:00:00 UTC in micros
    val left = spark.range(400).selectExpr(
      "id AS event_id",
      "CASE WHEN id % 2 = 0 THEN 0 ELSE id % 8 END AS k",
      s"""CASE WHEN id % 37 = 0 THEN CAST(NULL AS TIMESTAMP)
         |ELSE timestamp_micros(${base}L + (id * 977L % 300) * 3600000000L
         |     + (id * 131L % 2) * 500000L) END AS ets""".stripMargin)
    val right = spark.range(120).selectExpr(
      "CASE WHEN id % 2 = 0 THEN 0 ELSE id % 8 END AS k",
      s"timestamp_micros(${base}L + (id * 577L % 300) * 3600000000L) AS rts",
      "concat('v', id) AS v")
      .groupBy("k", "rts").agg(org.apache.spark.sql.functions.expr("min(v) AS v"))
      // uniqueness contract, deterministically (dropDuplicates keeps an
      // ARBITRARY row per key — the two runs could then see different v)
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.select("event_id", "v").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    val plain = run(AsOfReference.asOf(
      left, right, Seq("k"), "ets", "rts", Seq("v")))
    for (bucketSec <- Seq(3600L, 86400L, 100L * 86400L)) {
      val bucketed = run(graft.ops.AsOfJoin.asOfBucketed(
        left, right, Seq("k"), "ets", "rts", Seq("v"), bucketSeconds = bucketSec))
      assert(bucketed == plain, s"asOfBucketed($bucketSec) diverged from asOf")
    }
    assert(plain.exists(_._2.isEmpty) && plain.exists(_._2.nonEmpty),
      "fixture must exercise both matched and unmatched rows")
  }

  test("sessionizeBucketed ≡ sessionize: equivalence incl. one-key-100% skew, null ts, null user") {
    // ALL events on one user — the adversarial shape the per-key window
    // serializes — with gaps engineered around the 1800 s threshold and
    // bucket boundaries (exact-boundary events, cross-bucket sessions);
    // plus null timestamps on the hot user (sessionize keeps them, each as
    // its own session, nulls-first) and a null USER key partition — the
    // round-4 advice gap: the bucketed join-back silently dropped both.
    val base = 1767225600000000L
    val events = spark.range(3000).selectExpr(
      "CAST(42 AS BIGINT) AS user_id",
      // mixture of small intra-session steps and occasional > 30 min gaps;
      // multiples of 900 s land exactly on bucket boundaries
      s"""timestamp_micros(${base}L +
         |  id * 600000000L + (id % 7) * 300000000L +
         |  CAST(id / 50 AS LONG) * 2000000000L + (id % 3) * 250000L) AS ts""".stripMargin)
      .unionByName(spark.range(3).selectExpr(
        "CAST(42 AS BIGINT) AS user_id", "CAST(NULL AS TIMESTAMP) AS ts"))
      .unionByName(spark.range(5).selectExpr(
        "CAST(NULL AS BIGINT) AS user_id",
        s"timestamp_micros(${base}L + id * 2000000000L) AS ts")) // 2000s gaps -> all split
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.select("user_id", "ts", "session_seq").collect()
        .map(r => (if (r.isNullAt(0)) Long.MinValue else r.getLong(0),
          Option(r.getTimestamp(1)).map(_.getTime).getOrElse(Long.MinValue),
          r.getLong(2)))
        .sorted.toSeq
    val plain = run(SessionsReference.sessionize(events, "user_id", "ts"))
    assert(plain.length == 3008, "sessionize must retain null-ts and null-user rows")
    for (bucketSec <- Seq(900L, 3600L, 86400L)) {
      val bucketed = run(graft.ops.Sessions.sessionizeBucketed(
        events, "user_id", "ts", bucketSeconds = bucketSec))
      assert(bucketed == plain, s"sessionizeBucketed($bucketSec) diverged")
    }
    assert(plain.map(_._3).max > 1, "fixture must contain multiple sessions")
  }

  test("cluster star: interleaved duplicate clusters in ONE hot bucket both recover") {
    // Two duplicate clusters interleaved by id inside a single hot bucket
    // (the round-3 honest recall gap): with id-salting alone, members of a
    // cluster land in different salt subgroups and connect only through
    // subgroup representatives — which alternate between clusters, so
    // after verification kills cross-cluster candidates a cluster can
    // shatter. The sk cluster star pairs every row DIRECTLY with its
    // cluster's min-id representative, keeping each cluster one component.
    import spark.implicits._
    val n = 400 // 200 per cluster, interleaved ids
    val banded = spark.range(n)
      .select(lit("hot").as("bucket"), $"id", pmod($"id", lit(2)).as("sk"))
    val pairs = graft.ops.Dedup.chainedBucketPairs(banded, maxBucket = 4, salts = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // verification: only same-cluster (same parity) pairs survive
    val verified = pairs.filter { case (a, b) => a % 2 == b % 2 }
    assert(pairs.length <= n * (4 + 4), s"comparison bound violated: ${pairs.length}")
    val comps = graft.ops.Dedup.nearDuplicateGroups(
        verified.toSeq.toDF("id_a", "id_b"))
      .select("canonical_id").distinct().as[String].collect().toSet
    assert(comps == Set("0", "1"),
      s"each interleaved cluster must stay ONE component, got $comps")
  }

  test("second cluster star: sk disagrees, sk2 recovers the cluster") {
    // The sk2 motivation shape: near-dups (not identical), so the FIRST
    // minhash element disagrees across the cluster (sk = id, all distinct
    // — its star fires nothing), but the independent SECOND element
    // agrees (sk2 = parity). Two such clusters interleaved in ONE hot
    // bucket: only the sk2 cluster star can keep each one component,
    // ranks/representatives alternate between clusters exactly as in the
    // single-key adversarial case.
    import spark.implicits._
    val n = 400
    val banded = spark.range(n).select(lit("hot").as("bucket"), $"id",
      $"id".as("sk"), pmod($"id", lit(2)).as("sk2"))
    val pairs = graft.ops.Dedup.chainedBucketPairs(banded, maxBucket = 4, salts = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val verified = pairs.filter { case (a, b) => a % 2 == b % 2 }
    assert(pairs.length <= n * (4 + 6), s"comparison bound violated: ${pairs.length}")
    val comps = graft.ops.Dedup.nearDuplicateGroups(
        verified.toSeq.toDF("id_a", "id_b"))
      .select("canonical_id").distinct().as[String].collect().toSet
    assert(comps == Set("0", "1"),
      s"sk2 star must keep each cluster ONE component, got $comps")
  }

  test("pair orientation is canonical: no (a,b)+(b,a) double emission") {
    // With sk2 in the rank order, the offset/star branches orient pairs
    // rep-first under (sk, sk2, id) while the cluster stars orient
    // min-id-first — inside an equal-sk cluster whose sk2 differs those
    // conventions can disagree, and before the least/greatest
    // canonicalization the same pair slipped through dropDuplicates in
    // both orientations. Shape: equal sk, sk2 ANTI-correlated with id
    // (min-RANK row = max-ID row), small enough that every branch fires.
    import spark.implicits._
    val n = 40
    val banded = spark.range(n).select(lit("hot").as("bucket"), $"id",
      lit(7L).as("sk"), (lit(n.toLong) - $"id").as("sk2"))
    val pairs = graft.ops.Dedup.chainedBucketPairs(banded, maxBucket = 4, salts = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a < b },
      s"non-canonical orientation emitted: ${pairs.filterNot { case (a, b) => a < b }.take(5).toSeq}")
    assert(pairs.distinct.length == pairs.length, "duplicate pairs emitted")
  }

  test("range join: containment semantics incl. bucket-spanning intervals") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val intervals = Seq(
      (1L, ts("2026-01-01 02:00:00"), ts("2026-01-01 20:00:00"), "day1"),
      // interval spanning MANY buckets (bucketSeconds default 6h)
      (1L, ts("2026-01-02 00:00:00"), ts("2026-01-04 00:00:00"), "long"),
      (2L, ts("2026-01-01 00:00:00"), ts("2026-01-01 00:00:00"), "empty"),
    ).toDF("k", "s", "e", "tag")
    val events = Seq(
      (10L, 1L, ts("2026-01-01 01:00:00")),  // before day1 -> no match
      (11L, 1L, ts("2026-01-01 02:00:00")),  // inclusive start -> day1
      (12L, 1L, ts("2026-01-01 19:59:59")),  // inside -> day1
      (13L, 1L, ts("2026-01-01 20:00:00")),  // exclusive end -> no match
      (14L, 1L, ts("2026-01-03 11:00:00")),  // middle bucket of "long"
      (15L, 2L, ts("2026-01-01 00:00:00")),  // empty interval -> no match
    ).toDF("event_id", "k", "ets")
    val got = graft.ops.RangeJoin.intervalJoin(events, intervals, Seq("k"),
        "ets", "s", "e")
      .select("event_id", "tag").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(got == Set(11L -> "day1", 12L -> "day1", 14L -> "long"), got.toString)

    // sub-second precision: an interval ending at a bucket boundary +0.5s
    // must still match an event inside that boundary bucket (second
    // truncation dropped this case)
    val subIv = Seq((9L, ts("2026-01-01 09:30:00"),
      Timestamp.valueOf("2026-01-01 10:00:00.500"), "sub")).toDF("k", "s", "e", "tag")
    val subEv = Seq((20L, 9L, Timestamp.valueOf("2026-01-01 10:00:00.200")))
      .toDF("event_id", "k", "ets")
    val sub = graft.ops.RangeJoin.intervalJoin(subEv, subIv, Seq("k"),
        "ets", "s", "e", bucketSeconds = 3600L)
      .select("event_id").collect()
    assert(sub.length == 1, "sub-second interval end must not lose its last bucket")
  }

  test("sessionize: gap rule, per-user numbering, repartition-stable") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2026-01-01 10:00:00")), (1L, ts("2026-01-01 10:10:00")), // session 1
      (1L, ts("2026-01-01 11:30:00")),                                  // gap > 30min -> 2
      (2L, ts("2026-01-01 09:00:00")),                                  // other user -> 1
    ).toDF("user_id", "ts")
    val got = SessionsReference.sessionize(events, "user_id", "ts")
      .select("user_id", "ts", "session_seq").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString) -> r.getLong(2)).toMap
    assert(got((1L, "2026-01-01 10:00:00.0")) == 1L)
    assert(got((1L, "2026-01-01 10:10:00.0")) == 1L)
    assert(got((1L, "2026-01-01 11:30:00.0")) == 2L)
    assert(got((2L, "2026-01-01 09:00:00.0")) == 1L)
    val again = SessionsReference.sessionize(events.repartition(3), "user_id", "ts")
      .select("user_id", "ts", "session_seq").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString) -> r.getLong(2)).toMap
    assert(again == got)

    // sub-second gap: 1800.05 s > gap must split (second truncation said
    // 1800 and kept one session, diverging from the streaming sessionizer)
    val subEvents = Seq(
      (5L, Timestamp.valueOf("2026-01-01 10:00:00.900")),
      (5L, Timestamp.valueOf("2026-01-01 10:30:00.950")),
    ).toDF("user_id", "ts")
    val subSeq = SessionsReference.sessionize(subEvents, "user_id", "ts")
      .select("session_seq").as[Long].collect().sorted
    assert(subSeq.sameElements(Array(1L, 2L)),
      s"1800.05s gap must start a new session, got ${subSeq.mkString(",")}")
  }

  test("vocabulary: deterministic top-k word counts") {
    val vocab = TextAnalysis.vocabulary(docs, "text", k = 3)
      .as[(String, Long)].collect()
    assert(vocab.head == ("the", 6L), // 2 each in docs 1, 2, 3
      s"'the' appears 6x in the fixture, got ${vocab.head}")
    assert(vocab.map(_._2).sliding(2).forall(p => p.head >= p.last))
  }

  test("repetition: top-bigram count flags boilerplate") {
    val cases = Seq(
      (1L, "spam spam spam spam spam"),          // the bigram "spam spam" 4x
      (2L, "all words here are different ones"), // all 5 bigrams unique
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionCounts(cases, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(1L) == (4L, 4L), s"got ${rows(1L)}")
    assert(rows(2L) == (1L, 5L), s"got ${rows(2L)}")
  }

  test("pii: detection counts and scrub placeholders") {
    val cases = Seq(
      (1L, "mail me at john.doe@example.com or visit https://example.org/x?q=1"),
      (2L, "server at 192.168.0.1 port 80"),
      (3L, "call +358 40 1234567 now"),
      (4L, "no pii here at all"),
    ).toDF("doc_id", "text")
    val counts = TextAnalysis.piiCounts($"text")
    val got = cases
      .select(Seq($"doc_id") ++ counts.map { case (n, c) => c.as(n) } :+
        TextAnalysis.scrubPii($"text").as("s"): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Int]("n_email") == 1 && got(1L).getAs[Int]("n_url") == 1)
    assert(got(1L).getAs[String]("s") == "mail me at [EMAIL] or visit [URL]")
    assert(got(2L).getAs[Int]("n_ipv4") == 1)
    assert(got(2L).getAs[String]("s") == "server at [IPV4] port 80")
    assert(got(3L).getAs[Int]("n_phone") == 1)
    assert(got(3L).getAs[String]("s") == "call [PHONE] now")
    assert(got(4L).getAs[Int]("n_email") == 0 && got(4L).getAs[Int]("n_phone") == 0)
    assert(got(4L).getAs[String]("s") == "no pii here at all")
  }

  test("language id: stopword heuristic") {
    val got = docs.select($"doc_id", TextAnalysis.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(4L) == "fi")
  }

  test("token counting and quality counts") {
    val row = docs.filter($"doc_id" === 1)
      .select(TextAnalysis.tokenCount($"text").as("n"),
        TextAnalysis.subwordCount($"text").as("sw")).head()
    assert(row.getInt(0) == 9)
    assert(row.getInt(1) > 9)
  }

  test("quality filter: ordered rules, first failure wins") {
    val cases = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),          // keep
      (2L, "too short"),                                            // too_short
      (3L, "a b c d e ,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,"),     // punct
      (4L, "the 1234567890 1234567890 1234567890 99 11 22"),        // digits
      (5L, "lorem ipsum dolor sit amet consectetur adipiscing xyz"),// no_stopwords
    ).toDF("doc_id", "text")
    val got = cases.select($"doc_id",
        TextAnalysis.qualityVerdict($"text").as("v"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "keep")
    assert(got(2L) == "too_short")
    assert(got(3L) == "too_much_punctuation")
    assert(got(4L) == "too_many_digits")
    assert(got(5L) == "no_stopwords")
  }

  test("fingerprints: stable, near-dups share grams") {
    val fp = TextAnalysis.fingerprints(docs, "text")
      .select($"doc_id", $"fingerprint").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fp(1L) == fp(3L), "identical docs -> identical fingerprint")
    assert(fp(1L).intersect(fp(2L)).nonEmpty, "near-dups share fingerprint grams")
    assert(fp(1L).intersect(fp(5L)).isEmpty)
  }

  test("cosine top-k: self excluded, ranks deterministic, exact vs lsh consistent") {
    val emb = spark.read.parquet(s"${SparkTestBase.corpusDir}/embeddings.parquet")
    val q = emb.filter($"vec_id" < 3)
    val exact = Similarity.cosineTopK(emb, q, k = 5).collect()
    assert(exact.length == 15)
    assert(!exact.exists(r => r.getLong(0) == r.getLong(1)))
    // rank 1 per query has the max cosine
    val byQuery = exact.groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(2))
      assert(sorted.map(_.getDouble(3)).sliding(2).forall(p => p.head >= p.last - 1e-12))
    }
    // LSH candidates are a subset with the same scoring
    val lsh = Similarity.cosineTopKLsh(emb, q, k = 5).collect()
    assert(lsh.nonEmpty)
    val exactSet = exact.map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val exactPairs = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      if (exactPairs.contains(key))
        assert(exactSet.exists(e => e._1 == key._1 && e._2 == key._2 &&
          math.abs(e._3 - r.getDouble(3)) < 1e-12))
    }
  }

  test("ANN self-join: finds identical vectors, bounded on adversarial input") {
    val emb = spark.read.parquet(s"${SparkTestBase.corpusDir}/embeddings.parquet")
      .select("vec_id", "embedding")
    // plant an exact duplicate of vec 0 under a fresh id
    val dup = emb.filter($"vec_id" === 0).select(lit(999999L).as("vec_id"), $"embedding")
    val pairs = Similarity.nearDuplicatePairsLsh(emb.unionByName(dup), threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val planted = pairs.find(p => p._1 == 0L && p._2 == 999999L)
    assert(planted.isDefined, s"planted duplicate not found among ${pairs.length} pairs")
    assert(planted.get._3 > 0.999)
    // deterministic
    val again = Similarity.nearDuplicatePairsLsh(emb.unionByName(dup), threshold = 0.999).count()
    assert(again == pairs.length)

    // adversarial: 5k identical vectors land in ONE bucket per table;
    // the rank-window cap keeps the join linear, chains keep the group
    val n = 5000
    val one = spark.range(n.toLong).select($"id".as("vec_id"),
      array((0 until 64).map(i => lit(0.1f * ((i % 7) + 1))): _*).as("embedding"))
    val cap = 8
    val bounded = Similarity.nearDuplicatePairsLsh(one, threshold = 0.999, maxBucket = cap)
      .persist()
    val cnt = bounded.count()
    assert(cnt <= n.toLong * (cap + 2), s"pair count $cnt exceeds the salted cap bound")
    val groups = Dedup.nearDuplicateGroups(bounded)
    assert(groups.count() == n && groups.select("canonical_id").distinct().count() == 1,
      "salting must not split the duplicate group")
    bounded.unpersist()
  }

  test("IVF: deterministic cells, probe search finds the planted duplicate") {
    val emb = spark.read.parquet(s"${SparkTestBase.corpusDir}/embeddings.parquet")
      .select("vec_id", "embedding")
    val dup = emb.filter($"vec_id" === 0).select(lit(999999L).as("vec_id"), $"embedding")
    val corpus = emb.unionByName(dup)

    val (c1, idx1) = Similarity.ivfIndex(corpus, k = 16, iters = 3)
    val (c2, idx2) = Similarity.ivfIndex(corpus, k = 16, iters = 3)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq, "centroids must be deterministic")
    // identical vectors land in the same cell
    val cells = idx1.filter($"vec_id".isin(0L, 999999L))
      .select("cell").as[Int].collect()
    assert(cells.length == 2 && cells(0) == cells(1))
    // every doc has exactly one cell, all cells within range
    assert(idx1.count() == corpus.count())
    assert(idx1.select(max($"cell")).head().getInt(0) < 16)

    // probe search: the duplicate of query 0 must surface at rank 1
    val res = Similarity.cosineTopKIvf(c1, idx1, corpus.filter($"vec_id" === 0), k = 3)
      .collect()
    assert(res.nonEmpty)
    val top = res.minBy(_.getInt(2))
    assert(top.getLong(1) == 999999L && top.getDouble(3) > 0.999,
      s"planted duplicate should be rank 1, got $top")
    // deterministic result set
    val res2 = Similarity.cosineTopKIvf(c1, idx1, corpus.filter($"vec_id" === 0), k = 3)
      .collect()
    assert(res.map(_.toString).sorted.sameElements(res2.map(_.toString).sorted))
  }

  test("multimodal: media refs extracted from interleaved spans, order kept") {
    import graft.extract.DocIngest
    // the reference fixture carries a propaganda_magazine_link cell ->
    // its span is the one with media_ref set
    val refs = Multimodal.mediaRefs(DocIngest.prisonersDocs(spark))
      .collect()
    assert(refs.nonEmpty, "golden fixture has magazine-link media spans")
    refs.foreach { r =>
      assert(r.getAs[String]("media_ref").startsWith("http"),
        s"media_ref should be the link URL: $r")
      assert(r.getAs[String]("kind").nonEmpty)
    }
    // ordinal stability: same rows under repartition
    val again = Multimodal.mediaRefs(DocIngest.prisonersDocs(spark).repartition(7))
      .collect()
    assert(refs.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("multimodal: schema, batched stub decode, frame sampling") {
    val media = Multimodal.mediaTable(
      spark.read.parquet(s"${SparkTestBase.corpusDir}/documents.parquet"))
    assert(media.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(media)
    val f = feats.head()
    assert(f.features.length == 8 && f.n_bytes > 0)
    // determinism: same payload -> same checksum across runs
    val c1 = feats.filter($"doc_id" === 0).head().checksum
    val c2 = Multimodal.extractFeatures(media).filter($"doc_id" === 0).head().checksum
    assert(c1 == c2)
    val frames = Multimodal.sampleFrames(media, n = 4)
    assert(frames.groupBy("doc_id").count().select(max("count")).head().getLong(0) == 4)
  }

  test("planted-ANN oracle premise: no corpus vector ties cosine 1.0 with a one-hot axis") {
    // The embed_cosine_{lsh,ivf} VALUES oracles assume the planted
    // identical vectors are the UNIQUE rank-1/rank-2 neighbors of the
    // planted one-hot queries — i.e. no REAL corpus vector reaches cosine
    // exactly 1.0 against axis 0..3. Pin that premise against the shipped
    // corpora so a regenerated corpus cannot silently invalidate the
    // oracle (round-5 advice #4): cosine(v, e_k) = 1 requires v to be a
    // positive multiple of e_k, i.e. every other component exactly 0.
    // sf0.001 ships with the benchmark; the sf0.01 and sf0.1 files are
    // byte-identical copies of those tiers' embeddings.parquet
    Seq("sf0.001" -> s"${SparkTestBase.corpusDir}/embeddings.parquet",
      "sf0.01" -> "src/test/resources/sf0.01/embeddings.parquet",
      "sf0.1" -> "src/test/resources/sf0.1/embeddings.parquet").foreach { case (sf, path) =>
      val emb = spark.read.parquet(path)
      val ties = emb.select($"vec_id", $"embedding".cast("array<double>").as("v"))
        .withColumn("nz", size(filter($"v", x => x =!= 0.0d)))
        .withColumn("axis0to3",
          expr("exists(slice(v, 1, 4), x -> x > 0)"))
        .filter($"nz" === 1 && $"axis0to3")
        .count()
      assert(ties == 0, s"$sf: $ties corpus vector(s) lie exactly on a planted one-hot axis")
    }
  }
}
