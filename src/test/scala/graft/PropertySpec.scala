package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Property-based invariants of the scalar core (SURVEY.md §5 extensions):
  * idempotence of the name normalization, inverse relations of the parse
  * ops, determinism of minting/slugify. Uses raw ScalaCheck generators with
  * a fixed seed (the scalatest-scalacheck bridge isn't in the offline
  * dependency cache). */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(f: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc))(t => f(t._1, t._2, t._3))

  private val finWord: Gen[String] =
    Gen.chooseNum(2, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(('a' to 'z') ++ Seq('ä', 'ö', 'å'))).map(_.mkString))

  private val nameGen: Gen[String] = for {
    last <- finWord
    first <- finWord
    second <- finWord
  } yield s"${last.capitalize} ${first.capitalize} ${second.capitalize}"

  test("person-name normalization is idempotent on its own output") {
    forAll(nameGen) { raw =>
      val once = Converters.convertPersonName(raw)
      val assembled = if (once.given.nonEmpty) s"${once.family} ${once.given}" else once.family
      val twice = Converters.convertPersonName(assembled)
      assert(twice.family == once.family)
      assert(twice.given == once.given)
    }
  }

  test("value-with-source parse inverts the (value, source) template") {
    val valGen = finWord.map(_.capitalize)
    forAll(valGen, finWord) { (v, src) =>
      val parsed = Parsers.readValueWithSource(s"$v ($src)")
      assert(parsed.value == v)
      assert(parsed.source == src)
      assert(parsed.trash.isEmpty)
    }
  }

  test("semicolon parse inverts the 'source: value' template") {
    forAll(finWord, finWord) { (src, v) =>
      val parsed = Parsers.readSemicolonSeparated(s"$src: $v")
      assert(parsed.value == v)
      assert(parsed.source == src)
    }
  }

  test("date conversion: valid d.M.yyyy roundtrips, garbage passes through") {
    forAll(Gen.chooseNum(1, 28), Gen.chooseNum(1, 12), Gen.chooseNum(1860, 1960)) {
      (d, m, y) =>
        val r = Converters.convertDates(s"$d.$m.$y")
        assert(r.isDate)
        assert(r.date == java.time.LocalDate.of(y, m, d))
        val slash = Converters.convertDates(s"$d/$m/$y")
        assert(slash.date == r.date)
    }
    forAll(finWord) { junk =>
      val r = Converters.convertDates(junk)
      assert(!r.isDate && r.raw == junk)
    }
  }

  test("slugify is deterministic, ascii, and idempotent") {
    forAll(Gen.alphaStr.suchThat(_.nonEmpty), finWord) { (a, b) =>
      val s1 = Converters.slugify(s"$a $b")
      assert(s1 == Converters.slugify(s"$a $b"))
      assert(s1.matches("[a-z0-9-]*"))
      assert(Converters.slugify(s1) == s1)
    }
  }

  test("jaro-winkler: bounded, symmetric, 1 iff equal (non-empty)") {
    forAll(finWord, finWord) { (a, b) =>
      val s = Converters.jaroWinkler(a, b)
      assert(s >= 0.0 && s <= 1.0)
      assert(math.abs(s - Converters.jaroWinkler(b, a)) < 1e-12)
      if (a == b) assert(s == 1.0)
    }
  }

  test("python title: idempotent and case-insensitive-stable") {
    forAll(Gen.listOf(Gen.oneOf(finWord, Gen.numStr)).map(_.mkString(" "))) { s =>
      val t1 = PyStr.title(s)
      assert(PyStr.title(t1) == t1)
      assert(PyStr.title(s.toUpperCase) == t1)
    }
  }

  // ---- randomized equivalence of the skew-safe temporal forms ----------
  // The OpsSpec equivalence fixtures are hand-built (hot key, exact
  // boundary ties, null shapes); these pin the boundary arithmetic
  // (__first_new, carry-spine frame) against off-by-one regressions on
  // RANDOM corpora: random (key, ts) rows with nulls and heavy ts
  // collisions, random gap, and bucket sizes drawn independently of the
  // timestamp spacing. Few samples (Spark job per sample), fixed seed.

  private lazy val spark = SparkTestBase.spark

  // timestamps cluster on a coarse grid (forces exact ties and
  // exact-bucket-boundary hits for small bucket sizes) plus occasional
  // sub-second jitter
  private val tsGen: Gen[Option[Long]] = Gen.frequency(
    24 -> (for {
      step <- Gen.chooseNum(0L, 400L)
      jitter <- Gen.oneOf(0L, 0L, 0L, 250000L, 999999L)
    } yield Some(1767225600000000L + step * 450000000L + jitter)),
    1 -> Gen.const(None))

  private val keyGen: Gen[Option[Long]] =
    Gen.frequency(9 -> Gen.chooseNum(0L, 3L).map(Some(_)), 1 -> Gen.const(None))

  private val bucketSecGen: Gen[Long] =
    Gen.oneOf(60L, 450L, 1800L, 3600L, 86400L, 8640000L)

  test("property: sessionizeBucketed ≡ sessionize on random corpora/gaps/buckets") {
    import spark.implicits._
    val corpusGen = for {
      rows <- Gen.listOfN(300, Gen.zip(keyGen, tsGen))
      gapSec <- Gen.oneOf(300L, 450L, 1800L, 3700L)
      buckets <- Gen.listOfN(2, bucketSecGen)
    } yield (rows, gapSec, buckets)
    forAll(corpusGen, n = 6) { case (rows, gapSec, buckets) =>
      val events = rows.map { case (k, ts) => (k, ts.map(new java.sql.Timestamp(_))) }
        .toDF("user_id", "__ms")
        .selectExpr("user_id", "CAST(__ms AS TIMESTAMP) AS ts")
      def run(f: => org.apache.spark.sql.DataFrame) =
        f.select("user_id", "ts", "session_seq").collect()
          .map(r => (if (r.isNullAt(0)) Long.MinValue else r.getLong(0),
            Option(r.getTimestamp(1)).map(_.getTime).getOrElse(Long.MinValue),
            r.getLong(2)))
          .sorted.toSeq
      val plain = run(SessionsReference.sessionize(events, "user_id", "ts", gapSec))
      for (b <- buckets.distinct) {
        val bucketed = run(graft.ops.Sessions.sessionizeBucketed(
          events, "user_id", "ts", gapSec, bucketSeconds = b))
        assert(bucketed == plain,
          s"sessionizeBucketed(gap=$gapSec, bucket=$b) diverged on random corpus")
      }
    }
  }

  test("property: asOfBucketed ≡ asOf on random corpora/buckets") {
    import spark.implicits._
    val corpusGen = for {
      lrows <- Gen.listOfN(200, Gen.zip(keyGen.map(_.getOrElse(9L)), tsGen))
      rrows <- Gen.listOfN(80, Gen.zip(Gen.chooseNum(0L, 4L), tsGen))
      buckets <- Gen.listOfN(2, bucketSecGen)
    } yield (lrows, rrows, buckets)
    forAll(corpusGen, n = 6) { case (lrows, rrows, buckets) =>
      val left = lrows.zipWithIndex
        .map { case ((k, ts), i) => (i.toLong, k, ts.map(new java.sql.Timestamp(_))) }
        .toDF("event_id", "k", "__ms")
        .selectExpr("event_id", "k", "CAST(__ms AS TIMESTAMP) AS ets")
      val right = rrows.collect { case (k, Some(ts)) => (k, new java.sql.Timestamp(ts)) }
        .toDF("k", "__ms")
        .selectExpr("k", "CAST(__ms AS TIMESTAMP) AS rts", "concat(k, '@', __ms) AS v")
        .groupBy("k", "rts") // uniqueness contract, deterministically
        .agg(org.apache.spark.sql.functions.expr("min(v) AS v"))
      def run(f: => org.apache.spark.sql.DataFrame) =
        f.select("event_id", "v").collect()
          .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
      val plain = run(AsOfReference.asOf(
        left, right, Seq("k"), "ets", "rts", Seq("v")))
      for (b <- buckets.distinct) {
        val bucketed = run(graft.ops.AsOfJoin.asOfBucketed(
          left, right, Seq("k"), "ets", "rts", Seq("v"), bucketSeconds = b))
        assert(bucketed == plain,
          s"asOfBucketed(bucket=$b) diverged from asOf on random corpus")
      }
    }
  }
}
