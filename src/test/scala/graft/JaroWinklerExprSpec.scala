package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Converters, JaroWinklerExpression}

class JaroWinklerExprSpec extends AnyFunSuite {

  test("SQL surface: jaro_winkler + graft_slugify callable from spark.sql") {
    val spark = SparkTestBase.spark
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT jaro_winkler('kapteeni', 'kapteni') AS jw, graft_slugify('Vienan Kemi') AS s")
      .head()
    assert(r.getDouble(0) > 0.9 && r.getDouble(0) <= 1.0)
    assert(r.getString(1) == "vienan-kemi")
    // simhash64 over an array<bigint> literal: identical inputs agree
    val sh = spark.sql(
      "SELECT simhash64(array(xxhash64('a'), xxhash64('b'))) = " +
        "simhash64(array(xxhash64('a'), xxhash64('b'))) AS eq").head()
    assert(sh.getBoolean(0))
    // native expression, not a ScalaUDF: the plan must NOT contain UDF for jw
    val plan = spark.sql("SELECT jaro_winkler('a','b')").queryExecution.executedPlan.toString
    assert(plan.contains("jaro_winkler") && !plan.toLowerCase.contains("scalaudf"),
      s"expected native expression in plan:\n$plan")
  }

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("native expression matches the scala scorer and survives codegen") {
    val df = Seq(
      ("martha", "marhta"), ("dixon", "dicksonx"), ("abc", "abc"),
      ("", "x"), ("sekatyomies", "sekatyömies"),
    ).toDF("a", "b")
    val got = df.select($"a", $"b",
      JaroWinklerExpression.jaroWinkler($"a", $"b").as("jw")).collect()
    got.foreach { r =>
      val expected = Converters.jaroWinkler(r.getString(0), r.getString(1))
      assert(math.abs(r.getDouble(2) - expected) < 1e-12,
        s"${r.getString(0)}/${r.getString(1)}")
    }
    // nulls propagate (BinaryExpression default null-intolerance)
    val withNull = Seq((Some("a"), None: Option[String])).toDF("a", "b")
      .select(JaroWinklerExpression.jaroWinkler($"a", $"b").as("jw")).head()
    assert(withNull.isNullAt(0))
    // against a real scan (a local Seq constant-folds away), the plan stays
    // inside WholeStageCodegen with no ScalaUDF boundary — and evaluates
    val real = spark.read.parquet(s"${SparkTestBase.corpusDir}/documents.parquet")
      .select($"source", $"lang",
        JaroWinklerExpression.jaroWinkler($"source", $"lang").as("jw"))
    val plan = real.queryExecution.executedPlan.toString()
    // "*(1) Project [... jaro_winkler(...)]": the asterisk marks the
    // operator as inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project") && plan.contains("jaro_winkler("), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    val sample = real.head()
    assert(math.abs(sample.getDouble(2) -
      Converters.jaroWinkler(sample.getString(0), sample.getString(1))) < 1e-12)
  }
}
