package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Pins the native dot-product codegen expression bit-for-bit against the
  * zip_with+aggregate reference tree it replaced — same left-to-right
  * IEEE fold, same null-on-length-mismatch, same null-input handling.
  * Raw-bits comparison: a reordered float sum would differ here even when
  * numerically "close". */
class DotProductSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** The original expression-tree formulation of `Similarity.dot`. */
  private def dotReference(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  private def compare(rows: Seq[(Array[Double], Array[Double])]): Unit = {
    val df = rows.toDF("a", "b")
      .withColumn("fast", Similarity.dot($"a", $"b"))
      .withColumn("ref", dotReference($"a", $"b"))
      .collect()
    df.zipWithIndex.foreach { case (r, i) =>
      val fi = r.fieldIndex("fast")
      val ri = r.fieldIndex("ref")
      assert(r.isNullAt(fi) == r.isNullAt(ri), s"row $i null mismatch: $r")
      if (!r.isNullAt(fi)) {
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(fi)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(ri)),
          s"row $i bits differ: fast=${r.getDouble(fi)} ref=${r.getDouble(ri)}")
      }
    }
  }

  test("bit-identical to the reference tree on random vectors") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map { _ =>
      val n = 1 + rnd.nextInt(64)
      (Array.fill(n)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)),
        Array.fill(n)(rnd.nextGaussian()))
    }
    compare(rows)
  }

  test("edge shapes: empty, single, negative zero, huge/tiny magnitudes") {
    compare(Seq(
      (Array.empty[Double], Array.empty[Double]),
      (Array(2.0), Array(3.0)),
      (Array(-0.0, 0.0), Array(0.0, -0.0)),
      (Array(1e308, -1e308, 1.0), Array(1.0, 1.0, 42.0)),
      (Array(1e-320, 5.0), Array(2.0, 1e-310)),
    ))
  }

  test("length mismatch yields null, like zip_with's null padding") {
    compare(Seq(
      (Array(1.0, 2.0), Array(1.0)),
      (Array(1.0), Array(1.0, 2.0, 3.0)),
      (Array.empty[Double], Array(1.0)),
    ))
  }

  test("null inputs propagate") {
    val df = Seq(
      (Some(Array(1.0)), None: Option[Array[Double]]),
      (None: Option[Array[Double]], Some(Array(1.0))),
    ).toDF("a", "b")
      .withColumn("fast", Similarity.dot($"a", $"b"))
      .withColumn("ref", dotReference($"a", $"b"))
      .collect()
    df.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("fast")) && r.isNullAt(r.fieldIndex("ref")))
    }
  }

  test("cosine of planted one-hot pairs is exactly 1.0 through the fast path") {
    val df = Seq(
      (Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0),
        Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0))).toDF("a", "b")
      .select(Similarity.cosine($"a", $"b").as("c")).head()
    assert(df.getDouble(0) == 1.0)
  }
}
