package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every gate row is declared once, carries an oracle and can fail: on the
  * vendored `perfbench/data` tables each row returns at least one row,
  * apart from the exemptions named below with their reasons. The DuckDB
  * comparison itself is `scripts/check_oracle.py` over the output of
  * `graft.Verify`. */
class GateRowsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val rows = SparkEntry.rows

  /** Rows pinned at exactly 0 rows. The vendored documents hold no two
    * identical texts, so exact dedup finds no group; the pin fails once
    * positives are planted, and the exemption goes with it. */
  private val pinnedEmpty = Set("dedup_exact")

  /** Rows not run. `kg_golden_fixture` reads the reference `prisoners.csv`
    * at a fixed path outside the repository (ROADMAP item 1). */
  private val notRun = Set("kg_golden_fixture")

  test("row names are unique") {
    val dups = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    assert(dups.isEmpty, s"declared more than once: ${dups.mkString(", ")}")
  }

  test("queries and oracleSql are derived from the same 48 rows") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 48)
    assert(rows.size == 48)
  }

  test("every oracle is non-empty") {
    val blank = rows.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"rows without oracle SQL: ${blank.mkString(", ")}")
  }

  test("every row returns at least one row on perfbench/data, apart from the named exemptions") {
    val names = rows.map(_.name).toSet
    assert((pinnedEmpty ++ notRun).subsetOf(names), "an exemption names no gate row")
    val counts = rows.filterNot(r => notRun(r.name))
      .map(r => r.name -> r.run(spark, SparkTestBase.corpusDir).count()).toMap
    val empty = counts.collect { case (n, 0L) if !pinnedEmpty(n) => n }
    assert(empty.isEmpty, s"rows returning 0 rows: ${empty.toSeq.sorted.mkString(", ")}")
    pinnedEmpty.foreach(n => assert(counts(n) == 0L, s"$n returns ${counts(n)} rows; drop its exemption"))
  }
}
