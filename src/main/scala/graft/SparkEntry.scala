package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.{Extraction, SynthDocs}
import graft.gate._

/** Gate contract — one [[GateRow]] per implemented operator family
  * (SURVEY.md §2), each with a hash-exact DuckDB oracle. The rows are
  * declared by family under `graft.gate`; this object keeps the tables
  * and planted fixtures they share.
  *
  * Convention: every query ends with an ORDER BY on its key columns and
  * emits only hash-stable value types (strings, longs, dates-as-strings,
  * exact-integer cents for money, int-ratio doubles for Jaccard) so the
  * DuckDB/Spark compare is bit-exact.
  */
object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The sandbox parquet files are single-split; the dedup/text/embedding
    * ops are CPU-bound per row, so spread them across cores the way a
    * many-split production table would be. Relational queries keep the
    * plain scan (repartition there would block filter pushdown).
    * The repartition is GATED on the actual file count so this sandbox
    * workaround cannot leak into a production deployment: a table that
    * already has at least as many splits as cores scans as-is. */
  private[graft] def tWide(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(s, dir, name)
    if (df.inputFiles.length >= s.sparkContext.defaultParallelism) df
    else df.repartition(s.sparkContext.defaultParallelism)
  }

  /** money double -> exact cents (both engines round the same integral
    * value, so SUM stays exact) */
  private[graft] def cents(c: Column): Column = round(c * 100).cast("long")

  /** Planted dedup fixture UNIONED into the sf corpus for the sketch-
    * family gate rows (round-3 verdict #1: give the hash-dependent
    * operators hash-EXACT oracles). Identical-text groups + disjoint-
    * vocabulary singles: identical docs share every band/sketch, so each
    * identical group is GUARANTEED one connected component (offset
    * adjacency + representative chain + the sk cluster star), and its
    * canonical assignment — min id — is derivable by hand, independent of
    * hash values; disjoint vocabulary verifies to jaccard 0 / no shared
    * band, so singles and planted-real pairs can never pass verification.
    * The full corpus still rides the banding + rank windows (pair-id
    * filters cannot push below a window that doesn't partition by them),
    * so the bench keeps measuring candidate generation at sf scale; the
    * oracle then pins the deterministic planted GROUPS (pair-level
    * semantics stay pinned by OpsSpec's planted goldens). */
  private[graft] val PlantBase = 9000000000L
  private[graft] def plantedDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (PlantBase + 10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (PlantBase + 11, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (PlantBase + 12, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (PlantBase + 20, "uno duo tres quattuor quinque sex septem octo novem decem undecim"),
      (PlantBase + 21, "uno duo tres quattuor quinque sex septem octo novem decem undecim"),
      (PlantBase + 30, "rubrum aurantium flavum viride caeruleum indicum violaceum roseum"),
      (PlantBase + 31, "lunae martis mercurii iovis veneris saturni solis mane meridie nox"),
      (PlantBase + 32, "septentrio meridies oriens occidens sursum deorsum laevum dextrum"),
    ).toDF("doc_id", "text")
  }

  /** Canonical assignment over the planted pair graph WITHOUT an
    * iterative connected-components pass: the sk CLUSTER STAR
    * ([[Dedup.chainedBucketPairs]]) guarantees every member of an
    * identical-signature cluster pairs DIRECTLY with the cluster's
    * min-id representative, so canonical = min(self ∪ direct neighbors)
    * — one aggregation, provably identical to ConnectedComponents on
    * these graphs, without CC's ~4 s of fixed per-iteration round-trip
    * latency on a ≤8-node graph (full iterative CC stays oracle-checked
    * at corpus scale under `dedup_groups`). */
  private[graft] def plantedGroups(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    // single-pass symmetrization (explode), NOT a self-union: the union
    // form referenced `pairs` twice and re-executed the entire upstream
    // sketch/banding/pairing pipeline once per branch (same fix as
    // ConnectedComponents round 6)
    val edges = pairs
      .select(explode(array(
        struct($"id_a", $"id_b"),
        struct($"id_b".as("id_a"), $"id_a".as("id_b")))).as("e"))
      .select($"e.id_a", $"e.id_b")
    edges.groupBy($"id_a")
      .agg(min($"id_b").as("mn"))
      .select($"id_a".cast("string").as("doc_id"),
        least($"id_a", $"mn").cast("string").as("canonical_id"))
      .orderBy($"doc_id")
  }

  /** Temp dirs created by the streaming and IVF gate rows, deleted at JVM
    * exit — the drained parquet must OUTLIVE the query (Verify/Bench read
    * the returned frame lazily), so deletion can't happen at drain time,
    * but a bench loop must not leak a dir per invocation either. */
  private val tmpDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val cleanupHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => tmpDirs.forEach { p =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile); ()
    }))
  private[graft] def cleanupAtExit(p: java.nio.file.Path): java.nio.file.Path = {
    cleanupHookInstalled; tmpDirs.add(p); p
  }

  /** Flagship: the full KG extraction pipeline over the synthesized doc
    * table of the vendored sf0.001 corpus; callers smoke-check rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    Extraction.triples(SynthDocs.fromDocuments(spark, SynthDocs.corpusDir)).toDF()

  def rows: Seq[GateRow] = RelationalRows.rows ++ TextRows.rows ++
    SimilarityRows.rows ++ DedupRows.rows ++ StreamingRows.rows ++ KgRows.rows

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map(r => r.name -> r.run).toMap

  def oracleSql: Map[String, String] = rows.map(r => r.name -> r.oracle).toMap
}
