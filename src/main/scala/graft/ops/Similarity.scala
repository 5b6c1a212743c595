package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k with `zip_with`/`aggregate`
  * expressions (codegen'd, no UDF). Scale path: random-hyperplane LSH
  * bucketing so candidate generation is a bucket equi-join instead of a
  * cross join — at 10^12 rows the cross join is impossible, the bucket
  * join shuffles each side once on the sketch key.
  */
object Similarity {

  /** dot(a,b) as one native codegen loop
    * ([[graft.functions.DotProductExpression]]) — bit-identical to the
    * zip_with+aggregate tree it replaced (same left-to-right IEEE fold;
    * equivalence pinned by DotProductSpec), without the higher-order
    * functions' interpreted fallback + per-pair array allocation. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpression.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k neighbours of `queries` within `corpus`.
    * Queries are expected small → broadcast; corpus streams once. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(q)
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("cos", cosine($"qv".cast("array<double>"), $"cv".cast("array<double>")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"neighbor_id", $"rank", $"cos")
  }

  /** Deterministic pseudo-random hyperplanes: components are a pure hash
    * of (table, bit, dim) mapped to [-1, 1] — no RNG state, so executors
    * need no broadcast and re-runs/resumes are bit-reproducible. */
  private def planeArrays(bits: Int, tables: Int, dims: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables, bits, dims) { (t, b, d) =>
      val h = scala.util.hashing.MurmurHash3.productHash(("plane", t, b, d))
      h.toDouble / Int.MaxValue
    }

  /** One table's sign sketch over preallocated planes. */
  private def sketchOne(planes: Array[Array[Double]], vec: Array[Double],
                        bits: Int, dims: Int): Long = {
    val n = math.min(dims, vec.length)
    var sketch = 0L
    var b = 0
    while (b < bits) {
      val plane = planes(b)
      var acc = 0.0
      var d = 0
      while (d < n) { acc += vec(d) * plane(d); d += 1 }
      sketch = sketch * 2 + (if (acc > 0) 1L else 0L)
      b += 1
    }
    sketch
  }

  /** All `tables` sign sketches of a vector in ONE batched primitive pass
    * (tables × bits dot products over preallocated plane arrays). The
    * previous form was a per-bit zip_with/aggregate expression TREE against
    * a literal matrix — semantically identical but it evaluated `bits`
    * array allocations per row and dominated the bench (8.5 s of a 30 s
    * suite at sf0.1). One UDF invocation per row with while-loops is the
    * faster shape here; the planes ride the closure, no broadcast needed. */
  private def sketchAllUdf(bits: Int, tables: Int, dims: Int) = {
    val planes = planeArrays(bits, tables, dims)
    // typed Seq[Double]: Spark upcasts array<float> input losslessly, so
    // the dot products run in double like the exact-cosine path (a float
    // downcast can flip signs for near-orthogonal vectors)
    udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val vec = v.toArray
        val out = new Array[Long](tables)
        var t = 0
        while (t < tables) { out(t) = sketchOne(planes(t), vec, bits, dims); t += 1 }
        out
      }
    }
  }

  /** (id, vec, bucket) rows: one bucket string per LSH table. */
  private def sketched(df: DataFrame, id: String, vec: String,
                       bits: Int, tables: Int, dims: Int): DataFrame = {
    val sk = sketchAllUdf(bits, tables, dims)
    df.select(col(id), col(vec), posexplode(sk(col(vec))))
      .select(col(id), col(vec), concat(col("pos"), lit(":"), col("col")).as("bucket"))
  }

  /** LSH-bucketed approximate cosine top-k: candidates must share at least
    * one of `tables` independent sign sketches; then exact cosine + top-k.
    * Recall grows with `tables`; each table is an equi-join on a Long.
    * Queries are small by contract (broadcast); for corpus×corpus ANN use
    * [[nearDuplicatePairsLsh]]. */
  def cosineTopKLsh(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    bits: Int = 12, tables: Int = 4, dims: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    val qs = sketched(queries, idCol, vecCol, bits, tables, dims)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), $"bucket")
    val cs = sketched(corpus, idCol, vecCol, bits, tables, dims)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), $"bucket")

    val cand = cs.join(broadcast(qs), Seq("bucket"))
      .filter($"neighbor_id" =!= $"query_id")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos", cosine($"qv".cast("array<double>"), $"cv".cast("array<double>")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    cand.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"neighbor_id", $"rank", $"cos")
  }

  /** Deterministic IVF (inverted-file) index: k-means cells with NO RNG —
    * initial centroids are the k corpus vectors with the smallest
    * xxhash64(id) (stable across runs/partitionings), refined by `iters`
    * Lloyd rounds of tree-aggregated means. Centroids stay driver-side
    * (k × dims doubles — broadcast-sized by construction); assignment is
    * one primitive-loop UDF pass per round. Returns (centroids, corpus
    * with a `cell` column). At 10^12 rows the index build is `iters`
    * narrow passes + k-sized aggregates. The `cell` column here is
    * computed at query time — persist it with [[writeIvfIndex]] (parquet
    * `partitionBy("cell")`) so the probe-time cell restriction becomes
    * TRUE partition pruning instead of a full scan. */
  def ivfIndex(corpus: DataFrame, k: Int = 64, iters: Int = 5,
               idCol: String = "vec_id", vecCol: String = "embedding")
      : (Array[Array[Double]], DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._

    var centroids: Array[Array[Double]] = corpus
      .select(col(idCol), col(vecCol))
      .withColumn("h", xxhash64(col(idCol)))
      .orderBy($"h", col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>")).as[Array[Double]].collect()

    def nearestUdf(cs: Array[Array[Double]]) = udf { (v: Seq[Double]) =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val ctr = cs(c)
        var d = 0.0; var i = 0
        val n = math.min(ctr.length, v.length)
        while (i < n) { val t = v(i) - ctr(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

    // Lloyd refinement on a deterministic hash-sample (train on a subset,
    // assign everything — standard IVF practice; keeps each round a narrow
    // pass over a bounded frame even at 10^12 rows)
    val train = corpus
      .filter(pmod(xxhash64(col(idCol)), lit(7)) === 0)
      .select(col(vecCol).cast("array<double>").as("v"))
      .cache()
    var it = 0
    while (it < iters) {
      // per-cell per-dimension sums: the exchange carries k×dims groups
      val stats = train.select(nearestUdf(centroids)($"v").as("cell"),
          posexplode($"v").as(Seq("pos", "x")))
        .groupBy($"cell", $"pos")
        .agg(sum($"x").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      stats.foreach { r =>
        val c = r.getAs[Int]("cell"); val p = r.getAs[Int]("pos")
        next(c)(p) = r.getAs[Double]("s") / r.getAs[Long]("n")
      }
      centroids = next
      it += 1
    }
    train.unpersist()
    val indexed = corpus.withColumn("cell",
      nearestUdf(centroids)(col(vecCol).cast("array<double>")))
    (centroids, indexed)
  }

  /** Write the IVF-indexed corpus as parquet partitioned by `cell` and
    * read it back: the returned frame's `cell` is a PHYSICAL partition
    * column, so [[cosineTopKIvf]]'s probe filter shows up in the plan as
    * `PartitionFilters: cell IN (...)` and unprobed cells are never read.
    * This is the write a snapshot store would do once per index build;
    * the ad-hoc in-memory `ivfIndex` frame works too but scans the whole
    * corpus per probe batch. */
  def writeIvfIndex(indexed: DataFrame, path: String): DataFrame = {
    indexed.write.mode("overwrite").partitionBy("cell").parquet(path)
    indexed.sparkSession.read.parquet(path)
  }

  /** IVF-probed cosine top-k: queries probe their `nprobe` nearest cells.
    * The probed-cell set is collected driver-side (queries are
    * broadcast-small by contract; the set is ≤ |queries|·nprobe ints) and
    * applied as a LITERAL `cell IN (...)` filter, so over a
    * [[writeIvfIndex]]-persisted corpus it is partition pruning — unprobed
    * cells are not even read. Exact cosine + window top-k on survivors. */
  def cosineTopKIvf(centroids: Array[Array[Double]], indexed: DataFrame,
                    queries: DataFrame, k: Int, nprobe: Int = 4,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._

    val probeUdf = udf { (v: Seq[Double]) =>
      centroids.indices
        .map { c =>
          val ctr = centroids(c)
          var d = 0.0; var i = 0
          val n = math.min(ctr.length, v.length)
          while (i < n) { val t = v(i) - ctr(i); d += t * t; i += 1 }
          (d, c)
        }
        .sorted.take(nprobe).map(_._2).toArray
    }

    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(probeUdf(col(vecCol).cast("array<double>"))).as("cell"))
    val probedCells = q.select($"cell").distinct().as[Int].collect().sorted
    val cand = indexed
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), $"cell")
      .filter($"cell".isin(probedCells.map(Int.box): _*))
      .join(broadcast(q), Seq("cell"))
      .filter($"neighbor_id" =!= $"query_id")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos", cosine($"qv".cast("array<double>"), $"cv".cast("array<double>")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    cand.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"neighbor_id", $"rank", $"cos")
  }

  /** Corpus×corpus ANN self-join — the shape 100 TB embedding dedup needs
    * (no broadcast side): sketch every row ONCE into `tables` buckets
    * (one id+bucket frame feeds the pairing — the sketch is not
    * re-evaluated per join side), pair within buckets under the
    * offset-exploded salted cap (the same true O(n·maxBucket) comparison
    * bound the text dedup paths use, [[Dedup.chainedBucketPairs]]), then
    * join the VECTORS back by id for exact cosine verification at
    * `threshold` — embeddings never ride the salted windows or the pair
    * join, so the candidate exchanges carry (bucket, id, rank) only. */
  def nearDuplicatePairsLsh(corpus: DataFrame, threshold: Double,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            bits: Int = 12, tables: Int = 4, dims: Int = 64,
                            maxBucket: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    val sk = sketchAllUdf(bits, tables, dims)
    // sk (salt-key) = table-0 sketch: near-identical vectors overwhelmingly
    // share it, so chainedBucketPairs' cluster star keeps identical-vector
    // clusters connected across salt subgroups; the double reference to
    // `sks` also pins the sketch UDF to one evaluation per row
    val banded = corpus.select(col(idCol).as("id"), sk(col(vecCol)).as("sks"))
      .select($"id", element_at($"sks", 1).as("sk"), posexplode($"sks"))
      .select($"id", $"sk", concat($"pos", lit(":"), $"col").as("bucket"))
    val vecs = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    Dedup.chainedBucketPairs(banded.select($"bucket", $"id", $"sk"), maxBucket, salts = 16)
      .join(vecs.select($"id".as("id_a"), $"v".as("v_a")), Seq("id_a"))
      .join(vecs.select($"id".as("id_b"), $"v".as("v_b")), Seq("id_b"))
      .withColumn("cos", cosine($"v_a", $"v_b"))
      .filter($"cos" >= threshold)
      .select($"id_a", $"id_b", $"cos")
  }
}
