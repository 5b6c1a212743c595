package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Triples

/** Connected components over link edges + canonical-id rewrite —
  * the canonicalization stage (north rule; SURVEY.md §4 "iterative
  * fixpoint").
  *
  * The reference sidesteps CC (its record linkage emits pairwise links
  * only, src/linker.py:206-210); generalizing to entity canonicalization
  * requires grouping link clusters and electing one canonical URI per
  * cluster. GraphFrames is unavailable here, so this is a hand-rolled
  * alternating large-star/small-star-style min-label propagation
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14 — public algorithm) as iterative DataFrame self-joins with
  * `localCheckpoint` every iteration to cut lineage.
  *
  * Scale notes: each iteration is two shuffles on the node id (neighbor
  * min + pointer jump); plain neighbor propagation alone converges in
  * O(diameter) rounds, which a chain-shaped pair graph (the capped dedup
  * candidate chains) turns into thousands — the pointer-doubling step
  * (comp := comp of comp) brings convergence to O(log d). Non-convergence
  * within `maxIter` THROWS instead of returning a silently-fragmented
  * assignment.
  */
object ConnectedComponents {

  /** edges(src,dst) → (node, component) where component = min node id
    * (lexicographic) in the node's connected component.
    *
    * Two regimes, chosen by the MATERIALIZED size of the edge set: a
    * single-task union-find when the whole (symmetric, distinct) edge set
    * fits one AQE byte-sized partition, the iterative min-label loop
    * otherwise (see below).
    *
    * The loop's edge partitioning is sized to the DATA, not to
    * spark.sql.shuffle.partitions: a fixed count here made every CC
    * iteration run 64 near-empty tasks/side on a ~500-edge gate graph —
    * pure scheduling overhead, several iterations deep (the round-5
    * dedup_groups regression: 3.8 → 5.4-7.6 s). The count comes free from
    * the materialized edge set: AQE's byte-based coalescing already sized
    * its partitions (advisory bytes per partition), so reusing that count
    * needs no extra sizing job; with AQE disabled it degrades to the
    * session shuffle setting — the pre-round-6 shape, no worse. */
  def components(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // materialize the symmetric distinct edge set ONCE — the loop touches
    // it every iteration, and an expensive upstream plan (e.g. the
    // similarity join producing the pairs) must not re-execute per round.
    // Symmetrization is a single-pass EXPLODE (each edge emits both
    // orientations), not a self-union: the union form referenced `edges`
    // twice and executed the upstream pairs plan once per branch — at any
    // scale that is a second full candidate-generation + verification
    // pass for rows a projection can emit for free. Then checkpoint (AQE
    // coalesces the distinct's exchange to byte-sized partitions) and
    // re-partition onto the loop's join key keeping that data-sized count.
    val symPre = edges
      .select(explode(array(
        struct($"src", $"dst"),
        struct($"dst".as("src"), $"src".as("dst")))).as("e"))
      .select($"e.src", $"e.dst")
      .filter($"src" =!= $"dst")
      .distinct()
      .localCheckpoint()
    val edgeParts = math.max(1, symPre.rdd.getNumPartitions)

    // SMALL-GRAPH FAST PATH: when the materialized edge set fits ONE
    // (AQE byte-sized) partition, a single-task union-find over it IS the
    // exact answer — no labels init, no per-iteration join/aggregate jobs,
    // no convergence round-trips (the iterative path cost ~3 scheduler
    // round-trips × ~3 exchanges on a ~500-edge gate graph; the measured
    // round-5/6 dedup_groups latency). Data-adaptive, not a local-mode
    // constant: any corpus whose near-dup edge set is under the advisory
    // partition size takes it, a 100 TB edge set keeps the loop below.
    // Equivalence to the loop is pinned by CcFastPathSpec (same min-id
    // semantics: union-by-min under UTF-8 byte order = Spark's StringType
    // min). String edges only — the only edge type the engine produces.
    val stringTyped = Seq("src", "dst").forall(c =>
      symPre.schema(c).dataType == org.apache.spark.sql.types.StringType)
    if (edgeParts == 1 && stringTyped) {
      symPre.as[(String, String)]
        .mapPartitions(unionFindComponents)
        .toDF("node", "comp")
    } else loopComponents(symPre, edgeParts, maxIter)
  }

  /** The iterative min-label + pointer-doubling fixpoint — the
    * multi-partition regime of [[components]]. `symPre` must be the
    * MATERIALIZED symmetric distinct edge set; `edgeParts` the data-sized
    * partition count to keep for the loop (see [[components]]).
    * Package-private so CcFastPathSpec can pin loop ≡ union-find on the
    * same graphs regardless of which regime [[components]] selects. */
  private[graft] def loopComponents(symPre: DataFrame, edgeParts: Int,
                                    maxIter: Int = 50): DataFrame = {
    val spark = symPre.sparkSession
    import spark.implicits._
    // partition on the LOOP's join key before checkpointing: LogicalRDD
    // preserves the hash partitioning, so every iteration's edge⋈label
    // join shuffles only the (|nodes|-sized) label side — without this
    // the (much larger) edge set re-shuffles once per round, O(rounds ×
    // |edges|) exchange bytes instead of the one-time O(|edges|) here
    // (verified on the physical plan: 2 → 1 exchanges per join)
    val sym = symPre
      .repartition(edgeParts, $"dst")
      .localCheckpoint()

    // NOT checkpointed: only iteration 0 reads this plan (every later
    // round reads the previous round's checkpointed labels), and its two
    // references there re-run a tiny distinct over the checkpointed edge
    // set concurrently — cheaper than another serial materialization
    // barrier before the loop can start.
    var labels = sym.select($"src".as("node")).distinct()
      .withColumn("comp", $"node")

    // one accumulator for the whole fixpoint (per-iteration accumulators
    // get GC'd and make later executor heartbeats log benign
    // "non-existent accumulator" warnings); each round compares the
    // running total before/after its single job
    val changedAcc = spark.sparkContext.longAccumulator("cc_changed")
    val trackChange = udf { (changed: Boolean) =>
      if (changed) changedAcc.add(1L)
      changed
    }
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // 1. candidate label per node: min over (own label, neighbours' labels)
      // — the node's PREVIOUS label rides along (null on neighbour rows, so
      // min(oldc) recovers it) and convergence is checked inside the same
      // job: exactly ONE Spark action per round, no separate compare pass
      val compType = labels.schema("comp").dataType.sql
      val neighborLabels = sym
        .join(labels.withColumnRenamed("node", "dst2"), $"dst" === $"dst2")
        .select($"src".as("node"), $"comp", lit(null).cast(compType).as("oldc"))
      val propagated = labels.select($"node", $"comp", $"comp".as("oldc"))
        .unionByName(neighborLabels)
        .groupBy($"node").agg(min($"comp").as("comp"), min($"oldc").as("oldc"))

      // 2. pointer doubling: comp := min(comp, comp(comp)) — labels chase
      // their component's own label, halving chain depth every round
      val parent = propagated.select($"node".as("comp"), $"comp".as("pcomp"))
      // change marker evaluated by the checkpoint job itself (over-count
      // from task retries is harmless: only zero-vs-nonzero is read); the
      // marker column is dropped after materialization, comp keeps its type
      val changedBefore = changedAcc.value
      val updated = propagated
        .join(parent, Seq("comp"), "left")
        .select($"node", least($"comp", coalesce($"pcomp", $"comp")).as("comp"),
          $"oldc")
        .select($"node", $"comp",
          trackChange(!($"comp" <=> $"oldc")).as("_chg"))
        .localCheckpoint()

      labels = updated.drop("_chg")
      converged = changedAcc.value == changedBefore
      iter += 1
    }
    require(converged,
      s"connected components did not converge within $maxIter iterations — " +
        "raising maxIter is safe (O(log diameter) rounds)")
    labels
  }

  /** Single-pass union-find over one partition's edges → (node, comp)
    * with comp = the component's minimum member id under UTF-8 byte order
    * (exactly Spark's StringType `min` — UTF8String compares bytes
    * unsigned, NOT Java's UTF-16 compareTo). Union-by-min keeps every DSU
    * root the component's running minimum, so no second minimize pass;
    * path halving keeps find() near-constant. Memory is O(distinct nodes
    * in the partition) — bounded by the advisory partition size that
    * admitted the fast path.
    *
    * Invariant: both endpoints of every edge are non-null. A null id
    * enters the DSU map like any other key, and `utf8Less` throws on it
    * once it meets a non-null root. [[components]] guarantees it: its
    * symmetrized edge set keeps only rows where `src =!= dst` is true,
    * which drops every row with a null endpoint. */
  private[graft] def unionFindComponents(
      edges: Iterator[(String, String)]): Iterator[(String, String)] = {
    val parent = new java.util.HashMap[String, String]()
    def find(x0: String): String = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    def utf8Less(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    edges.foreach { case (s, d) =>
      if (!parent.containsKey(s)) parent.put(s, s)
      if (!parent.containsKey(d)) parent.put(d, d)
      val rs = find(s)
      val rd = find(d)
      if (rs != rd) {
        if (utf8Less(rs, rd)) parent.put(rd, rs) else parent.put(rs, rd)
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[(String, String)](parent.size)
    val it = parent.keySet().iterator()
    while (it.hasNext) { val n = it.next(); out += ((n, find(n))) }
    out.iterator
  }

  /** owl:sameAs-style canonicalization: every URI in a link cluster is
    * rewritten to the cluster's canonical (min) URI in both subject and
    * object position. Triples not in any cluster pass through untouched —
    * the join is left + coalesce, one shuffle per side. */
  def canonicalizeTriples(triples: DataFrame, linkEdges: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val mapping = components(linkEdges)
      .filter($"node" =!= $"comp")
      .select($"node", $"comp")

    val m1 = mapping.withColumnRenamed("node", "subj").withColumnRenamed("comp", "subj_canon")
    val m2 = mapping.withColumnRenamed("node", "obj_node").withColumnRenamed("comp", "obj_canon")

    triples
      .join(m1, Seq("subj"), "left")
      .withColumn("obj_node", when($"objIsUri", $"objValue"))
      .join(m2, Seq("obj_node"), "left")
      .select(Triples.columns(
        coalesce($"subj_canon", $"subj"),
        $"pred",
        coalesce($"obj_canon", $"objValue"),
        $"objIsUri", $"objLang", $"objDatatype", $"docId"): _*)
      .transform(Triples.distinct)
  }

  /** Link triples (P70_documents / sameAs-shaped) → edges. */
  def edgesFromLinks(links: DataFrame): DataFrame =
    links.filter(col("objIsUri"))
      .select(col("subj").as("src"), col("objValue").as("dst"))
}
