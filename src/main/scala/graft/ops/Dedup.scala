package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over a `documents(doc_id, text)` table:
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard — the standard
  * web-corpus dedup toolbox, all Spark-native.
  *
  * Scale design:
  *  - exact dedup groups on a 128-bit digest, never on the full text —
  *    the shuffle carries 32 bytes/doc, not the document;
  *  - MinHash banding turns all-pairs into per-bucket joins; hot buckets
  *    (boilerplate shingles) are capped at `maxBucket` comparisons per row
  *    by salted rank chaining ([[chainedBucketPairs]]) — the same
  *    skew-mitigation idea the north rule requires for hot entities;
  *  - MinHash and n-gram Jaccard share one gram representation
  *    ([[gramHashes]]: sorted distinct shingle hashes) and one exact
  *    verifier ([[jaccardVerified]]);
  *  - SimHash pairs only within 16-bit band collisions (4 bands → Hamming
  *    distance ≤ 3 guaranteed recall by pigeonhole).
  */
object Dedup {

  import TextAnalysis.tokens

  /** Candidate pairs within buckets, skew-proof with a TRUE comparison
    * bound.
    *
    * Input: `(bucket, id)` — id-only: at scale the weight of a candidate
    * join's shuffle is its payload, so signatures/vectors are NOT carried
    * here; callers re-join them by id for verification. Output:
    * `(id_a, id_b)`, distinct, `id_a` ranked before `id_b`.
    *
    * The naive bucket self-join is quadratic in hot buckets. Two bounds
    * are enforced:
    *
    *  1. the per-task SORT bound: rows are salted into `salts` subgroups
    *     per bucket (`pmod(xxhash64(id), salts)`) and ranked within
    *     (bucket, salt) — no window task sorts more than ~|bucket|/salts
    *     rows;
    *  2. the COMPARISON bound: pairing is an offset-exploded EQUI-join —
    *     the left side explodes offsets d ∈ 1..maxBucket and joins on
    *     (bucket, salt, rk + d), so each exploded row hash-matches at most
    *     ONE right row: O(n·maxBucket) comparisons total. (The earlier
    *     range-condition form `rk_a < rk_b <= rk_a + maxBucket` bounded
    *     only the OUTPUT — Spark executes a range condition on an equi-key
    *     as a post-match filter, so a hot bucket of n docs still paid
    *     O((n/salts)²) comparisons per subgroup and never finished at
    *     boilerplate scale.)
    *
    * Connectivity: besides the offset chain, every row pairs with its
    * (bucket, salt) rank-1 REPRESENTATIVE (a star — one equi-join against
    * a salts-bounded rep table, O(n) pairs), and representatives chain
    * across salts per bucket. An all-duplicate bucket therefore stays one
    * connected component regardless of size (see [[nearDuplicateGroups]]).
    *
    * RECALL BOUND (honest): the cap trades recall in MIXED hot buckets.
    * Two true near-duplicates in the same bucket but different salt
    * subgroups pair directly only through their representatives; if the
    * representatives are NOT mutual duplicates (a hot band whose members
    * are not all alike), the chain can break and the pair is missed.
    * Uncapped-recall claims (e.g. simhash's pigeonhole bound) hold only
    * for buckets smaller than maxBucket·salts or for all-duplicate hot
    * buckets; corpora where hot buckets mix distinct near-dup clusters
    * should raise `maxBucket`/`salts` or pre-split the bucket key.
    *
    * SIMILARITY-CORRELATED recovery (narrows that gap): when `banded`
    * carries an optional long `sk` column — a signature-derived cluster
    * key where equal sk ⇒ likely duplicates (minhash: a signature
    * element; simhash: the signature; embeddings: the sketch) — two
    * extra, still-bounded structures fire:
    *
    *  - rows rank by (sk, id) within their salt subgroup, so same-sk rows
    *    sit at ADJACENT ranks and the offset chain connects same-sk runs
    *    regardless of where the subgroup's representative points;
    *  - a CLUSTER STAR pairs every row directly with its (bucket, sk)
    *    cluster representative (min id): the rep comes from a map-side-
    *    combinable aggregate (no window — an all-identical 10^9-row
    *    bucket never sorts in one task) and the join fans out 1:1, so
    *    comparisons stay O(n) while an exact-sk cluster is guaranteed one
    *    connected component ACROSS salt subgroups — the mixed hot bucket
    *    of interleaved duplicate clusters (boilerplate A interleaved with
    *    boilerplate B) recovers every cluster.
    *
    * An optional SECOND cluster key (`sk2`, an independent signature
    * element) adds one more O(n) star: a near-dup pair in a mixed hot
    * bucket is missed by the stars only when BOTH keys differ — for
    * minhash elements each key matches with probability J (the minhash
    * property), so the per-pair star-miss probability drops from (1−J) to
    * (1−J)² at O(n) extra pairs. Near-dups with ALL cluster keys unequal
    * still ride the representative chain — that residual miss class
    * remains and is the honest price of the cap. Salting itself stays on
    * xxhash64(id): salt = f(sk) would put a whole identical cluster in ONE
    * window partition and re-create the single-task sort the salts exist
    * to prevent. */
  private[graft] def chainedBucketPairs(banded: DataFrame, maxBucket: Int,
                                        salts: Int): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window

    val skNames = Seq("sk", "sk2").filter(banded.columns.contains(_))
    val skCols = skNames.map(col)
    val salted = banded.select($"bucket" +: $"id" +: skCols: _*)
      .withColumn("salt", pmod(xxhash64($"id"), lit(salts.max(1))))
    val w = Window.partitionBy($"bucket", $"salt")
    // materialize the ranked candidate index ONCE: the three pairing
    // branches below would otherwise each re-execute the upstream
    // banding plan — measured: 6 corpus scans + 6 sketch/signature
    // evaluations per dedup, with ReusedExchange never firing because the
    // branches canonicalize differently (WindowGroupLimit pushdown on the
    // rep filter). The checkpoint stores (bucket, id, salt, rk, rep, tail)
    // — ids only, linear in corpus × bands; at scale that's the standard
    // candidate-index materialization, far cheaper than re-scanning and
    // re-sketching the corpus per branch.
    val rankOrder = skCols :+ $"id"
    // `rep` = the subgroup's rank-1 id, computed by the SAME sorted window
    // pass that ranks the rows (first() over the running frame): the star
    // branch below becomes a projection of this frame instead of a
    // rep-table self-join — one join + one union branch fewer per dedup,
    // same pairs (the join emitted exactly (rep, id) per rk>1 row).
    // `tail` = rows after this one in the subgroup (== cnt − rk) via a
    // (1, unboundedFollowing) count on the SAME ordered spec — all three
    // window functions share one partition+order, so the planner emits ONE
    // WindowExec instead of the ordered pass + a second whole-partition
    // pass for cnt.
    val wOrd = w.orderBy(rankOrder: _*)
    val ranked = salted
      .withColumn("rk", row_number().over(wOrd))
      .withColumn("rep", first($"id").over(wOrd))
      .withColumn("tail",
        count(lit(1)).over(wOrd.rowsBetween(1, Window.unboundedFollowing)))
      .localCheckpoint()

    // offset-exploded adjacency: d ∈ 1..min(maxBucket, tail), equi-join
    // on rk_a + d = rk_b — each exploded row meets exactly one partner, so
    // comparisons are O(pairs emitted); bounding d by the subgroup size
    // means the (overwhelmingly common) singleton buckets explode NOTHING
    // instead of maxBucket dead probes per row
    def offsetPairs(df: DataFrame): DataFrame = {
      // least() in LONG before the int cast: tail can exceed Int.Max
      // in a degenerate >2^31-row subgroup, and a wrapped-negative lim
      // would silently drop all offset pairs for early ranks
      val lim = least(lit(maxBucket.max(1).toLong), $"tail").cast("int")
      val l = df.select($"bucket", $"salt", $"id".as("id_a"), $"rk",
          explode(when(lim >= 1, sequence(lit(1), lim))
            .otherwise(array().cast("array<int>"))).as("d"))
        .select($"bucket", $"salt", $"id_a", ($"rk" + $"d").as("rk"))
      val r = df.select($"bucket", $"salt", $"id".as("id_b"), $"rk")
      l.join(r, Seq("bucket", "salt", "rk")).select($"id_a", $"id_b")
    }

    val withinSalt = offsetPairs(ranked)
    // star: every row pairs directly with its subgroup's representative,
    // so far-apart ranks in a subgroup still get one DIRECT comparison —
    // a pure projection, the rep id already rides every ranked row
    val reps = ranked.filter($"rk" === 1)
    val star = ranked.filter($"rk" > 1)
      .select($"rep".as("id_a"), $"id".as("id_b"))
    // representatives chain across salts: ≤ `salts` rows per bucket, so the
    // per-bucket window is tiny and maxBucket ≥ salts makes them a clique
    val wb = Window.partitionBy($"bucket")
    // same (sk, id) global order as the subgroup ranks — one consistent
    // pair orientation across all structures, no reversed duplicates
    val wbOrd = wb.orderBy(rankOrder: _*)
    val repsRanked = reps.select($"bucket" +: lit(0L).as("salt") +: $"id" +: skCols: _*)
      .withColumn("rk", row_number().over(wbOrd))
      .withColumn("tail",
        count(lit(1)).over(wbOrd.rowsBetween(1, Window.unboundedFollowing)))
    val acrossSalts = offsetPairs(repsRanked)

    // cluster star (only when a signature-derived sk rides the banding):
    // every row pairs with its (bucket, sk) cluster's min-id row — a
    // partial-aggregated rep table + 1:1 equi-join, O(n) pairs, no window.
    // BOTH sides read the CHECKPOINTED ranked frame: building the star on
    // the live `salted` subtree re-evaluated the full signature expression
    // per exploded row on each side of the self-join (measured 186 s vs
    // 0.6 s at sf0.1 — the banding sits behind a Generate, outside the
    // projection's codegen stage, so nothing memoizes it per consumer)
    // Both sk keys ride ONE exploded frame — one aggregation + one join
    // instead of a rep-table + join PER key (same pairs: the per-key stars'
    // union; null key values never join — EqualTo semantics — exactly as
    // the per-key form behaved). The `kt` discriminator keeps the two
    // keys' clusters apart even when a sk value collides with a sk2 value.
    val clusterStars = if (skNames.isEmpty) Nil else Seq {
      val keyed = ranked.select($"bucket", $"id",
        posexplode(array(skCols: _*)).as(Seq("kt", "kv")))
      val clusterReps = keyed.groupBy($"bucket", $"kt", $"kv")
        .agg(min($"id").as("id_a"), count(lit(1)).as("n"))
        .filter($"n" >= 2)
        .select($"bucket", $"kt", $"kv", $"id_a")
      keyed.select($"bucket", $"kt", $"kv", $"id".as("id_b"))
        .join(clusterReps, Seq("bucket", "kt", "kv"))
        .filter($"id_a" =!= $"id_b")
        .select($"id_a", $"id_b")
    }

    // canonicalize orientation BEFORE dedup: the offset/star branches
    // orient pairs rep-first under the (sk, sk2, id) rank order while the
    // cluster stars orient min-id-first — with sk2 in the rank order those
    // two conventions can disagree inside an equal-sk cluster (min-RANK ≠
    // min-ID when sk2 differs), and dropDuplicates alone would let the
    // same pair through in both orientations
    clusterStars.foldLeft(withinSalt.unionByName(star).unionByName(acrossSalts))(_ unionByName _)
      .select(least($"id_a", $"id_b").as("id_a"),
        greatest($"id_a", $"id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact duplicates: md5 digest groups; keeps the canonical (min) id.
    * Emits one row per duplicate group of size >= 2. */
  def exactDuplicateGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical_id"))
      .filter(col("n_docs") >= 2)

  /** Exact dedup: keep one doc per digest (the min id). */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Word 3-gram hashes per document: `(id, g)`, where `g` holds the
    * distinct xxhash64 values of the doc's shingles, sorted by value. The
    * fused codegen expression ([[graft.functions.ShingleHash64Expression]])
    * hashes each window's bytes directly, so no shingle string is ever
    * materialized (the concat_ws/slice string stage was ~2 s of a 2.1 s
    * pass over 100k docs). Jaccard over these sets equals Jaccard over the
    * shingle strings unless two distinct shingles collide in xxhash64
    * (ShingleHashSpec pins the hashes on the corpus). Null text has no
    * grams: `g` is null and the doc pairs with nothing. */
  private def gramHashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), array_sort(graft.functions.ShingleHash64Expression
      .shingleHash64(tokens(col(textCol)), 3)).as("g"))

  /** Exact Jaccard verification of candidate `(id_a, id_b)` pairs: both
    * sides' `(id, g)` gram arrays ([[gramHashes]]) join back by id and
    * |∩| comes from one sorted two-pointer merge
    * ([[graft.functions.SortedIntersectCountExpression]], equal to
    * `size(array_intersect)` on distinct value-sorted arrays, pinned by
    * SortedIntersectSpec). Emits `(id_a, id_b, jaccard)` at
    * `jaccard >= threshold`. */
  private def jaccardVerified(pairs: DataFrame, grams: DataFrame,
                              threshold: Double): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs
      .join(grams.select($"id".as("id_a"), $"g".as("g_a")), Seq("id_a"))
      .join(grams.select($"id".as("id_b"), $"g".as("g_b")), Seq("id_b"))
      .withColumn("inter",
        graft.functions.SortedIntersectCountExpression.sortedIntersectCount($"g_a", $"g_b"))
      .withColumn("jaccard",
        $"inter" / (size($"g_a") + size($"g_b") - $"inter"))
      .filter($"jaccard" >= threshold)
      .select($"id_a", $"id_b", $"jaccard")
  }

  /** MinHash signature over pre-hashed shingles: each shingle string is
    * hashed ONCE to a long, then the `numHashes` families re-mix the longs
    * (fixed-width) — not `numHashes` string hashes per shingle.
    *
    * One native codegen expression ([[graft.functions.MinhashSignatureExpression]])
    * computing all family minima in a single pass. The expression-tree form
    * it replaced evaluated `numHashes` separate `array_min(transform(...))`
    * subtrees — `numHashes` array allocations per row and the
    * k-independent inner `hashLong(h, 42)` re-derived once per family
    * (measured: the signature pass dominated the minhash bench query at
    * ~1.3 s of 2.1 s). Output is bit-identical
    * (MinhashSignatureSpec pins it against the reference tree). */
  def minhashSignatureFromHashes(hs: Column, numHashes: Int): Column =
    graft.functions.MinhashSignatureExpression.minhashSignature(hs, numHashes)

  /** MinHash LSH candidate pairs: signatures banded `bands` × `rowsPerBand`;
    * docs sharing any band bucket become a candidate pair; pairs are then
    * verified with exact Jaccard over the word 3-gram hash sets
    * ([[jaccardVerified]]) and filtered at `threshold`.
    *
    * `maxBucket` caps pathological buckets (all-identical boilerplate):
    * a bucket with more than `maxBucket` docs contributes capped pairs via
    * per-bucket min-id chaining instead of the full quadratic fanout.
    */
  def minhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 64, bands: Int = 16,
                            threshold: Double = 0.7,
                            maxBucket: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rowsPerBand = numHashes / bands

    // one gram frame for signing and verification. Deliberately NOT
    // checkpointed (unlike the ngram index): a materialization barrier here
    // blocks downstream pair-id filters from pushing into the verification
    // sides — measured on the planted-gate query, the pushed filter prunes
    // each side to the planted rows and beats the saved re-tokenization
    // (2.0 → 2.5 s checkpointed). The min-fold signature ignores element
    // order, so signing the value-sorted `g` gives the same signature.
    val grams = gramHashes(docs, idCol, textCol)

    // `sk`/`sk2` = first and last signature elements — two INDEPENDENT
    // hash families: equal-element probability between two docs IS their
    // Jaccard similarity (the minhash property), so the cluster stars /
    // rank adjacency in chainedBucketPairs co-locate likely duplicates
    // across salt subgroups, and a near-dup pair in a mixed hot bucket is
    // missed by the stars only when BOTH independent keys differ
    // (probability (1−J)² instead of (1−J)). The extra syntactic `sig`
    // references also pin `sig` as its own projection (multiply-referenced
    // non-cheap expressions block CollapseProject).
    val banded = grams
      .withColumn("sig", minhashSignatureFromHashes($"g", numHashes))
      .select($"id", element_at($"sig", 1).as("sk"),
        element_at($"sig", numHashes).as("sk2"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice($"sig", b * rowsPerBand + lit(1), lit(rowsPerBand))))))
      .select($"id", $"sk", $"sk2", concat($"pos", lit(":"), $"col").as("bucket"))

    // id-only candidate pairing (offset-exploded equi-join, salted ranks);
    // grams join back by id for exact Jaccard verification
    jaccardVerified(
      chainedBucketPairs(banded.select($"bucket", $"id", $"sk", $"sk2"), maxBucket, salts = 16),
      grams, threshold)
  }

  /** SimHash near-duplicates: 64-bit simhash, candidates = equal 16-bit
    * band (4 bands, so for buckets BELOW the hot-bucket cap the pigeonhole
    * bound gives complete recall at Hamming distance <= 3), verified with
    * bit_count(xor) <= maxHamming.
    *
    * `maxBucket` bounds hot buckets the same way the MinHash path does —
    * a boilerplate-heavy corpus (identical headers/footers, the exact case
    * simhash exists for) collapses whole partitions into 4 buckets, and an
    * uncapped self-join there is quadratic in corpus size. Inside a capped
    * hot bucket recall is the chained-candidate bound documented on
    * [[chainedBucketPairs]], NOT the pigeonhole guarantee: an
    * all-duplicate hot bucket stays fully connected, a mixed hot bucket
    * can miss cross-subgroup pairs. */
  def simhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int = 3, maxBucket: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // NOT checkpointed — same pushdown-transparency reasoning as the
    // minhash `grams` frame: downstream pair-id filters prune these
    // re-derived sides to the filtered rows, which a materialization
    // barrier would forfeit
    val sigs = docs.select(col(idCol).as("id"),
      Simhash.simhash64(tokens(col(textCol))).as("sig"))

    val bandCols = array((0 until 4).map(b =>
      concat(lit(b), lit(":"), shiftright($"sig", b * 16).bitwiseAND(lit(0xFFFFL)))): _*)
    // sk = the full 64-bit signature: identical docs (the dominant hot-
    // bucket population simhash exists for) share it exactly, so the
    // cluster star keeps every interleaved identical cluster connected
    val banded = sigs.select($"id", $"sig".as("sk"), explode(bandCols).as("bucket"))

    chainedBucketPairs(banded.select($"bucket", $"id", $"sk"), maxBucket, salts = 16)
      .join(sigs.select($"id".as("id_a"), $"sig".as("sig_a")), Seq("id_a"))
      .join(sigs.select($"id".as("id_b"), $"sig".as("sig_b")), Seq("id_b"))
      .withColumn("hamming", bit_count($"sig_a".bitwiseXOR($"sig_b")))
      .filter($"hamming" <= maxHamming)
      .select($"id_a", $"id_b", $"hamming")
  }

  /** Near-duplicate GROUPS: any pair table (from minhash/simhash/ngram/
    * embedding paths) → connected components → one row per document with
    * its cluster's canonical (min) id. This is the shape a 100 TB dedup
    * actually keeps: the pair list is transient, the (doc, canonical)
    * assignment is what the pipeline joins against to drop or collapse
    * duplicates (and why the capped candidate paths only need rank
    * ADJACENCY, not all pairs — components reconnect the full group). */
  def nearDuplicateGroups(pairs: DataFrame /* (id_a, id_b, ...) */): DataFrame = {
    val edges = pairs.select(col("id_a").cast("string").as("src"),
      col("id_b").cast("string").as("dst"))
    graft.canon.ConnectedComponents.components(edges)
      .select(col("node").as("doc_id"), col("comp").as("canonical_id"))
  }

  /** Drop near-duplicates: keep only cluster canonicals + unclustered docs. */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val losers = nearDuplicateGroups(pairs)
      .filter($"doc_id" =!= $"canonical_id")
      .select($"doc_id".as("__loser"))
    docs.join(losers, docs(idCol).cast("string") === col("__loser"), "left_anti")
  }

  /** Exact n-gram Jaccard similarity join with PREFIX FILTERING (the
    * SSJoin/PPJoin blocking idea — public algorithm, Chaudhuri et al.
    * ICDE'06): order each doc's shingles by a global order (ascending
    * document frequency, then hash), index only the first
    * ⌊(1-t)·|g|⌋+1 of them — any pair with
    * J ≥ t MUST share a prefix shingle, so recall is complete while the
    * inverted index and the candidate join shrink superlinearly with t.
    * Verification is exact ([[jaccardVerified]] on the full gram sets),
    * so the result is identical to the unblocked all-pairs join. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val grams = gramHashes(docs, idCol, textCol).select($"id", explode($"g").as("g"))

    // global order = ASCENDING document frequency (rare-first): the whole
    // point of prefix filtering — a doc's prefix holds its RAREST shingles,
    // so candidate buckets stay small; hash order would put boilerplate in
    // every prefix. df comes from a WINDOW over g, not a groupBy+join: the
    // agg+join form referenced `grams` twice, re-running the whole
    // tokenize/shingle/hash pass once per reference (measured: index
    // checkpoint 1.75 → 0.97 s warm at sf0.1, identical output) — same
    // exchange count (by g, then by id), one corpus pass instead of two.
    val dfw = org.apache.spark.sql.expressions.Window.partitionBy($"g")
    // materialize the per-doc gram index ONCE: it feeds FOUR consumers (the
    // inverted self-join's two sides + the two verification payload joins),
    // and without the checkpoint each consumer re-executes the whole
    // subtree — 2 corpus scans + tokenize/shingle/hash + the df-count
    // window + the sorted collect_list, ×4 (measured in the plan: 8
    // parquet scans, 4 ObjectHashAggregates for one logical index). At
    // scale this is the standard SSJoin index materialization: store the
    // (id, ordered grams, prefix) index once, linear in corpus size,
    // instead of re-deriving it per consumer.
    val perDoc = grams.withColumn("df", count(lit(1)).over(dfw))
      .groupBy($"id")
      .agg(sort_array(collect_list(struct($"df", $"g"))).as("ordered"))
      // `g` re-sorted ASCENDING BY GRAM VALUE, the form
      // [[jaccardVerified]] merges. The PREFIX stays in the rare-first
      // (df, g) order — that ordering is what makes prefix filtering work.
      .withColumn("g", array_sort(transform($"ordered", o => o("g"))))
      .withColumn("sz", size($"g"))
      .withColumn("prefix", transform(
        slice($"ordered", lit(1), (floor($"sz" * (1 - threshold)) + 1).cast("int")),
        o => o("g")))
      .select($"id", $"g", $"sz", $"prefix")
      .localCheckpoint()

    // positions ride the inverted index for PPJoin POSITIONAL filtering
    val inverted = perDoc.select($"id", $"sz", posexplode($"prefix").as(Seq("p", "g")))

    // size filter at the join: J >= t implies t <= |a|/|b| <= 1/t
    val rawPairs = inverted.as("a").join(inverted.as("b"),
        $"a.g" === $"b.g" && $"a.id" < $"b.id" &&
          $"b.sz" >= $"a.sz" * threshold && $"a.sz" >= $"b.sz" * threshold)
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        $"a.sz".as("sz_a"), $"b.sz".as("sz_b"),
        $"a.p".as("p_a"), $"b.p".as("p_b"))

    // positional filter (PPJoin's second bound, exact): shared grams appear
    // in the SAME relative order in both docs' lists (one global (df, g)
    // order), so min(p) over a pair's shared prefix occurrences is the
    // pair's FIRST shared gram in both lists at once — nothing before it is
    // shared, hence |∩| <= min(sz_a - pa0, sz_b - pb0). J >= t requires
    // |∩| >= t/(1+t)·(sz_a+sz_b); pairs provably below that never reach the
    // verification join (measured: 310k -> far fewer candidates at sf0.1,
    // the exact-jaccard filter made the same call 100% of the time). The
    // aggregation replaces dropDuplicates — same exchange, three extra ints.
    // The 1e-9 slack keeps float rounding from pruning a borderline TRUE
    // pair; false survivors are re-checked exactly below.
    val pairs = rawPairs
      .groupBy($"id_a", $"id_b")
      .agg(min($"p_a").as("pa0"), min($"p_b").as("pb0"),
        min($"sz_a").as("sz_a"), min($"sz_b").as("sz_b"))
      .filter(least($"sz_a" - $"pa0", $"sz_b" - $"pb0") * (1.0 + threshold) >=
        ($"sz_a" + $"sz_b") * threshold - 1e-9)
      .select($"id_a", $"id_b")
      // verification is COMPUTE-bound (a sorted merge per pair), not
      // byte-bound: AQE sizes the post-aggregation exchange by bytes and
      // coalesces a few MB of candidate ids into ONE partition, serializing
      // every intersect into a single task (measured 2.4-3.7 s single-core
      // at sf0.1). Spread candidates across the cluster explicitly; the
      // id-pair exchange is tiny.
      .repartition(spark.sparkContext.defaultParallelism, $"id_a")

    jaccardVerified(pairs, perDoc, threshold)
  }
}

/** SimHash via a Catalyst-native split: per-token hash in expressions,
  * bit-majority fold in a custom codegen expression
  * ([[graft.functions.Simhash64Expression]]) — the whole signature stays
  * inside whole-stage codegen, no ScalaUDF boundary in the hot path. */
object Simhash {
  /** tokens column -> 64-bit simhash (xxhash64 per token, majority bits). */
  def simhash64(tokensCol: Column): Column =
    graft.functions.Simhash64Expression.simhash64(
      transform(tokensCol, t => xxhash64(t)))
}
