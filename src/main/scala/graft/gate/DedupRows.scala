package graft.gate

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.SparkEntry.{PlantBase, plantedDocs, plantedGroups, t, tWide}

/** Dedup gate rows: exact, n-gram Jaccard, MinHash, SimHash and the
  * connected-components grouping. */
object DedupRows {

  // planted-fixture groups: identical texts share every minhash band /
  // simhash band (Hamming 0), disjoint vocabularies verify to jaccard 0
  // / never share a band — so the connected components among planted ids
  // are exactly the identical groups with min-id canonicals, regardless
  // of hash values (derivation: SparkEntry.plantedDocs scaladoc)
  private val plantedGroupsOracle =
    """SELECT * FROM (VALUES
      |  ('9000000010','9000000010'), ('9000000011','9000000010'),
      |  ('9000000012','9000000010'),
      |  ('9000000020','9000000020'), ('9000000021','9000000020'))
      |  AS t(doc_id, canonical_id) ORDER BY doc_id""".stripMargin

  val rows: Seq[GateRow] = Seq(
    // ---- dedup: exact (hash groupBy) --------------------------------------
    // plain scan, NOT tWide: md5 is cheap per row and the partial (digest)
    // aggregation runs inside the scan stage, so the only exchange carries
    // 32-byte digest groups — routing through tWide round-robin-shuffled
    // the full text payload first just to parallelize a trivial hash
    // (guide: aggregate before you shuffle / project before the exchange)
    GateRow("dedup_exact", (s, d) => {
      import s.implicits._
      Dedup.exactDuplicateGroups(t(s, d, "documents"), "doc_id", "text")
        .select($"digest", $"n_docs", $"canonical_id")
        .orderBy($"digest")
    }, """SELECT md5(text) AS digest, count(*) AS n_docs, min(doc_id) AS canonical_id
        |FROM documents GROUP BY 1 HAVING count(*) >= 2 ORDER BY digest""".stripMargin),

    // ---- dedup: n-gram Jaccard similarity join ----------------------------
    GateRow("dedup_ngram_jaccard", (s, d) => {
      import s.implicits._
      Dedup.ngramJaccardPairs(tWide(s, d, "documents"), "doc_id", "text",
          threshold = 0.5)
        .orderBy($"id_a", $"id_b")
    }, """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS u(i)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- dedup: MinHash LSH over corpus+planted -> planted GROUPS ---------
    // (hash-exact oracle via the planted fixture; candidate generation
    // still runs over the full corpus — see plantedDocs)
    GateRow("dedup_minhash_lsh", (s, d) => {
      import s.implicits._
      val all = tWide(s, d, "documents").select($"doc_id", $"text")
        .unionByName(plantedDocs(s))
      val pairs = Dedup.minhashNearDuplicates(all, "doc_id", "text",
          threshold = 0.5)
        .filter($"id_a" >= PlantBase && $"id_b" >= PlantBase)
      plantedGroups(pairs)
    }, plantedGroupsOracle),

    // ---- dedup: SimHash over corpus+planted -> planted GROUPS -------------
    // (maxHamming 3 = the 4-band pigeonhole setting; identical docs pair
    // at Hamming 0, disjoint-vocabulary docs never share a 16-bit band)
    GateRow("dedup_simhash", (s, d) => {
      import s.implicits._
      val all = tWide(s, d, "documents").select($"doc_id", $"text")
        .unionByName(plantedDocs(s))
      val pairs = Dedup.simhashNearDuplicates(all, "doc_id", "text",
          maxHamming = 3)
        .filter($"id_a" >= PlantBase && $"id_b" >= PlantBase)
      plantedGroups(pairs)
    }, plantedGroupsOracle),

    // ---- dedup: pairs -> connected components -> canonical assignment -----
    GateRow("dedup_groups", (s, d) => {
      import s.implicits._
      val pairs = Dedup.ngramJaccardPairs(tWide(s, d, "documents"), "doc_id", "text",
        threshold = 0.5)
      Dedup.nearDuplicateGroups(pairs).orderBy($"doc_id")
    }, """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS u(i)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM cand
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
        |edges AS (
        |  SELECT CAST(id_a AS VARCHAR) AS src, CAST(id_b AS VARCHAR) AS dst FROM pairs
        |  UNION SELECT CAST(id_b AS VARCHAR), CAST(id_a AS VARCHAR) FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |reach AS (
        |  WITH RECURSIVE r(node, comp) AS (
        |    SELECT node, node FROM nodes
        |    UNION
        |    SELECT e.dst, r.comp FROM r JOIN edges e ON e.src = r.node)
        |  SELECT node, min(comp) AS comp FROM r GROUP BY node)
        |SELECT node AS doc_id, comp AS canonical_id FROM reach ORDER BY doc_id""".stripMargin),
  )
}
