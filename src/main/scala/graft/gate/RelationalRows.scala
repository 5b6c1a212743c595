package graft.gate

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.SparkEntry.{cents, t}

/** Relational gate rows: scans, filters, aggregates, joins, windows, set
  * operations, the temporal joins and the batch event shapes. */
object RelationalRows {

  val rows: Seq[GateRow] = Seq(
    // ---- S2/P1: scan + filter + projection --------------------------------
    GateRow("s2_filter_project", (s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .filter($"c_acctbal" >= 1000)
        .select($"c_custkey".as("id"), upper($"c_name").as("name_u"),
          $"c_mktsegment".as("seg"))
        .orderBy($"id")
    }, """SELECT c_custkey AS id, upper(c_name) AS name_u, c_mktsegment AS seg
        |FROM customer WHERE c_acctbal >= 1000 ORDER BY id""".stripMargin),

    // ---- S4/O3: deterministic limit ---------------------------------------
    GateRow("s4_limit_topn", (s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .select($"o_orderkey", cents($"o_totalprice").as("price_cents"))
        .orderBy($"o_orderkey").limit(100)
    }, """SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin),

    // ---- E1/E2: multi-value split -----------------------------------------
    GateRow("e1_split_multivalue", (s, d) => {
      import s.implicits._
      t(s, d, "part")
        .select($"p_partkey", array_join(split($"p_type", " "), "|").as("type_tokens"))
        .orderBy($"p_partkey")
    }, """SELECT p_partkey, array_to_string(string_split(p_type, ' '), '|') AS type_tokens
        |FROM part ORDER BY p_partkey""".stripMargin),

    // ---- E3: value-with-source regex parse --------------------------------
    GateRow("e3_value_source_regex", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .withColumn("cell", concat($"source", lit(" ("), $"lang", lit(")")))
        .select($"doc_id",
          regexp_extract($"cell", "(.+) \\(([^()]+)\\)", 1).as("value"),
          regexp_extract($"cell", "(.+) \\(([^()]+)\\)", 2).as("src"))
        .orderBy($"doc_id")
    }, """SELECT doc_id,
        |  regexp_extract(source || ' (' || lang || ')', '(.+) \(([^()]+)\)', 1) AS value,
        |  regexp_extract(source || ' (' || lang || ')', '(.+) \(([^()]+)\)', 2) AS src
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- E5/date handling + A1 group-count --------------------------------
    GateRow("e5_date_group", (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ym"))
        .agg(count(lit(1)).as("n"), cents(sum($"l_quantity")).as("qty_cents"))
        .orderBy($"ym")
    }, """SELECT strftime(l_shipdate, '%Y-%m') AS ym, count(*) AS n,
        |  CAST(round(sum(l_quantity) * 100) AS BIGINT) AS qty_cents
        |FROM lineitem GROUP BY 1 ORDER BY ym""".stripMargin),

    // ---- A1: group-count-having (common-name rule shape, J14) -------------
    GateRow("a1_group_count_having", (s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .groupBy($"c_mktsegment".as("seg")).agg(count(lit(1)).as("n"))
        .filter($"n" >= 2)
        .orderBy($"seg")
    }, """SELECT c_mktsegment AS seg, count(*) AS n FROM customer
        |GROUP BY 1 HAVING count(*) >= 2 ORDER BY seg""".stripMargin),

    // ---- A2/A6: per-entity min/max date folding ---------------------------
    GateRow("a2_minmax_dates", (s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .groupBy($"o_custkey")
        .agg(date_format(min($"o_orderdate"), "yyyy-MM-dd").as("first_order"),
          date_format(max($"o_orderdate"), "yyyy-MM-dd").as("last_order"),
          count(lit(1)).as("n"))
        .orderBy($"o_custkey")
    }, """SELECT o_custkey, strftime(min(o_orderdate), '%Y-%m-%d') AS first_order,
        |  strftime(max(o_orderdate), '%Y-%m-%d') AS last_order, count(*) AS n
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    // ---- A4/A5: sorted-set collapse ---------------------------------------
    GateRow("a4_sorted_collect_set", (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .groupBy($"l_orderkey")
        .agg(array_join(sort_array(collect_set($"l_suppkey")), ",").as("supps"))
        .orderBy($"l_orderkey")
    }, """SELECT l_orderkey,
        |  array_to_string(list_sort(list(DISTINCT l_suppkey)), ',') AS supps
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),

    // ---- J1-J5: broadcast dimension joins ---------------------------------
    GateRow("j1_broadcast_dims", (s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(t(s, d, "region")), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_cust"), sum(cents($"c_acctbal")).as("acctbal_cents"))
        .orderBy($"r_name", $"n_name")
    }, """SELECT r_name, n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    // ---- J10: one-to-many fanout join -------------------------------------
    GateRow("j10_fanout_join", (s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .join(t(s, d, "lineitem"), $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderpriority".as("prio"))
        .agg(count(lit(1)).as("n_lines"), sum(cents($"l_extendedprice")).as("price_cents"))
        .orderBy($"prio")
    }, """SELECT o_orderpriority AS prio, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY prio""".stripMargin),

    // ---- J15/U2: anti join (customers with no URGENT order) ---------------
    GateRow("j15_anti_join", (s, d) => {
      import s.implicits._
      t(s, d, "customer")
        .join(t(s, d, "orders").filter($"o_orderpriority" === "1-URGENT"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey")
        .orderBy($"c_custkey")
    }, """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin),

    // ---- P5: semi join -----------------------------------------------------
    GateRow("p5_semi_join", (s, d) => {
      import s.implicits._
      t(s, d, "supplier")
        .join(t(s, d, "lineitem"), $"s_suppkey" === $"l_suppkey", "left_semi")
        .select($"s_suppkey", $"s_name")
        .orderBy($"s_suppkey")
    }, """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
        |ORDER BY s_suppkey""".stripMargin),

    // ---- W1: best-candidate-per-mention window ----------------------------
    GateRow("w1_topk_per_group", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, d, "orders")
        .withColumn("rank", row_number().over(w).cast("long")) // DuckDB row_number is BIGINT
        .filter($"rank" <= 3)
        .select($"o_custkey", $"o_orderkey", $"rank")
        .orderBy($"o_custkey", $"rank")
    }, """SELECT o_custkey, o_orderkey, rank FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders) WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin),

    // ---- W2/E14/A8: duplicate-id suffix minting ---------------------------
    GateRow("w2_dup_suffix_mint", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber")
      t(s, d, "lineitem")
        .withColumn("rn", row_number().over(w))
        .select($"l_orderkey", $"l_linenumber",
          concat($"l_orderkey".cast("string"),
            repeat(lit("_duplicate"), $"rn" - 1)).as("minted"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }, """SELECT l_orderkey, l_linenumber,
        |  CAST(l_orderkey AS VARCHAR) || repeat('_duplicate', rn - 1) AS minted
        |FROM (SELECT l_orderkey, l_linenumber,
        |        row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn
        |      FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- U1/U3: union + distinct ------------------------------------------
    GateRow("u1_union_distinct", (s, d) => {
      import s.implicits._
      t(s, d, "customer").select($"c_nationkey".cast("int").as("x"))
        .unionByName(t(s, d, "supplier").select($"s_nationkey".cast("int").as("x")))
        .distinct()
        .orderBy($"x")
    }, """SELECT x FROM (
        |  SELECT CAST(c_nationkey AS INT) AS x FROM customer
        |  UNION
        |  SELECT CAST(s_nationkey AS INT) AS x FROM supplier) ORDER BY x""".stripMargin),

    // ---- E15: deterministic URI template minting --------------------------
    GateRow("e14_uri_mint", (s, d) => {
      import s.implicits._
      t(s, d, "part")
        .select(concat(lit("part_"), $"p_partkey", lit("_"),
          lower(regexp_replace($"p_brand", "[^A-Za-z0-9]+", "-"))).as("uri"))
        .orderBy($"uri")
    }, """SELECT 'part_' || CAST(p_partkey AS VARCHAR) || '_' ||
        |  lower(regexp_replace(p_brand, '[^A-Za-z0-9]+', '-', 'g')) AS uri
        |FROM part ORDER BY uri""".stripMargin),

    // ---- E23: war-period rule cascade -------------------------------------
    GateRow("e23_period_rule", (s, d) => {
      import s.implicits._
      t(s, d, "events")
        .select($"event_id",
          when($"ts" < lit("2024-03-01").cast("timestamp"), "winterwar")
            .when($"props".rlike("\"k\": 1"), "special")
            .otherwise("continuationwar").as("period"))
        .orderBy($"event_id")
    }, """SELECT event_id,
        |  CASE WHEN ts < TIMESTAMP '2024-03-01' THEN 'winterwar'
        |       WHEN regexp_matches(props, '"k": 1') THEN 'special'
        |       ELSE 'continuationwar' END AS period
        |FROM events ORDER BY event_id""".stripMargin),

    // ---- as-of join: events against their latest hourly snapshot ----------
    // (the temporal-dimension lookup Spark lacks as a built-in; implemented
    // as ONE union+window pass — ops.AsOfJoin — and checked hash-exact
    // against DuckDB's native ASOF JOIN)
    GateRow("asof_join_snapshots", (s, d) => {
      import s.implicits._
      val events = t(s, d, "events").select($"event_id", $"user_id", $"ts")
      val w = Window.partitionBy($"user_id", $"snap_ts").orderBy($"ts", $"event_id")
      val snaps = t(s, d, "events")
        .withColumn("snap_ts", date_trunc("hour", $"ts"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"snap_ts", cents($"value").as("snap_value_cents"))
      // the SKEW-SAFE bucketed form carries the oracle (proving the scale
      // path hash-exact vs DuckDB's native ASOF JOIN); asOf ≡ asOfBucketed
      // is additionally pinned by the OpsSpec equivalence spec
      graft.ops.AsOfJoin.asOfBucketed(events, snaps, Seq("user_id"), "ts", "snap_ts",
          Seq("snap_ts", "snap_value_cents"), bucketSeconds = 86400L)
        .select($"event_id",
          date_format($"snap_ts", "yyyy-MM-dd HH").as("snap_hour"),
          $"snap_value_cents")
        .orderBy($"event_id")
    }, """WITH snaps AS (
        |  SELECT user_id, snap_ts, snap_value_cents FROM (
        |    SELECT user_id, date_trunc('hour', ts) AS snap_ts,
        |           CAST(round(value * 100) AS BIGINT) AS snap_value_cents,
        |           row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                              ORDER BY ts, event_id) AS rn
        |    FROM events) WHERE rn = 1)
        |SELECT e.event_id, strftime(s.snap_ts, '%Y-%m-%d %H') AS snap_hour,
        |       s.snap_value_cents
        |FROM events e ASOF JOIN snaps s
        |  ON e.user_id = s.user_id AND e.ts >= s.snap_ts
        |ORDER BY e.event_id""".stripMargin),

    // ---- range join: events against per-day validity intervals -----------
    // (bucketized interval join — ops.RangeJoin — equi-join on
    // (key, bucket) + exact containment, no hot-key quadratic post-filter)
    GateRow("range_join_intervals", (s, d) => {
      import s.implicits._
      val events = t(s, d, "events").select($"event_id", $"user_id", $"ts")
      val intervals = t(s, d, "events")
        .select($"user_id", date_trunc("day", $"ts").as("day")).distinct()
        .select($"user_id",
          ($"day" + expr("INTERVAL 2 HOURS")).as("valid_from"),
          ($"day" + expr("INTERVAL 20 HOURS")).as("valid_to"),
          date_format($"day", "yyyy-MM-dd").as("day_key"))
      graft.ops.RangeJoin.intervalJoin(events, intervals, Seq("user_id"),
          "ts", "valid_from", "valid_to")
        .select($"event_id", $"day_key")
        .orderBy($"event_id", $"day_key")
    }, """WITH intervals AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |iv AS (
        |  SELECT user_id, day + INTERVAL 2 HOUR AS valid_from,
        |         day + INTERVAL 20 HOUR AS valid_to,
        |         strftime(day, '%Y-%m-%d') AS day_key
        |  FROM intervals)
        |SELECT e.event_id, i.day_key
        |FROM events e JOIN iv i
        |  ON e.user_id = i.user_id
        | AND e.ts >= i.valid_from AND e.ts < i.valid_to
        |ORDER BY e.event_id, i.day_key""".stripMargin),

    // ---- sessionization: gap-based sessions over events (batch face of
    // the streaming flatMapGroupsWithState sessionizer) --------------------
    GateRow("events_sessionize", (s, d) => {
      import s.implicits._
      // skew-safe bucketed form under the oracle (see asof_join_snapshots)
      graft.ops.Sessions.sessionizeBucketed(
          t(s, d, "events").select($"user_id", $"ts", $"value"), "user_id", "ts")
        .groupBy($"user_id", $"session_seq")
        .agg(count(lit(1)).as("n_events"),
          date_format(min($"ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(max($"ts"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          sum(cents($"value")).as("value_cents"))
        .orderBy($"user_id", $"session_seq")
    }, """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM marked)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM sessions GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin),

    // ---- streaming-shape: tumbling-window aggregation over events ---------
    GateRow("events_tumbling_window", (s, d) => {
      import s.implicits._
      t(s, d, "events")
        .groupBy($"user_id", date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH").as("h"))
        .agg(count(lit(1)).as("n"), sum(cents($"value")).as("value_cents"))
        .orderBy($"user_id", $"h")
    }, """SELECT user_id, strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H') AS h,
        |  count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY user_id, h""".stripMargin),

    // ---- U2: set subtraction (EXCEPT) --------------------------------------
    GateRow("u2_except", (s, d) => {
      import s.implicits._
      t(s, d, "customer").select($"c_nationkey".cast("int").as("x"))
        .except(t(s, d, "supplier").select($"s_nationkey".cast("int").as("x")))
        .orderBy($"x")
    }, """SELECT x FROM (
        |  SELECT CAST(c_nationkey AS INT) AS x FROM customer
        |  EXCEPT
        |  SELECT CAST(s_nationkey AS INT) AS x FROM supplier) ORDER BY x""".stripMargin),

    // ---- A3: max-over-joined-dimension (rank-level fold shape) ------------
    GateRow("a3_join_max", (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), $"l_partkey" === $"p_partkey")
        .groupBy($"l_suppkey")
        .agg(max($"p_retailprice").cast("decimal(18,2)").cast("string").as("max_price"),
          countDistinct($"p_brand").as("n_brands"))
        .orderBy($"l_suppkey")
    }, """SELECT l_suppkey,
        |  CAST(CAST(max(p_retailprice) AS DECIMAL(18,2)) AS VARCHAR) AS max_price,
        |  count(DISTINCT p_brand) AS n_brands
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin),

    // ---- O1/S12: canonical global sort (deterministic serialization) ------
    GateRow("o1_canonical_sort", (s, d) => {
      import s.implicits._
      t(s, d, "nation")
        .join(broadcast(t(s, d, "region")), $"n_regionkey" === $"r_regionkey")
        .select(concat($"r_name", lit("/"), $"n_name").as("path"))
        .orderBy($"path")
    }, """SELECT r_name || '/' || n_name AS path
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY path""".stripMargin),

    // ---- multimodal: media table schema + payload metadata ----------------
    GateRow("media_features", (s, d) => {
      import s.implicits._
      graft.ops.Multimodal.mediaTable(t(s, d, "documents"))
        .select($"doc_id", $"media_type", length($"payload").cast("long").as("n_bytes"),
          $"width", $"height", $"sample_rate")
        .orderBy($"doc_id")
    }, """SELECT doc_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |  octet_length(encode(text)) AS n_bytes,
        |  CAST(doc_id % 16 AS INT) * 64 + 256 AS width,
        |  CAST(doc_id % 9 AS INT) * 64 + 256 AS height,
        |  CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 0 END AS sample_rate
        |FROM documents ORDER BY doc_id""".stripMargin),
  )
}
