package graft.gate

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis
import graft.SparkEntry.{PlantBase, plantedDocs, t, tWide}

/** Text-analysis gate rows: counts, quality, language, PII, vocabulary,
  * repetition and winnowing fingerprints. */
object TextRows {

  val rows: Seq[GateRow] = Seq(
    // ---- text analysis: token counting ------------------------------------
    // (the HEAVY per-doc text ops — repetition's per-doc sort+fold,
    // pii_scrub's regex cascade — read via tWide: CPU-bound and filterless,
    // a single-split local parquet serializes them into ONE task. The light
    // counting ops stay on the plain scan: measured, the round-robin
    // exchange costs more than the parallelism buys below ~0.5 s of work.)
    GateRow("text_token_count", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      docs.select($"doc_id",
        TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"),
        TextAnalysis.subwordCount($"text").cast("long").as("n_subwords"))
        .orderBy($"doc_id")
    }, """SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens,
        |  CAST(floor(length(regexp_replace(text, '\s', '', 'g')) / 4) AS BIGINT)
        |    + len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- text analysis: quality counts ------------------------------------
    GateRow("text_quality", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val counts = TextAnalysis.qualityCounts($"text")
      docs.select($"doc_id" +: counts.map { case (n, c) => c.cast("long").as(n) }: _*)
        .orderBy($"doc_id")
    }, """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
        |  length(text) - length(regexp_replace(text, '[A-ZÅÄÖ]', '', 'g')) AS n_upper
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- text analysis: quality filter verdicts ----------------------------
    GateRow("text_quality_filter", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id", TextAnalysis.qualityVerdict($"text").as("verdict"))
        .orderBy($"doc_id")
    }, """WITH m AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens,
        |    length(text) AS n_chars,
        |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x IN ('the','a','of','to','and','in','is','for','on','with',
        |                 'ja','on','ei','se','että','oli','hän','mutta','joka','myös'))) AS stops
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN n_tokens < 5 THEN 'too_short'
        |       WHEN n_tokens > 100000 THEN 'too_long'
        |       WHEN n_punct * 1000 > n_chars * 150 THEN 'too_much_punctuation'
        |       WHEN n_digits * 1000 > n_chars * 300 THEN 'too_many_digits'
        |       WHEN stops < 1 THEN 'no_stopwords'
        |       ELSE 'keep' END AS verdict
        |FROM m ORDER BY doc_id""".stripMargin),

    // ---- text analysis: language id ---------------------------------------
    GateRow("text_lang_id", (s, d) => {
      import s.implicits._
      val (en, fi) = TextAnalysis.langScores($"text")
      t(s, d, "documents")
        .select($"doc_id", en.cast("long").as("en_hits"), fi.cast("long").as("fi_hits"),
          TextAnalysis.langId($"text").as("lang_guess"))
        .orderBy($"doc_id")
    }, """WITH sc AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x IN ('the','a','of','to','and','in','is','for','on','with'))) AS en_hits,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x IN ('ja','on','ei','se','että','oli','hän','mutta','joka','myös'))) AS fi_hits
        |  FROM documents)
        |SELECT doc_id, en_hits, fi_hits,
        |  CASE WHEN en_hits > fi_hits THEN 'en'
        |       WHEN fi_hits > en_hits THEN 'fi'
        |       ELSE 'und' END AS lang_guess
        |FROM sc ORDER BY doc_id""".stripMargin),

    // ---- text analysis: PII detection + scrubbing -------------------------
    // (PII is injected deterministically from doc_id so the regex paths
    // have real traffic; the operator under test is the detect/scrub pass)
    GateRow("text_pii_scrub", (s, d) => {
      import s.implicits._
      val aug = concat($"text",
        when(pmod($"doc_id", lit(3)) === 0,
          concat(lit(" contact user"), pmod($"doc_id", lit(50)).cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod($"doc_id", lit(4)) === 0,
          concat(lit(" tel +358 40 "), (pmod($"doc_id", lit(900)) + 100).cast("string"),
            lit("123"))).otherwise(lit("")),
        when(pmod($"doc_id", lit(5)) === 0,
          concat(lit(" from 10.0."), pmod($"doc_id", lit(255)).cast("string"),
            lit(".7 via https://example.org/p/"), $"doc_id".cast("string")))
          .otherwise(lit("")))
      val counts = TextAnalysis.piiCounts(aug)
      tWide(s, d, "documents")
        .select(Seq($"doc_id") ++ counts.map { case (n, c) => c.cast("long").as(n) } :+
          TextAnalysis.scrubPii(aug).as("scrubbed"): _*)
        .orderBy($"doc_id")
    }, """WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id % 50 AS VARCHAR) || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' tel +358 40 ' || CAST(doc_id % 900 + 100 AS VARCHAR) || '123' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || CAST(doc_id % 255 AS VARCHAR) || '.7 via https://example.org/p/' || CAST(doc_id AS VARCHAR) ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(t, 'https?://[^\s]+')) AS n_url,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
        |  len(regexp_extract_all(t, '\+\d[\d ()-]{6,}\d')) AS n_phone,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    'https?://[^\s]+', '[URL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g'),
        |    '\+\d[\d ()-]{6,}\d', '[PHONE]', 'g') AS scrubbed
        |FROM aug ORDER BY doc_id""".stripMargin),

    // ---- text analysis: corpus vocabulary top-k ---------------------------
    GateRow("text_vocab_topk", (s, d) => {
      import s.implicits._
      TextAnalysis.vocabulary(t(s, d, "documents"), "text", k = 100)
    }, """SELECT token, n FROM (
        |  SELECT u.token AS token, count(*) AS n
        |  FROM documents,
        |    UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                       x -> x <> '')) AS u(token)
        |  GROUP BY 1)
        |ORDER BY n DESC, token LIMIT 100""".stripMargin),

    // ---- text analysis: repetition signals (Gopher top-bigram fraction) ---
    // plain scan since the round-6 codegen fusion (hashed bigrams +
    // primitive run-length scan) collapsed the per-row work 16×: the
    // tWide round-robin exchange of the text payload now costs 2× what
    // the parallelism buys (A/B: 0.45 s plain vs 0.89 s spread at sf0.1)
    // — the same threshold call as the light counting ops below
    GateRow("text_repetition", (s, d) => {
      import s.implicits._
      TextAnalysis.repetitionCounts(t(s, d, "documents"), "doc_id", "text")
        .orderBy($"doc_id")
    }, """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
        |  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 1, 1))) AS u(i)),
        |per AS (
        |  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
        |SELECT doc_id, max(c) AS top_gram_count,
        |  CAST(sum(c) AS BIGINT) AS n_grams
        |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- text analysis: winnowing fingerprint over corpus+planted --------
    // (hash-exact oracle: planted docs join the FULL fingerprint table on
    // exact-fingerprint equality — identical texts have identical
    // winnowing fingerprints, disjoint vocabularies cannot collide; the
    // full-table join side keeps every corpus doc's fingerprint in the
    // timed plan, so the bench still measures corpus-scale fingerprinting)
    GateRow("text_fingerprint", (s, d) => {
      import s.implicits._
      val all = tWide(s, d, "documents").select($"doc_id", $"text")
        .unionByName(plantedDocs(s))
      val fps = TextAnalysis.fingerprints(all, "text")
        .withColumn("fph", xxhash64($"fingerprint"))
      // checkpoint the 8-row planted side: a live self-reference makes
      // Spark re-evaluate the fingerprint subtree per comparison; the
      // xxhash64 key gives the join a hashable broadcast key with exact
      // array equality as the residual condition
      val planted = fps.filter($"doc_id" >= PlantBase)
        .select($"doc_id".as("id_a"), $"fingerprint".as("fp"), $"fph")
        .localCheckpoint()
      fps.join(broadcast(planted), Seq("fph"))
        .filter($"fp" === $"fingerprint" && $"id_a" < $"doc_id")
        .select($"id_a", $"doc_id".as("id_b"))
        .orderBy($"id_a", $"id_b")
    }, """SELECT * FROM (VALUES
        |  (9000000010, 9000000011), (9000000010, 9000000012),
        |  (9000000011, 9000000012), (9000000020, 9000000021))
        |  AS t(id_a, id_b) ORDER BY id_a, id_b""".stripMargin),
  )
}
