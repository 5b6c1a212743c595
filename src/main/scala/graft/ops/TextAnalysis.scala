package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline side of the
  * engine (language-ID, quality scoring, token counting, fingerprinting)
  * over a `documents(doc_id, text, ...)` table.
  *
  * All of these are narrow, codegen-friendly Column expressions — no UDFs,
  * no shuffles — so they scan at parquet-reader speed and scale linearly
  * with input splits. Fingerprinting is the one scalar UDF (rolling-hash
  * winnowing needs per-window state).
  */
object TextAnalysis {

  /** Whitespace tokens (python `str.split()` semantics: leading/trailing
    * whitespace ignored, runs collapse). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: non-space chars / 4 + one boundary token per
    * word — a deterministic stand-in for a tokenizer's token count,
    * computable as pure integer SQL in any engine. */
  def subwordCount(text: Column): Column =
    floor(length(regexp_replace(text, "\\s", "")) / lit(4)).cast("int") + tokenCount(text)

  /** Quality signals as exact integers (ratios computed by consumers):
    * chars, tokens, punctuation chars, digit chars, uppercase chars,
    * stopword hits. Exact integers keep the DuckDB oracle hash-stable. */
  def qualityCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_chars" -> length(text),
    "n_tokens" -> tokenCount(text),
    "n_punct" -> (length(text) - length(regexp_replace(text, "[.,;:!?]", ""))),
    "n_digits" -> (length(text) - length(regexp_replace(text, "[0-9]", ""))),
    "n_upper" -> (length(text) - length(regexp_replace(text, "[A-ZÅÄÖ]", ""))),
  )

  /** Gopher-style quality filter verdict: keep/drop with the FIRST failed
    * rule as the reason (ordered rules, like the published repetition/
    * quality cascades — Rae et al. 2021 §A1.1, public). All comparisons
    * are exact-integer (counts, not float ratios: `punct * 10 > chars`
    * instead of `punct/chars > 0.1`) so the verdict is engine-portable
    * and hash-stable against a SQL oracle. */
  def qualityVerdict(text: Column,
                     minTokens: Int = 5, maxTokens: Int = 100000,
                     maxPunctPerMille: Int = 150,
                     maxDigitPerMille: Int = 300,
                     minStopwordHits: Int = 1): Column = {
    val nTokens = tokenCount(text)
    val nChars = length(text)
    val nPunct = nChars - length(regexp_replace(text, "[.,;:!?]", ""))
    val nDigits = nChars - length(regexp_replace(text, "[0-9]", ""))
    val stops = stopwordHits(text, enStopwords ++ fiStopwords)
    when(nTokens < minTokens, "too_short")
      .when(nTokens > maxTokens, "too_long")
      .when(nPunct * 1000 > nChars * maxPunctPerMille, "too_much_punctuation")
      .when(nDigits * 1000 > nChars * maxDigitPerMille, "too_many_digits")
      .when(stops < minStopwordHits, "no_stopwords")
      .otherwise("keep")
  }

  val enStopwords = Seq("the", "a", "of", "to", "and", "in", "is", "for", "on", "with")
  val fiStopwords = Seq("ja", "on", "ei", "se", "että", "oli", "hän", "mutta", "joka", "myös")

  private def stopwordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(lower(text)), t => t.isInCollection(words)))

  /** N-gram/stopword-heuristic language ID over {en, fi}: counts stopword
    * hits per language, highest count wins, `und` on zero evidence.
    * (The reference's corpus is Finnish; ARPA's lemmatizer fills this role
    * there — here it is a standalone scorer.) */
  def langScores(text: Column): (Column, Column) =
    (stopwordHits(text, enStopwords), stopwordHits(text, fiStopwords))

  def langId(text: Column): Column = {
    val (en, fi) = langScores(text)
    when(en > fi, "en").when(fi > en, "fi")
      .when(en === 0 && fi === 0, "und")
      .otherwise("und")
  }

  /** Corpus vocabulary: lowercased whitespace tokens → (token, count),
    * deterministic top-k (count desc, token asc). The word-count shape
    * every corpus-stats pass needs; one explode + one partial-aggregated
    * groupBy — the exchange carries (token, partial count), never rows. */
  def vocabulary(df: DataFrame, textCol: String, k: Int = 100): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(k)

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1 — public):
    * per doc, the most-frequent bigram's count and the total bigram
    * count, as exact integers (consumers compute the fraction; exact
    * integers keep the SQL oracle hash-stable). A boilerplate doc has
    * top_gram_count/n_grams near 1.
    *
    * Computed entirely per row — sort the doc's bigram array and take the
    * longest equal run with one `aggregate` fold — so the operator is a
    * NARROW scan: no explode, no shuffle. (The obvious
    * explode→groupBy(doc, gram)→groupBy(doc) formulation shuffles
    * |corpus|·|grams| rows twice for a per-document statistic — measured
    * 10× slower at sf0.1 and unviable at 100 TB.) */
  def repetitionCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokens and the sorted gram array are MATERIALIZED attributes (each
    // multiply referenced, so CollapseProject keeps the projections).
    // Written inline, every syntactic reference duplicated the whole
    // split→bigram→sort subtree — including the two element_at's INSIDE
    // the aggregate lambda, re-sorting the doc's grams per fold step:
    // O(grams²·log grams) per doc. Round 3's bench `count()` plan pruned
    // this column so the cost never surfaced; the honest toRdd timing
    // hung one task for >20 min at sf0.1 (same family as
    // Dedup.minhashSignatureFromHashes — see fingerprints above).
    // Round 6: the fold above is now TWO codegen expressions — hashed
    // positional bigrams (ShingleHash64, distinct=false; same window
    // count, so n_grams is unchanged) and a primitive sort+scan for the
    // largest multiplicity (MaxRunLengthExpression). The old tree
    // aggregate-folded over a sorted STRING array with two element_at
    // lookups + a struct allocation per step, all interpreted. The top
    // count over hashed bigrams equals the count over string bigrams
    // unless two DISTINCT bigrams collide in xxhash64 (~2⁻⁶⁴/pair) —
    // the tolerance the hashed-gram jaccard paths already document;
    // equality on the real corpora is pinned by the oracle row and
    // OpsSpec.
    val hashed = col("__rep_hashed")
    val n = size(hashed) // always >= 1: a short doc yields one truncated gram
    df.withColumn("__rep_toks", tokens(lower(col(textCol))))
      .withColumn("__rep_hashed", graft.functions.ShingleHash64Expression
        .shingleHash64(col("__rep_toks"), 2, distinct = false))
      .select(col(idCol),
        graft.functions.MaxRunLengthExpression.maxRunLength(hashed)
          .cast("long").as("top_gram_count"),
        n.cast("long").as("n_grams"))
  }

  // -------------------------------------------------------------------
  // PII detection / scrubbing — the redaction pass every training-data
  // pipeline runs before release. Pure regexp expressions (codegen'd,
  // narrow); the patterns stick to the regex subset Java and RE2 share,
  // so a SQL oracle can mirror them byte-for-byte.

  /** (name, pattern) — order matters for [[scrubPii]]: emails before
    * phones (an email's digit run must not be half-eaten as a phone). */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "url" -> "https?://[^\\s]+",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\+\\d[\\d ()-]{6,}\\d",
  )

  /** Per-kind PII hit counts as exact integers. */
  def piiCounts(text: Column): Seq[(String, Column)] =
    piiPatterns.map { case (name, p) =>
      s"n_$name" -> size(regexp_extract_all(text, lit(p), lit(0)))
    }

  /** Redact PII in place: each match replaced with an `[KIND]` placeholder
    * (emails first so overlapping patterns resolve deterministically). */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (name, p)) =>
      regexp_replace(acc, p, s"[${name.toUpperCase}]")
    }

  /** Document fingerprint: winnowing-style rolling-hash sketch — minimum
    * xxhash64 over each window of `w` consecutive token 3-grams, distinct.
    * Standard winnowing (Schleimer et al., SIGMOD'03 — public algorithm). */
  def fingerprints(df: DataFrame, textCol: String, w: Int = 4): DataFrame = {
    // toks and grams are MATERIALIZED attributes, each referenced twice
    // (size in the sequence argument + slice in the lambda body):
    // written inline, CollapseProject inlines the once-referenced column
    // into the lambda BODY where it is re-evaluated per iteration — the
    // text was re-split per GRAM and the gram array re-hashed per WINDOW
    // position, O(tokens²) per doc (measured 10 s vs 0.6 s at sf0.1; the
    // same trap as Dedup.minhashSignatureFromHashes, round-3 memory)
    val toks = col("__fp_toks")
    val grams = col("__fp_grams")
    df.withColumn("__fp_toks", tokens(col(textCol)))
      // fused codegen gram hashing (distinct=false: winnowing needs the
      // POSITIONAL gram sequence, duplicates included) — same per-window
      // bytes/hash as the old concat_ws/slice tree, no string
      // materialization (ShingleHashSpec pins the hash sequence)
      .withColumn("__fp_grams", graft.functions.ShingleHash64Expression
        .shingleHash64(toks, 3, distinct = false))
      // fused winnowing selection: one monotonic-deque pass (O(n)) in
      // codegen instead of an interpreted slice+array_min per window
      // (O(n·w)) — exact tree mirror, pinned by WinnowMinSpec
      .withColumn("fingerprint",
        graft.functions.WinnowMinExpression.winnowMin(grams, w))
      .drop("__fp_toks", "__fp_grams")
  }
}
