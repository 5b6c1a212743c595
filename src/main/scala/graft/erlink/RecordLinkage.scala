package graft.erlink

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.link.Normalize
import graft.model.{NS, Triples}

/** Probabilistic person record linkage (SURVEY.md §2.4 J9) — the Spark-
  * native replacement for the reference's `dedupe`-based active-learning
  * matcher (src/linker.py:174-210): same 13-field feature space
  * (linker.py:175-189), deterministic blocking + scoring instead of a
  * learned model (the reference itself pins seeds for determinism,
  * linker.py:193-194).
  *
  * Scale design (north rule): candidate generation is blocking-key
  * equi-joins, never a cross join; hot blocks (common family names —
  * exactly the skew the common-name rule of prune_nonpublic.py:149-175
  * exists for) are salted: the key becomes (key, pmod(hash(id), S)) on the
  * big side with the small side exploded ×S, bounding any single reduce
  * task at |block|/S.
  */
object RecordLinkage {

  /** Feature extraction: triples → one row per PrisonerRecord with the
    * linker.py:104-158 fields. Pruned persons are skipped (P5).
    *
    * One pass per entity (the SparkER profile build): the feature
    * predicates' triples, with the rank level attached by a broadcast
    * join, fold into one row per subject through conditional aggregates,
    * joined back to the PrisonerRecord type rows. A field whose predicate
    * the person lacks is null, never an empty array. */
  def prisonerFeatures(triples: DataFrame, ranksGaz: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._

    val removed = NS.SCHEMA_POW + "personal_information_removed"
    val rank = NS.SCHEMA_POW + "rank"
    val sets = Seq(rank -> "rank",
      NS.SCHEMA_WARSA + "municipality_of_birth" -> "birth_place",
      NS.SCHEMA_POW + "municipality_of_death" -> "death_place",
      NS.SCHEMA_POW + "unit" -> "unit",
      NS.BIOC + "has_occupation" -> "occupation")
    val firsts = Seq(NS.SCHEMA_WARSA + "given_names" -> "given",
      NS.SCHEMA_WARSA + "family_name" -> "family_raw")
    // date fields: only typed xsd:date values carry into min/max folding
    // (get_date_value analogue — strings fold out as nulls)
    val dates = Seq(NS.SCHEMA_WARSA + "date_of_birth" -> "birth",
      NS.SCHEMA_POW + "date_of_death" -> "death")

    def is(pred: String): Column = $"pred" === pred
    def date(pred: String): Column = when(is(pred) && $"objDatatype" === NS.XSD_DATE, $"objValue")
    val aggs =
      sets.map { case (p, n) =>
        when(max(is(p)), sort_array(collect_set(when(is(p), $"objValue")))).as(n)
      } ++ firsts.map { case (p, n) => min(when(is(p), $"objValue")).as(n) } ++
        dates.flatMap { case (p, n) =>
          Seq(min(date(p)).as(n + "_begin"), max(date(p)).as(n + "_end"))
        } ++ Seq(max($"level").as("rank_level"), max(is(removed)).as("removed"))

    val preds = (sets ++ firsts ++ dates).map(_._1) :+ removed
    val levels = broadcast(ranksGaz.select($"uri", $"level"))
    val profiles = triples.filter($"pred".isin(preds: _*))
      .join(levels, is(rank) && $"objValue" === $"uri", "left")
      .groupBy($"subj".as("person_uri"))
      .agg(aggs.head, aggs.tail: _*)

    triples
      .filter(is(NS.RDF_TYPE) && $"objValue" === (NS.SCHEMA_WARSA + "PrisonerRecord"))
      .select($"subj".as("person_uri"), $"docId")
      .join(profiles, Seq("person_uri"), "left")
      .filter(!coalesce($"removed", lit(false)))
      .select($"person_uri", $"docId", $"given", $"rank", $"rank_level", $"birth_place",
        $"death_place", $"unit", $"occupation", $"birth_begin", $"birth_end",
        $"death_begin", $"death_end",
        // previous-name unification: "Heino (ent. Kalmari)" -> "Heino Kalmari"
        // (linker.py:143)
        regexp_replace($"family_raw", "\\(ent\\.\\s*(.+)\\)", "$1").as("family"),
        $"death_end".as("activity_end"))
  }

  /** Blocking keys for one side: composite conjunction blocks
    * (family+given) ∪ (family+birth-year) — the dedupe library the
    * reference delegates to learns conjunctive blocking predicates of
    * exactly this shape; single-attribute blocks (family alone) put every
    * bearer of a common surname in one block, which is the hot-key blowup
    * the salt only mitigates. A candidate that can reach the acceptance
    * threshold must agree on family AND (given or birth window), so these
    * blocks keep threshold-recall while cutting the pair count ~20×. */
  private def blockKeys(df: DataFrame, idCol: String, familyCol: String,
                        givenCol: String, birthCol: String): DataFrame = {
    val famGiven = df.select(col(idCol).as("bid"),
      concat(lit("fg:"), Normalize.fold(col(familyCol)), lit("|"),
        Normalize.fold(col(givenCol))).as("bkey"))
      .filter(col(familyCol).isNotNull && col(givenCol).isNotNull)
    val famYear = df.select(col(idCol).as("bid"),
      concat(lit("fy:"), Normalize.fold(col(familyCol)), lit("|"),
        substring(col(birthCol), 1, 4)).as("bkey"))
      .filter(col(familyCol).isNotNull && col(birthCol).isNotNull)
    famGiven.unionByName(famYear)
  }

  /** Candidate pairs via salted blocking-key join.
    *
    * Salting: a pre-pass counts docs per key; keys above `hotThreshold`
    * get salt S = ceil(n / hotThreshold): the doc side key becomes
    * (key, pmod(xxhash64(id), S)) and the person side explodes ×S — the
    * standard explicit skew-join treatment (SURVEY.md §4). */
  def candidatePairs(prisoners: DataFrame, personsGaz: DataFrame,
                     hotThreshold: Int = 1000): DataFrame = {
    val spark = prisoners.sparkSession
    import spark.implicits._

    val pKeys = blockKeys(prisoners, "person_uri", "family", "given", "birth_begin")
    val gKeys = blockKeys(personsGaz, "person", "family", "given", "birth_begin")

    val keyCounts = pKeys.groupBy($"bkey").agg(count(lit(1)).as("n"))
      .withColumn("salt", greatest(lit(1), ceil($"n" / hotThreshold)).cast("int"))
      .select($"bkey", $"salt")

    val pSalted = pKeys.join(broadcast(keyCounts), Seq("bkey"), "left")
      .na.fill(Map("salt" -> 1))
      .select($"bid".as("prisoner"),
        concat($"bkey", lit("#"), pmod(xxhash64($"bid"), $"salt")).as("skey"))
    val gSalted = gKeys.join(broadcast(keyCounts), Seq("bkey"), "left")
      .na.fill(Map("salt" -> 1))
      .select($"bid".as("person"),
        explode(transform(sequence(lit(0), $"salt" - 1),
          s => concat($"bkey", lit("#"), s))).as("skey"))

    pSalted.join(gSalted, "skey")
      .select($"prisoner", $"person").distinct()
  }

  /** Optional columns a sparse gazetteer may omit — filled with typed
    * nulls so the scorer's renormalization drops them uniformly. */
  private def withOptionalFields(df: DataFrame): DataFrame = {
    val arrayCols = Seq("birth_place", "death_place", "rank", "unit", "occupation")
    val dateCols = Seq("birth_begin", "birth_end", "death_begin", "death_end", "activity_end")
    val have = df.columns.toSet
    val withArrays = arrayCols.foldLeft(df)((d, c) =>
      if (have(c)) d else d.withColumn(c, lit(null).cast("array<string>")))
    val withDates = dateCols.foldLeft(withArrays)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast("string")))
    if (withDates.columns.contains("rank_level")) withDates
    else withDates.withColumn("rank_level", lit(null).cast("int"))
  }

  /** Deterministic pair scorer over the FULL 13-field space of
    * linker.py:175-189: Jaro-Winkler on names, the DateTime comparator on
    * the four date-window bounds, set intersection on birth/death place,
    * rank, unit and occupation arrays (the reference's custom
    * intersection_comparator fields), the Price comparator on rank_level
    * and the activity comparator on activity_end — see
    * [[Comparators.prisonerScore]]. Fields missing on either side drop out
    * by renormalization, so sparse gazetteers still link on what they
    * have, while a present-but-disagreeing field (same name, different
    * rank/unit/cohort) actively pushes the pair below threshold — the
    * precision case the reference's 13-field model exists for. Returns
    * links at `threshold` (the reference accepts at threshold_ratio 0.8,
    * linker.py:209). */
  def scorePairs(pairs: DataFrame, prisoners: DataFrame, personsGaz: DataFrame,
                 threshold: Double = 0.8): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._

    // pre-fold the name strings and the 5 multi-valued sets ONCE PER
    // RECORD: the comparators would otherwise re-run the normalization
    // regexes per candidate PAIR per field (a record in k pairs folds k
    // times) — at ~600k blocked pairs that regex work dominates the
    // scorer. fold is idempotent, so the scores are bit-identical.
    def side(df: DataFrame, idIn: String, idOut: String, pre: String): DataFrame = {
      val f = withOptionalFields(df)
      val foldedStrings = Set("given", "family")
      val foldedSets = Set("birth_place", "death_place", "rank", "unit", "occupation")
      f.select(col(idIn).as(idOut) +: Seq("given", "family", "birth_place",
        "birth_begin", "birth_end", "death_begin", "death_end", "death_place",
        "activity_end", "rank", "rank_level", "unit", "occupation")
        .map { c =>
          val v =
            if (foldedStrings(c)) Normalize.fold(col(c))
            else if (foldedSets(c)) transform(col(c), Normalize.fold(_))
            else col(c)
          v.as(pre + c)
        }: _*)
    }
    def cols(pre: String): Comparators.PrisonerCols = Comparators.PrisonerCols(
      given = col(pre + "given"), family = col(pre + "family"),
      birthPlace = col(pre + "birth_place"), birthBegin = col(pre + "birth_begin"),
      birthEnd = col(pre + "birth_end"), deathBegin = col(pre + "death_begin"),
      deathEnd = col(pre + "death_end"), deathPlace = col(pre + "death_place"),
      activityEnd = col(pre + "activity_end"), rank = col(pre + "rank"),
      rankLevel = col(pre + "rank_level"), unit = col(pre + "unit"),
      occupation = col(pre + "occupation"))

    val p = side(prisoners, "person_uri", "prisoner", "p_")
    val g = side(personsGaz, "person", "person", "g_")

    val scored = pairs.join(p, Seq("prisoner")).join(g, Seq("person"))
      .withColumn("score",
        Comparators.prisonerScore(cols("p_"), cols("g_"), preFolded = true))

    // best person per prisoner, then threshold (top-1 mirrors dedupe's
    // one-to-one preference)
    val w = Window.partitionBy($"prisoner").orderBy($"score".desc, $"person")
    scored.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .filter($"score" >= threshold)
      .select($"prisoner", $"person", round($"score", 6).as("score"))
  }

  /** Full J9: features → blocking → scoring → link triples
    * (crm:P70_documents shape like construct_people.sparql). */
  def linkPersons(triples: DataFrame, ranksGaz: DataFrame, personsGaz: DataFrame,
                  threshold: Double = 0.8): DataFrame = {
    // the feature plan (an aggregation over the triples table) feeds BOTH
    // the blocking branch and the scoring branch — left lazy it executes
    // twice inside the one linking action; checkpoint it once (lazy:
    // materializes on first use)
    val feats = prisonerFeatures(triples, ranksGaz).localCheckpoint(false)
    val links = scorePairs(candidatePairs(feats, personsGaz), feats, personsGaz, threshold)
    val spark = triples.sparkSession
    import spark.implicits._
    // docId: the prisoner URI without its data-namespace prefix (quoted:
    // the namespace's dots are literal)
    links.select(Triples.uri($"prisoner", lit(NS.CRM + "P70_documents"), $"person",
      regexp_replace($"prisoner", "^" + java.util.regex.Pattern.quote(NS.DATA), "")): _*)
  }
}
