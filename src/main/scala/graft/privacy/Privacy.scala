package graft.privacy

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Converters
import graft.model.{NS, Triples}

/** Pseudonymization — port of the reference's prune_nonpublic.py:
  * classify each person record as public / died-recently / possibly-alive,
  * hide health information for the latter two, hide personal information
  * for possibly-alive records (family name survives only when "common"),
  * and redact captivity labels. Records are REDACTED, never dropped —
  * the reference's own test asserts subject-set preservation
  * (src/tests.py:117-129).
  *
  * Spark shape: classification is one aggregation over the type and date
  * triples; removal is `left_anti` against the (subject, predicate[,
  * reification]) hide-set; additions are small unions. The reification
  * cascade (remove a triple ⇒ remove its 5 reification triples,
  * prune_nonpublic.py:65-78) is a join from hidden (s,p) pairs to
  * reification subjects.
  */
object Privacy {

  private val castDateUdf = udf(Converters.castDateLenient _)

  val healthPreds: Seq[String] = Seq(
    NS.SCHEMA_POW + "cause_of_death",
    NS.SCHEMA_POW + "additional_information")

  /** prune_nonpublic.py:97-114 — predicates hidden for possibly-alive. */
  val personalPreds: Seq[String] = Seq(
    NS.SCHEMA_WARSA + "given_names",
    NS.SCHEMA_POW + "original_name",
    NS.SKOS_PREF_LABEL,
    NS.SCHEMA_WARSA + "date_of_birth",
    NS.SCHEMA_WARSA + "municipality_of_birth_literal",
    NS.SCHEMA_POW + "municipality_of_domicile_literal",
    NS.SCHEMA_POW + "municipality_of_residence_literal",
    NS.SCHEMA_POW + "municipality_of_death_literal",
    NS.SCHEMA_POW + "date_of_going_mia",
    NS.SCHEMA_POW + "place_of_going_mia_literal",
    NS.SCHEMA_POW + "date_of_capture",
    NS.SCHEMA_POW + "description_of_capture",
    NS.SCHEMA_POW + "date_of_return",
    NS.SCHEMA_POW + "date_of_death",
    NS.SCHEMA_POW + "photograph",
    NS.SCHEMA_POW + "radio_report",
    NS.SCHEMA_POW + "finnish_return_interrogation_file",
    NS.SCHEMA_POW + "recording")

  /** Person classification (prune_nonpublic.py:194-215).
    * Returns (subj, cls) with cls ∈ {public, died_recently, possibly_alive}
    * for every non-null PrisonerRecord subject.
    * `today` has NO default on purpose: the cutoff is a run input that must
    * come from the pipeline's pinned run date (SnapshotStore.pinRunDate) —
    * a wall-clock default would make a resume across midnight classify
    * differently than the run it resumes. */
  def classify(triples: DataFrame, today: LocalDate): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val cutoff = java.sql.Date.valueOf(today.minusYears(50))
    val aliveDob = java.sql.Date.valueOf(LocalDate.of(1910, 9, 30))

    // one pass per person: the type and date triples fold into one row
    // per subject; subjects without a PrisonerRecord type row drop out.
    // The explicit non-null subject is the filter every join consumer
    // infers anyway: with it, all consumers plan the same shuffle, which
    // AQE then computes once and reuses.
    val death = NS.SCHEMA_POW + "date_of_death"
    val birth = NS.SCHEMA_WARSA + "date_of_birth"
    val isPerson = $"pred" === NS.RDF_TYPE && $"objValue" === (NS.SCHEMA_WARSA + "PrisonerRecord")
    triples.filter((isPerson || $"pred".isin(death, birth)) && $"subj".isNotNull)
      .select($"subj", $"pred", isPerson.as("person"),
        when($"pred".isin(death, birth), castDateUdf($"objValue")).as("d"))
      .groupBy($"subj").agg(
        max($"person").as("person"),
        max(when($"pred" === death, $"d")).as("latest_death"), // latest (prune_nonpublic.py:204)
        max(when($"pred" === death, when($"d".isNull, 1).otherwise(0))).as("death_without_date"),
        min(when($"pred" === birth, $"d")).as("dob"))
      .filter($"person")
      .select($"subj",
        when(($"latest_death".isNotNull && $"latest_death" >= lit(cutoff)) ||
             $"death_without_date" === 1, "died_recently")
          .when($"latest_death".isNull &&
                ($"death_without_date".isNull || $"death_without_date" === 0) &&
                $"dob".isNotNull && $"dob" >= lit(aliveDob), "possibly_alive")
          .otherwise("public").as("cls"))
  }

  /** Common family names: endpoint count >= 2 AND endpoint+local >= 4
    * (prune_nonpublic.py:149-175). `endpointNames` plays the WarSampo
    * SPARQL role: (family, count). */
  def commonNames(triples: DataFrame, endpointNames: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val local = triples.filter($"pred" === (NS.SCHEMA_WARSA + "family_name"))
      .groupBy($"objValue".as("family")).agg(count(lit(1)).as("n_local"))
    endpointNames.filter($"count" >= 2)
      .join(local, $"family" === $"fam", "left")
      .na.fill(Map("n_local" -> 0))
      .filter($"count" + $"n_local" >= 4)
      .select($"fam".as("family"))
  }

  /** Full pruning pass. Returns the redacted triple set. `today` must be
    * the pinned run date — no wall-clock default (see [[classify]]). */
  def prunePersons(triples: DataFrame, endpointNames: DataFrame,
                   today: LocalDate): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._

    // The classification, common-name and family-name frames are each
    // consumed by several of the joins below. They are left lazy: within
    // the one pruning query AQE plans each repeated subtree's shuffle once
    // and reuses it (`ReusedExchange`), so sharing costs no cache — a
    // persist would add a cache-materialization job per frame and pin
    // executor storage after the stage commits.
    val cls = classify(triples, today)
    val hidden = cls.filter($"cls" =!= "public") // health hidden for both
    val alive = cls.filter($"cls" === "possibly_alive")
    val common = commonNames(triples, endpointNames)

    // family names of possibly-alive records, flagged common/uncommon
    val aliveFamily = triples.filter($"pred" === (NS.SCHEMA_WARSA + "family_name"))
      .join(alive.select("subj"), Seq("subj"))
      .join(common.withColumn("is_common", lit(true)),
        $"objValue" === $"family", "left")
      .select($"subj", $"objValue".as("family"),
        coalesce($"is_common", lit(false)).as("is_common"))

    // ---- build the hide-set of (subj, pred) pairs ------------------------
    val hideHealth = hidden.select($"subj")
      .crossJoin(spark.createDataset(healthPreds).toDF("hpred"))
    val hidePersonal = alive.select($"subj")
      .crossJoin(spark.createDataset(personalPreds).toDF("hpred"))
    val hideFamily = aliveFamily.filter(!$"is_common")
      .select($"subj", lit(NS.SCHEMA_WARSA + "family_name").as("hpred"))
    val hideSet = hideHealth.unionByName(hidePersonal).unionByName(hideFamily).distinct()

    // captivity label redaction: labels of captivity resources of alive recs
    val captivityOf = triples.filter($"pred" === (NS.SCHEMA_POW + "captivity"))
      .select($"subj", $"objValue".as("captivity"))
      .join(alive.select("subj"), Seq("subj"))

    val hideCaptivityLabels = captivityOf
      .select($"captivity".as("subj"), lit(NS.SKOS_PREF_LABEL).as("hpred")).distinct()

    val allHides = hideSet.unionByName(hideCaptivityLabels)

    // ---- reification cascade --------------------------------------------
    // a hidden (s,p) removes any reification whose rdf:subject=s ∧
    // rdf:predicate=p, with all 5 of its triples
    val reifSubj = triples.filter($"pred" === NS.RDF_SUBJECT)
      .select($"subj".as("reif"), $"objValue".as("rs"))
    val reifPred = triples.filter($"pred" === NS.RDF_PREDICATE)
      .select($"subj".as("reif"), $"objValue".as("rp"))
    val hiddenReifs = reifSubj.join(reifPred, "reif")
      .join(hideSet, $"rs" === $"subj" && $"rp" === $"hpred")
      .select($"reif").distinct()

    // ---- apply -----------------------------------------------------------
    // explicit renames: both sides derive from `triples`, so positional
    // column references would resolve to the same attribute (self-join
    // ambiguity -> trivially-true predicate)
    val hides2 = allHides.select(col("subj").as("hsubj"), col("hpred"))
    val kept = triples
      .join(hides2, triples("subj") === hides2("hsubj") &&
        triples("pred") === hides2("hpred"), "left_anti")
      .join(hiddenReifs, triples("subj") === hiddenReifs("reif"), "left_anti")

    // ---- replacement triples --------------------------------------------
    kept.toDF()
      .unionByName(replacements(aliveFamily, captivityOf, common))
      .unionByName(flags(hidden, alive))
      .transform(Triples.distinct)
  }

  // replacement label triples (prune_nonpublic.py:118-141)
  private def replacements(aliveFamily: DataFrame, captivityOf: DataFrame,
                           common: DataFrame): DataFrame = {
    val spark = aliveFamily.sparkSession
    import spark.implicits._
    val restricted = lit("Nimi rajoitettu")
    val label = lit(NS.SKOS_PREF_LABEL)

    val uncommon = aliveFamily.filter(!$"is_common").select($"subj").distinct()
    val commonRecs = aliveFamily.filter($"is_common")

    val nameRows =
      uncommon.select(Triples.literal($"subj", lit(NS.SCHEMA_WARSA + "family_name"), restricted): _*)
        .unionByName(uncommon.select(Triples.literal($"subj", label, restricted): _*))
        .unionByName(commonRecs.select(Triples.literal($"subj", label, $"family"): _*))

    val capt = captivityOf
      .join(aliveFamily.select($"subj", $"family", $"is_common"), Seq("subj"), "left")
    val uncommonCapt = capt.filter(!coalesce($"is_common", lit(false)))
    val commonCapt = capt.filter(coalesce($"is_common", lit(false)))
    val captRows =
      uncommonCapt.select(Triples.literal($"captivity", label, lit("Henkilön sotavankeus")): _*)
        .unionByName(uncommonCapt.select(
          Triples.literal($"captivity", label, lit("Person's captivity")): _*))
        .unionByName(commonCapt.select(Triples.literal($"captivity", label,
          concat(lit("Henkilön "), $"family", lit(" sotavankeus"))): _*))
        .unionByName(commonCapt.select(Triples.literal($"captivity", label,
          concat(lit("Person's "), $"family", lit(" captivity"))): _*))

    nameRows.unionByName(captRows).distinct()
  }

  // hide_documents / personal_information_removed flags
  // (prune_nonpublic.py:222,144)
  private def flags(hidden: DataFrame, alive: DataFrame): DataFrame = {
    val (subj, yes, boolean) = (col("subj"), lit("true"), lit(NS.XSD_BOOLEAN))
    hidden.select(Triples.literal(subj, lit(NS.SCHEMA_POW + "hide_documents"), yes,
        datatype = boolean): _*)
      .unionByName(alive.select(Triples.literal(subj,
        lit(NS.SCHEMA_POW + "personal_information_removed"), yes, datatype = boolean): _*))
  }
}
