package graft

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{NS, Triples}
import graft.privacy.Privacy

/** The join form of `Privacy.prunePersons` that the one-pass form
  * replaced, kept as the reference `PruneEquivalenceSpec` checks it
  * against: a `crossJoin` of each class's subjects with its predicate
  * list for the hide-set, a join from hidden (s, p) pairs to reification
  * subjects for the cascade, two `left_anti` joins, and the replacement
  * labels as joins and unions over the family-name and captivity rows. */
object PruneReference {

  def prunePersons(triples: DataFrame, endpointNames: DataFrame,
                   today: LocalDate): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._

    val cls = Privacy.classify(triples, today)
    val hidden = cls.filter($"cls" =!= "public") // health hidden for both
    val alive = cls.filter($"cls" === "possibly_alive")
    val common = Privacy.commonNames(triples, endpointNames)

    // family names of possibly-alive records, flagged common/uncommon
    val aliveFamily = triples.filter($"pred" === (NS.SCHEMA_WARSA + "family_name"))
      .join(alive.select("subj"), Seq("subj"))
      .join(common.withColumn("is_common", lit(true)),
        $"objValue" === $"family", "left")
      .select($"subj", $"objValue".as("family"),
        coalesce($"is_common", lit(false)).as("is_common"))

    // ---- build the hide-set of (subj, pred) pairs ------------------------
    val hideHealth = hidden.select($"subj")
      .crossJoin(spark.createDataset(Privacy.healthPreds).toDF("hpred"))
    val hidePersonal = alive.select($"subj")
      .crossJoin(spark.createDataset(Privacy.personalPreds).toDF("hpred"))
    val hideFamily = aliveFamily.filter(!$"is_common")
      .select($"subj", lit(NS.SCHEMA_WARSA + "family_name").as("hpred"))
    val hideSet = hideHealth.unionByName(hidePersonal).unionByName(hideFamily).distinct()

    // captivity label redaction: labels of captivity resources of alive recs
    val captivityOf = triples.filter($"pred" === (NS.SCHEMA_POW + "captivity") && $"objValue".isNotNull)
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
      .unionByName(replacements(aliveFamily, captivityOf))
      .unionByName(flags(hidden, alive))
      .transform(Triples.distinct)
  }

  // replacement label triples (prune_nonpublic.py:118-141)
  private def replacements(aliveFamily: DataFrame, captivityOf: DataFrame): DataFrame = {
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
