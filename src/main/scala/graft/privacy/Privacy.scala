package graft.privacy

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
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
  * Spark shape: one pass per subject. One aggregation over the type,
  * date, family-name, captivity and reification rows gives each subject's
  * class inputs and object sets; the non-public persons, with the common
  * names as one array row, yield one hide frame (subject, hidden
  * predicates, or all of a reification node's triples), removed by one
  * `left_anti`, and one `explode` of their replacement and flag triples.
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

  private val death = NS.SCHEMA_POW + "date_of_death"
  private val birth = NS.SCHEMA_WARSA + "date_of_birth"
  private val familyName = NS.SCHEMA_WARSA + "family_name"
  private val captivity = NS.SCHEMA_POW + "captivity"
  private def isPerson: Column =
    col("pred") === NS.RDF_TYPE && col("objValue") === (NS.SCHEMA_WARSA + "PrisonerRecord")

  /** One row per non-null subject of `rows`: whether it is a
    * PrisonerRecord and the dates the class rule reads, then `extra`. */
  private def perSubject(rows: DataFrame, extra: Column*): DataFrame = {
    val (pred, d) = (col("pred"), col("d"))
    val aggs = Seq(
      max(isPerson).as("person"),
      max(when(pred === death, d)).as("latest_death"), // latest (prune_nonpublic.py:204)
      max(when(pred === death, when(d.isNull, 1).otherwise(0))).as("death_without_date"),
      min(when(pred === birth, d)).as("dob")) ++ extra
    rows.filter(col("subj").isNotNull)
      .withColumn("d", when(pred.isin(death, birth), castDateUdf(col("objValue"))))
      .groupBy("subj").agg(aggs.head, aggs.tail: _*)
  }

  /** The class rule over [[perSubject]]'s columns (prune_nonpublic.py:194-215). */
  private def personClass(today: LocalDate): Column = {
    val cutoff = java.sql.Date.valueOf(today.minusYears(50))
    val aliveDob = java.sql.Date.valueOf(LocalDate.of(1910, 9, 30))
    val (latest, undated, dob) = (col("latest_death"), col("death_without_date"), col("dob"))
    when((latest.isNotNull && latest >= lit(cutoff)) || undated === 1, "died_recently")
      .when(latest.isNull && (undated.isNull || undated === 0) &&
            dob.isNotNull && dob >= lit(aliveDob), "possibly_alive")
      .otherwise("public").as("cls")
  }

  /** Person classification: one aggregation over the type and date
    * triples. Returns (subj, cls) with cls ∈ {public, died_recently,
    * possibly_alive} for every non-null PrisonerRecord subject.
    * `today` has NO default on purpose: the cutoff is a run input that must
    * come from the pipeline's pinned run date (SnapshotStore.pinRunDate) —
    * a wall-clock default would make a resume across midnight classify
    * differently than the run it resumes. */
  def classify(triples: DataFrame, today: LocalDate): DataFrame =
    perSubject(triples.filter(isPerson || col("pred").isin(death, birth)))
      .filter(col("person")).select(col("subj"), personClass(today))

  /** Common family names: endpoint count >= 2 AND endpoint+local >= 4
    * (prune_nonpublic.py:149-175). `endpointNames` plays the WarSampo
    * SPARQL role: (family, count). */
  def commonNames(triples: DataFrame, endpointNames: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val local = triples.filter($"pred" === familyName)
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
    val none = typedLit(Seq.empty[String])
    // collect_set skips nulls; a struct keeps a null family name, which the
    // rule treats as an uncommon name. A null captivity object names no
    // resource, so it gets no replacement labels.
    val subjects = perSubject(
      triples.filter(isPerson ||
        $"pred".isin(death, birth, familyName, captivity, NS.RDF_SUBJECT, NS.RDF_PREDICATE)),
      collect_set(when($"pred" === familyName, struct($"objValue".as("o")))).as("families"),
      collect_set(when($"pred" === captivity, $"objValue")).as("captivities"),
      collect_set(when($"pred" === NS.RDF_SUBJECT, $"objValue")).as("rs"),
      collect_set(when($"pred" === NS.RDF_PREDICATE, $"objValue")).as("rp"))

    // the non-public persons; family names and captivities count only for
    // the possibly alive. `common` is the common-name set, one array row.
    def isCommon(family: Column) = coalesce(array_contains($"common", family), lit(false))
    val persons = subjects.filter($"person")
      .select($"subj", personClass(today), $"families", $"captivities")
      .filter($"cls" =!= "public")
      .crossJoin(commonNames(triples, endpointNames).agg(collect_set($"family").as("common")))
      .withColumn("alive", $"cls" === "possibly_alive")
      .withColumn("names", when($"alive", transform($"families", _("o"))).otherwise(none))
      .withColumn("capts", when($"alive", $"captivities").otherwise(none))
      .withColumn("uncommon", exists($"names", !isCommon(_)))
      .withColumn("common_names", filter($"names", isCommon(_)))
      .withColumn("hpreds", concat(typedLit(healthPreds),
        when($"alive", typedLit(personalPreds)).otherwise(none),
        when($"uncommon", array(lit(familyName))).otherwise(none)))

    // ---- one hide frame (hsubj, hpreds, all) -----------------------------
    // each person's own hidden predicates (position 0), then the labels of
    // its captivity resources
    val personHides = persons.select(posexplode(concat(
        array(struct($"subj".as("hsubj"), $"hpreds")),
        transform($"capts", c => struct(c.as("hsubj"), array(lit(NS.SKOS_PREF_LABEL)).as("hpreds"))))))
      .select($"pos", $"col.*")
    // the reification cascade: a person's own hidden (s, p) removes every
    // reification node with rdf:subject s and rdf:predicate p, all of its
    // triples (prune_nonpublic.py:65-78)
    val reifHides = subjects.select($"subj".as("reif"), explode($"rs").as("hsubj"), $"rp")
      .join(personHides.filter($"pos" === 0), "hsubj")
      .filter(exists($"rp", array_contains($"hpreds", _)))
      .select($"reif".as("hsubj"), none.as("hpreds"), lit(true).as("all"))
    val hides = personHides.select($"hsubj", $"hpreds", lit(false).as("all")).unionByName(reifHides)
    val kept = triples.join(hides,
      $"subj" === $"hsubj" && ($"all" || array_contains($"hpreds", $"pred")), "left_anti")

    // ---- replacement labels (prune_nonpublic.py:118-141) and the
    // hide_documents / personal_information_removed flags (:222,144) -------
    def label(s: Column, o: Column) = Triples.struct(Triples.literal(s, lit(NS.SKOS_PREF_LABEL), o))
    def flag(p: String) = Triples.struct(Triples.literal($"subj", lit(NS.SCHEMA_POW + p),
      lit("true"), datatype = lit(NS.XSD_BOOLEAN)))
    val restricted = lit("Nimi rajoitettu")
    val anonymous = $"uncommon" || size($"names") === 0
    val personRows = array(flag("hide_documents"),
      when($"alive", flag("personal_information_removed")),
      when($"uncommon", Triples.struct(Triples.literal($"subj", lit(familyName), restricted))),
      when($"uncommon", label($"subj", restricted)))
    val captivityRows = flatten(transform($"capts", c => concat(
      array(when(anonymous, label(c, lit("Henkilön sotavankeus"))),
        when(anonymous, label(c, lit("Person's captivity")))),
      flatten(transform($"common_names", f => array(
        label(c, concat(lit("Henkilön "), f, lit(" sotavankeus"))),
        label(c, concat(lit("Person's "), f, lit(" captivity")))))))))
    val added = persons.select(explode(concat(personRows,
        transform($"common_names", label($"subj", _)), captivityRows)).as("t"))
      .filter($"t".isNotNull).select("t.*")

    kept.unionByName(added).transform(Triples.distinct)
  }
}
