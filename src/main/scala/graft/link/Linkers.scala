package graft.link

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.Converters
import graft.model.{NS, RdfTriple, Triples}

/** Label normalization shared by all gazetteer joins (the role ARPA's
  * lemmatize/fold plays in the reference). */
object Normalize {
  /** lowercase + unicode-whitespace collapse + trim. */
  def fold(c: Column): Column =
    lower(regexp_replace(regexp_replace(c, "\\s+", " "), "^\\s+|\\s+$", ""))

  private val slugifyUdf = udf(Converters.slugify _)
  def slugifyCol(c: Column): Column = slugifyUdf(c)

  /** Native codegen expression (graft.functions.JaroWinklerExpression) —
    * stays inside whole-stage codegen instead of a ScalaUDF boundary. */
  def jaroWinkler(a: Column, b: Column): Column =
    graft.functions.JaroWinklerExpression.jaroWinkler(a, b)

  /** Normalized Levenshtein similarity in [0, 1] (1 = equal) — built on
    * Spark's codegen'd `levenshtein`; the other fuzzy metric of the
    * dictionary-linking family besides Jaro-Winkler. */
  def levenshteinSim(a: Column, b: Column): Column =
    lit(1.0) - levenshtein(a, b) /
      greatest(length(a), length(b), lit(1)).cast("double")
}

/** Entity-linking operators (SURVEY.md §2.4 J1-J13), all re-expressed as
  * broadcast hash joins against the synthetic gazetteers — the reference's
  * per-literal ARPA HTTP round-trips (src/linker.py:41-73) become batched
  * joins (one for all exact-dictionary tasks), zero shuffles on the doc
  * side.
  *
  * Every linker takes/returns triples in the engine's native Dataset form;
  * a predicate filter on the triples table hits the predicate partitioning
  * of the store (SURVEY.md §4: partition pruning replaces rdflib's
  * predicate index).
  */
object Linkers {

  import Normalize._

  /** (subj, literal) pairs for one predicate — the `graph[:source_prop:]`
    * scan (linker.py:49). */
  private def literals(triples: DataFrame, pred: String): DataFrame =
    triples.filter(col("pred") === pred && !col("objIsUri"))
      .select(col("subj"), col("objValue").as("literal"), col("docId"))

  /** One exact-dictionary linking task: literals of `source` are keyed by
    * `key` and looked up in `dict` (uri, k); hits become `target` links. */
  final case class DictTask(source: String, target: String, key: Column => Column,
                            dict: DataFrame /* (uri, k) */)

  /** J1 batched: every exact-dictionary task in one pass — one scan of the
    * source literals, one broadcast equi-join on (source predicate, key)
    * and one first-hit aggregation, the deterministic min-uri per (subj,
    * literal) (the reference takes the first ARPA hit, linker.py:57 — any
    * stable pick satisfies it). Sources must be distinct: the source
    * predicate is what routes a literal to its task's key and target. */
  def linkDictionary(triples: DataFrame, tasks: Seq[DictTask]): DataFrame = {
    require(tasks.map(_.source).distinct.size == tasks.size,
      s"dictionary tasks share a source predicate: ${tasks.map(_.source)}")
    val src = col("pred")
    val key = tasks.tail.foldLeft(when(src === tasks.head.source, tasks.head.key(col("literal")))) {
      (acc, t) => acc.when(src === t.source, t.key(col("literal")))
    }
    val dict = tasks.map(t => t.dict.select(lit(t.source).as("pred"), lit(t.target).as("target"),
      col("k"), col("uri"))).reduce(_ unionByName _)
    val hit = triples.filter(src.isin(tasks.map(_.source): _*) && !col("objIsUri"))
      .select(col("subj"), col("pred"), col("objValue").as("literal"), col("docId"))
      .withColumn("k", key)
      .join(broadcast(dict), Seq("pred", "k"))
      .groupBy("subj", "target", "literal", "docId").agg(min("uri").as("uri"))
    hit.select(Triples.uri(col("subj"), col("target"), col("uri"), col("docId")): _*)
  }

  /** J2: camps — alias remap (linker.py:79-83) then exact match on
    * camp_id | captivity_location. */
  def campTask(campsGaz: DataFrame): DictTask = {
    def remap(l: Column): Column =
      when(l === "Siestarjoki", "Siestarjoki, ven. Sestroretsk")
        .when(l === "Karhumäki", "Karhumäki, evakuointipiste")
        .when(l === "Sorokka", "Sorokka ven. Belomorsk")
        .otherwise(l)
    DictTask(NS.SCHEMA_POW + "location_literal", NS.SCHEMA_POW + "location", remap,
      campsGaz.select(col("uri"), col("camp_id").as("k"))
        .filter(length(col("k")) > 0)
        .unionByName(campsGaz.select(col("uri"), col("captivity_location").as("k"))))
  }

  def linkCamps(triples: DataFrame, campsGaz: DataFrame): DataFrame =
    linkDictionary(triples, Seq(campTask(campsGaz)))

  /** J3: warsa municipalities — the four literal properties against one
    * registry, each mapped to its own link property (linker.py:225-264). */
  def municipalityTasks(munGaz: DataFrame): Seq[DictTask] = {
    val dict = munGaz.select(col("uri"), fold(col("label")).as("k"))
    Seq(
      NS.SCHEMA_WARSA + "municipality_of_birth_literal" -> (NS.SCHEMA_WARSA + "municipality_of_birth"),
      NS.SCHEMA_POW + "municipality_of_domicile_literal" -> (NS.SCHEMA_POW + "municipality_of_domicile"),
      NS.SCHEMA_POW + "municipality_of_residence_literal" -> (NS.SCHEMA_POW + "municipality_of_residence"),
      NS.SCHEMA_POW + "municipality_of_capture_literal" -> (NS.SCHEMA_POW + "municipality_of_capture"),
    ).map { case (src, dst) => DictTask(src, dst, fold, dict) }
  }

  def linkMunicipalities(triples: DataFrame, munGaz: DataFrame): DataFrame =
    linkDictionary(triples, municipalityTasks(munGaz))

  /** J4: PNR municipality-of-death link with place-type restriction
    * (arpa_services/pnr_municipality: types 540/550). */
  def pnrDeathTask(pnr: DataFrame): DictTask =
    DictTask(NS.SCHEMA_POW + "municipality_of_death_literal", NS.SCHEMA_POW + "municipality_of_death",
      fold, pnr.filter(col("place_type").isin(540, 550)).select(col("uri"), fold(col("label")).as("k")))

  def linkPnrDeathMunicipality(triples: DataFrame, pnr: DataFrame): DataFrame =
    linkDictionary(triples, Seq(pnrDeathTask(pnr)))

  /** J5: ranks — abbreviation expansion then label match
    * (link_ranks delegation, linker.py:555-558). */
  def rankTask(ranksGaz: DataFrame): DictTask = {
    def abbrevExpand(l: Column): Column = {
      val stripped = regexp_replace(fold(l), "\\.$", "")
      graft.gazetteer.Gazetteers.rankAbbreviations.foldLeft(stripped) {
        case (acc, (short, full)) => when(stripped === short, full).otherwise(acc)
      }
    }
    DictTask(NS.SCHEMA_POW + "rank_literal", NS.SCHEMA_POW + "rank", abbrevExpand,
      ranksGaz.select(col("uri"), fold(col("label")).as("k")))
  }

  def linkRanks(triples: DataFrame, ranksGaz: DataFrame): DataFrame =
    linkDictionary(triples, Seq(rankTask(ranksGaz)))

  /** Generic fuzzy dictionary link: first-letter blocking (candidate
    * space |docs| × |bucket| instead of a cross join), a similarity
    * scorer — `jaro_winkler` (the reference's metric, linker.py:546-549)
    * or normalized `levenshtein` (the other metric of the fuzzy
    * dictionary-linking family) — threshold filter, top-1 per mention
    * with a deterministic tiebreak. */
  def linkFuzzyByLabel(triples: DataFrame, sourceProp: String, targetProp: String,
                       gaz: DataFrame, threshold: Double,
                       metric: String = "jaro_winkler"): DataFrame = {
    val g = broadcast(gaz.select(col("uri"), fold(col("label")).as("glabel"))
      .withColumn("blk", substring(col("glabel"), 1, 1)))
    def score(a: Column, b: Column) = metric match {
      case "jaro_winkler" => Normalize.jaroWinkler(a, b)
      case "levenshtein" => Normalize.levenshteinSim(a, b)
      case m => throw new IllegalArgumentException(s"unknown fuzzy metric: $m")
    }
    val cand = literals(triples, sourceProp)
      .withColumn("flabel", fold(col("literal")))
      .withColumn("blk", substring(col("flabel"), 1, 1))
      .join(g, "blk")
      .withColumn("score", score(col("flabel"), col("glabel")))
      .filter(col("score") >= threshold)
    val w = Window.partitionBy("subj", "literal").orderBy(col("score").desc, col("uri"))
    val hit = cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("subj"), col("literal"), col("docId"), col("uri"))
    hit.select(Triples.uri(col("subj"), lit(targetProp), col("uri"), col("docId")): _*)
  }

  /** J6: occupations — fuzzy Jaro-Winkler join at threshold 0.84
    * (linker.py:546-549). */
  def linkOccupations(triples: DataFrame, occGaz: DataFrame,
                      threshold: Double = 0.84): DataFrame =
    linkFuzzyByLabel(triples, NS.SCHEMA_POW + "occupation_literal",
      NS.BIOC + "has_occupation", occGaz, threshold, "jaro_winkler")

  /** J7+J8: units — candidate generation by ≤5-gram windows over the
    * mention (arpa_services/warsa_actor_units: maxNGrams 5) plus exact
    * covernumber match, restricted to actors whose class is transitively
    * under Group (`a/rdfs:subClassOf* wsc:Group`, units.sparql:20-22) or
    * that FORMED a unit (`crm:P95_has_formed`, units.sparql:24-26 — the
    * match then resolves to the formed unit, with the formed unit's
    * conflict). Disambiguation prefers the candidate whose conflict
    * matches the doc's war period, ties broken by longest matched n-gram
    * then uri. `classesGaz` is the rdfs:subClassOf edge table; its
    * reflexive-transitive closure is precomputed once (tiny dim) and
    * broadcast — Spark's replacement for the SPARQL property path. */
  def linkUnits(triples: DataFrame, unitsGaz: DataFrame,
                docPeriods: DataFrame /* (docId, period_uri) */,
                classesGaz: DataFrame /* (clazz, parent) */): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._

    val mentions = literals(triples, NS.SCHEMA_POW + "unit_literal")
    // n-gram windows (1..5 tokens), STRLEN>2 or >1 if all-caps
    // (units.sparql:12 / warsa_actor_units query)
    // token array MATERIALIZED as an attribute: referenced inside the
    // window lambda bodies, where an inline split subtree would be
    // duplicated and re-run per (n, i) window (bounded here — unit
    // literals are a few tokens — but free to avoid; same trap family as
    // TextAnalysis.repetitionCounts)
    val toks = col("__unit_toks")
    val ngrams = flatten(transform(sequence(lit(1), lit(5)), n =>
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, n)))))
    val mentionGrams = mentions
      .withColumn("__unit_toks",
        filter(split(fold($"literal"), "[ /.,]+"), t => t =!= ""))
      .select($"subj", $"literal", $"docId",
        explode(array_distinct(ngrams)).as("gram"))
      .filter(length($"gram") > 2 ||
        (length($"gram") > 1 && upper($"literal") === $"literal"))

    // class restriction: actors whose clazz reaches Group via subClassOf*
    val groupClasses = Closure.reflexiveTransitive(classesGaz)
      .filter($"ancestor" === (NS.SCHEMA_ACTORS + "Group"))
      .select($"clazz")
    val directTargets = unitsGaz.join(broadcast(groupClasses), Seq("clazz"), "left_semi")
      .select($"uri", $"labels", $"covernumber", $"conflict", $"uri".as("target"))
    // formation traversal: a match on the forming actor's labels resolves
    // to the FORMED unit, whose own conflict drives disambiguation
    val formedTargets = unitsGaz.filter($"formed".isNotNull)
      .select($"labels", $"covernumber", $"formed".as("target"))
      .join(unitsGaz.select($"uri".as("target"), $"conflict"), Seq("target"), "left")
      .select(col("target").as("uri"), $"labels", $"covernumber", $"conflict", $"target")
    val candidates = directTargets.unionByName(formedTargets)

    // deterministic aggregate, NOT dropDuplicates: a gazetteer may carry
    // several hasConflict edges per actor (the reference's OPTIONAL
    // permits it), and an arbitrary kept row would make the period_match
    // disambiguation run-to-run nondeterministic
    val labelKeys = broadcast(
      candidates.select($"target", $"conflict", explode($"labels").as("lbl"))
        .select($"target".as("uri"), $"conflict", fold($"lbl").as("gram"))
        .unionByName(candidates.select($"target".as("uri"), $"conflict",
          $"covernumber".as("gram")))
        .groupBy($"uri", $"gram").agg(min($"conflict").as("conflict")))

    val cands = mentionGrams.join(labelKeys, "gram")
      .withColumn("gram_len", length($"gram"))

    val scored = cands.join(docPeriods, Seq("docId"), "left")
      .withColumn("period_match",
        when($"conflict" === $"period_uri", 1).otherwise(0))
    val w = Window.partitionBy($"subj", $"literal")
      .orderBy($"period_match".desc, $"gram_len".desc, $"uri")
    val hit = scored.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"subj", $"literal", $"docId", $"uri")
    hit.select(Triples.uri($"subj", lit(NS.SCHEMA_POW + "unit"), $"uri", $"docId"): _*)
  }

  /** E23: the war-period rule — capture date < 1941-06-24 ⇒ WinterWar,
    * else ContinuationWar, with the winter-war-collection fallback
    * (sparql/period.sparql:7-49). Returns (docId, period_uri). */
  def docPeriods(triples: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val capture = triples
      .filter($"pred" === (NS.SCHEMA_POW + "date_of_capture"))
      .select($"docId", $"objValue", $"objDatatype")
      .withColumn("d",
        when($"objDatatype" === NS.XSD_DATE, to_date($"objValue")))
    val winterFromDate = capture.filter($"d".isNotNull)
      .groupBy($"docId").agg(min($"d").as("mind"))
      .select($"docId",
        when($"mind" < lit("1941-06-24").cast("date"),
          lit(NS.EVENTS + "WinterWar")).otherwise(lit(NS.EVENTS + "ContinuationWar"))
          .as("period_uri"))
    // fallback: docs with a winter_war_collection triple and no dated capture
    val wwc = triples.filter($"pred" === (NS.SCHEMA_POW + "winter_war_collection"))
      .select($"docId").distinct()
      .join(winterFromDate.select($"docId"), Seq("docId"), "left_anti")
      .select($"docId", lit(NS.EVENTS + "WinterWar").as("period_uri"))
    winterFromDate.unionByName(wwc)
  }

  /** J10: Sotilaan Ääni magazine references — exact multimap equi-join
    * (linker.py:267-313). Returns (links, documents) triples. The bounded
    * `index` is collected: entry URIs and documents are built on the driver. */
  def linkMagazines(triples: DataFrame, index: DataFrame): (DataFrame, DataFrame) = {
    val spark = triples.sparkSession
    import spark.implicits._
    val entries = index.select($"viite", $"hakemisto", $"tiedostonimi").as[(String, String, String)]
      .collect().toSeq.map { case (ref, dir, file) =>
        (Option(ref).map(trim.matcher(_).replaceAll("")).orNull, s"${NS.MEDIA}sotilaan_aani_${dir}_$file",
          s"Sotilaan Ääni $dir/$file", s"https://static.sotasampo.fi/sotilaan_aani/$dir/Thumbs/$file.jpg")
      }
    val refs = literals(triples, NS.SCHEMA_POW + "sotilaan_aani")
      .unionByName(literals(triples, NS.SCHEMA_POW + "photograph_sotilaan_aani"))
      .withColumn("k", regexp_replace($"literal", trim.pattern, ""))
    // a textual reference may hit several issues (multimap) — natural fanout
    val hits = refs.join(broadcast(entries.map(i => (i._1, i._2)).toDF("k", "uri")), "k")
    val links = hits.select(
      Triples.uri($"subj", lit(NS.SCHEMA_WARSA + "sotilaan_aani_magazine"), $"uri", $"docId"): _*)
    (links, mediaDocTriples(spark, NS.SCHEMA_WARSA + "SotilaanAani", entries.map(i => (i._2, i._3, i._4))))
  }

  private val trim = Pattern.compile("^\\s+|\\s+$")

  /** J11: person-document PDFs — regex over a paths table + id equi-join
    * (linker.py:316-363). The bounded `paths` table is collected. */
  def linkPersonDocuments(paths: DataFrame /* (path) */): (DataFrame, DataFrame) = {
    val spark = paths.sparkSession
    val re = Pattern.compile("data/person_documents/([a-z_]+)/(\\d{1,4})(_.+\\.pdf)")
    val labels = Map(
      "returned" -> "Neuvostoliittolainen palautettujen henkilömappi",
      "winterwar_registration" -> "Neuvostoliittolainen vangittujen ja internoitujen henkilömappi",
      "winterwar_interrogation" -> "Neuvostoliittolainen kuulustelulomake")
    val (links, docs) = paths.select("path").collect().toSeq
      .flatMap(r => Option(r.getString(0)).map(re.matcher(_)).filter(_.find()))
      .map { m =>
        val (dir, pid) = (m.group(1), m.group(2))
        val uri = s"${NS.MEDIA}${dir}_$pid"
        (RdfTriple.uri(s"${NS.DATA}prisoner_$pid", NS.SCHEMA_WARSA + "person_document", uri, s"prisoner_$pid"),
          (uri, labels.getOrElse(dir, "Dokumentti"),
            s"https://static.sotasampo.fi/person_documents/$dir/$pid${m.group(3)}"))
      }.unzip
    (spark.createDataFrame(links), mediaDocTriples(spark, NS.SCHEMA_WARSA + "PersonDocument", docs))
  }

  /** J12: videos — comma-separated filename split + id/URI joins
    * (linker.py:366-450). The bounded `index` and `labels` are collected. */
  def linkVideos(index: DataFrame, labels: DataFrame): (DataFrame, DataFrame) = {
    val spark = index.sparkSession
    import spark.implicits._
    val labelsOf = labels.select($"video_file", $"label").as[(String, String)].collect()
      .toSeq.groupMap(_._1)(_._2)
    // one row per (index row, file, label); a file without a label keeps one
    val videos = index.select($"nro", $"video_files", $"warsa_uri").as[(String, String, String)]
      .collect().toSeq.flatMap { case (nro, files, warsaUri) =>
        Option(files).getOrElse("").split(",").map(_.replaceAll("\\s+", "")).filter(_.nonEmpty)
          .flatMap(f => labelsOf.getOrElse(f, Seq(null)).map(label => (nro, warsaUri, f,
            NS.MEDIA + "video_" + Converters.slugify(f), label)))
      }
    val video = NS.SCHEMA_WARSA + "documented_in_video"
    // links (prisoner + warsa actor) go to the prisoners graph
    // (person_video_links.ttl); doc entities to the media graph
    // (_media_videos.ttl) — process.sh:68-71,126-128
    val links =
      videos.collect { case (nro, _, _, uri, _) if nro != null =>
        RdfTriple.uri(s"${NS.DATA}prisoner_$nro", video, uri, s"prisoner_$nro")
      } ++ videos.collect { case (_, warsaUri, _, uri, _) if warsaUri != null =>
        RdfTriple.uri(warsaUri, video, uri)
      }
    (spark.createDataFrame(links), mediaDocTriples(spark, NS.SCHEMA_WARSA + "Video",
      videos.map { case (_, _, f, uri, label) =>
        (uri, Option(label).getOrElse("Video"), "https://static.sotasampo.fi/videos/prisoners/" + f)
      }))
  }

  /** The media graph (prisoners_media.ttl, process.sh:126-128): the
    * document entities of the media linkers as one triple set, deduplicated
    * on the driver. The frames must be bounded: they are collected. */
  def mediaGraph(entities: DataFrame*): DataFrame =
    entities.head.sparkSession.createDataFrame(Triples.distinctRows(entities.flatMap(Triples.collect)))

  /** J13: sources — slugified label join vs register with on-the-fly minting
    * of unseen sources; dct:source literals are rewritten to URIs in place
    * (linker.py:453-509). Returns (rewritten dct:source triples +
    * source-entity triples, removed-literal triples for subtraction). */
  def linkSources(triples: DataFrame, register: DataFrame): (DataFrame, DataFrame) = {
    val spark = triples.sparkSession
    import spark.implicits._
    val reg = broadcast(register
      .filter($"label".isNotNull)
      .select(Normalize.slugifyCol(lower(regexp_replace($"label", "^\\s+|\\s+$", ""))).as("slug"),
        $"label", $"description", $"location"))

    val refs = triples.filter($"pred" === NS.DCT_SOURCE && !$"objIsUri")
      .select($"subj", $"objValue".as("literal"), $"docId")
      .withColumn("slug", Normalize.slugifyCol(lower(regexp_replace($"literal", "^\\s+|\\s+$", ""))))

    val joined = refs.join(reg, Seq("slug"), "left")
      .withColumn("uri", concat(lit(NS.DATA), lit("source_"), $"slug"))

    val rewritten = joined.select(Triples.uri($"subj", lit(NS.DCT_SOURCE), $"uri", $"docId"): _*)

    // register-defined sources: prefLabel = description else label
    // (linker.py:476-484); minted-from-reference sources: prefLabel = the
    // literal (linker.py:499-500)
    val entities = joined
      .groupBy($"slug", $"uri").agg(
        first($"description", ignoreNulls = true).as("description"),
        first($"label", ignoreNulls = true).as("label"),
        first($"location", ignoreNulls = true).as("location"),
        min($"literal").as("literal"))
      .select($"uri",
        coalesce($"description", $"label", $"literal").as("plabel"),
        $"location")
    val entityTriples =
      entities.select(Triples.uri($"uri", lit(NS.RDF_TYPE), lit(NS.SCHEMA_WARSA + "Source")): _*)
        .unionByName(entities.select(
          Triples.literal($"uri", lit(NS.SKOS_PREF_LABEL), $"plabel"): _*))
        .unionByName(entities.filter($"location".isNotNull)
          .select(Triples.literal($"uri", lit(NS.SCHEMA_POW + "location"), $"location"): _*))

    val removed = triples.filter($"pred" === NS.DCT_SOURCE && !$"objIsUri")
    (rewritten.unionByName(entityTriples), removed.toDF())
  }

  /** Shared media-document resource emission (type + label + contentUrl —
    * linker.py:289-292,357-359,443-446), one set per distinct
    * (uri, label, contentUrl) document. */
  private def mediaDocTriples(spark: SparkSession, cls: String,
                              docs: Seq[(String, String, String)]): DataFrame =
    spark.createDataFrame(docs.distinct.flatMap { case (uri, label, url) =>
      Seq(RdfTriple.uri(uri, NS.RDF_TYPE, cls), RdfTriple.lit(uri, NS.SKOS_PREF_LABEL, label),
        RdfTriple.uri(uri, NS.SCHEMA_ORG + "contentUrl", url))
    })
}
