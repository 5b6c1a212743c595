package graft.gazetteer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.CampConversion
import graft.model.{NS, RdfTriple}

/** Synthetic, deterministic gazetteers — the broadcast dimension side of
  * every linking task.
  *
  * The reference pulls these from live SPARQL endpoints / ARPA services
  * (reference: src/linker.py:191,230-232, arpa_services configs); this sandbox
  * has no external data, so each gazetteer is generated from fixed seed
  * lists mirroring the shapes documented in FIXTURES.md §3-4 (which in
  * turn cite the reference's call sites). Every gazetteer is tiny by
  * construction → always `broadcast()` in joins (zero shuffle).
  */
object Gazetteers {

  /** Ranks: (uri, label, level) — levels anchored by the reference's own
    * test graph (src/tests.py:139-143: Korpraali=3, Kapteeni=11). */
  def ranks(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("Sotamies", "sotamies", 1), ("Matruusi", "matruusi", 1),
      ("Korpraali", "korpraali", 3), ("Alikersantti", "alikersantti", 4),
      ("Kersantti", "kersantti", 5), ("Ylikersantti", "ylikersantti", 6),
      ("Vaapeli", "vääpeli", 7), ("Vanrikki", "vänrikki", 8),
      ("Luutnantti", "luutnantti", 9), ("Ylil", "yliluutnantti", 10),
      ("Kapteeni", "kapteeni", 11), ("Majuri", "majuri", 12),
      ("Siviili", "siviili", 0), ("Hevosmies", "hevosmies", 0),
    ).toDF("local", "label", "level")
      .select(concat(lit(NS.RANKS), $"local").as("uri"), $"label", $"level")
  }

  /** Rank-literal abbreviation expansions (the warsa-linkers rank matcher's
    * abbreviation dictionary role, src/linker.py:555-558). */
  val rankAbbreviations: Map[String, String] = Map(
    "sotam" -> "sotamies", "stm" -> "sotamies", "korpr" -> "korpraali",
    "alik" -> "alikersantti", "kers" -> "kersantti", "ylik" -> "ylikersantti",
    "vääp" -> "vääpeli", "vänr" -> "vänrikki", "ltn" -> "luutnantti",
    "luutn" -> "luutnantti", "ylil" -> "yliluutnantti", "kapt" -> "kapteeni",
    "maj" -> "majuri", "siv" -> "siviili",
  )

  /** Military units: (uri, labels[], covernumber, conflict, clazz, formed)
    * — match fields from sparql/units.sparql:27-30 + the covernumber exact
    * branch of arpa_services/warsa_actor_units. `clazz` feeds the
    * `a/rdfs:subClassOf* wsc:Group` candidate restriction
    * (units.sparql:20-22) via [[unitClasses]]; `formed` is the
    * `crm:P95_has_formed` edge (units.sparql:24-26): a match on this
    * actor's labels resolves to the unit it FORMED, not to itself. */
  def units(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = (1 to 60).map { i =>
      val name = s"JR $i"
      val alt = s"Jalkaväkirykmentti $i"
      val conflict = if (i % 3 == 0) "WinterWar" else "ContinuationWar"
      (s"actor_$i", Seq(name, alt, name.toLowerCase), s"${1000 + i}", conflict,
        "Regiment", null: String)
    } ++ Seq(
      ("actor_erp25", Seq("Er.P 25", "Erillinen Pataljoona 25", "er.p 25"), "2025",
        "ContinuationWar", "Battalion", null: String),
      ("actor_ktr15", Seq("KTR 15", "Kenttätykistörykmentti 15", "ktr15", "ktr 15"), "2115",
        "ContinuationWar", "Regiment", null: String),
      // pre-war regiment whose formation became KTR 15: matching "TR 2"
      // must resolve to actor_ktr15 (P95_has_formed traversal)
      ("actor_tr2", Seq("TR 2", "Tykistörykmentti 2", "tr 2"), "2302",
        "WinterWar", "Regiment", NS.ACTORS + "actor_ktr15"),
      // homonym trap OUTSIDE the Group hierarchy: a veterans' club whose
      // label collides with unit mentions must never be a candidate
      ("actor_club9", Seq("Sotilaskoti 9", "sotilaskoti 9"), "9099",
        "ContinuationWar", "WelfareOrganization", null: String),
    )
    rows.toDF("local", "labels", "covernumber", "conflict", "clazz", "formed")
      .select(concat(lit(NS.ACTORS), $"local").as("uri"), $"labels", $"covernumber",
        concat(lit(NS.EVENTS), $"conflict").as("conflict"),
        concat(lit(NS.SCHEMA_ACTORS), $"clazz").as("clazz"), $"formed")
  }

  /** Unit class ladder `(clazz, parent)` — the rdfs:subClassOf edges the
    * reference's `a/rdfs:subClassOf* wsc:Group` path walks
    * (units.sparql:20-22). WelfareOrganization descends from Agent, NOT
    * Group, so its instances are excluded from unit candidates. */
  def unitClasses(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("Company", "Unit"), ("Battalion", "Unit"), ("Regiment", "Unit"),
      ("Unit", "Group"), ("Division", "Group"), ("Group", "Agent"),
      ("WelfareOrganization", "Organization"), ("Organization", "Agent"),
    ).toDF("c", "p")
      .select(concat(lit(NS.SCHEMA_ACTORS), $"c").as("clazz"),
        concat(lit(NS.SCHEMA_ACTORS), $"p").as("parent"))
  }

  /** Municipalities, warsa registry: (uri, label). */
  def municipalities(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("Helsinki", "Viipuri", "Tampere", "Karkkila", "Juuka", "Kiihtelysvaara",
      "Lavia", "Hämeenlinna", "Ylämaa", "Sortavala", "Käkisalmi", "Kuopio",
      "Lohjan kunta", "Uusikirkko", "Lammi")
      .zipWithIndex
      .toDF("label", "idx")
      .select(concat(lit(NS.MUNICIPALITIES), lit("k"), $"idx" + 100).as("uri"), $"label")
  }

  /** PNR place registry with place-type tags (arpa_services/pnr_municipality
    * place types 540/550). */
  def pnrPlaces(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val base = Seq("Helsinki", "Viipuri", "Tampere", "Karkkila", "Juuka",
      "Lavia", "Hämeenlinna", "Kuopio", "Lammi")
    base.zipWithIndex.map { case (l, i) => (l, i, if (i % 2 == 0) 540 else 550) }
      .toDF("label", "idx", "place_type")
      .select(concat(lit("http://ldf.fi/pnr/P_"), $"idx" + 1000).as("uri"),
        $"label", $"place_type")
  }

  /** Camps/hospitals: (uri, camp_id, captivity_location, coordinates)
    * (sparql/construct_camps.sparql:13-34 + linker.py:79-83 aliases).
    * URIs are minted by `CampConversion.mintSubject`, the rule the
    * pipeline's camps-conversion stage re-mints with (E19: `camp_`/
    * `hospital_` + slugify(camp_id else captivity_location)), so link
    * targets and the converted camp graph share one URI space — the role
    * Fuseki's single warsa graph plays in the reference (process.sh:20-23). */
  def camps(spark: SparkSession): DataFrame = {
    import spark.implicits._
    rawCampRows.map { case (_, id, loc, coord, hospital) =>
      val namespace = NS.DATA + (if (hospital) "hospital_" else "camp_")
      (CampConversion.mintSubject(namespace, Some(id).filter(_.nonEmpty), Some(loc)), id, loc, coord)
    }.toDF("uri", "camp_id", "captivity_location", "coordinates")
  }

  /** (rowIdx, camp_id, captivity_location, coordinates, isHospital) — the
    * deterministic seed both [[camps]] and [[rawCampTriples]] derive from. */
  private val rawCampRows: Seq[(Int, String, String, String, Boolean)] = {
    val numbered = Seq("74", "75", "99", "135", "158", "1825", "3", "12")
      .zipWithIndex
      .map { case (n, i) => (i, n, s"leiri $n", s"6${n.take(1)}.${n}, 3${n.take(1)}.${n}", false) }
    // hospitals carry a camp_id (the reference's `:sairaala` column is
    // sed-renamed to camp_id, convert.sh:50), so their construct labels
    // `"<type> <id>"` are distinct per hospital
    val named = Seq(
      ("Vienan Kemi", "", "65.0, 34.6", false),
      ("Vienan Kemi sotavankisairaala", "svs1", "65.0, 34.6", true),
      ("Arkangel sotavankisairaala", "svs2", "64.5, 40.5", true),
      ("Siestarjoki, ven. Sestroretsk", "", "60.1, 29.9", false),
      ("Karhumäki, evakuointipiste", "", "62.9, 34.4", false),
      ("Sorokka ven. Belomorsk", "", "64.5, 34.8", false),
    ).zipWithIndex.map { case ((loc, id, coord, hosp), i) => (100 + i, id, loc, coord, hosp) }
    numbered ++ named
  }

  /** RAW camps+hospitals triples as csv_to_rdf would emit them BEFORE the
    * E19/E20 re-minting (row-numbered `r_<n>` subjects, literal camp
    * properties) — the `camps_combined.ttl` analogue (convert.sh:27-54).
    * The pipeline's camps stage re-mints these and runs the camp
    * CONSTRUCT (process.sh:20-23). */
  def rawCampTriples(spark: SparkSession): DataFrame = {
    import spark.implicits._
    rawCampRows.flatMap { case (idx, id, loc, coord, hospital) =>
      val subj = s"${NS.DATA}r_$idx"
      val cls = NS.SCHEMA_WARSA + (if (hospital) "PowHospital" else "PowCamp")
      Seq(
        RdfTriple.uri(subj, NS.RDF_TYPE, cls),
        RdfTriple.lit(subj, NS.SCHEMA_POW + "captivity_location", loc),
        RdfTriple.lit(subj, NS.SCHEMA_POW + "coordinates", coord)) ++
        (if (id.nonEmpty) Seq(RdfTriple.lit(subj, NS.SCHEMA_POW + "camp_id", id)) else Nil) ++
        (if (hospital)
          Seq(RdfTriple.lit(subj, NS.SCHEMA_POW + "hospital_type", "sotavankisairaala"))
        else Nil)
    }.toDF()
  }

  /** WarSampo-casualties family-name counts — the role of the SPARQL
    * count query in the privacy pass (prune_nonpublic.py:149-175):
    * (fam, count), deterministic over the same surname list SynthDocs
    * draws from, so the common-name rule (endpoint ≥ 2 AND
    * endpoint+local ≥ 4) has real traffic on both branches. */
  def casualtiesNameCounts(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("Virtanen", "Korhonen", "Mäkinen", "Nieminen", "Hämäläinen", "Laine",
      "Heikkinen", "Koskinen", "Järvinen", "Lehtonen", "Saarinen", "Salminen",
      "Heino", "Tuominen", "Rantanen", "Kinnunen", "Laitinen", "Karjalainen",
      "Jokinen", "Mattila")
      .zipWithIndex
      .map { case (f, i) => (f, (1L + i % 5)) } // counts 1..5: some below the >=2 gate
      .toDF("fam", "count")
  }

  /** Hand-curated link triples concatenated into the graph before person
    * linking and consolidation (`input_rdf/additional_links.ttl` — the
    * reference ships one curated `ps:unit` edge; same shape here, in the
    * synthetic id space). */
  def additionalLinks(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(RdfTriple.uri(NS.DATA + "prisoner_4", NS.SCHEMA_POW + "unit",
      NS.ACTORS + "actor_3", docId = "prisoner_4")).toDF()
  }

  /** Person-document PDF path listing — the filesystem glob the reference
    * scans (linker.py:316-363); prisoner ids chosen inside the synthetic
    * doc-id space so links resolve. The non-matching row exercises the
    * regex filter. */
  def personDocumentPaths(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      "data/person_documents/returned/1_palautetut.pdf",
      "data/person_documents/returned/17_palautetut.pdf",
      "data/person_documents/winterwar_registration/2_rekisterointi.pdf",
      "data/person_documents/winterwar_interrogation/5_kuulustelu.pdf",
      "data/person_documents/misc/readme.txt",
    ).toDF("path")
  }

  /** Occupations for fuzzy linking at threshold 0.84 (linker.py:548-549). */
  def occupations(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("maanviljelijä", "sekatyömies", "työmies", "kirvesmies", "posteljooni",
      "kaavaaja", "opettaja", "suutari", "räätäli", "kalastaja", "puuseppä",
      "autonkuljettaja", "liikemies", "merimies")
      .toDF("label")
      .select(concat(lit("http://ldf.fi/warsa/occupations/"),
        graft.link.Normalize.slugifyCol($"label")).as("uri"), $"label")
  }

  /** WarSampo person dimension for record linkage: the 13 match fields of
    * linker.py:175-189 (shape per FIXTURES.md §3). Derived deterministically
    * from the same name distributions SynthDocs uses, so a known subset
    * genuinely matches. */
  def persons(spark: SparkSession, n: Int = 2000): DataFrame = {
    import spark.implicits._
    // same pick/skew formulas as SynthDocs so person_i genuinely matches
    // prisoner_i on every field — the 13-field scorer then has real signal
    // (rank/occupation/birth_place present on BOTH sides), and a prisoner
    // blocking-matched to the WRONG person disagrees on them. Values are in
    // the LINKED URI space: the reference generates its prisoner dict from
    // the graph AFTER rank/municipality/occupation linking (process.sh
    // ordering; linker.py:114-123 collects URIs), and the WarSampo person
    // registry it matches against is URI-space too.
    def pick(values: Seq[String], idx: org.apache.spark.sql.Column) =
      element_at(typedlit(values), pmod(idx, lit(values.size)).cast("int") + 1)
    def skewed(m: Int) = pmod(pmod($"id", lit(m)) * pmod($"id", lit(m)), lit(m))
    // rank URIs linked from SynthDocs' 8 rank literals (see ranks() locals)
    val ranks8 = Seq("Sotamies", "Korpraali", "Alikersantti", "Kersantti",
      "Vanrikki", "Luutnantti", "Kapteeni", "Majuri").map(NS.RANKS + _)
    // occupation URIs = occupations() minting (slugified labels)
    val occupations8 = Seq("maanviljelija", "sekatyomies", "kirvesmies",
      "posteljooni", "kaavaaja", "opettaja", "suutari", "raatali")
      .map("http://ldf.fi/warsa/occupations/" + _)
    // municipality URIs: municipalities() mints k100.. in list order, and
    // SynthDocs' 12 municipalities are its first 12 entries
    val municipalities12 = (0 until 12).map(i => s"${NS.MUNICIPALITIES}k${100 + i}")
    spark.range(n.toLong).select(
      concat(lit(NS.ACTORS), lit("person_"), $"id").as("person"),
      element_at(typedlit(Seq("Matti", "Juho", "Olavi", "Antti", "Eino", "Veikko",
        "Toivo", "Ilmari", "Aarne", "Lauri", "Erkki", "Paavo", "Reino", "Tauno",
        "Kauko", "Pentti")), pmod($"id" / 7, lit(16)).cast("int") + 1).as("given"),
      element_at(typedlit(Seq("Virtanen", "Korhonen", "Mäkinen", "Nieminen",
        "Hämäläinen", "Laine", "Heikkinen", "Koskinen", "Järvinen", "Lehtonen",
        "Saarinen", "Salminen", "Heino", "Tuominen", "Rantanen", "Kinnunen",
        "Laitinen", "Karjalainen", "Jokinen", "Mattila")),
        pmod($"id", lit(20)).cast("int") + 1).as("family"),
      date_format(
        make_date(lit(1900) + pmod($"id", lit(25)),
          pmod($"id" / 31, lit(12)) + 1, pmod($"id", lit(28)) + 1), "yyyy-MM-dd")
        .as("birth_begin"),
      array(pick(ranks8, skewed(8))).as("rank"),
      // levels of ranks8 in the ranks() gazetteer above
      element_at(typedlit(Seq(1, 3, 4, 5, 8, 9, 11, 12)),
        skewed(8).cast("int") + 1).as("rank_level"),
      array(pick(occupations8, skewed(8))).as("occupation"),
      array(pick(municipalities12, $"id" / 13)).as("birth_place"))
      .withColumn("birth_end", $"birth_begin")
  }

  /** Magazine index (SÄ-indeksi.csv shape, linker.py:271-292). */
  def magazineIndex(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (1940 to 1944).flatMap { year =>
      (1 to 30).map { num => (s"nro $num/$year", year.toString, f"$num%03d") }
    }.toDF("viite", "hakemisto", "tiedostonimi")
  }

  /** Video index (video_links.csv shape, linker.py:412-421). */
  def videoIndex(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("1", "Olavi_Martikainen_export-BroadbandHigh.mp4", null: String),
      ("2", "Olavi_Tervo_kokonaan-BroadbandHigh.mp4, karaganda-BroadbandHigh.mp4", null: String),
      (null: String, "Oranki-BroadbandHigh.mp4", NS.ACTORS + "person_5"),
    ).toDF("nro", "video_files", "warsa_uri")
  }

  /** Video labels dictionary (linker.py:370-407 shape; synthetic values). */
  def videoLabels(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("Olavi_Martikainen_export-BroadbandHigh.mp4", "Vänrikki Olavi Martikainen 1918 - 2006"),
      ("Olavi_Tervo_kokonaan-BroadbandHigh.mp4", "Sotamies Olavi Tervo 1921 - 2006"),
      ("karaganda-BroadbandHigh.mp4", "Karagandan muistomerkin paljastustilaisuus"),
      ("Oranki-BroadbandHigh.mp4", "Orankin sotavankileiri nro 74"),
    ).toDF("video_file", "label")
  }

  /** Sources register (sources_cropped.csv shape, linker.py:458-466). */
  def sourcesRegister(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("mikrofilmi", "Mikrofilmatut kantakortit", "Kansallisarkisto"),
      ("Talvisodan kortisto", "Talvisodan sotavankikortisto", "Kansallisarkisto"),
      ("KA T-26073/48", "Kansallisarkiston kokoelma T-26073/48", "Kansallisarkisto"),
      ("VM", "Vankeinhoitolaitoksen muistio", null: String),
      ("Karaganda", "Karagandan kortisto", null: String),
    ).toDF("label", "description", "location")
  }
}
