package graft.gate

import org.apache.spark.sql.functions._

import graft.extract.{DocIngest, Extraction, SynthDocs}

/** KG gate rows: extraction triples, its error side channel and the
  * reference golden fixture. */
object KgRows {

  /** The golden triple set as a DuckDB VALUES oracle: the canonical NT
    * lines of the reference's test_data/prisoners.ttl, vendored as the
    * `golden_prisoners.nt` resource (single quotes SQL-doubled).
    * Turns the P/R anchor into a hash-exact row in the correctness gate. */
  private val goldenFixtureSql: String = {
    val in = getClass.getResourceAsStream("/golden_prisoners.nt")
    val values = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map(l => s"('${l.replace("'", "''")}')").mkString(", ")
    s"SELECT nt FROM (VALUES $values) AS t(nt) ORDER BY nt"
  }

  val rows: Seq[GateRow] = Seq(
    // ---- KG pipeline over the synthesized doc table -----------------------
    // (hash-exact: the synthetic corpus is a pure function of doc_id, so
    // the ENTIRE extraction output — converters, reifications, captivity
    // resources, per-doc set semantics — is mirrored in DuckDB SQL; see
    // the kg_triples oracle. Booleans ride as longs and nulls as '' for
    // hash-stable comparison.)
    // the synthetic corpus is a pure function of doc_id (SynthDocs), so
    // the WHOLE extraction output — name conversion, date converters,
    // value-with-source reification, captivity resources with order/date
    // capture, per-doc set semantics — is re-derived here independently:
    // an end-to-end hash-exact mirror of the kg_triples pipeline
    GateRow("kg_triples", (s, d) => {
      import s.implicits._
      Extraction.triples(SynthDocs.fromDocuments(s, d)).toDF()
        .select($"subj", $"pred", $"objValue",
          $"objIsUri".cast("long").as("objIsUri"),
          coalesce($"objLang", lit("")).as("objLang"),
          coalesce($"objDatatype", lit("")).as("objDatatype"),
          $"docId")
        .orderBy($"subj", $"pred", $"objValue", $"objLang", $"objDatatype")
    }, """WITH b AS (
        |  SELECT doc_id AS id, text,
        |    'prisoner_' || CAST(doc_id AS VARCHAR) AS dl,
        |    'http://ldf.fi/warsa/prisoners/prisoner_' || CAST(doc_id AS VARCHAR) AS subj,
        |    (['Virtanen','Korhonen','Mäkinen','Nieminen','Hämäläinen','Laine',
        |      'Heikkinen','Koskinen','Järvinen','Lehtonen','Saarinen','Salminen',
        |      'Heino','Tuominen','Rantanen','Kinnunen','Laitinen','Karjalainen',
        |      'Jokinen','Mattila'])[CAST(doc_id % 20 AS INT) + 1] AS family,
        |    (['Matti','Juho','Olavi','Antti','Eino','Veikko','Toivo','Ilmari',
        |      'Aarne','Lauri','Erkki','Paavo','Reino','Tauno','Kauko','Pentti'])
        |      [CAST((doc_id // 7) % 16 AS INT) + 1] AS given,
        |    (doc_id % 17 = 0) AS birth_bad,
        |    'n.' || CAST(1900 + doc_id % 25 AS VARCHAR) AS birth_raw,
        |    printf('%04d-%02d-%02d', CAST(1900 + doc_id % 25 AS INT),
        |      CAST((doc_id // 31) % 12 AS INT) + 1, CAST(doc_id % 28 AS INT) + 1) AS birth_iso,
        |    printf('%04d-%02d-%02d', CAST(1941 + doc_id % 4 AS INT),
        |      CAST((doc_id // 5) % 12 AS INT) + 1, CAST((doc_id // 3) % 28 AS INT) + 1) AS capture_iso,
        |    (['mikrofilmi','Talvisodan kortisto','VEN 195','KA T-26073/48'])
        |      [CAST((doc_id // 11) % 4 AS INT) + 1] AS capture_src,
        |    (['sotamies','korpraali','alikersantti','kersantti','vänrikki',
        |      'luutnantti','kapteeni','majuri'])
        |      [CAST(((doc_id % 8) * (doc_id % 8)) % 8 AS INT) + 1] AS rnk,
        |    (['maanviljelijä','sekatyömies','kirvesmies','posteljooni',
        |      'kaavaaja','opettaja','suutari','räätäli'])
        |      [CAST(((doc_id % 8) * (doc_id % 8)) % 8 AS INT) + 1] AS occupation,
        |    (['Helsinki','Viipuri','Tampere','Karkkila','Juuka','Kiihtelysvaara',
        |      'Lavia','Hämeenlinna','Ylämaa','Sortavala','Käkisalmi','Kuopio'])
        |      [CAST((doc_id // 13) % 12 AS INT) + 1] AS muni,
        |    (['74','75','99','135','158','1825','Vienan Kemi','Arkangel'])
        |      [CAST(((doc_id % 8) * (doc_id % 8)) % 8 AS INT) + 1] AS camp0,
        |    (['74','75','99','135','158','1825','Vienan Kemi','Arkangel'])
        |      [CAST((((doc_id % 8) * (doc_id % 8)) % 8 + 1) % 8 AS INT) + 1] AS camp1,
        |    printf('1942-%02d-%02d', CAST((doc_id // 2) % 12 AS INT) + 1,
        |      CAST(doc_id % 28 AS INT) + 1) AS beg_iso,
        |    printf('1943-%02d-%02d', CAST((doc_id // 7) % 12 AS INT) + 1,
        |      CAST((doc_id // 3) % 28 AS INT) + 1) AS end_iso,
        |    (doc_id % 9 = 0) AS has_mag,
        |    'nro ' || CAST((doc_id // 9) % 30 + 1 AS VARCHAR) || '/' ||
        |      CAST(1940 + doc_id % 5 AS VARCHAR) AS mag
        |  FROM documents),
        |c AS (
        |  SELECT *,
        |    family || ' ' || given AS origname,
        |    family || ', ' || given AS fullname,
        |    subj || '_captivity_0' AS r0,
        |    subj || '_captivity_10' AS r10,
        |    subj || '_date_of_capture_0_reification_source' AS reif
        |  FROM b),
        |tr AS (
        |  SELECT subj, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
        |    'http://ldf.fi/schema/warsa/PrisonerRecord' AS v, 1 AS u, '' AS lang, '' AS dt, dl FROM c
        |  UNION ALL SELECT subj, 'http://ldf.fi/schema/warsa/given_names', given, 0, '', '', dl FROM c
        |  UNION ALL SELECT subj, 'http://ldf.fi/schema/warsa/family_name', family, 0, '', '', dl FROM c
        |  UNION ALL SELECT subj, 'http://www.w3.org/2004/02/skos/core#prefLabel', fullname, 0, '', '', dl FROM c
        |  UNION ALL SELECT subj, 'http://ldf.fi/schema/warsa/prisoners/original_name', origname, 0, '', '', dl FROM c
        |  UNION ALL SELECT subj, 'http://ldf.fi/schema/warsa/date_of_birth',
        |    CASE WHEN birth_bad THEN birth_raw ELSE birth_iso END, 0, '',
        |    CASE WHEN birth_bad THEN '' ELSE 'http://www.w3.org/2001/XMLSchema#date' END, dl FROM c
        |  UNION ALL SELECT subj, 'http://ldf.fi/schema/warsa/prisoners/rank_literal', rnk, 0, '', '', dl FROM c
        |  UNION ALL SELECT subj, 'http://ldf.fi/schema/warsa/prisoners/occupation_literal', occupation, 0, '', '', dl FROM c
        |  UNION ALL SELECT subj, 'http://ldf.fi/schema/warsa/municipality_of_birth_literal', muni, 0, '', '', dl FROM c
        |  UNION ALL SELECT subj, 'http://ldf.fi/schema/warsa/prisoners/date_of_capture', capture_iso, 0, '',
        |    'http://www.w3.org/2001/XMLSchema#date', dl FROM c
        |  UNION ALL SELECT reif, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#subject', subj, 1, '', '', dl FROM c
        |  UNION ALL SELECT reif, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#predicate',
        |    'http://ldf.fi/schema/warsa/prisoners/date_of_capture', 1, '', '', dl FROM c
        |  UNION ALL SELECT reif, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#object', capture_iso, 0, '',
        |    'http://www.w3.org/2001/XMLSchema#date', dl FROM c
        |  UNION ALL SELECT reif, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
        |    'http://www.w3.org/1999/02/22-rdf-syntax-ns#Statement', 1, '', '', dl FROM c
        |  UNION ALL SELECT reif, 'http://purl.org/dc/terms/source', capture_src, 0, '', '', dl FROM c
        |  UNION ALL SELECT r0, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
        |    'http://ldf.fi/schema/warsa/prisoners/Captivity', 1, '', '', dl FROM c
        |  UNION ALL SELECT r0, 'http://ldf.fi/schema/warsa/prisoners/location_literal', camp0, 0, '', '', dl FROM c
        |  UNION ALL SELECT r0, 'http://www.w3.org/2004/02/skos/core#prefLabel',
        |    'Henkilön ' || origname || ' sotavankeus', 0, 'fi', '', dl FROM c
        |  UNION ALL SELECT r0, 'http://www.w3.org/2004/02/skos/core#prefLabel',
        |    'Person ' || origname || ' captivity', 0, 'en', '', dl FROM c
        |  UNION ALL SELECT r0, 'http://ldf.fi/schema/warsa/prisoners/order', '0', 0, '',
        |    'http://www.w3.org/2001/XMLSchema#integer', dl FROM c
        |  UNION ALL SELECT r0, 'http://ldf.fi/schema/warsa/prisoners/date_begin', beg_iso, 0, '',
        |    'http://www.w3.org/2001/XMLSchema#date', dl FROM c
        |  UNION ALL SELECT r0, 'http://ldf.fi/schema/warsa/prisoners/date_end', end_iso, 0, '',
        |    'http://www.w3.org/2001/XMLSchema#date', dl FROM c
        |  UNION ALL SELECT subj, 'http://ldf.fi/schema/warsa/prisoners/captivity', r0, 1, '', '', dl FROM c
        |  UNION ALL SELECT r10, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
        |    'http://ldf.fi/schema/warsa/prisoners/Captivity', 1, '', '', dl FROM c
        |  UNION ALL SELECT r10, 'http://ldf.fi/schema/warsa/prisoners/location_literal', camp1, 0, '', '', dl FROM c
        |  UNION ALL SELECT r10, 'http://www.w3.org/2004/02/skos/core#prefLabel',
        |    'Henkilön ' || origname || ' sotavankeus', 0, 'fi', '', dl FROM c
        |  UNION ALL SELECT r10, 'http://www.w3.org/2004/02/skos/core#prefLabel',
        |    'Person ' || origname || ' captivity', 0, 'en', '', dl FROM c
        |  UNION ALL SELECT r10, 'http://ldf.fi/schema/warsa/prisoners/order', '10', 0, '',
        |    'http://www.w3.org/2001/XMLSchema#integer', dl FROM c
        |  UNION ALL SELECT subj, 'http://ldf.fi/schema/warsa/prisoners/captivity', r10, 1, '', '', dl FROM c
        |  UNION ALL SELECT subj, 'http://ldf.fi/schema/warsa/prisoners/sotilaan_aani', mag, 0, '', '', dl
        |    FROM c WHERE has_mag
        |  UNION ALL SELECT subj, 'http://ldf.fi/schema/warsa/prisoners/additional_information', text, 0, '', '', dl FROM c)
        |SELECT subj, pred, v AS "objValue", CAST(u AS BIGINT) AS "objIsUri",
        |  lang AS "objLang", dt AS "objDatatype", dl AS "docId"
        |FROM tr
        |ORDER BY subj, pred, "objValue", "objLang", "objDatatype"""".stripMargin),

    // ---- KG golden fixture: reference CSV -> doc table -> triples ---------
    // (exercises the real CSV ingest path in the gate; emits canonical
    // N-Triples keys so the DuckDB oracle hash-compares the result against
    // the reference-emitted golden set — the P/R=1.0 anchor, in the gate)
    GateRow("kg_golden_fixture", (s, _) => {
      import s.implicits._
      Extraction.triples(DocIngest.prisonersDocs(s))
        .map(_.key).toDF("nt")
        .orderBy($"nt")
    }, goldenFixtureSql),

    // ---- KG errors side channel -------------------------------------------
    // the error side-channel is a pure function of doc_id in the synthetic
    // corpus (every 17th doc gets the unparseable "n.<year>" birth string,
    // SynthDocs.scala:60-61), so the expected rows — including the
    // converted "Family, Given" name — are DuckDB-expressible exactly
    GateRow("kg_errors", (s, d) => {
      import s.implicits._
      Extraction.errors(SynthDocs.fromDocuments(s, d)).toDF()
        .orderBy($"docId", $"column", $"error")
    }, """SELECT 'prisoner_' || CAST(doc_id AS VARCHAR) AS "docId",
        |  (['Virtanen','Korhonen','Mäkinen','Nieminen','Hämäläinen','Laine',
        |    'Heikkinen','Koskinen','Järvinen','Lehtonen','Saarinen','Salminen',
        |    'Heino','Tuominen','Rantanen','Kinnunen','Laitinen','Karjalainen',
        |    'Jokinen','Mattila'])[CAST(doc_id % 20 AS INT) + 1]
        |  || ', ' ||
        |  (['Matti','Juho','Olavi','Antti','Eino','Veikko','Toivo','Ilmari',
        |    'Aarne','Lauri','Erkki','Paavo','Reino','Tauno','Kauko','Pentti'])
        |    [CAST((doc_id // 7) % 16 AS INT) + 1] AS name,
        |  'syntymäaika' AS "column",
        |  'Päivämäärä ei ole kelvollinen' AS error,
        |  'n.' || CAST(1900 + doc_id % 25 AS VARCHAR) AS value
        |FROM documents WHERE doc_id % 17 = 0
        |ORDER BY "docId"""".stripMargin),
  )
}
