package graft.functions

import java.time.LocalDate
import java.time.format.{DateTimeFormatter, ResolverStyle}
import java.util.regex.Pattern

import graft.model.NS

/** A converted date: either a real date (ISO `date` non-null) or the
  * original string passed through (the reference keeps unparseable dates —
  * incl. partial `xx.7.1944` forms — as plain string literals;
  * src/converters.py:16-38, golden test_data/prisoners.ttl:229). */
final case class DateOrString(date: LocalDate, raw: String) {
  def isDate: Boolean = date != null
  /** Literal lexical form as the reference emits it. */
  def lexical: String = if (isDate) date.toString else raw
}

final case class PersonName(given: String, family: String, full: String)

/** Ports of the reference's per-cell converters
  * (reference: src/converters.py). Pure, deterministic scalar functions —
  * unit-tested against the reference's own goldens (src/tests.py:27-49)
  * and wrapped in Spark UDFs by the extraction stage only where regex
  * statefulness defeats built-in Column expressions.
  */
object Converters {

  // strict day/month ranges like CPython strptime; 1-2 digit day/month ok
  private val fmtSlash = DateTimeFormatter.ofPattern("d/M/uuuu").withResolverStyle(ResolverStyle.STRICT)
  private val fmtDot   = DateTimeFormatter.ofPattern("d.M.uuuu").withResolverStyle(ResolverStyle.STRICT)

  // cheap shape pre-checks so the hot path never throws (exceptions as
  // control flow cost ~10-50us each; extraction calls this per span)
  private val reSlashShape = Pattern.compile("\\d{1,2}/\\d{1,2}/\\d{4}")
  private val reDotShape = Pattern.compile("\\d{1,2}\\.\\d{1,2}\\.\\d{4}")

  /** `%d/%m/%Y` then `%d.%m.%Y`, else pass the original string through
    * (reference: src/converters.py:16-38). */
  def convertDates(raw: String): DateOrString = {
    if (raw == null || raw.isEmpty) return DateOrString(null, raw)
    val t = PyStr.strip(raw)
    def tryParse(fmt: DateTimeFormatter, shape: Pattern): LocalDate =
      if (!shape.matcher(t).matches()) null
      else try LocalDate.parse(t, fmt) catch { case _: Exception => null }
    val d = {
      val a = tryParse(fmtSlash, reSlashShape)
      if (a != null) a else tryParse(fmtDot, reDotShape)
    }
    DateOrString(d, raw)
  }

  // reference: src/converters.py:48-49
  private val reNameSplit = Pattern.compile(
    "([A-ZÅÄÖÜÉÓÁ/\\-]+(?:\\s+\\(?E(?:NT)?[\\.\\s]+[A-ZÅÄÖÜÉÓÁ/\\-]+)?\\)?)\\s*(?:(VON))?,?\\s*([A-ZÅÄÖÜÉÓÁ/\\- \\(\\)0-9,.]*)")
  // reference: src/converters.py:57
  private val rePrevName = Pattern.compile(
    "([A-ZÅÄÖÜÉÓÁ/\\-]{2}) +\\(?(E(?:NT)?[\\.\\s]+)([A-ZÅÄÖÜÉÓÁ/\\-]+)\\)?")

  /** Unify name syntax and split into (given, family, full)
    * (reference: src/converters.py:41-74; goldens src/tests.py:34-45,
    * incl. the `"Juho Ent. Ivan"` capitalization quirk). */
  def convertPersonName(rawName: String): PersonName = {
    val fullUpper = rawName.toUpperCase
    val m = reNameSplit.matcher(fullUpper)
    var (lastname, extra, firstnames) =
      if (m.find()) (m.group(1), m.group(2), m.group(3)) else (fullUpper, null: String, "")

    lastname = rePrevName.matcher(String.valueOf(lastname)).replaceAll("$1 (ent. $3)")
    lastname = PyStr.title(lastname).replace("(Ent. ", "(ent. ")
    firstnames = PyStr.title(firstnames)

    if (extra != null) lastname = extra.toLowerCase + " " + lastname

    var fullname = lastname
    if (firstnames.nonEmpty) fullname += ", " + firstnames
    PersonName(firstnames, lastname, fullname)
  }

  /** `"-"` → `""` (reference: src/converters.py:77-78). */
  def stripDash(raw: String): String = if (PyStr.strip(raw) == "-") "" else raw

  /** Swedish-speaker flag → mother-tongue URI; empty means Finnish
    * (reference: src/converters.py:81-95). Always returns a URI. */
  def convertSwedish(raw: String): String =
    if (raw == null || raw.isEmpty) NS.MOTHER_TONGUE + "Suomi"
    else if (raw.toUpperCase == "X") NS.MOTHER_TONGUE + "Ruotsi"
    else NS.MOTHER_TONGUE + "Suomi" // unclear value: warning + default (converters.py:93)

  /** Marital status dictionary with unknown→Tuntematon default
    * (reference: src/mapping.py:16-24, src/converters.py:98-99). */
  val maritalStatusMap: Map[String, String] = Map(
    "asumuserossa" -> (NS.MARITAL + "Naimisissa"),
    "naimisissa"   -> (NS.MARITAL + "Naimisissa"),
    "naimaton"     -> (NS.MARITAL + "Naimaton"),
    "naimato"      -> (NS.MARITAL + "Naimaton"),
    "eronnut"      -> (NS.MARITAL + "Eronnut"),
    "leski"        -> (NS.MARITAL + "Leski"),
  )
  def convertMarital(raw: String): String =
    maritalStatusMap.getOrElse(raw, NS.MARITAL + "Tuntematon")

  private val reMarks = Pattern.compile("\\p{M}+")
  private val reSpaces = Pattern.compile("\\s+")

  /** ASCII slugify equivalent to the `python-slugify` calls the reference
    * makes for camp/source URI minting (src/csv_to_rdf.py:388,
    * src/linker.py:471,488): unicode fold → lowercase → non-alnum runs
    * collapse to single `-`, trimmed. */
  def slugify(raw: String): String = {
    val folded = reMarks.matcher(
      java.text.Normalizer.normalize(raw, java.text.Normalizer.Form.NFKD)).replaceAll("")
    val sb = new java.lang.StringBuilder(folded.length)
    folded.toLowerCase.foreach { c =>
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c) else sb.append(' ')
    }
    reSpaces.matcher(sb.toString.trim).replaceAll("-")
  }

  /** Lenient date cast used by privacy pruning: strip `Xx-` padding, try a
    * full permissive parse, fall back to the last-4-chars year; null on
    * garbage (reference: src/prune_nonpublic.py:26-62, doctest goldens
    * :30-50 are ported into ConvertersSpec). */
  def castDateLenient(orig: String): java.sql.Date = {
    if (orig == null) return null
    val s = PyStr.strip(PyStr.strip(orig), "Xx-")
    val full = parseLenient(s)
    if (full != null) full
    else if (s.length >= 4) parseLenient(s.substring(s.length - 4)) else null
  }

  // A small dateutil-alike: handles "d.m.yyyy", "d/m/yyyy", "m/d/yyyy"
  // fallback, bare "yyyy" (dateutil defaults missing fields to today; the
  // reference only ever consumes .year / full d-m-y forms, so we default
  // missing month/day to 1 — privacy decisions only compare at year
  // granularity vs fixed cutoffs).
  private val reDmy = Pattern.compile("(\\d{1,2})[./](\\d{1,2})[./](\\d{4})")
  private val reYear = Pattern.compile("\\d{4}")
  private def parseLenient(s: String): java.sql.Date = {
    val t = PyStr.strip(s)
    if (t.isEmpty) return null
    val m = reDmy.matcher(t)
    if (m.matches()) {
      val (a, b, y) = (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt)
      // day-first like dateutil(dayfirst deduced): try d/m, then m/d
      val dm = tryYmd(y, b, a)
      if (dm != null) return dm
      val md = tryYmd(y, a, b)
      if (md != null) return md
      return null
    }
    if (reYear.matcher(t).matches()) return tryYmd(t.toInt, 1, 1)
    // embedded single year like "noin 2002" / "6-7.11.1947" last-4 path
    null
  }
  private def tryYmd(y: Int, m: Int, d: Int): java.sql.Date =
    try java.sql.Date.valueOf(LocalDate.of(y, m, d)) catch { case _: Exception => null }

  /** Jaro-Winkler similarity (public algorithm; used for the reference's
    * fuzzy occupation/person linking which delegates to the `jellyfish`
    * library — src/linker.py:546-549, requirements.txt:13). */
  def jaroWinkler(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    if (a == b) return 1.0
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(la, lb) / 2 - 1
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var matches = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window); val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var transpositions = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    val jaro = (m / la + m / lb + (m - transpositions / 2.0) / m) / 3.0
    // Winkler boost: common prefix up to 4 chars
    var prefix = 0
    while (prefix < math.min(4, math.min(la, lb)) && a.charAt(prefix) == b.charAt(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }
}
