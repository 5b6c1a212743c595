package graft.functions

import java.time.LocalDate

/** Ports of the reference's per-value validators
  * (reference: src/validators.py). They never block emission — they only
  * produce Finnish error strings for the error side channel, exactly like
  * the reference (src/csv_to_rdf.py:245-248).
  */
object Validators {

  val warStart: LocalDate = LocalDate.of(1939, 11, 28)
  val warEnd: LocalDate   = LocalDate.of(1945, 4, 25)

  /** Date range check; string dates are valid iff `xx`-prefixed
    * (reference: src/validators.py:14-39). */
  def validateDates(resolved: DateOrString,
                    after: LocalDate = warStart,
                    before: LocalDate = warEnd): Option[String] = {
    if (resolved == null) return None
    if (!resolved.isDate) {
      val s = resolved.raw
      if (s == null || s.isEmpty) return None
      return if (!s.startsWith("xx")) Some("Päivämäärä ei ole kelvollinen") else None
    }
    val d = resolved.date
    if (d.isBefore(after)) Some(s"Päivämäärä $d liian varhainen (< $after)")
    else if (d.isAfter(before)) Some(s"Päivämäärä $d liian myöhäinen (> $before)")
    else None
  }

  /** Case-insensitive name roundtrip (reference: src/validators.py:42-47). */
  def validatePersonName(resolved: String, original: String): Option[String] =
    if (resolved.toLowerCase != original.toLowerCase)
      Some(s"Tulkittu nimi [$resolved] poikkeaa alkuperäisestä")
    else None

  /** Mother-tongue flag sanity (reference: src/validators.py:50-54). */
  def validateMotherTongue(original: String): Option[String] =
    if (PyStr.strip(original).nonEmpty && original.toUpperCase != "X") Some("Epäselvä arvo")
    else None
}
