package graft.functions

import java.time.LocalDate
import java.util.regex.Pattern

/** Result of the `value (source)` parse (reference: src/csv_to_rdf.py:71-93).
  * `source` is null when absent; `trash` non-empty means content after the
  * parenthesised source → the reference reverts to the original value and
  * records an error. */
final case class ValueWithSource(value: String, source: String, trash: String)

/** Result of the semicolon-variant parse `"src: value d1-d2"`
  * (reference: src/csv_to_rdf.py:95-141). Dates stay split into the typed
  * date vs passthrough-string union of [[DateOrString]]. */
final case class SemicolonValue(
    value: String,
    source: String,
    dateBegin: DateOrString, // null if no range
    dateEnd: DateOrString,
    errors: Seq[String],
)

object Parsers {

  // reference: src/csv_to_rdf.py:79 — note `.` does NOT match newlines
  // (CPython re default), which the multi-line magazine cells rely on.
  private val reSource = Pattern.compile("(.+) \\(([^()]+)\\)(.*)")

  /** Parse `value (source)` (reference: src/csv_to_rdf.py:71-93;
    * goldens src/tests.py:53-59). */
  def readValueWithSource(orig: String): ValueWithSource = {
    // the pattern needs a literal " (": without one it cannot match, so
    // most spans skip the matcher
    val m = if (orig.contains(" (")) reSource.matcher(orig) else null
    // re.search semantics: find anywhere
    if (m != null && m.find()) {
      val source = PyStr.strip(m.group(2))
      val trash = m.group(3)
      if (trash != null && trash.nonEmpty)
        ValueWithSource(PyStr.strip(orig), source, trash) // revert to original
      else
        ValueWithSource(PyStr.strip(m.group(1)), source, "")
    } else ValueWithSource(PyStr.strip(orig), null, "")
  }

  // reference: src/csv_to_rdf.py:115
  private val reDateRange = Pattern.compile("(.+) ([0-9xX.]{5,})-([0-9xX.]{5,})")

  private def isRangeChar(c: Char): Boolean =
    (c >= '0' && c <= '9') || c == 'x' || c == 'X' || c == '.'

  /** Linear pre-check, `[0-9xX.]{5,}-[0-9xX.]{5,}` found anywhere: a run
    * of at least 5 range characters, `-`, then at least 5 more. The full
    * pattern's leading greedy `(.+) ` backtracks across the whole span
    * (long free-text cells pay O(n^2)); only run it when a range-shaped
    * substring exists at all. */
  private[graft] def hasDateRange(s: String): Boolean = {
    var run = 0 // range characters ending just before i
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '-' && run >= 5) {
        var j = i + 1
        while (j < s.length && j - i <= 5 && isRangeChar(s.charAt(j))) j += 1
        if (j - i > 5) return true
      }
      run = if (isRangeChar(c)) run + 1 else 0
      i += 1
    }
    false
  }

  private val before1960 = LocalDate.of(1960, 1, 1)

  /** Parse a semicolon-separated value with optional `source: ` prefix and
    * trailing date range (reference: src/csv_to_rdf.py:95-141; goldens
    * src/tests.py:61-72). Date validation (before 1960-01-01) feeds the
    * error list exactly like the reference's partial validator. */
  def readSemicolonSeparated(orig: String): SemicolonValue = {
    var errors = Vector.empty[String]

    var (source, value): (String, String) = {
      val idx = orig.indexOf(": ")
      if (idx >= 0) (orig.substring(0, idx), orig.substring(idx + 2)) else ("", orig)
    }
    if (value.contains(": ")) {
      errors :+= "Mahdollinen virhe kentän arvossa, \": \" löytyy lähdeviitteen jälkeen"
      source = ""
      value = orig
    }

    var dateBegin: DateOrString = null
    var dateEnd: DateOrString = null
    val m = if (hasDateRange(value)) reDateRange.matcher(value) else null
    if (m != null && m.find()) {
      value = m.group(1)
      dateBegin = Converters.convertDates(m.group(2))
      dateEnd = Converters.convertDates(m.group(3))
      Validators.validateDates(dateBegin, before = before1960).foreach(errors :+= _)
      Validators.validateDates(dateEnd, before = before1960).foreach(errors :+= _)
    }

    SemicolonValue(value, if (source.nonEmpty) PyStr.strip(source) else null,
      dateBegin, dateEnd, errors)
  }
}
