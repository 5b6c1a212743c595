package graft

import java.sql.Date
import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Ports of the reference's converter/parser goldens
  * (reference: src/tests.py:24-77, src/prune_nonpublic.py:30-50 doctests).
  */
class ConvertersSpec extends AnyFunSuite {

  test("convert_dates (tests.py:27-32)") {
    assert(Converters.convertDates("24.12.2016") == DateOrString(LocalDate.parse("2016-12-24"), "24.12.2016"))
    assert(Converters.convertDates("24/12/2016") == DateOrString(LocalDate.parse("2016-12-24"), "24/12/2016"))
    assert(Converters.convertDates("xx.xx.xxxx").lexical == "xx.xx.xxxx")
    assert(Converters.convertDates("xx.09.2016").lexical == "xx.09.2016")
    // month out of range falls back to string (prisoner_2 katoamisaika)
    assert(!Converters.convertDates("05/21/1942").isDate)
    assert(Converters.convertDates("15/04/1900").lexical == "1900-04-15")
    assert(Converters.convertDates("5.11.1944").lexical == "1944-11-05")
  }

  test("convert_person_name (tests.py:34-45)") {
    assert(Converters.convertPersonName("Virtanen Matti Akseli") ==
      PersonName("Matti Akseli", "Virtanen", "Virtanen, Matti Akseli"))
    assert(Converters.convertPersonName("Huurre ent. Hildén Aapo Antero") ==
      PersonName("Aapo Antero", "Huurre (ent. Hildén)", "Huurre (ent. Hildén), Aapo Antero"))
    assert(Converters.convertPersonName("Kulento ent. Kulakov Nikolai (Niilo)") ==
      PersonName("Nikolai (Niilo)", "Kulento (ent. Kulakov)", "Kulento (ent. Kulakov), Nikolai (Niilo)"))
    assert(Converters.convertPersonName("Ahjo ent. Germanoff Juho ent. Ivan") ==
      PersonName("Juho Ent. Ivan", "Ahjo (ent. Germanoff)", "Ahjo (ent. Germanoff), Juho Ent. Ivan"))
  }

  test("strip_dash (tests.py:47-49)") {
    assert(Converters.stripDash("-") == "")
    assert(Converters.stripDash("Foo-Bar") == "Foo-Bar")
  }

  test("read_value_with_source (tests.py:53-59)") {
    assert(Parsers.readValueWithSource("Some text") == ValueWithSource("Some text", null, ""))
    assert(Parsers.readValueWithSource("Some text (source A)") == ValueWithSource("Some text", "source A", ""))
    assert(Parsers.readValueWithSource("Some text (source A, source B)") ==
      ValueWithSource("Some text", "source A, source B", ""))
  }

  test("read_semicolon_separated (tests.py:61-72)") {
    val a = Parsers.readSemicolonSeparated("Some text")
    assert(a.value == "Some text" && a.source == null && a.dateBegin == null && a.errors.isEmpty)

    val b = Parsers.readSemicolonSeparated("Source: Value")
    assert(b.value == "Value" && b.source == "Source")

    val c = Parsers.readSemicolonSeparated("Source1, Source2: Value")
    assert(c.value == "Value" && c.source == "Source1, Source2")

    val d = Parsers.readSemicolonSeparated("http://example.com/")
    assert(d.value == "http://example.com/" && d.source == null)

    val e = Parsers.readSemicolonSeparated("54 13.10.1942-xx.11.1942")
    assert(e.value == "54")
    assert(e.dateBegin == DateOrString(LocalDate.parse("1942-10-13"), "13.10.1942"))
    assert(!e.dateEnd.isDate && e.dateEnd.raw == "xx.11.1942")
    assert(e.errors.isEmpty)
  }

  test("python title-case semantics") {
    assert(PyStr.title("KULENTO (ENT. KULAKOV)") == "Kulento (Ent. Kulakov)")
    assert(PyStr.title("1./ER.P 25") == "1./Er.P 25")
    assert(PyStr.title("ÄÄNISJÄRVI") == "Äänisjärvi")
  }

  test("cast_date lenient (prune_nonpublic.py:30-50 doctests)") {
    def y(s: String): Int = Converters.castDateLenient(s).toLocalDate.getYear
    assert(y("xx.xx.1942") == 1942)
    assert(y("xx.8.1944") == 1944)
    assert(y("2002") == 2002)
    assert(Converters.castDateLenient("18/11/1918") == Date.valueOf("1918-11-18"))
    assert(Converters.castDateLenient("11/18/1918") == Date.valueOf("1918-11-18"))
    assert(Converters.castDateLenient("31.12.2002") == Date.valueOf("2002-12-31"))
    assert(Converters.castDateLenient("2003?") == null)
    assert(Converters.castDateLenient("8.4.1942 (jatkosodan kortisto) [väärä tieto]") == null)
    assert(y("noin 2002") == 2002)
    assert(y("6-7.11.1947") == 1947)
    assert(y("3.2.1942 (VM); 2.11.1942") == 1942)
  }

  test("validators (validators.py)") {
    import java.time.LocalDate
    assert(Validators.validateDates(DateOrString(LocalDate.parse("1942-01-01"), "x")).isEmpty)
    assert(Validators.validateDates(DateOrString(LocalDate.parse("1938-01-01"), "x")).contains(
      "Päivämäärä 1938-01-01 liian varhainen (< 1939-11-28)"))
    assert(Validators.validateDates(DateOrString(LocalDate.parse("1946-01-01"), "x")).contains(
      "Päivämäärä 1946-01-01 liian myöhäinen (> 1945-04-25)"))
    assert(Validators.validateDates(DateOrString(null, "xx.7.1944")).isEmpty)
    assert(Validators.validateDates(DateOrString(null, "garbage")).contains("Päivämäärä ei ole kelvollinen"))
    assert(Validators.validatePersonName("Virtanen Matti", "virtanen matti").isEmpty)
    assert(Validators.validatePersonName("Eri Nimi", "Muu Nimi").isDefined)
    assert(Validators.validateMotherTongue("X").isEmpty)
    assert(Validators.validateMotherTongue("").isEmpty)
    assert(Validators.validateMotherTongue("epäselvä").contains("Epäselvä arvo"))
    // before-override used by semicolon date ranges (csv_to_rdf.py:103)
    assert(Validators.validateDates(DateOrString(LocalDate.parse("1950-01-01"), "x"),
      before = LocalDate.of(1960, 1, 1)).isEmpty)
  }

  test("slugify") {
    assert(Converters.slugify("Sorokka ven. Belomorsk") == "sorokka-ven-belomorsk")
    assert(Converters.slugify("Äänislinna / Petroskoi") == "aanislinna-petroskoi")
    assert(Converters.slugify("KA T-26073/48") == "ka-t-26073-48")
  }

  test("jaro-winkler sanity") {
    assert(Converters.jaroWinkler("martha", "marhta") > 0.95)
    assert(Converters.jaroWinkler("abc", "abc") == 1.0)
    assert(Converters.jaroWinkler("abc", "xyz") == 0.0)
    val jw = Converters.jaroWinkler("dixon", "dicksonx")
    assert(math.abs(jw - 0.8133) < 0.001)
  }
}
