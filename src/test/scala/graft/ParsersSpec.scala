package graft

import java.time.LocalDate
import java.util.regex.Pattern

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.extract.SynthDocs
import graft.functions._

/** The parsers' fast paths pinned against the regexes they stand in for
  * ([[ParsersSpec.Reference]]): `readValueWithSource` skips its matcher
  * when the text has no `" ("`, and `readSemicolonSeparated` pre-checks
  * for a date range with a linear scan instead of a regex `find`. Checked
  * on every span text of the vendored corpus and on adversarial strings:
  * parentheses, line breaks, spaces, and range-character runs of exactly
  * 4, 5 and 6. */
class ParsersSpec extends AnyFunSuite {

  import ParsersSpec.Reference

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val corpusTexts: Seq[String] =
    SynthDocs.fromDocuments(spark, SparkTestBase.corpusDir)
      .select(explode($"spans.text").as("t")).as[String].collect().toSeq

  /** Every string over `alphabet` up to length `max`. */
  private def strings(alphabet: Seq[Char], max: Int): Iterator[String] =
    (0 to max).iterator.flatMap { n =>
      (0 until n).foldLeft(Iterator(""))((acc, _) => acc.flatMap(p => alphabet.iterator.map(p + _)))
    }

  /** Range-shaped strings: runs of 3 to 7 range characters around a
    * separator, with text around them. */
  private val rangeShaped: Seq[String] = {
    val runChars = "1x.X90"
    def run(n: Int, shift: Int) = (0 until n).map(i => runChars((i + shift) % runChars.length)).mkString
    val around = Seq("", " ", "a", "-", "1-", "\n", "\r", "X", "(", ") ", "a 1.1.1942 ")
    val seps = Seq("-", "--", " -", "- ", "\u2013", "-\n")
    for {
      a <- 3 to 7; b <- 3 to 7; sep <- seps; pre <- around; post <- around; shift <- 0 to 1
    } yield pre + run(a, shift) + sep + run(b, shift + 2) + post
  }

  private lazy val randomStrings: Seq[String] = {
    val rnd = new Random(5L)
    val alphabet = "1xX.- a(\n\r:"
    Seq.fill(50000)(Seq.fill(rnd.nextInt(25))(alphabet(rnd.nextInt(alphabet.length))).mkString)
  }

  test("the \" (\" guard leaves readValueWithSource unchanged") {
    val adversarial = strings(Seq('a', ' ', '(', ')', '\n', '\r'), 7)
    (corpusTexts.iterator ++ adversarial ++ randomStrings ++ rangeShaped).foreach { s =>
      assert(Parsers.readValueWithSource(s) == Reference.readValueWithSource(s), s"on ${s.debugString}")
    }
  }

  test("the linear range scan finds what the hint regex finds") {
    var found = 0
    (corpusTexts.iterator ++ strings(Seq('1', 'x', '.', '-', ' ', '\n'), 6) ++ randomStrings ++ rangeShaped)
      .foreach { s =>
        val expected = Reference.hasDateRange(s)
        assert(Parsers.hasDateRange(s) == expected, s"on ${s.debugString}")
        if (expected) found += 1
      }
    assert(found > 1000, s"only $found range-shaped strings")
    // runs of exactly 4 never qualify, 5 and 6 do
    assert(!Parsers.hasDateRange("1234-12345") && !Parsers.hasDateRange("12345-1234"))
    assert(Parsers.hasDateRange("12345-12345") && Parsers.hasDateRange("x.x.x-XXXXXX"))
  }

  test("readSemicolonSeparated is unchanged") {
    (corpusTexts.iterator ++ randomStrings ++ rangeShaped).foreach { s =>
      assert(Parsers.readSemicolonSeparated(s) == Reference.readSemicolonSeparated(s), s"on ${s.debugString}")
    }
  }

  private implicit class Debug(s: String) {
    def debugString: String = s.replace("\n", "\\n").replace("\r", "\\r")
  }
}

object ParsersSpec {

  /** The parsers as they were: the source regex on every text, the range
    * hint as a regex `find`. */
  object Reference {
    private val reSource = Pattern.compile("(.+) \\(([^()]+)\\)(.*)")
    private val reDateRange = Pattern.compile("(.+) ([0-9xX.]{5,})-([0-9xX.]{5,})")
    private val reDateRangeHint = Pattern.compile("[0-9xX.]{5,}-[0-9xX.]{5,}")

    def readValueWithSource(orig: String): ValueWithSource = {
      val m = reSource.matcher(orig)
      if (m.find()) {
        val source = PyStr.strip(m.group(2))
        val trash = m.group(3)
        if (trash != null && trash.nonEmpty)
          ValueWithSource(PyStr.strip(orig), source, trash)
        else
          ValueWithSource(PyStr.strip(m.group(1)), source, "")
      } else ValueWithSource(PyStr.strip(orig), null, "")
    }

    def hasDateRange(s: String): Boolean = reDateRangeHint.matcher(s).find()

    def readSemicolonSeparated(orig: String): SemicolonValue = {
      val before1960 = LocalDate.of(1960, 1, 1)
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
      val m = reDateRange.matcher(value)
      if (hasDateRange(value) && m.find()) {
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
}
