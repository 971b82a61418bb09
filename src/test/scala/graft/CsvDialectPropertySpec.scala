package graft

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.PyCsv
import CsvDialectPropertySpec.parseLine

/** Property pin for the csv-module dialect (engine.PyCsv): renderRecords is
  * the reference writer twin (QUOTE_MINIMAL, doubled quotes), records (and
  * parseLine, its one-line form below) the DictReader twins — parsing must
  * invert rendering for ANY field content (parseLine: one line, so no line
  * breaks; records: any text). The fuzz suite pins parity against the
  * EXECUTED reference on sampled cases; these properties close the space
  * in between with 500 random rows or texts per run. The record-level
  * cases are pinned to Python 3.11's csv.reader over a file opened in
  * text mode. */
class CsvDialectPropertySpec extends AnyFunSuite {

  // printable-ish field content, quote/comma/space-heavy on purpose
  private val fieldGen: Gen[String] = Gen.frequency(
    3 -> Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(',', '"', '\'', ' ',
      ';', '™', 'é', '\t'))).map(_.mkString),
    1 -> Gen.const(""),
    1 -> Gen.oneOf("None", "_default", "say \"hi\"", "a,,b", "\"\"", "\"x"))
  private val rowGen: Gen[List[String]] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, fieldGen))

  private def check(prop: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(500).withInitialSeed(12L), prop)
    assert(res.passed, res.status.toString)
  }

  test("parseLine inverts renderRecords for any newline-free row") {
    check(Prop.forAll(rowGen) { row =>
      val rendered = PyCsv.renderRecords(Seq(row)).stripSuffix("\r\n")
      val back = parseLine(rendered, ',')
      Prop(back == row) :| s"rendered=<$rendered> back=$back"
    })
  }

  test("parseLine matches Python's lenient quote handling on raw lines") {
    // cases cross-checked against csv.reader directly (see fuzz_golden's
    // provenance): quote special only at field start; text after a closing
    // quote is literal; doubled quote in unquoted field stays
    assert(parseLine("""say "hi",x""", ',') == Seq("say \"hi\"", "x"))
    assert(parseLine(""""a"b,c""", ',') == Seq("ab", "c"))
    assert(parseLine("a\"\"b,\"say \"\"hi\"\"\",z", ',')
      == Seq("a\"\"b", "say \"hi\"", "z"))
    assert(parseLine("\"\"", ',') == Seq(""))
    assert(parseLine("a,", ',') == Seq("a", ""))
    assert(parseLine(",", ',') == Seq("", ""))
    // unterminated quote: field taken as-is to end of line (non-strict)
    assert(parseLine("\"open,ended", ',') == Seq("open,ended"))
  }

  test("records invert renderRecords: line breaks, quotes, delimiters, lone empties") {
    val cellGen = Gen.frequency(
      4 -> fieldGen,
      1 -> Gen.oneOf("multi\nline", "\n", "\"\n\"", "a\n,b", " x \n"))
    val recGen = Gen.frequency(
      4 -> Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, cellGen)),
      1 -> Gen.const(List(""))) // written `""`, so not a blank line
    check(Prop.forAll(Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, recGen)),
        Gen.oneOf(',', ';', '\t')) { (recs, d) =>
      val text = PyCsv.renderRecords(recs, d)
      val back = PyCsv.records(text, d).toList
      Prop(back == recs) :| s"text=<$text> back=$back"
    })
  }

  test("records match Python's csv module on whole texts") {
    def recs(text: String) = PyCsv.records(text, ',').toList
    // blank lines are no records; `""` is one empty field, not blank
    assert(recs("a,b\r\n\r\n1,2\n\n") == List(Seq("a", "b"), Seq("1", "2")))
    assert(recs("k\r\n\"\"\r\nx\r\n") == List(Seq("k"), Seq(""), Seq("x")))
    assert(recs(",\n  \n") == List(Seq("", ""), Seq("  ")))
    // an unterminated quote runs to the end of the input
    assert(recs("a,\"open\nmore") == List(Seq("a", "open\nmore")))
    assert(recs("a,\"") == List(Seq("a", "")))
    assert(recs("\"a\"\"") == List(Seq("a\"")))
    // text after a closing quote is kept; quotes mid-field are literal
    assert(recs("\"a\"b,c\n") == List(Seq("ab", "c")))
    assert(recs("\"a\"x\"b\"\n") == List(Seq("ax\"b\"")))
    assert(recs("1,say \"hi\"\n2,a\"\"b\n") ==
      List(Seq("1", "say \"hi\""), Seq("2", "a\"\"b")))
    // universal newlines, also inside quotes
    assert(recs("a\rb\r\n") == List(Seq("a"), Seq("b")))
    assert(recs("\"x\r\ny\"\r\n") == List(Seq("x\ny")))
  }

  test("records read a stream across chunk boundaries") {
    val long = "x" * 8191 // the \r of the first \r\n ends the first chunk
    val text = s"$long\r\ny\r\n\"${"q" * 9000}\n,\"\"\",z\r\n"
    val back = PyCsv.records(new java.io.StringReader(text), ',').toList
    assert(back == List(Seq(long), Seq("y"), Seq("q" * 9000 + "\n,\"", "z")))
  }

  test("renderRecords writes csv.writer bytes") {
    assert(PyCsv.renderRecords(Seq(Seq(""), Seq("", ""),
      Seq(" a ", "x\"y", "p,q", "l\nm", "r\rs"))) ==
      "\"\"\r\n,\r\n a ,\"x\"\"y\",\"p,q\",\"l\nm\",\"r\rs\"\r\n")
  }
}

object CsvDialectPropertySpec {
  /** The fields of one line that holds no line break: the one record
    * `PyCsv.records` reads from it; an empty line has no fields. */
  def parseLine(line: String, d: Char): Seq[String] =
    PyCsv.records(line, d).nextOption().getOrElse(Seq.empty)
}
