package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.spec.{FileSpec, SpecStore}
import graft.engine.{CsvSource, Runner}

/** Behavior-parity suite: goldens under src/test/resources/golden were
  * produced by EXECUTING the reference engine (tools/gen_golden.py runs
  * the reference checkout's DynamicTransformer on the fixtures). Our engine must
  * reproduce counts, per-line errors, the write gate, and the output CSV
  * byte-for-byte (modulo \r\n). */
class EtlParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val res = "src/test/resources"

  private def readGold(name: String): String =
    Files.readString(Paths.get(s"$res/golden/$name"))

  // "multiline" exercises record-ordinal line numbers (embedded newline in
  // a quoted field)
  private val cases = Seq("stocks_dynamic", "crypto_dynamic", "kitchen",
                          "kitchen_gate", "filters", "multiline")

  // fixture file name differs for the *_gate twin (same input)
  private def fixtureOf(name: String): String =
    s"$res/fixtures/$name.csv"

  for (name <- cases) {
    test(s"parity: $name matches reference engine output") {
      val mapping = SpecStore.parseMapping(readGold(s"$name.mapping.json"))
      val failOnError = readGold(s"$name.fail_on_error").trim == "True"
      val gold = {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        mapper.readTree(readGold(s"$name.result.json"))
      }
      val df = CsvSource.readWithLineNumbers(spark, fixtureOf(name), FileSpec("t", "t"))
      val out = Files.createTempDirectory("etl").resolve(s"$name.csv").toString
      val result = Runner.convert(df, mapping, out, failOnError)

      assert(result.successCount == gold.get("success_count").asLong, "success_count")
      assert(result.skippedCount == gold.get("skipped_count").asLong, "skipped_count")
      assert(result.errorCount == gold.get("error_count").asLong, "error_count")
      assert(result.written == gold.get("written").asBoolean, "write gate")

      // error set parity: (line_number, field, source_value) — null ≡ ""
      val goldErrs = {
        import scala.jdk.CollectionConverters._
        gold.get("errors").elements.asScala.map { e =>
          (e.get("line_number").asLong, e.get("field").asText,
           Option(e.get("source_value")).filterNot(_.isNull).map(_.asText).getOrElse(""))
        }.toSet
      }
      val ourErrs = result.errors
        .map(e => (e.line_number, e.field, Option(e.source_value).getOrElse(""))).toSet
      assert(ourErrs == goldErrs, "error rows")

      if (result.written) {
        val goldCsv = readGold(s"$name.out.csv").replace("\r\n", "\n")
        val ourCsv = Files.readString(Paths.get(out)).replace("\r\n", "\n")
        assert(ourCsv == goldCsv, "output CSV bytes")
      }
    }
  }

  test("reference shipped mappings parse from the original JSON") {
    val refCfg = ReferenceConfig.dir
    ReferenceConfig.assumePresent()
    val ms = SpecStore.loadMappings(s"$refCfg/mappings.json")
    assert(ms.contains("revolut_stocks_to_ghostfolio"))
    assert(ms("revolut_crypto_to_ghostfolio").fieldMappings.nonEmpty)
    val specs = SpecStore.loadFileSpecs(s"$refCfg/sources.json")
    assert(specs("revolut_stocks").columns.map(_.name).contains("Price per share"))
    val dests = SpecStore.loadFileSpecs(s"$refCfg/destinations.json")
    assert(dests.values.exists(_.delimiter == ";")) // teste_destination_1
  }
}

class PyFormatSpec extends AnyFunSuite {
  import graft.engine.PyFormat
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def golden(file: String): Seq[(Double, String)] = {
    import scala.jdk.CollectionConverters._
    val node = mapper.readTree(Files.readString(Paths.get(s"src/test/resources/golden/$file")))
    // Seq, not Map: a Map[Double, _] would conflate the 0.0 / -0.0 keys
    node.properties.asScala.map(e => e.getKey.toDouble -> e.getValue.asText).toSeq
  }

  test("pyFloatStr matches CPython str(float) goldens") {
    for ((v, want) <- golden("pyfloat.json")) {
      assert(PyFormat.pyFloatStr(v) == want, s"input $v")
    }
  }
  test("pyFloatStr matches CPython str(float) on the wide golden") {
    // tools/gen_float_goldens.py: powers of two, subnormals, random bit
    // patterns, formula quotients and notation-threshold neighbours
    import scala.jdk.CollectionConverters._
    val rows = Files.readAllLines(
      Paths.get("src/test/resources/golden/pyfloat_wide.tsv")).asScala
    assert(rows.size > 5000)
    val misses = rows.flatMap { row =>
      val Array(hex, want) = row.split('\t')
      val v = java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(hex, 16))
      val got = PyFormat.pyFloatStr(v)
      if (got == want) None else Some(s"$hex: want $want, got $got")
    }
    assert(misses.isEmpty, s"${misses.size} misses, first: ${misses.take(5).mkString("; ")}")
  }
  test("money8 matches f'{v:.8f}' strip goldens") {
    for ((v, want) <- golden("money8.json")) {
      assert(PyFormat.money8(v) == want, s"input $v")
    }
  }
}

class DateFmtSpec extends AnyFunSuite {
  import graft.compile.DateFmt
  test("strptime → parse pattern translation") {
    assert(DateFmt.parsePattern("%Y-%m-%dT%H:%M:%S") == "yyyy-M-d'T'H:m:s")
    assert(DateFmt.parsePattern("%b %d, %Y, %I:%M:%S %p") == "MMM d, yyyy, h:m:s a")
    assert(DateFmt.parsePattern("%d/%m/%Y") == "d/M/yyyy")
  }
  test("strftime → format pattern translation (zero-padded)") {
    assert(DateFmt.formatPattern("%Y-%m-%d") == "yyyy-MM-dd")
    assert(DateFmt.formatPattern("%d/%m/%Y %H:%M") == "dd/MM/yyyy HH:mm")
    assert(DateFmt.formatPattern("100%% %q") == "100'%' '%q'")
  }
}
