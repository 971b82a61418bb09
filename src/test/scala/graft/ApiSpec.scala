package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Api, PreviewRow, TransformResult}
import graft.spec.{ETLMapping, FieldMapping, FileSpec, SpecStore}

/** D1/D3 payload shapes against the kitchen golden case (whose counts and
  * per-line errors are pinned to the executed reference by EtlParitySpec). */
class ApiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val res = "src/test/resources"

  private def mapping = SpecStore.parseMapping(
    Files.readString(Paths.get(s"$res/golden/kitchen.mapping.json")))

  test("preview returns line-numbered raw rows starting at 2") {
    val p = Api.preview(spark, s"$res/fixtures/kitchen.csv", FileSpec("k", "k"), None, n = 3)
    assert(p.rows.map(_.line) == Seq(2L, 3L, 4L))
    assert(p.rows.head.cells("name") == "alpha")
    assert(p.result.isEmpty && p.errorsByLine.isEmpty)
  }

  test("preview with mapping validates the whole file and groups errors by line") {
    val p = Api.preview(spark, s"$res/fixtures/kitchen.csv", FileSpec("k", "k"),
      Some(mapping), n = 2)
    assert(p.rows.size == 2)
    val r = p.result.get
    // golden: 0 success, 2 skipped, 7 field errors (kitchen.result.json)
    assert(r.successCount == 0 && r.skippedCount == 2 && r.errorCount == 7)
    assert(p.errorsByLine.keySet == r.errors.map(_.line_number).toSet)
    assert(p.errorsByLine.values.map(_.size).sum == 7)
  }

  test("convert honors the fail-on-error gate") {
    val out = Files.createTempDirectory("api").resolve("out.csv").toString
    val gated = Api.convert(spark, s"$res/fixtures/kitchen.csv", FileSpec("k", "k"),
      mapping, out, failOnError = true)
    assert(!gated.written && !Files.exists(Paths.get(out)))
    val loose = Api.convert(spark, s"$res/fixtures/kitchen.csv", FileSpec("k", "k"),
      mapping, out, failOnError = false)
    assert(loose.written && Files.exists(Paths.get(out)))
  }

  private object Multiline {
    private def gold(f: String) = Files.readString(Paths.get(s"$res/golden/multiline.$f"))
    val path = s"$res/fixtures/multiline.csv"
    val mapping: ETLMapping = SpecStore.parseMapping(gold("mapping.json"))
    val failOnError: Boolean = gold("fail_on_error").trim == "True"
    private val result = new com.fasterxml.jackson.databind.ObjectMapper().readTree(gold("result.json"))
    val outCsv: String = gold("out.csv").replace("\r\n", "\n")

    /** Counts, gate and error set (line, field, value) equal the golden's. */
    def check(r: TransformResult, written: Boolean): Unit = {
      assert((r.successCount, r.skippedCount, r.errorCount, r.written) ==
        ((result.get("success_count").asLong, result.get("skipped_count").asLong,
          result.get("error_count").asLong, written)))
      assert(r.errors.map(e => (e.line_number, e.field, e.source_value)).toSet ==
        result.get("errors").elements.asScala.map(e =>
          (e.get("line_number").asLong, e.get("field").asText, e.get("source_value").asText)).toSet)
    }
  }

  test("convert on the multiline fixture equals the golden: record ordinals") {
    val out = Files.createTempDirectory("api").resolve("out.csv")
    val r = Api.convert(spark, Multiline.path, FileSpec("m", "m"), Multiline.mapping,
      out.toString, Multiline.failOnError)
    Multiline.check(r, written = true)
    assert(Files.readString(out).replace("\r\n", "\n") == Multiline.outCsv)
  }

  test("preview on the multiline fixture equals the golden: record ordinals") {
    val p = Api.preview(spark, Multiline.path, FileSpec("m", "m"), Some(Multiline.mapping))
    Multiline.check(p.result.get, written = false)
    assert(p.rows.map(r => (r.line, r.cells("d"))) ==
      Seq(2L -> "li\nne", 3L -> "x", 4L -> "bad-date"))
  }

  test("rowsAt brings back only the one errored row of a 2,000-row file") {
    val f = Files.createTempDirectory("api").resolve("big.csv")
    val bad = 1234L
    Files.write(f, ("id,date\n" + (2L to 2001L).map(l =>
      s"$l,${if (l == bad) "31.12.2024" else "2024-01-02"}\n").mkString).getBytes(UTF_8))
    val m = ETLMapping("m", "m", "s", "d", fieldMappings = Seq(
      FieldMapping("date", Some("date"), "date_format",
        Map("input_format" -> "%Y-%m-%d", "output_format" -> "%d.%m.%Y"))))
    val out = Files.createTempDirectory("api").resolve("out.csv").toString
    val r = Api.convert(spark, f.toString, FileSpec("s", "s"), m, out)
    assert(r.errors.map(_.line_number) == Seq(bad))
    assert(Api.rowsAt(spark, f.toString, FileSpec("s", "s"), r.errors.map(_.line_number).toSet) ==
      Seq(PreviewRow(bad, Map("id" -> s"$bad", "date" -> "31.12.2024"))))
  }
}
