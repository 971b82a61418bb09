package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.spec.{FileSpec, SpecStore}
import graft.engine.{CsvSource, Runner}

/** Differential fuzz parity vs the EXECUTED reference engine (round-11
  * verdict item 2). tools/fuzz_golden.py derives 330 deterministic
  * pseudo-random (CSV, mapping, fail_on_error) triples — random filter
  * rules (Q1 polarity, missing-`value` rules, unknown operators), nested
  * transform configs, duplicate destination fields, missing/None source
  * fields, empty mappings, short rows — runs the reference
  * DynamicTransformer (dynamic.py:239-348) on each, and commits its counts,
  * error set, write gate, and output bytes as goldens. This suite replays
  * every case through the Spark engine and must match all four.
  *
  * Coverage of DECLARED cases lives in EtlParitySpec; this suite covers the
  * unenumerated mapping space. Cases are grouped in blocks so one divergence
  * names its case id without costing 200 Spark sessions of granularity.
  */
class FuzzParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "src/test/resources/golden/fuzz"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def read(name: String): String =
    Files.readString(Paths.get(s"$dir/$name"))

  private val cases: Seq[String] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(read("cases.json")).elements.asScala.map(_.asText).toSeq
  }

  private val mlCases: Seq[String] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(read("cases_ml.json")).elements.asScala.map(_.asText).toSeq
  }

  /** Runs one fuzz case; returns a divergence description or None. */
  private def diverge(name: String): Option[String] = {
    val mapping = SpecStore.parseMapping(read(s"$name.mapping.json"))
    val failOnError = read(s"$name.fail_on_error").trim == "True"
    val gold = mapper.readTree(read(s"$name.result.json"))
    val df = CsvSource.readWithLineNumbers(spark, s"$dir/$name.csv", FileSpec("t", "t"))
    val out = Files.createTempDirectory("fuzz").resolve(s"$name.csv").toString
    val result = Runner.convert(df, mapping, out, failOnError)

    val mismatches = scala.collection.mutable.ListBuffer[String]()
    def check(what: String, got: Any, want: Any): Unit =
      if (got != want) mismatches += s"$what: engine=$got reference=$want"
    check("success_count", result.successCount, gold.get("success_count").asLong)
    check("skipped_count", result.skippedCount, gold.get("skipped_count").asLong)
    check("error_count", result.errorCount, gold.get("error_count").asLong)
    check("written", result.written, gold.get("written").asBoolean)

    // source_value compares as Option — None (reference null) and "" are
    // DIFFERENT values here, since pinning the DictReader missing/empty
    // distinction in error payloads is part of this suite's purpose
    val goldErrs = {
      import scala.jdk.CollectionConverters._
      gold.get("errors").elements.asScala.map { e =>
        (e.get("line_number").asLong, e.get("field").asText,
         Option(e.get("source_value")).filterNot(_.isNull).map(_.asText))
      }.toSet
    }
    val ourErrs = result.errors
      .map(e => (e.line_number, e.field, Option(e.source_value))).toSet
    if (ourErrs != goldErrs)
      mismatches += s"errors: engine-only=${ourErrs -- goldErrs} reference-only=${goldErrs -- ourErrs}"

    if (result.written && gold.get("written").asBoolean) {
      val goldCsv = read(s"$name.out.csv").replace("\r\n", "\n")
      val ourCsv = Files.readString(Paths.get(out)).replace("\r\n", "\n")
      if (ourCsv != goldCsv) {
        val gl = goldCsv.split("\n", -1); val ol = ourCsv.split("\n", -1)
        val firstDiff = gl.zip(ol).indexWhere { case (a, b) => a != b } match {
          case -1 => s"line-count ${ol.length} vs ${gl.length}"
          case i  => s"line $i: engine='${ol(i)}' reference='${gl(i)}'"
        }
        mismatches += s"output bytes: $firstDiff"
      }
    }
    // dry-run twin (reference validate_file, dynamic.py:259-265): identical
    // counts and error set, never a write — same goldens pin both modes
    val v = Runner.validate(df, mapping)
    check("validate.success", v.successCount, gold.get("success_count").asLong)
    check("validate.skipped", v.skippedCount, gold.get("skipped_count").asLong)
    check("validate.errors", v.errorCount, gold.get("error_count").asLong)
    check("validate.written", v.written, false)

    if (mismatches.isEmpty) None else Some(s"$name → ${mismatches.mkString("; ")}")
  }

  private val Block = 20
  for (block <- cases.grouped(Block).zipWithIndex.toSeq) {
    val (names, idx) = block
    test(f"fuzz parity block ${idx}%02d (${names.head}..${names.last})") {
      val divergences = names.flatMap(diverge(_))
      assert(divergences.isEmpty,
        s"${divergences.size} divergent case(s):\n${divergences.mkString("\n")}")
    }
  }

  // embedded-newline family: record ordinals (not physical lines) — the
  // `multiline` golden's coverage, fuzzed
  for (block <- mlCases.grouped(15).zipWithIndex.toSeq) {
    val (names, idx) = block
    test(f"fuzz parity multiline block ${idx}%02d (${names.head}..${names.last})") {
      val divergences = names.flatMap(diverge(_))
      assert(divergences.isEmpty,
        s"${divergences.size} divergent case(s):\n${divergences.mkString("\n")}")
    }
  }

  private def namedCases(index: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(read(index)).elements.asScala.map(_.asText).toSeq
  }

  // Q3 family (quirk: a source value literally "_default" reads the
  // default entry, dynamic.py:127-129): goldens from the STOCK reference —
  // these pin AGREEMENT, collision and no-collision sub-cases alike
  for (block <- namedCases("cases_q3.json").grouped(20).zipWithIndex.toSeq) {
    val (names, idx) = block
    test(f"fuzz parity Q3 _default-collision block ${idx}%02d") {
      val divergences = names.flatMap(diverge(_))
      assert(divergences.isEmpty,
        s"${divergences.size} divergent case(s):\n${divergences.mkString("\n")}")
    }
  }

  // Q2 family (quirk: the reference substitutes formula field names by
  // SUBSTRING, dynamic.py:224-231; this engine implements the intended
  // identifier-wise semantics — SURVEY §2.A Q2): goldens come from the
  // reference with an identifier-safe evaluator patched in, and each case
  // carries the STOCK reference's twin + a ref_diverged flag. The engine
  // must match the INTENDED goldens, and every flagged case's twin must
  // really differ — the divergence-by-design is asserted, never skipped.
  for (block <- namedCases("cases_q2.json").grouped(20).zipWithIndex.toSeq) {
    val (names, idx) = block
    test(f"fuzz parity Q2 substring-hazard block ${idx}%02d") {
      val divergences = names.flatMap(diverge(_))
      assert(divergences.isEmpty,
        s"${divergences.size} divergent case(s):\n${divergences.mkString("\n")}")
      names.foreach { name =>
        val gold = mapper.readTree(read(s"$name.result.json"))
        val ref = mapper.readTree(read(s"$name.ref.result.json"))
        def core(n: com.fasterxml.jackson.databind.JsonNode) =
          (n.get("success_count").asLong, n.get("skipped_count").asLong,
           n.get("error_count").asLong, n.get("written").asBoolean,
           n.get("errors").toString)
        val refOut = Paths.get(s"$dir/$name.ref.out.csv")
        val intOut = Paths.get(s"$dir/$name.out.csv")
        val bytesDiffer = Files.exists(refOut) != Files.exists(intOut) ||
          (Files.exists(refOut) &&
            read(s"$name.ref.out.csv") != read(s"$name.out.csv"))
        val actuallyDiverged = core(gold) != core(ref) || bytesDiffer
        assert(actuallyDiverged == gold.get("ref_diverged").asBoolean,
          s"$name: ref_diverged flag does not match the committed twins")
      }
    }
  }

  test("Q2 family exercises the hazard: a real share of cases diverge") {
    val n = namedCases("cases_q2.json").count { name =>
      mapper.readTree(read(s"$name.result.json")).get("ref_diverged").asBoolean
    }
    assert(n >= 10, s"only $n/40 Q2 cases diverge from the stock reference — " +
      "the family is not reaching the substring-replacement hazard")
  }
}
