package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.immutable.VectorMap
import graft.engine.RowEdit
import graft.spec._

/** Reference dashboard surface: D2 row update (app.py:577-623), D4 spec
  * store write side (models.py:174-267), template CSV generation
  * (app.py:715-747). Goldens under golden/surface were produced by executing
  * the reference's own csv/json calls (see that directory's generator
  * provenance in the round-3 commit).
  *
  * The store tests run on config/mappings.json under the test resources, a
  * copy of the reference's shipped mappings.json that
  * tools/rebuild_mappings_config.py rebuilds from two goldens: the upsert
  * golden minus its appended entry, with the original description of
  * revolut_stocks_to_ghostfolio (golden/stocks_dynamic.mapping.json) put
  * back. The tests that need the reference's sources.json or
  * destinations.json cancel where its checkout is absent.
  */
class SurfaceSpec extends AnyFunSuite {

  private val goldenDir = "src/test/resources/golden/surface"
  private val cfgDir = ReferenceConfig.dir
  private val mappingsCopy = "src/test/resources/config/mappings.json"

  private def bytes(p: String): Array[Byte] = Files.readAllBytes(Paths.get(p))
  private def str(p: String): String = new String(bytes(p), StandardCharsets.UTF_8)

  test("D2 row update matches reference DictReader/DictWriter bytes") {
    val work = Files.createTempFile("rowedit", ".csv")
    Files.write(work, bytes(s"$goldenDir/rowedit_input.csv"))
    val res = RowEdit.updateRow(work.toString, 3,
      Map("Ticker" -> "MSFT2", "Price per share" -> "391.00", "Notes" -> "edited, ok"))
    assert(res.isRight)
    assert(new String(Files.readAllBytes(work), StandardCharsets.UTF_8)
      === str(s"$goldenDir/rowedit_expected.csv"))
  }

  test("D2 row update error cases mirror the reference") {
    assert(RowEdit.updateRow("/no/such/file.csv", 2, Map()).isLeft)
  }

  test("D2 lone empty field is quoted so the record survives the next read") {
    val work = Files.createTempFile("lonecol", ".csv")
    Files.write(work, bytes(s"$goldenDir/lonecol_input.csv"))
    assert(RowEdit.updateRow(work.toString, 2, Map("OnlyCol" -> "")).isRight)
    assert(new String(Files.readAllBytes(work), StandardCharsets.UTF_8)
      === str(s"$goldenDir/lonecol_expected.csv"))
  }

  test("D2 row update fuzz corpus: 20 random cases match Python csv bytes") {
    val fuzzDir = "src/test/resources/golden/rowedit_fuzz"
    val cases = SpecStore.parseAny(str(s"$fuzzDir/cases.json"))
      .asInstanceOf[List[Map[String, Any]]]
    cases.foreach { c =>
      val i = c("case").asInstanceOf[Long]
      val line = c("line").asInstanceOf[Long].toInt
      val upd = c("update").asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> String.valueOf(v) }
      val work = Files.createTempFile(f"fz$i%02d", ".csv")
      Files.write(work, bytes(f"$fuzzDir/case$i%02d_input.csv"))
      assert(RowEdit.updateRow(work.toString, line, upd).isRight, s"case $i")
      assert(new String(Files.readAllBytes(work), StandardCharsets.UTF_8)
        === str(f"$fuzzDir/case$i%02d_expected.csv"), s"case $i")
    }
  }

  test("template CSV generation matches reference bytes for every shipped spec") {
    ReferenceConfig.assumePresent()
    val specs = SpecStore.loadFileSpecs(s"$cfgDir/sources.json") ++
      SpecStore.loadFileSpecs(s"$cfgDir/destinations.json")
    val withCols = specs.values.filter(_.columns.nonEmpty)
    assert(withCols.nonEmpty)
    withCols.foreach { spec =>
      val golden = s"$goldenDir/template_${spec.id}.csv"
      assert(Files.exists(Paths.get(golden)), s"missing golden for ${spec.id}")
      assert(Templates.templateCsv(spec) === str(golden), s"template ${spec.id}")
    }
  }

  test("template writer creates directory and file like the reference") {
    ReferenceConfig.assumePresent()
    val tmp = Files.createTempDirectory("tmpl").toString
    val spec = SpecStore.loadFileSpecs(s"$cfgDir/sources.json")("revolut_stocks")
    val out = Templates.createSpecDirectoryAndTemplate(spec, tmp)
    assert(out.isDefined)
    assert(str(out.get) === str(s"$goldenDir/template_revolut_stocks.csv"))
    // no-op cases
    assert(Templates.createSpecDirectoryAndTemplate(
      spec.copy(defaultDirectory = ""), tmp).isEmpty)
    assert(Templates.createSpecDirectoryAndTemplate(
      spec.copy(columns = Nil), tmp).isEmpty)
  }

  test("SpecJson round-trips every shipped config file byte-for-byte") {
    ReferenceConfig.assumePresent()
    assert(SpecJson.dumpFileSpecs(SpecStore.loadFileSpecs(s"$cfgDir/sources.json"))
      === str(s"$cfgDir/sources.json"))
    assert(SpecJson.dumpFileSpecs(SpecStore.loadFileSpecs(s"$cfgDir/destinations.json"))
      === str(s"$cfgDir/destinations.json"))
    assert(SpecJson.dumpMappings(SpecStore.loadMappings(s"$cfgDir/mappings.json"))
      === str(s"$cfgDir/mappings.json"))
  }

  test("repo mappings.json copy holds the gen_golden Revolut mappings") {
    val copy = SpecStore.loadMappings(mappingsCopy)
    for ((id, golden) <- Seq("revolut_stocks_to_ghostfolio" -> "stocks_dynamic",
                             "revolut_crypto_to_ghostfolio" -> "crypto_dynamic"))
      assert(copy(id) === SpecStore.parseMapping(
        str(s"src/test/resources/golden/$golden.mapping.json")), id)
    assert(SpecJson.dumpMappings(copy) === str(mappingsCopy))
  }

  test("repo mappings.json copy equals the reference's shipped file") {
    val shipped = s"$cfgDir/mappings.json"
    assume(Files.isRegularFile(Paths.get(shipped)), s"$shipped absent")
    assert(bytes(mappingsCopy) sameElements bytes(shipped))
  }

  test("SpecStore upsert matches reference save_mapping bytes (in-place + append)") {
    val work = Files.createTempFile("mappings", ".json")
    Files.write(work, bytes(mappingsCopy))
    val existing = SpecStore.loadMappings(work.toString)("revolut_stocks_to_ghostfolio")
    SpecStore.upsertMapping(work.toString, existing.copy(
      description = "Convert Revolut stock trades to Ghostfolio format (v2 — edited)"))
    SpecStore.upsertMapping(work.toString, ETLMapping(
      id = "unit_test_mapping", name = "Unit → Test",
      sourceId = "revolut_stocks", destinationId = "ghostfolio",
      fieldMappings = Seq(
        FieldMapping("date", Some("Date"), "direct", VectorMap.empty),
        FieldMapping("fee", None, "constant", VectorMap("value" -> 0.5))),
      filterRules = Seq(FilterRule("Type", "equals", value = Some("SKIP")))))
    assert(new String(Files.readAllBytes(work), StandardCharsets.UTF_8)
      === str(s"$goldenDir/mappings_upsert_expected.json"))
  }

  test("SpecStore delete removes the key and reports absence") {
    val work = Files.createTempFile("mappings", ".json")
    Files.write(work, bytes(mappingsCopy))
    assert(SpecStore.deleteMapping(work.toString, "revolut_crypto_to_ghostfolio"))
    assert(!SpecStore.deleteMapping(work.toString, "revolut_crypto_to_ghostfolio"))
    val left = SpecStore.loadMappings(work.toString)
    assert(!left.contains("revolut_crypto_to_ghostfolio"))
    // what remains still round-trips through the Python-parity writer
    assert(SpecJson.dumpMappings(left)
      === new String(Files.readAllBytes(work), StandardCharsets.UTF_8))
  }
}

/** D5 run-history + D6 template-library store pins: byte round-trips
  * against CPython json.dumps(..., indent=2) and the CRUD contract. */
class RunTemplateStoreSpec extends AnyFunSuite {

  private val r1 = RunRecord("run_1", "m1", "convert", "a.csv", Some("a_out.csv"),
    2L, 1L, 0L, written = true, "2026-01-01T00:00:00Z", "2026-01-01T00:00:01Z")
  private val r2 = RunRecord("run_2", "m1", "process", "b.csv", None,
    0L, 3L, 2L, written = false, "2026-01-01T00:01:00Z", "2026-01-01T00:01:05Z")

  // CPython: json.dumps({...}, indent=2) over the same two records
  private val pyGolden =
    "{\n  \"run_1\": {\n    \"id\": \"run_1\",\n    \"mapping_id\": \"m1\",\n    \"kind\": \"convert\",\n    \"input_file\": \"a.csv\",\n    \"output_file\": \"a_out.csv\",\n    \"success_count\": 2,\n    \"skipped_count\": 1,\n    \"error_count\": 0,\n    \"written\": true,\n    \"started_at\": \"2026-01-01T00:00:00Z\",\n    \"finished_at\": \"2026-01-01T00:00:01Z\"\n  },\n  \"run_2\": {\n    \"id\": \"run_2\",\n    \"mapping_id\": \"m1\",\n    \"kind\": \"process\",\n    \"input_file\": \"b.csv\",\n    \"output_file\": null,\n    \"success_count\": 0,\n    \"skipped_count\": 3,\n    \"error_count\": 2,\n    \"written\": false,\n    \"started_at\": \"2026-01-01T00:01:00Z\",\n    \"finished_at\": \"2026-01-01T00:01:05Z\"\n  }\n}"

  test("runs.json serializes byte-identically to CPython json.dumps") {
    assert(SpecJson.dumpRuns(VectorMap("run_1" -> r1, "run_2" -> r2)) == pyGolden)
  }

  test("runs.json append + reload round-trips byte-for-byte") {
    val p = Files.createTempFile("runs", ".json").toString
    SpecStore.appendRun(p, r1)
    SpecStore.appendRun(p, r2)
    val loaded = SpecStore.loadRuns(p)
    assert(loaded == VectorMap("run_1" -> r1, "run_2" -> r2))
    // dump(load(x)) == x — the byte-stability every SpecStore type pins
    assert(SpecJson.dumpRuns(loaded)
      == new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8))
    // an existing id upserts in place (CPython dict semantics)
    SpecStore.appendRun(p, r1.copy(errorCount = 9L))
    val again = SpecStore.loadRuns(p)
    assert(again.keysIterator.toSeq == Seq("run_1", "run_2"))
    assert(again("run_1").errorCount == 9L)
  }

  test("template CRUD round-trips through the mapping codec and instantiates") {
    val p = Files.createTempFile("templates", ".json").toString
    val t = ETLMapping(id = "std_etl", name = "Standard ETL",
      sourceId = "", destinationId = "",
      fieldMappings = Seq(
        FieldMapping("n", Some("name"), "direct", VectorMap.empty),
        FieldMapping("c", None, "constant", VectorMap("value" -> 1L))),
      filterRules = Seq(FilterRule("status", "equals", value = Some("dead"))))
    SpecStore.upsertTemplate(p, t)
    val back = SpecStore.loadTemplates(p)("std_etl")
    assert(back.fieldMappings == t.fieldMappings &&
      back.filterRules.map(_.operator) == Seq("equals"))
    // instantiate-with-rename: identity/bindings change, shape carries over
    val m = Templates.instantiate(back, "etl_a", "ETL for A", "src_a", "dst_a")
    assert(m.id == "etl_a" && m.name == "ETL for A" &&
      m.sourceId == "src_a" && m.destinationId == "dst_a" &&
      m.fieldMappings == t.fieldMappings)
    assert(SpecStore.deleteTemplate(p, "std_etl"))
    assert(!SpecStore.deleteTemplate(p, "std_etl"))
  }
}
