package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.spec._
import graft.engine.{CsvSource, Pipeline, PipelineResult, Runner}

/** c17 — declarative multi-step mapping chains (reference ROADMAP.md:53).
  * The load-bearing pin: a chain executed as ONE composed plan is
  * byte-identical to running each mapping through Runner.convert and
  * re-reading the intermediate CSV, and a mid-chain fail_on_error gate
  * quarantines exactly the reference's way (nothing written, later stages
  * never run). */
class PipelineChainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def write(dir: java.nio.file.Path, name: String, text: String): String = {
    val f = dir.resolve(name); Files.writeString(f, text); f.toString
  }

  private val m1Json = """{
    "id": "m1", "name": "m1", "source_id": "s", "destination_id": "mid",
    "field_mappings": [
      {"destination_field": "city", "source_field": "town",
       "transform_type": "direct", "transform_config": {}},
      {"destination_field": "amt", "source_field": "amount",
       "transform_type": "direct", "transform_config": {}},
      {"destination_field": "day", "source_field": "when",
       "transform_type": "date_format",
       "transform_config": {"input_format": "%Y-%m-%dT%H:%M:%S",
                            "output_format": "%Y-%m-%d"}}
    ],
    "filter_rules": [{"field": "town", "operator": "equals", "value": "skipme"}]
  }"""

  private val m2Json = """{
    "id": "m2", "name": "m2", "source_id": "mid", "destination_id": "out",
    "field_mappings": [
      {"destination_field": "place", "source_field": "city",
       "transform_type": "prefix", "transform_config": {"value": "in:"}},
      {"destination_field": "double_amt", "source_field": "amt",
       "transform_type": "formula", "transform_config": {"expression": "amt * 2"}},
      {"destination_field": "day", "source_field": "day",
       "transform_type": "direct", "transform_config": {}}
    ],
    "filter_rules": [{"field": "city", "operator": "equals", "value": "dropme"}]
  }"""

  private def mappings: Map[String, ETLMapping] = Map(
    "m1" -> SpecStore.parseMapping(m1Json), "m2" -> SpecStore.parseMapping(m2Json))

  test("c17: chain == sequential single-mapping runs, byte-for-byte") {
    val dir = Files.createTempDirectory("chain")
    val in = write(dir, "in.csv",
      "town,amount,when\n" +
      "a,10.5,2024-01-02T03:04:05\n" +
      "dropme,7,2024-01-02T03:04:05\n" +   // survives m1, dropped by m2
      "b,3,2024-05-06T07:08:09\n" +
      "skipme,9,2024-01-02T03:04:05\n")
    val ms = mappings

    // sequential: convert m1 -> read intermediate -> convert m2
    val mid = dir.resolve("mid.csv").toString
    val df1 = CsvSource.readWithLineNumbers(spark, in, FileSpec("t", "t"))
    val r1 = Runner.convert(df1, ms("m1"), mid, failOnError = true)
    assert(r1.written && r1.errorCount == 0)
    val out1 = dir.resolve("seq_out.csv").toString
    val df2 = CsvSource.readWithLineNumbers(spark, mid, FileSpec("t", "t"))
    val r2 = Runner.convert(df2, ms("m2"), out1, failOnError = true)
    assert(r2.written)

    // chain: one composed run
    val out2 = dir.resolve("chain_out.csv").toString
    val p = SpecStore.parsePipeline("""{
      "id": "p", "name": "p",
      "steps": [{"mapping_id": "m1", "fail_on_error": true},
                {"mapping_id": "m2", "fail_on_error": false}]}""")
    val res = Pipeline.runSpec(
      CsvSource.readWithLineNumbers(spark, in, FileSpec("t", "t")), p, ms, out2)

    assert(res.written && res.gatedStage.isEmpty)
    assert(Files.readString(Paths.get(out2)) == Files.readString(Paths.get(out1)),
      s"chain output diverged:\n${Files.readString(Paths.get(out2))}\nvs\n${Files.readString(Paths.get(out1))}")
    // stage counters match the sequential TransformResults
    assert(res.stages.map(s => (s.ran, s.successCount, s.skippedCount, s.errorCount)) ==
      Seq((true, r1.successCount, r1.skippedCount, r1.errorCount),
          (true, r2.successCount, r2.skippedCount, r2.errorCount)),
      res.stages.toString)
  }

  test("c17: a mid-chain fail_on_error gate quarantines — nothing written, later stages never run") {
    val dir = Files.createTempDirectory("chain_gate")
    val in = write(dir, "in.csv",
      "town,amount,when\n" +
      "a,10.5,notadate\n" +   // date_format error in m1
      "b,3,2024-05-06T07:08:09\n")
    val ms = mappings
    val out = dir.resolve("out.csv").toString
    val res = Pipeline.run(
      CsvSource.readWithLineNumbers(spark, in, FileSpec("t", "t")),
      Seq((ms("m1"), true), (ms("m2"), true)), out)
    assert(!res.written && res.gatedStage.contains(0))
    assert(!Files.exists(Paths.get(out)), "gate tripped but output exists")
    assert(res.stages(0).ran && res.stages(0).errorCount == 1)
    assert(!res.stages(1).ran)
    // the sequential twin behaves identically: m1 refuses to write
    val seq = Runner.convert(
      CsvSource.readWithLineNumbers(spark, in, FileSpec("t", "t")),
      ms("m1"), dir.resolve("seq.csv").toString, failOnError = true)
    assert(!seq.written && seq.errorCount == res.stages(0).errorCount)
  }

  /** Runs m1 (gated) then m2 (ungated) over `rows`, counting the chain's
    * Spark jobs; the input is read before counting starts. */
  private def countedChain(name: String, rows: String): (PipelineResult, Int, String) = {
    val dir = Files.createTempDirectory(name)
    val in = write(dir, "in.csv", "town,amount,when\n" + rows)
    val df = CsvSource.readWithLineNumbers(spark, in, FileSpec("t", "t"))
    val out = dir.resolve("out.csv").toString
    val ms = mappings
    var res: PipelineResult = null
    val ran = SparkJobs.during(spark) {
      res = Pipeline.run(df, Seq((ms("m1"), true), (ms("m2"), false)), out)
    }
    (res, ran.jobs, out)
  }

  test("c17: a chain whose fail_on_error gate passes is one Spark job") {
    val (res, jobs, out) = countedChain("chain_jobs_pass",
      "a,10.5,2024-01-02T03:04:05\nb,3,2024-05-06T07:08:09\n")
    assert(res.written && res.gatedStage.isEmpty && Files.exists(Paths.get(out)))
    assert(jobs == 1, s"the chain ran $jobs Spark jobs")
  }

  test("c17: a chain whose gate trips is one Spark job and leaves no file") {
    val (res, jobs, out) = countedChain("chain_jobs_trip",
      "a,10.5,notadate\nb,3,2024-05-06T07:08:09\n")
    assert(!res.written && res.gatedStage.contains(0) && !res.stages(1).ran)
    assert(jobs == 1, s"the chain ran $jobs Spark jobs")
    val left = Seq("", ".__tmp__", ".__staging__").map(s => Paths.get(out + s)).filter(Files.exists(_))
    assert(left.isEmpty, s"left behind: $left")
  }

  test("c17: fail_on_error=false lets an erroring stage flow through, like the reference") {
    val dir = Files.createTempDirectory("chain_lenient")
    val in = write(dir, "in.csv",
      "town,amount,when\n" +
      "a,10.5,notadate\n" +
      "b,3,2024-05-06T07:08:09\n")
    val ms = mappings
    // sequential with failOnError=false writes despite the error
    val mid = dir.resolve("mid.csv").toString
    val r1 = Runner.convert(CsvSource.readWithLineNumbers(spark, in, FileSpec("t", "t")),
      ms("m1"), mid, failOnError = false)
    assert(r1.written && r1.errorCount == 1)
    val seqOut = dir.resolve("seq.csv").toString
    Runner.convert(CsvSource.readWithLineNumbers(spark, mid, FileSpec("t", "t")),
      ms("m2"), seqOut, failOnError = false)
    val chainOut = dir.resolve("chain.csv").toString
    val res = Pipeline.run(
      CsvSource.readWithLineNumbers(spark, in, FileSpec("t", "t")),
      Seq((ms("m1"), false), (ms("m2"), false)), chainOut)
    assert(res.written && res.stages.forall(_.ran))
    assert(res.stages(0).errorCount == 1)
    assert(Files.readString(Paths.get(chainOut)) == Files.readString(Paths.get(seqOut)))
  }

  test("c17: an aggregate mapping chains as the final step") {
    val dir = Files.createTempDirectory("chain_agg")
    val in = write(dir, "in.csv",
      "town,amount,when\n" +
      "a,10.5,2024-01-02T03:04:05\n" +
      "a,4.5,2024-01-02T03:04:05\n" +
      "b,3,2024-05-06T07:08:09\n")
    val agg = SpecStore.parseMapping("""{
      "id": "agg", "name": "agg", "source_id": "mid", "destination_id": "out",
      "field_mappings": [
        {"destination_field": "city", "source_field": "city",
         "transform_type": "direct", "transform_config": {}},
        {"destination_field": "total", "source_field": "amt",
         "transform_type": "aggregate",
         "transform_config": {"group_by": ["city"], "agg": "sum"}}
      ], "filter_rules": []}""")
    val ms = mappings
    // sequential: m1 then the aggregate convert
    val mid = dir.resolve("mid.csv").toString
    Runner.convert(CsvSource.readWithLineNumbers(spark, in, FileSpec("t", "t")),
      ms("m1"), mid)
    val seqOut = dir.resolve("seq.csv").toString
    Runner.convert(CsvSource.readWithLineNumbers(spark, mid, FileSpec("t", "t")),
      agg, seqOut)
    val chainOut = dir.resolve("chain.csv").toString
    val res = Pipeline.run(
      CsvSource.readWithLineNumbers(spark, in, FileSpec("t", "t")),
      Seq((ms("m1"), true), (agg, false)), chainOut)
    assert(res.written)
    assert(Files.readString(Paths.get(chainOut)) == Files.readString(Paths.get(seqOut)))
  }

  test("c17: pipelines.json round-trips through the store like the other spec types") {
    val dir = Files.createTempDirectory("pipestore")
    val path = dir.resolve("pipelines.json").toString
    val p = PipelineSpec("p1", "chain one", "desc",
      Seq(PipelineStep("m1"), PipelineStep("m2", failOnError = false)))
    SpecStore.upsertPipeline(path, p)
    val loaded = SpecStore.loadPipelines(path)
    assert(loaded == Map("p1" -> p))
    // byte round-trip (json.dump indent=2 convention)
    val text = Files.readString(Paths.get(path))
    SpecStore.savePipelines(path, loaded)
    assert(Files.readString(Paths.get(path)) == text)
    // upsert keeps position, delete reports absence correctly
    SpecStore.upsertPipeline(path, p.copy(name = "renamed"))
    assert(SpecStore.loadPipelines(path)("p1").name == "renamed")
    assert(SpecStore.deletePipeline(path, "p1"))
    assert(!SpecStore.deletePipeline(path, "p1"))
  }

  test("c17: unknown mapping_id fails loudly") {
    val p = SpecStore.parsePipeline(
      """{"id": "p", "name": "p", "steps": [{"mapping_id": "nope"}]}""")
    val df = spark.range(1).toDF("x")
    intercept[IllegalArgumentException](Pipeline.runSpec(df, p, mappings, "/tmp/x.csv"))
  }
}
