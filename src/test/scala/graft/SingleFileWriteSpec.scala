package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.CacheEntries
import org.scalatest.funsuite.AnyFunSuite
import graft.builtin.Revolut
import graft.engine.{Api, CsvSource, PyFormat, Pipeline, Runner}
import graft.spec.{FileSpec, SpecStore}

/** The one gated single-file write: parts written in parallel, joined in
  * partition order behind one header, published by an atomic rename only
  * when the gate passes — and nothing cached along the way. */
class SingleFileWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val res = "src/test/resources"

  private def mapping(name: String) = SpecStore.parseMapping(
    Files.readString(Paths.get(s"$res/golden/$name.mapping.json")))

  private def read(path: String): DataFrame =
    CsvSource.readWithLineNumbers(spark, path, FileSpec("t", "t"))

  private def tmpFile(name: String): Path =
    Files.createTempDirectory("single").resolve(name)

  /** Runs `body` with input splits of `bytes` bytes, restoring the setting. */
  private def withSplitBytes[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private val aggMapping = SpecStore.parseMapping("""{
    "id": "agg", "name": "agg", "source_id": "s", "destination_id": "d",
    "field_mappings": [
      {"destination_field": "city", "source_field": "town",
       "transform_type": "direct", "transform_config": {}},
      {"destination_field": "total", "source_field": "amount",
       "transform_type": "aggregate",
       "transform_config": {"group_by": ["city"], "agg": "sum"}},
      {"destination_field": "mean", "source_field": "amount",
       "transform_type": "aggregate",
       "transform_config": {"group_by": ["city"], "agg": "avg"}},
      {"destination_field": "n", "source_field": "amount",
       "transform_type": "aggregate",
       "transform_config": {"group_by": ["city"], "agg": "count"}}
    ],
    "filter_rules": [{"field": "town", "operator": "equals", "value": "skipme"}]
  }""")

  /** 12 cities × 5 rows (amount = city + row) plus skipped rows, shuffled
    * so every input split holds several cities. */
  private def aggFixture(): (String, String) = {
    val cities = (1 to 12).map(c => f"c$c%02d")
    val rows = for (c <- 1 to 12; r <- 1 to 5) yield s"${cities(c - 1)},${c * 10 + r}"
    val lines = new scala.util.Random(7).shuffle(rows ++ Seq("skipme,1", "skipme,2"))
    val f = tmpFile("agg.csv")
    Files.writeString(f, ("town,amount" +: lines).mkString("", "\n", "\n"))
    val expected = cities.zipWithIndex.map { case (city, i) =>
      val amounts = (1 to 5).map(r => (i + 1) * 10 + r)
      s"$city,${PyFormat.money8(amounts.sum.toDouble)}," +
        s"${PyFormat.money8(amounts.sum.toDouble / 5)},5"
    }
    (f.toString, ("city,total,mean,n" +: expected).mkString("", "\n", "\n"))
  }

  test("split input: parts join in order to the one-split bytes and the golden") {
    val (aggIn, aggGold) = aggFixture()
    val cases = Seq(
      ("kitchen", s"$res/fixtures/kitchen.csv", mapping("kitchen"),
        Some(Files.readString(Paths.get(s"$res/golden/kitchen.out.csv")))),
      ("filters", s"$res/fixtures/filters.csv", mapping("filters"),
        Some(Files.readString(Paths.get(s"$res/golden/filters.out.csv")))),
      ("aggregate", aggIn, aggMapping, Some(aggGold)))
    for ((name, in, m, gold) <- cases) {
      def run(): (String, Long) = {
        val out = tmpFile(s"$name.csv")
        val df = read(in)
        val r = Runner.convert(df, m, out.toString, failOnError = false)
        val v = Runner.validate(df, m)
        assert(r.written, s"$name: not written")
        assert((r.successCount, r.skippedCount, r.errorCount, r.errors) ==
               (v.successCount, v.skippedCount, v.errorCount, v.errors), s"$name: counts")
        (Files.readString(out), df.rdd.getNumPartitions.toLong)
      }
      val (whole, _) = run()
      val (split, parts) = withSplitBytes(64)(run())
      assert(parts >= 4, s"$name: input split into only $parts partitions")
      assert(split == whole, s"$name: split-input output differs")
      gold.foreach(g => assert(whole.replace("\r\n", "\n") == g.replace("\r\n", "\n"),
        s"$name: output differs from the golden"))
    }
  }

  test("a gated convert leaves no output or temp file; an existing one untouched") {
    val m = mapping("kitchen_gate")
    val in = s"$res/fixtures/kitchen_gate.csv"
    def leftovers(out: Path) =
      Seq(".__staging__", ".__tmp__").map(s => Paths.get(out.toString + s)).filter(Files.exists(_))

    val fresh = tmpFile("gated.csv")
    val r = Runner.convert(read(in), m, fresh.toString, failOnError = true)
    val v = Runner.validate(read(in), m)
    assert(!r.written && r.errorCount > 0)
    assert((r.successCount, r.skippedCount, r.errorCount, r.errors) ==
           (v.successCount, v.skippedCount, v.errorCount, v.errors))
    assert(!Files.exists(fresh) && leftovers(fresh).isEmpty)

    val existing = tmpFile("existing.csv")
    Files.writeString(existing, "earlier,output\n1,2\n")
    assert(!Runner.convert(read(in), m, existing.toString, failOnError = true).written)
    assert(Files.readString(existing) == "earlier,output\n1,2\n")
    assert(leftovers(existing).isEmpty)
  }

  test("no rows, or only skipped ones: nothing published, counts equal validate's") {
    // an aggregate whose rows are all filtered out comes out of its shuffle
    // empty, and AQE drops that stage together with the metrics observed in it
    for (rows <- Seq("", "skipme,1\nskipme,2\n"); m <- Seq(mapping("filters"), aggMapping)) {
      val in = tmpFile("in.csv")
      Files.writeString(in, "town,amount\n" + rows)
      val out = tmpFile("none.csv")
      val r = Runner.convert(read(in.toString), m, out.toString, failOnError = false)
      val v = Runner.validate(read(in.toString), m)
      assert(!r.written && !Files.exists(out))
      assert((r.successCount, r.skippedCount, r.errorCount) ==
             (v.successCount, v.skippedCount, v.errorCount))
      assert(r.skippedCount == rows.count(_ == '\n'))
    }
  }

  test("a 0-row writeGhostfolio writes exactly the header") {
    val raw = CsvSource.read(spark, s"$res/fixtures/stocks_hardcoded.csv", FileSpec("t", "t"))
    val out = tmpFile("empty.csv")
    val n = Revolut.writeGhostfolio(Revolut.stocksPlan(raw).limit(0), out.toString)
    assert(n == 0)
    assert(Files.readString(out) ==
      "date,symbol,type,quantity,unitPrice,fee,currency,account,dataSource\n")
  }

  test("Api.convert, Pipeline.run and writeGhostfolio leave nothing cached") {
    // compared with the counts before, as other suites may leave entries
    val entries = CacheEntries(spark)
    val rdds = spark.sparkContext.getPersistentRDDs.keySet

    Api.convert(spark, s"$res/fixtures/kitchen.csv", FileSpec("k", "k"),
      mapping("kitchen"), tmpFile("api.csv").toString, failOnError = false)
    Api.convert(spark, s"$res/fixtures/kitchen_gate.csv", FileSpec("k", "k"),
      mapping("kitchen_gate"), tmpFile("api_gated.csv").toString)
    // an ungated stage, then a gate that passes or trips; the ungated
    // stage's observed counts arrive either way
    def step(transform: String, config: String) = SpecStore.parseMapping(s"""{
      "id": "$transform", "name": "s", "source_id": "a", "destination_id": "b",
      "field_mappings": [{"destination_field": "m", "source_field": "n",
        "transform_type": "$transform", "transform_config": $config}],
      "filter_rules": []}""")
    val dates = """{"input_format": "%Y-%m-%d", "output_format": "%d"}"""
    for ((gate, written) <- Seq(step("direct", "{}") -> true, step("date_format", dates) -> false)) {
      val chain = Pipeline.run(read(s"$res/fixtures/filters.csv"),
        Seq(mapping("filters") -> false, gate -> true), tmpFile("chain.csv").toString)
      assert(chain.written == written && chain.gatedStage.isDefined != written)
      assert(chain.stages.map(s => (s.ran, s.successCount, s.skippedCount)) ==
        Seq((true, 5L, 1L), (true, if (written) 5L else 0L, 0L)))
    }
    val raw = CsvSource.read(spark, s"$res/fixtures/stocks_hardcoded.csv", FileSpec("t", "t"))
    Revolut.writeGhostfolio(Revolut.stocksPlan(raw), tmpFile("gf.csv").toString)

    assert(CacheEntries(spark) == entries, "a cached frame outlived its call")
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds, "a persisted RDD outlived its call")
  }
}
