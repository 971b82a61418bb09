package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 FileSpec connector (sources/SpecCsvTable): plan pins
  * (PushedFilters + pruned ReadSchema on the custom scan), partition
  * reporting from the glob, reference skip semantics, and equality with
  * the engine's CsvSource + FilterCompiler path. */
class SpecSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val feedDir: String = {
    val dir = Scratch.dir("specsrc").toString
    Seq(
      ("1", "F", "10.25", "keep"),
      ("7", "O", "20.50", "quoted \"x\",y"),
      ("17", "P", "30.75", "skipped by rule"),
      ("27", "F", "40.00", "multi\nline"),
      ("8", "O", "50.00", "no seven")
    ).toDF("o_orderkey", "o_orderstatus", "o_totalprice", "note")
      .repartition(2, $"o_orderkey")
      // escape=" writes RFC-4180 doubled quotes — what Python's csv module
      // (the reference) and the connector's record parser speak
      .write.mode("overwrite").option("header", true)
      .option("escape", "\"").csv(dir)
    dir
  }

  private def load() = spark.read.format("graft.sources.SpecCsvTable")
    .option("spec", graft.spec.SpecJson.dumps(graft.spec.SpecJson.fileSpecDict(
      graft.spec.FileSpec(id = "t", name = "t", columns = Seq(
        graft.spec.ColumnSpec("o_orderkey"), graft.spec.ColumnSpec("o_orderstatus"),
        graft.spec.ColumnSpec("o_totalprice"), graft.spec.ColumnSpec("note"))))))
    .option("mapping", graft.spec.SpecJson.dumps(graft.spec.SpecJson.etlMappingDict(
      graft.spec.ETLMapping(id = "m", name = "m", sourceId = "t",
        destinationId = "n", filterRules = Seq(graft.spec.FilterRule(
          field = "o_orderstatus", operator = "equals", value = Some("P")))))))
    .option("path", s"$feedDir/*.csv")
    .load()

  test("k22: skip rule + pushed filter + pruning produce the right rows") {
    val got = load()
      .filter($"o_orderkey".contains("7"))
      .select($"o_orderkey", $"note")
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    // 17 is P (skip rule), 1/8 lack a '7'; 7 and 27 survive with their
    // quoted/embedded-newline notes intact
    assert(got == Seq(("27", "multi\nline"), ("7", "quoted \"x\",y")), got.toString)
  }

  test("k22: plan shows PushedFilters and the pruned ReadSchema on the custom scan") {
    val df = load().filter($"o_orderkey".contains("7")).select($"o_orderstatus")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches(
      "(?s).*PushedFilters: \\[[^\\]]*StringContains\\(o_orderkey,7\\).*"),
      s"filter not pushed to the spec scan:\n$plan")
    // the filter is FULLY consumed by the source: no Filter node survives,
    // and with it gone even o_orderkey drops out of the required columns
    assert(!plan.contains("+- *(1) Filter"), s"Spark re-filtered:\n$plan")
    assert(plan.matches("(?s).*ReadSchema: \\[o_orderstatus\\].*"),
      s"columns not pruned to the required set:\n$plan")
    assert(!plan.contains("note"), s"pruning leaked unused columns:\n$plan")
  }

  test("k22: partitions are reported from the glob (one per CSV file)") {
    val n = load().rdd.getNumPartitions
    assert(n == 2, s"expected one partition per part file, got $n")
  }

  test("k22: source_name maps header columns to spec names; EOF without newline") {
    val dir = Scratch.dir("specsrcmap")
    // header uses the EXTERNAL names; the spec renames via source_name
    // (models.py ColumnSpec.source_name); last record has no trailing \n
    java.nio.file.Files.writeString(dir.resolve("f.csv"),
      "Order Id,Status Code\n10,F\n11,O")
    val spec = graft.spec.FileSpec(id = "m", name = "m", columns = Seq(
      graft.spec.ColumnSpec("order_id", sourceName = Some("Order Id")),
      graft.spec.ColumnSpec("status", sourceName = Some("Status Code"))))
    val got = spark.read.format("graft.sources.SpecCsvTable")
      .option("spec", graft.spec.SpecJson.dumps(
        graft.spec.SpecJson.fileSpecDict(spec)))
      .option("path", s"$dir/*.csv").load()
    assert(got.columns.toSeq == Seq("order_id", "status"))
    val rows = got.collect().map(r => (r.getString(0), r.getString(1)))
      .sortBy(_._1).toSeq
    assert(rows == Seq(("10", "F"), ("11", "O")), rows.toString)
    // filters pushed against the SPEC name still hit the mapped column
    val f = got.filter(col("status") === "F").collect()
    assert(f.length == 1 && f.head.getString(0) == "10")
  }

  test("e35: streaming offsets resume from the checkpoint; one file per trigger") {
    import org.apache.spark.sql.streaming.Trigger
    val work = Scratch.dir("specstream")
    val feed = work.resolve("feed")
    java.nio.file.Files.createDirectories(feed)
    def addFile(name: String, rows: Seq[(String, String)]): Unit =
      java.nio.file.Files.writeString(feed.resolve(name),
        "k,v\n" + rows.map { case (a, b) => s"$a,$b" }.mkString("\n") + "\n")
    addFile("a.csv", Seq(("1", "x"), ("2", "y")))
    addFile("b.csv", Seq(("3", "z")))
    val specJson = graft.spec.SpecJson.dumps(graft.spec.SpecJson.fileSpecDict(
      graft.spec.FileSpec(id = "s", name = "s", columns =
        Seq(graft.spec.ColumnSpec("k"), graft.spec.ColumnSpec("v")))))
    val ckpt = work.resolve("ckpt").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.SpecCsvTable")
        .option("spec", specJson).option("path", s"$feed/*.csv").load()
        .writeStream.outputMode("append").option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          seen.add((id, b.count())); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val first = seen.toArray(Array.empty[(Long, Long)]).toSeq.sortBy(_._1)
    // admission control: one file per trigger → 2 batches of 2 and 1 rows
    assert(first.map(_._2) == Seq(2L, 1L),
      s"expected one file per batch, got $first")
    seen.clear()
    addFile("c.csv", Seq(("4", "w"), ("5", "u"), ("6", "t")))
    drain()
    val second = seen.toArray(Array.empty[(Long, Long)]).toSeq.sortBy(_._1)
    // restart resumed from the checkpointed file count: ONLY c.csv batches
    assert(second.map(_._2) == Seq(3L),
      s"restart did not resume from the checkpoint: $second")
  }

  test("e35: a late file that sorts BEFORE consumed files is still read exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val work = Scratch.dir("specstream_late")
    val feed = work.resolve("feed")
    java.nio.file.Files.createDirectories(feed)
    def addFile(name: String, rows: Seq[(String, String)]): Unit =
      java.nio.file.Files.writeString(feed.resolve(name),
        "k,v\n" + rows.map { case (a, b) => s"$a,$b" }.mkString("\n") + "\n")
    // consume m.csv and z.csv first; then a.csv arrives, sorting before both
    addFile("m.csv", Seq(("1", "x")))
    addFile("z.csv", Seq(("2", "y")))
    val specJson = graft.spec.SpecJson.dumps(graft.spec.SpecJson.fileSpecDict(
      graft.spec.FileSpec(id = "s", name = "s", columns =
        Seq(graft.spec.ColumnSpec("k"), graft.spec.ColumnSpec("v")))))
    val ckpt = work.resolve("ckpt").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.SpecCsvTable")
        .option("spec", specJson).option("path", s"$feed/*.csv").load()
        .writeStream.outputMode("append").option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add(r.getString(0))); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(seen.toArray.toSeq.map(_.toString).sorted == Seq("1", "2"))
    seen.clear()
    addFile("a.csv", Seq(("3", "w")))
    drain()
    // with a count offset this delivered m.csv again and never read a.csv;
    // the consumed-set offset delivers exactly the new file
    val second = seen.toArray.toSeq.map(_.toString).sorted
    assert(second == Seq("3"), s"late-sorting file mishandled: $second")
  }

  test("k22/e35: hidden and in-progress files are never read as data") {
    val dir = Scratch.dir("specsrc_hidden")
    java.nio.file.Files.writeString(dir.resolve("good.csv"), "k,v\n1,x\n")
    java.nio.file.Files.writeString(
      dir.resolve(".part-00000-7.csv.inprogress"), "k,v\n9,poison\n")
    java.nio.file.Files.writeString(dir.resolve("_meta.csv"), "k,v\n8,meta\n")
    val specJson = graft.spec.SpecJson.dumps(graft.spec.SpecJson.fileSpecDict(
      graft.spec.FileSpec(id = "h", name = "h", columns =
        Seq(graft.spec.ColumnSpec("k"), graft.spec.ColumnSpec("v")))))
    // directory listing form AND glob form both exclude hidden names
    val viaDir = spark.read.format("graft.sources.SpecCsvTable")
      .option("spec", specJson).option("path", dir.toString).load().collect()
    assert(viaDir.map(_.getString(0)).toSeq == Seq("1"), viaDir.toSeq.toString)
    val viaGlob = spark.read.format("graft.sources.SpecCsvTable")
      .option("spec", specJson).option("path", s"$dir/*").load().collect()
    assert(viaGlob.map(_.getString(0)).toSeq == Seq("1"), viaGlob.toSeq.toString)
  }

  test("k22: multi-char delimiter specs are rejected up front") {
    val specJson = graft.spec.SpecJson.dumps(graft.spec.SpecJson.fileSpecDict(
      graft.spec.FileSpec(id = "bad", name = "bad", delimiter = "||",
        columns = Seq(graft.spec.ColumnSpec("k")))))
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.SpecCsvTable")
        .option("spec", specJson).option("path", "/nonexistent").load()
    }
    assert(e.getMessage.contains("delimiter"), e.getMessage)
  }

  test("k30: V2 writer round-trips quoting; spec orders columns; overwrite truncates") {
    val out = Scratch.dir("specsink").toString
    val specJson = graft.spec.SpecJson.dumps(graft.spec.SpecJson.fileSpecDict(
      graft.spec.FileSpec(id = "w", name = "w", columns = Seq(
        graft.spec.ColumnSpec("k"), graft.spec.ColumnSpec("v"),
        graft.spec.ColumnSpec("missing")))))
    // input column order (v, k) differs from the spec's (k, v, missing);
    // values carry the full quoting gauntlet; `missing` isn't in the input
    val df = Seq(("embedded \"q\",comma", "1"), ("multi\nline", "2"))
      .toDF("v", "k").coalesce(1)
    df.write.format("graft.sources.SpecCsvTable")
      .option("spec", specJson).option("path", out).mode("append").save()
    val back = spark.read.format("graft.sources.SpecCsvTable")
      .option("spec", specJson).option("path", s"$out/*.csv").load()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(back == Seq(
      ("1", "embedded \"q\",comma", ""), ("2", "multi\nline", "")), back.toString)
    // header is the SPEC's order, and files carry RFC doubled quotes
    val f = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv")).head
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    assert(text.startsWith("k,v,missing\n"), text.take(40))
    assert(text.contains("\"embedded \"\"q\"\",comma\""), text)
    // overwrite truncates: one row replaces both
    Seq(("9", "z")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.SpecCsvTable")
      .option("spec", specJson).option("path", out).mode("overwrite").save()
    val after = spark.read.format("graft.sources.SpecCsvTable")
      .option("spec", specJson).option("path", s"$out/*.csv").load().collect()
    assert(after.length == 1 && after.head.getString(0) == "9", after.toSeq.toString)
    // no in-progress partials survive, and no side files: only the parts
    val left = new java.io.File(out).listFiles().map(_.getName).toSeq
    assert(left.forall(n => n.startsWith("part-") && n.endsWith(".csv")), left.toString)
    // a path with a URI scheme is refused, naming it, not written as a
    // relative local directory
    val remote = "hdfs://namenode/specsink"
    val e = intercept[IllegalArgumentException](Seq(("9", "z")).toDF("k", "v")
      .write.format("graft.sources.SpecCsvTable")
      .option("spec", specJson).option("path", remote).mode("overwrite").save())
    assert(e.getMessage.contains(remote), e.getMessage)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get("hdfs:")))
  }

  test("k22: connector equals the engine's CsvSource + FilterCompiler path") {
    // plain fixture: CsvSource.read is the splittable fast path (Spark CSV,
    // no embedded newlines by contract) — quoting/newline handling is
    // pinned by the first test against the connector's own parser
    val dir = Scratch.dir("specsrc_plain").toString
    Tables(spark, TestSpark.sf).orders
      .select($"o_orderkey".cast("string"), $"o_orderstatus",
              $"o_totalprice".cast("string"))
      .repartition(3)
      .write.mode("overwrite").option("header", true).csv(dir)
    val spec = graft.spec.FileSpec(id = "t", name = "t", columns = Seq(
      graft.spec.ColumnSpec("o_orderkey"), graft.spec.ColumnSpec("o_orderstatus"),
      graft.spec.ColumnSpec("o_totalprice")))
    val rules = Seq(graft.spec.FilterRule(
      field = "o_orderstatus", operator = "equals", value = Some("P")))
    val twin = graft.engine.CsvSource.read(spark, s"$dir/*.csv", spec)
      .filter(graft.compile.FilterCompiler.keepPredicate(rules,
        Set("o_orderkey", "o_orderstatus", "o_totalprice")))
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    val got = spark.read.format("graft.sources.SpecCsvTable")
      .option("spec", graft.spec.SpecJson.dumps(
        graft.spec.SpecJson.fileSpecDict(spec)))
      .option("mapping", graft.spec.SpecJson.dumps(
        graft.spec.SpecJson.etlMappingDict(graft.spec.ETLMapping(
          id = "m", name = "m", sourceId = "t", destinationId = "n",
          filterRules = rules))))
      .option("path", s"$dir/*.csv")
      .load()
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(got == twin && got.nonEmpty,
      s"connector diverged from the engine path (sizes ${got.size}/${twin.size})")
  }

  private def specJsonOf(names: String*): String =
    graft.spec.SpecJson.dumps(graft.spec.SpecJson.fileSpecDict(graft.spec.FileSpec(
      id = "q", name = "q", columns = names.map(graft.spec.ColumnSpec(_)))))

  test("k22: quotes inside unquoted fields read as the csv module reads them") {
    val dir = Scratch.dir("specsrc_midquote")
    // Python's csv.reader: a quote opens a quoted field only at field start
    java.nio.file.Files.writeString(dir.resolve("f.csv"),
      "k,v\n1,say \"hi\"\n2,a\"\"b\n3,\"a\"b\n")
    val got = spark.read.format("graft.sources.SpecCsvTable")
      .option("spec", specJsonOf("k", "v")).option("path", s"$dir/*.csv").load()
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq(("1", "say \"hi\""), ("2", "a\"\"b"), ("3", "ab")), got.toString)
  }

  test("k30: a one-column empty value round-trips through the sink") {
    val out = Scratch.dir("specsink_lone").toString
    // csv.writer writes a lone empty field as `""`: a bare blank line would
    // be skipped by the next reader and the row lost
    Seq("a", "", null).toDF("k").coalesce(1)
      .write.format("graft.sources.SpecCsvTable")
      .option("spec", specJsonOf("k")).option("path", out).mode("overwrite").save()
    val f = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv")).head
    assert(java.nio.file.Files.readString(f.toPath) == "k\na\n\"\"\n\"\"\n")
    val back = spark.read.format("graft.sources.SpecCsvTable")
      .option("spec", specJsonOf("k")).option("path", s"$out/*.csv").load()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(back == Seq("", "", "a"), back.toString)
  }

  test("k22: the connector's skip rules agree with FilterCompiler on every operator") {
    import graft.compile.FilterCompiler
    import graft.sources.SpecCsvTable
    import graft.spec.FilterRule
    // every operator (plus an unknown one) x value x values x field over a
    // present value, "", "None" and a missing cell; a rule on a field the
    // source lacks sees None on the connector and null in FilterCompiler
    val cells = Seq(Some("x"), Some(""), Some("None"), None)
    val ops = Seq("equals", "not_equals", "in", "not_in", "is_empty",
      "is_not_empty", "contains", "no_such_operator")
    val values = Seq(Some("x"), Some(""), Some("None"), Some("o"), None)
    val lists = Seq(Nil, Seq("x"), Seq(""), Seq("None"), Seq("x", "", "None"))
    val rules = for (op <- ops; v <- values; vs <- lists; field <- Seq("f", "absent"))
      yield FilterRule(field, op, v, vs)
    val rows = cells.zipWithIndex.map { case (c, i) => (i, c.orNull) }.toDF("i", "f")
      .select(col("i") +: rules.map(FilterCompiler.rulePredicate(_, Set("i", "f"))): _*)
      .collect().sortBy(_.getInt(0))
    assert(rows.length == cells.length)
    for ((row, cell) <- rows.zip(cells); (r, j) <- rules.zipWithIndex) {
      val want = SpecCsvTable.ruleMatches(r, if (r.field == "f") cell else None)
      assert(row.get(j + 1) == want, s"$r on $cell")
    }
  }
}
