package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat_ws, date_format}
import graft.compile.TransformCompiler
import graft.engine.{Api, CsvSink, CsvSource, Runner}
import graft.spec.{ColumnSpec, ETLMapping, FieldMapping, FileSpec, FilterRule}

/** What the generator knows about the staged file. `planted` maps a defect's
  * file line number to the destination field whose transform must fail. */
final case class Staged(rows: Long, skipped: Long, planted: Map[Long, String]) {
  def kept: Long = rows - skipped
}

/** The staged lineitem input and the mapping both ETL workloads run. */
object Lineitem {
  val Columns = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
  val SkippedQuantities = Seq("1.0", "2.0")
  /** Planted defects per 1,000 kept rows; kept rows are ~65% of the file,
    * so about 2% of all rows carry one. */
  val PlantPerMille = 31

  val spec: FileSpec = FileSpec(id = "lineitem_csv", name = "lineitem (staged CSV)",
    columns = Columns.map(ColumnSpec(_)))

  /** All eight transform types; rows are skipped by two OR'd rules. */
  val mapping: ETLMapping = ETLMapping(
    id = "lineitem_export", name = "lineitem export", sourceId = spec.id, destinationId = "out",
    fieldMappings = Seq(
      FieldMapping("order_id", Some("l_orderkey")),
      FieldMapping("source_system", None, "constant", Map("value" -> "tpch")),
      FieldMapping("ship_date", Some("l_shipdate"), "date_format",
        Map("input_format" -> "%Y-%m-%d", "output_format" -> "%d/%m/%Y")),
      FieldMapping("return_status", Some("l_returnflag"), "lookup",
        Map("A" -> "accepted", "N" -> "none", "R" -> "returned")),
      FieldMapping("line_ref", Some("l_linenumber"), "suffix",
        Map("value" -> "-F", "condition" -> "l_linestatus == 'F'")),
      FieldMapping("supplier_ref", Some("l_suppkey"), "prefix", Map("value" -> "S-")),
      FieldMapping("unit_price", Some("l_extendedprice"), "formula",
        Map("expression" -> "l_extendedprice / l_quantity")),
      FieldMapping("line_state", Some("l_linestatus"), "conditional",
        Map("conditions" -> List(Map("if" -> "l_linestatus == 'O'", "then" -> "open"),
          Map("else" -> "closed"))))),
    filterRules = Seq(
      FilterRule("l_returnflag", "equals", value = Some("R")),
      FilterRule("l_quantity", "in", values = SkippedQuantities)))

  /** Writes `parquet` as a headered CSV at `out`, in the table's scan order:
    * Spark renders the lines in parallel, the driver writes them in order.
    * With a seed, about 2% of the kept rows get one defect each: an
    * unparseable ship date or a non-numeric quantity (the unit-price
    * formula then divides by zero). Skip decisions are made here, from the
    * raw values, independently of the program's filter compiler. */
  def stage(spark: SparkSession, parquet: Path, out: Path, seed: Option[Long]): Staged = {
    Files.createDirectories(out.getParent)
    val rng = seed.map(s => new java.util.Random(s))
    val cells = Columns.map {
      case "l_shipdate" => date_format(col("l_shipdate"), "yyyy-MM-dd")
      case c => col(c).cast("string")
    }
    val it = spark.read.parquet(parquet.toString)
      .select(concat_ws(",", cells: _*), col("l_returnflag"), col("l_quantity").cast("string"))
      .toLocalIterator()
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(out),
      StandardCharsets.UTF_8), 1 << 20)
    var rows, skipped = 0L
    val planted = Map.newBuilder[Long, String]
    try {
      w.write(Columns.mkString(",")); w.write('\n')
      while (it.hasNext) {
        val r = it.next()
        var line = r.getString(0)
        rows += 1
        if (r.getString(1) == "R" || SkippedQuantities.contains(r.getString(2))) skipped += 1
        else rng.foreach { g =>
          if (g.nextInt(1000) < PlantPerMille) {
            val c = line.split(",", -1)
            if (g.nextBoolean()) { c(10) = "1996-13-01"; planted += (rows + 1) -> "ship_date" }
            else { c(4) = "n/a"; planted += (rows + 1) -> "unit_price" }
            line = c.mkString(",")
          }
        }
        w.write(line); w.write('\n')
      }
    } finally w.close()
    Staged(rows, skipped, planted.result())
  }
}

/** `etl_convert` (clean input, `Api.convert` writes one file) and
  * `etl_validate` (seeded defects, `Api.preview` dry run, nothing written)
  * over lineitem sf0.1 staged as CSV. The convert input does not depend on
  * the seed, so its output digest is pinned. */
final class EtlWorkload(env: Env, pins: Pins, validate: Boolean) extends Workload {
  private val dir = env.work.resolve("etl")
  private val input = dir.resolve("lineitem.csv")
  private val output = dir.resolve("out").resolve("lineitem_export.csv")
  private val layersOutput = dir.resolve("out").resolve("lineitem_layers.csv")
  private var staged: Staged = _
  private var errorsCollected, sinkBytes = 0L
  private val m = Lineitem.mapping

  val minPasses = 2

  def setup(spark: SparkSession): Unit = {
    FileUtil.deleteTree(dir)
    staged = Lineitem.stage(spark, env.data.resolve("sf0.1").resolve("lineitem.parquet"), input,
      if (validate) Some(env.seed) else None)
  }

  def pass(spark: SparkSession, t: Tracer): Pass = {
    val (problems, ns) =
      if (validate) {
        val (p, ns) = Pass.timed(t.span("op.validate")(t.span("api.preview")(
          Api.preview(spark, input.toString, Lineitem.spec, Some(m), n = 100))))
        val r = p.result.get
        val got = r.errors.map(e => e.line_number -> e.field).sortBy(_._1)
        Seq(
          Option.when(p.rows.size != 100 || p.rows.head.line != 2)("preview rows"),
          Option.when(r.errorCount != staged.planted.size)(
            s"errorCount ${r.errorCount} != planted ${staged.planted.size}"),
          Option.when(got != staged.planted.toSeq.sorted)("error lines or fields differ from the planted ones"),
          Option.when(r.skippedCount != staged.skipped || r.written ||
            r.successCount != staged.kept - staged.planted.size)(s"counts $r")
        ).flatten -> ns
      } else {
        val (r, ns) = Pass.timed(t.span("op.convert")(t.span("api.convert")(
          Api.convert(spark, input.toString, Lineitem.spec, m, output.toString))))
        (if (r.errorCount != 0 || !r.written || r.successCount != staged.kept ||
            r.skippedCount != staged.skipped) Seq(s"result $r does not match the generator's counts")
         else Seq(
           Option.when(FileUtil.countLines(output) != r.successCount + 1)("output line count"),
           pins.check("etl_convert", "output_sha256", FileUtil.sha256(output))).flatten) -> ns
      }
    Pass(Seq(ns), staged.rows,
      if (problems.isEmpty) Nil
      else Seq(s"${if (validate) "validate" else "convert"}: ${problems.mkString("; ")}"))
  }

  def layers(spark: SparkSession, t: Tracer): Unit = t.span("layers") {
    val df = t.span("source.read")(CsvSource.readWithLineNumbers(spark, input.toString, Lineitem.spec))
    val schema = df.columns.toSet - "__line_number"
    val compiled = t.span("compile.transform")(TransformCompiler.compile(m, schema))
    val r = t.span("runner.validate")(Runner.validate(df, m))
    errorsCollected = r.errors.size
    if (!validate) {
      val planned = t.span("runner.plan")(Runner.plan(df, m))
      // the kept rows, as Runner.convert selects them from its plan
      require(planned.columns.contains("__skip"), "Runner.plan no longer has a __skip column")
      val kept = planned.filter(!col("__skip")).select(compiled.destOrder.map(col): _*)
      t.span("sink.write")(CsvSink.writeSingleFile(kept, compiled.destOrder, layersOutput.toString))
      sinkBytes = Files.size(layersOutput)
    }
  }

  def layerMetrics(spans: Seq[Span], counts: Map[Long, Counts]): Map[String, Double] = Map(
    "source.scan_amplification" -> Report.inputBytesPerOp(spans, counts,
      if (validate) "op.validate" else "op.convert") / Files.size(input),
    "runner.errors_collected" -> errorsCollected.toDouble,
    "sink.output_bytes" -> sinkBytes.toDouble)
}
