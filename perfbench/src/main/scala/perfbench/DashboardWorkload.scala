package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import graft.compile.TransformCompiler
import graft.engine.{Api, CsvSource, RowEdit, Runner}
import graft.http.Dashboard
import graft.spec.{ColumnSpec, ETLMapping, FieldMapping, FileSpec, FilterRule, SpecStore}

/** `dashboard_session`: one client thread drives an in-process
  * `http.Dashboard` over loopback in a closed loop (next request only after
  * the previous reply). Auth is off; every set-up starts from an empty
  * config directory. Each cycle: preview, plant a defect, preview again,
  * convert (the fail-on-error gate answers 400), restore the line, convert
  * (200, output written), list the run history, which grows all run long. */
final class DashboardWorkload(env: Env) extends Workload {
  import DashboardWorkload._

  private val dir = env.work.resolve("dashboard")
  private val config = dir.resolve("config")
  private val inputFile = dir.resolve("input").resolve(source.defaultDirectory).resolve(FileName)
  private val outputFile = dir.resolve("output").resolve(destination.defaultDirectory)
    .resolve(s"${FileName.stripSuffix(".csv")}_${destination.id}.csv")
  private val layersOutput = dir.resolve("layers_out.csv")
  private val rng = new java.util.Random(env.seed)
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val json = new ObjectMapper()
  private var server: Dashboard = _
  private var base: String = _
  private var data: Generated = _
  private var digest: String = _
  private var runsSoFar = 0

  val minPasses = 15 // 105 requests: at least ten beyond the 90th percentile

  def setup(spark: SparkSession): Unit = {
    FileUtil.deleteTree(dir)
    Files.createDirectories(config)
    Files.createDirectories(inputFile.getParent)
    data = generate(inputFile, env.seed)
    digest = FileUtil.sha256(inputFile)
    SpecStore.saveFileSpecs(config.resolve("sources.json").toString, Map(source.id -> source))
    SpecStore.saveFileSpecs(config.resolve("destinations.json").toString,
      Map(destination.id -> destination))
    SpecStore.saveMappings(config.resolve("mappings.json").toString, Map(mapping.id -> mapping))
    server = new Dashboard(spark, config.toString, dir.resolve("input").toString,
      dir.resolve("output").toString)
    server.start()
    base = s"http://127.0.0.1:${server.boundPort}"
    runsSoFar = 0
  }

  override def teardown(): Unit = if (server != null) { server.stop(); server = null }

  private def send(method: String, path: String, body: String = ""): (Int, JsonNode) = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
    val req =
      if (method == "GET") b.GET().build()
      else b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), json.readTree(resp.body()))
  }

  def pass(spark: SparkSession, t: Tracer): Pass = {
    val fileRoute = s"/api/preview/${source.id}/$FileName"
    val line = data.keptLines(rng.nextInt(data.keptLines.size))
    val original = data.dates(line)
    def update(date: String) =
      s"""{"line": $line, "row": {"$DateColumn": "$date"}}"""
    val convertBody = s"""{"mapping_id": "${mapping.id}"}"""
    // (route, method, path, body, rows the route reads, check of the reply)
    val steps: Seq[(String, String, String, String, Long, (Int, JsonNode) => Option[String])] = Seq(
      ("preview", "GET", s"$fileRoute?mapping_id=${mapping.id}", "", data.rows,
        (s, j) => Option.when(s != 200 || j.path("total").asLong() != data.rows ||
          j.path("validation").path("error_count").asLong() != 0)(s"clean preview: $s")),
      ("update", "POST", s"$fileRoute/update", update(BadDate), data.rows,
        (s, _) => Option.when(s != 200)(s"plant: $s")),
      ("preview", "GET", s"$fileRoute?mapping_id=${mapping.id}", "", data.rows,
        (s, j) => Option.when(s != 200 || j.path("validation").path("error_count").asLong() != 1 ||
          !j.path("errors_by_line").has(line.toString))(s"preview of the planted error: $s")),
      ("convert_gated", "POST", s"$fileRoute/convert", convertBody, data.rows,
        (s, _) => Option.when(s != 400)(s"gated convert: $s")),
      ("update", "POST", s"$fileRoute/update", update(original), data.rows,
        (s, _) => Option.when(s != 200)(s"restore: $s")),
      ("convert", "POST", s"$fileRoute/convert", convertBody, data.rows,
        (s, j) => Option.when(s != 200 ||
          j.path("message").asText() != s"Successfully converted ${data.kept} records" ||
          FileUtil.countLines(outputFile) != data.kept + 1)(s"convert: $s")),
      ("runs", "GET", "/api/runs", "", 0L,
        (s, j) => Option.when(s != 200 || j.size() != runsSoFar + 2)(s"runs: $s, ${j.size()} records")))
    val results = steps.map { case (route, method, path, body, _, check) =>
      val ((status, reply), ns) = Pass.timed(t.span(s"op.$route")(t.span(s"http.$route")(
        send(method, path, body))))
      (ns, try check(status, reply) catch { case e: Exception => Some(s"$route: $e") })
    }
    runsSoFar += 2
    val restored = Option.when(FileUtil.sha256(inputFile) != digest)(
      s"input digest after cycle at line $line differs from the start")
    Pass(results.map(_._1), steps.map(_._5).sum, results.flatMap(_._2) ++ restored)
  }

  def layers(spark: SparkSession, t: Tracer): Unit = t.span("layers") {
    val path = inputFile.toString
    t.span("api.preview")(Api.preview(spark, path, source, Some(mapping), n = Int.MaxValue))
    t.span("api.convert")(Api.convert(spark, path, source, mapping, layersOutput.toString))
    val df = t.span("source.read")(CsvSource.readWithLineNumbers(spark, path, source))
    t.span("compile.transform")(TransformCompiler.compile(mapping, df.columns.toSet - "__line_number"))
    t.span("runner.validate")(Runner.validate(df, mapping))
    val line = data.keptLines(rng.nextInt(data.keptLines.size))
    t.span("rowedit.update")(RowEdit.updateRow(path, line.toInt, Map(DateColumn -> BadDate)))
    t.span("rowedit.update")(RowEdit.updateRow(path, line.toInt, Map(DateColumn -> data.dates(line))))
    t.span("spec.load_runs")(SpecStore.loadRuns(config.resolve("runs.json").toString))
  }

  def layerMetrics(spans: Seq[Span], counts: Map[Long, Counts]): Map[String, Double] = {
    def p50ms(name: String): Double = {
      val xs = spans.filter(_.name == name).map(_.seconds * 1e3)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    Map(
      "http.preview_ms" -> p50ms("http.preview"),
      "http.update_ms" -> p50ms("http.update"),
      "http.convert_ms" -> p50ms("http.convert"),
      "http.convert_gated_ms" -> p50ms("http.convert_gated"),
      "http.runs_ms" -> p50ms("http.runs"),
      "http.overhead_ms" -> ((p50ms("http.preview") - p50ms("api.preview")) +
        (p50ms("http.convert") - p50ms("api.convert"))) / 2,
      "rowedit.update_ms" -> p50ms("rowedit.update"),
      "spec.runs_json_bytes_end" -> Files.size(config.resolve("runs.json")).toDouble,
      "source.scan_amplification" ->
        Report.inputBytesPerOp(spans, counts, "op.preview") / Files.size(inputFile))
  }
}

object DashboardWorkload {
  val FileName = "transactions.csv"
  val Rows = 5000
  val DateColumn = "txn_date"
  val BadDate = "not-a-date"
  val Columns = Seq("txn_id", "customer", DateColumn, "amount", "quantity", "status", "note")
  val Statuses = Seq("paid", "paid", "paid", "refunded", "cancelled")

  val source: FileSpec = FileSpec(id = "bench_src", name = "transactions",
    defaultDirectory = "bench", columns = Columns.map(ColumnSpec(_)))
  val destination: FileSpec = FileSpec(id = "bench_dst", name = "ledger", defaultDirectory = "out",
    columns = Seq("id", "customer", "date", "total", "status").map(ColumnSpec(_)))
  val mapping: ETLMapping = ETLMapping(
    id = "bench_map", name = "transactions to ledger", sourceId = source.id,
    destinationId = destination.id,
    fieldMappings = Seq(
      FieldMapping("id", Some("txn_id"), "prefix", Map("value" -> "T")),
      FieldMapping("customer", Some("customer")),
      FieldMapping("date", Some(DateColumn), "date_format",
        Map("input_format" -> "%Y-%m-%d", "output_format" -> "%d.%m.%Y")),
      FieldMapping("total", Some("amount"), "formula", Map("expression" -> "amount * quantity")),
      FieldMapping("status", Some("status"), "lookup", Map("paid" -> "P", "refunded" -> "R"))),
    filterRules = Seq(FilterRule("status", "equals", value = Some("cancelled"))))

  /** The generated file: its data-row count, the line numbers of rows the
    * mapping keeps, and each line's date cell. */
  final case class Generated(rows: Long, keptLines: IndexedSeq[Long], dates: Map[Long, String]) {
    def kept: Long = keptLines.size
  }

  /** Python-csv QUOTE_MINIMAL cell, as the dashboard's row editor writes it. */
  private def cell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r')) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Writes the seeded file in the row editor's own form (CRLF line ends,
    * minimal quoting), so one plant-and-restore leaves it byte-identical. */
  def generate(out: Path, seed: Long): Generated = {
    val g = new java.util.Random(seed ^ 0x5eedL)
    val names = Seq("Ada Lovelace", "Grace Hopper", "Smith, John", "O'Brien", "Zhang Wei",
      "Ngozi \"Ngo\" Okafor")
    val sb = new StringBuilder
    sb.append(Columns.mkString(",")).append("\r\n")
    val kept = IndexedSeq.newBuilder[Long]
    val dates = Map.newBuilder[Long, String]
    for (i <- 0 until Rows) {
      val line = i + 2L
      val date = java.time.LocalDate.of(2020, 1, 1).plusDays(g.nextInt(1500).toLong).toString
      val status = Statuses(g.nextInt(Statuses.size))
      val row = Seq(s"${100000 + i}", names(g.nextInt(names.size)), date,
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(g.nextInt(100000) / 100.0)), (1 + g.nextInt(9)).toString, status,
        if (g.nextInt(10) == 0) "rush, gift wrap" else "")
      sb.append(row.map(cell).mkString(",")).append("\r\n")
      if (status != "cancelled") kept += line
      dates += line -> date
    }
    Files.write(out, sb.toString.getBytes(StandardCharsets.UTF_8))
    Generated(Rows, kept.result(), dates.result())
  }
}
