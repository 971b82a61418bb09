package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.http.Dashboard
import graft.spec.{ColumnSpec, ETLMapping, FieldMapping, FileSpec, FilterRule, SpecStore}

/** The dashboard's preview → edit → revalidate → convert loop over HTTP on
  * a store this spec declares itself (the specs and mapping are made up
  * here, none is a reference config file): preview clean and with one
  * planted bad date, the row update, the error-gated and the restored
  * convert, the run history and the process route's per-error row data. */
class DashboardRouteSpec extends AnyFunSuite {
  private val columns = Seq("txn_id", "customer", "txn_date", "amount", "status")
  private val source = FileSpec(id = "route_src", name = "transactions",
    defaultDirectory = "route_in", columns = columns.map(ColumnSpec(_)))
  private val destination = FileSpec(id = "route_dst", name = "ledger",
    defaultDirectory = "route_out",
    columns = Seq("id", "customer", "date", "status").map(ColumnSpec(_)))
  private val mapping = ETLMapping(
    id = "route_map", name = "transactions to ledger", sourceId = source.id,
    destinationId = destination.id,
    fieldMappings = Seq(
      FieldMapping("id", Some("txn_id"), "prefix", Map("value" -> "T")),
      FieldMapping("customer", Some("customer")),
      FieldMapping("date", Some("txn_date"), "date_format",
        Map("input_format" -> "%Y-%m-%d", "output_format" -> "%d.%m.%Y")),
      FieldMapping("status", Some("status"), "lookup", Map("paid" -> "P", "refunded" -> "R"))),
    filterRules = Seq(FilterRule("status", "equals", value = Some("cancelled"))))

  private val rows = 40
  /** line → its date; every fifth row is cancelled, so the mapping skips it */
  private val dates = (2L to rows + 1L).map(l => l -> f"2024-02-${1 + l % 28}%02d").toMap
  private def cancelled(line: Long) = line % 5 == 0
  private val kept = dates.keys.count(!cancelled(_)).toLong
  private val planted = 17L
  assert(!cancelled(planted))

  /** CRLF and minimal quoting: the row editor's own form, so a plant and a
    * restore leave the file byte-identical. */
  private def csv(dateAt: Long => String): String =
    (columns.mkString(",") +: (2L to rows + 1L).map { l =>
      Seq(s"${500 + l}", if (l % 3 == 0) "\"Smith, John\"" else "Ada", dateAt(l),
        java.math.BigDecimal.valueOf(l * 125, 2).toPlainString, if (cancelled(l)) "cancelled" else "paid").mkString(",")
    }).map(_ + "\r\n").mkString

  private lazy val env: (Dashboard, Path, Path, Path) = {
    val cfg = Files.createTempDirectory("route-cfg")
    val in = Files.createTempDirectory("route-in")
    val out = Files.createTempDirectory("route-out")
    SpecStore.saveFileSpecs(cfg.resolve("sources.json").toString, Map(source.id -> source))
    SpecStore.saveFileSpecs(cfg.resolve("destinations.json").toString,
      Map(destination.id -> destination))
    SpecStore.saveMappings(cfg.resolve("mappings.json").toString, Map(mapping.id -> mapping))
    Files.createDirectories(in.resolve(source.defaultDirectory))
    Files.write(in.resolve(source.defaultDirectory).resolve("t.csv"), csv(dates).getBytes(UTF_8))
    val d = new Dashboard(TestSpark.spark, cfg.toString, in.toString, out.toString)
    d.start()
    (d, cfg, in, out)
  }
  private def inputFile = env._3.resolve(source.defaultDirectory).resolve("t.csv")
  private def outputFile = env._4.resolve(destination.defaultDirectory)
    .resolve(s"t_${destination.id}.csv")
  private val client = HttpClient.newHttpClient()

  private def send(method: String, path: String, body: String = ""): (Int, Any) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${env._1.boundPort}$path"))
    val req = if (method == "GET") b.GET().build()
      else b.POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), SpecStore.parseAny(r.body()))
  }
  private def obj(v: Any) = v.asInstanceOf[Map[String, Any]]
  private def list(v: Any) = v.asInstanceOf[List[Any]]

  private val fileRoute = s"/api/preview/${source.id}/t.csv"
  private def preview() = send("GET", s"$fileRoute?mapping_id=${mapping.id}")
  private def setDate(date: String) =
    send("POST", s"$fileRoute/update", s"""{"line": $planted, "row": {"txn_date": "$date"}}""")
  private def convert() = send("POST", s"$fileRoute/convert", s"""{"mapping_id": "${mapping.id}"}""")

  test("preview → plant → revalidate → gated convert → restore → convert → runs") {
    val (c0, clean) = preview()
    assert(c0 == 200)
    val p0 = obj(clean)
    assert(p0("columns") == columns.toList)
    assert(p0("total") == rows.toLong)
    val rowList = list(p0("rows")).map(obj)
    assert(rowList.map(_("_line")) == (2L to rows + 1L).toList)
    assert(rowList(1)("customer") == "Smith, John" && rowList(1)("txn_date") == dates(3L))
    assert(obj(p0("validation")) == Map("success_count" -> kept,
      "skipped_count" -> (rows - kept), "error_count" -> 0L, "logs" -> Nil))
    assert(obj(p0("errors_by_line")).isEmpty)

    val (c1, planted1) = setDate("not-a-date")
    assert(c1 == 200 && obj(planted1)("success") == true)

    val (c2, bad) = preview()
    assert(c2 == 200)
    val p2 = obj(bad)
    assert(obj(p2("validation")) == Map("success_count" -> (kept - 1),
      "skipped_count" -> (rows - kept), "error_count" -> 1L, "logs" -> Nil))
    assert(obj(p2("errors_by_line")).keySet == Set(planted.toString))
    assert(list(obj(p2("errors_by_line"))(planted.toString)) == List(Map(
      "field" -> "date", "message" -> "Date format error",
      "value" -> "not-a-date")))
    assert(list(p2("rows")).map(obj).find(_("_line") == planted).get("txn_date") == "not-a-date")

    val (c3, gated) = convert()
    assert(c3 == 400)
    assert(obj(gated)("success") == false)
    assert(list(obj(gated)("errors")).map(obj).map(e => (e("line"), e("field"))) ==
      List(planted -> "date"))
    assert(!Files.exists(outputFile), "a gated convert writes no output")

    val (c4, _) = setDate(dates(planted))
    assert(c4 == 200)
    assert(Files.readString(inputFile) == csv(dates), "the restore leaves the file as it was")

    val (c5, done) = convert()
    assert(c5 == 200)
    assert(obj(done)("message") == s"Successfully converted $kept records")
    assert(obj(done)("output_file") == outputFile.getFileName.toString)
    assert(Files.readAllLines(outputFile).size == kept + 1)

    val (c6, runs) = send("GET", "/api/runs")
    assert(c6 == 200)
    val recs = obj(runs).values.map(obj).toList
    assert(recs.map(r => (r("kind"), r("written"), r("error_count"))) ==
      List(("convert", false, 1L), ("convert", true, 0L)))
    assert(recs.forall(_("mapping_id") == mapping.id))
  }

  test("process carries each errored line's raw cells as row_data") {
    val dir = env._3.resolve(source.defaultDirectory)
    val badLine = 9L
    Files.write(dir.resolve("u.csv"),
      csv(l => if (l == badLine) "31.12.2024" else dates(l)).getBytes(UTF_8))
    try {
      val (code, body) = send("POST", s"/api/process/${source.id}", s"""{"mapping_id": "${mapping.id}"}""")
      assert(code == 200)
      val p = obj(body)
      assert(p("error_count") == 1L)
      val e = obj(list(p("errors")).head)
      assert(e("file") == "u.csv" && e("line") == badLine && e("value") == "31.12.2024")
      assert(obj(e("row_data")) == Map("txn_id" -> s"${500 + badLine}", "customer" -> "Smith, John",
        "txn_date" -> "31.12.2024", "amount" -> "11.25", "status" -> "paid"))
    } finally Files.delete(dir.resolve("u.csv"))
  }
}
