package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.http.Dashboard
import graft.spec.{SpecJson, SpecStore}

/** End-to-end EP2/EP3 over HTTP: list specs → preview+validate → edit a
  * row → revalidate → convert → process, against a scratch copy of the
  * reference's config store. */
class DashboardSpec extends AnyFunSuite {

  private val cfgSrc = ReferenceConfig.dir

  private lazy val env: (Dashboard, Path, Path, Path) = {
    ReferenceConfig.assumePresent()
    val cfg = Files.createTempDirectory("dash-cfg")
    val in = Files.createTempDirectory("dash-in")
    val out = Files.createTempDirectory("dash-out")
    Seq("sources.json", "destinations.json", "mappings.json").foreach(f =>
      Files.copy(Paths.get(cfgSrc, f), cfg.resolve(f)))
    val stocksDir = in.resolve("revolut_stocks")
    Files.createDirectories(stocksDir)
    // literal skip polarity (Q1): BUY/SELL are not_in the skip list → the
    // rule matches → SKIPPED; DEPOSIT is in the list → kept and converted
    val csv =
      "Date,Ticker,Type,Quantity,Price per share,Total Amount,Currency\r\n" +
      "2024-01-15T10:30:00,AAPL,BUY,10,185.5,1855.0,USD\r\n" +
      "2024-01-16T11:00:00,MSFT,SELL,5,390.0,1950.0,USD\r\n" +
      "2024-01-17T09:00:00,CASH,DEPOSIT,1,100.0,100.0,USD\r\n"
    Files.write(stocksDir.resolve("a.csv"), csv.getBytes(StandardCharsets.UTF_8))
    Files.write(stocksDir.resolve("b.csv"), csv.getBytes(StandardCharsets.UTF_8))
    val d = new Dashboard(TestSpark.spark, cfg.toString, in.toString, out.toString)
    d.start()
    (d, cfg, in, out)
  }
  private def base = s"http://127.0.0.1:${env._1.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def get(path: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def post(path: String, body: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def asMap(s: String): Map[String, Any] =
    SpecStore.parseAny(s).asInstanceOf[Map[String, Any]]

  test("GET spec listings mirror the reference jsonify payloads") {
    val (code, body) = get("/api/sources")
    assert(code == 200)
    // same serializer as the store → byte-identical to the config file
    assert(body == Files.readString(env._2.resolve("sources.json")))
    val (c2, cols) = get("/api/sources/revolut_stocks/columns")
    assert(c2 == 200)
    val parsed = SpecStore.parseAny(cols).asInstanceOf[List[Map[String, Any]]]
    assert(parsed.map(_("name")) == List("Date", "Ticker", "Type", "Quantity",
      "Price per share", "Total Amount", "Currency"))
    assert(get("/api/sources/nope/columns")._1 == 404)
    assert(get("/api/mappings")._1 == 200)
  }

  test("server-rendered pages: index, spec lists, mapping list, visual editor") {
    val (c0, home) = get("/")
    assert(c0 == 200)
    assert(home.contains("<h1>Dashboard</h1>"))
    assert(home.contains("revolut_stocks"), "index must list the sources")
    assert(home.contains("a.csv") && home.contains("b.csv"),
      "index must list each source's input files")
    val (c1, srcPage) = get("/sources")
    assert(c1 == 200 && srcPage.contains("revolut_stocks"))
    assert(get("/destinations")._1 == 200)
    val (c2, maps) = get("/mappings")
    assert(c2 == 200 && maps.contains("visual editor"))
    // visual editor for the first shipped mapping
    val firstId = SpecStore.loadMappings(env._2.resolve("mappings.json").toString)
      .keys.toSeq.sorted.head
    val (c3, vis) = get(s"/mappings/$firstId/visual")
    assert(c3 == 200)
    assert(vis.contains("Field mappings") && vis.contains("Source columns"))
    assert(vis.contains(s"/api/mappings/$firstId/save"),
      "visual page must point at the save endpoint")
    assert(get("/mappings/nope/visual")._1 == 404)
    val (c4, prev) = get("/preview/revolut_stocks/a.csv")
    assert(c4 == 200 && prev.contains("/api/preview/revolut_stocks/a.csv"))
    // the grid is server-rendered: actual file cells appear in the page
    assert(prev.contains("AAPL") && prev.contains("DEPOSIT"),
      "preview page must render the file's rows")
    // with a mapping applied, validation counters + error highlighting show
    val (c5, prevM) =
      get("/preview/revolut_stocks/a.csv?mapping_id=revolut_stocks_to_ghostfolio")
    assert(c5 == 200 && prevM.contains("validation:"))
    assert(prevM.contains("background:#fdd"), "errored line must be highlighted")
  }

  test("HTML form CRUD: new/edit pages render and a form POST persists") {
    // new-source page renders the JSON editor
    val (c0, form) = get("/sources/new")
    assert(c0 == 200 && form.contains("<textarea name=\"spec\""))
    // edit page is prefilled with the stored spec
    val (c1, edit) = get("/sources/revolut_stocks/edit")
    assert(c1 == 200 && edit.contains("revolut_stocks"))
    assert(get("/sources/nope/edit")._1 == 404)
    // form POST (urlencoded) creates the spec and redirects to the list
    val spec = """{"id": "form_src", "name": "Form Source", "description": "",
                  "default_directory": "form_src", "columns": []}"""
    val enc = java.net.URLEncoder.encode(spec, StandardCharsets.UTF_8)
    val (c2, _) = post("/sources/new", s"spec=$enc")
    assert(c2 == 302 || c2 == 200)
    assert(SpecStore.loadFileSpecs(env._2.resolve("sources.json").toString)
      .contains("form_src"), "form POST must persist through SpecStore")
    val (_, listPage) = get("/sources")
    assert(listPage.contains("form_src"))
  }

  test("POST a source creates the store entry, directory and template") {
    val spec = SpecStore.loadFileSpecs(env._2.resolve("sources.json").toString)("test_source")
    val json = SpecJson.dumps(SpecJson.fileSpecDict(
      spec.copy(id = "dash_new", defaultDirectory = "dash_new")))
    val (code, body) = post("/api/sources", json)
    assert(code == 200 && asMap(body)("success") == true)
    assert(SpecStore.loadFileSpecs(env._2.resolve("sources.json").toString)
      .contains("dash_new"))
    assert(Files.exists(env._3.resolve("dash_new").resolve("_template_dash_new.csv")))
    assert(asMap(post("/api/sources/dash_new/delete", "")._2)("success") == true)
    assert(asMap(post("/api/sources/dash_new/delete", "")._2)("success") == false)
  }

  test("preview returns rows with _line and validation when mapping_id given") {
    val (code, body) = get(
      "/api/preview/revolut_stocks/a.csv?mapping_id=revolut_stocks_to_ghostfolio")
    assert(code == 200)
    val p = asMap(body)
    assert(p("total") == 3L)
    val rows = p("rows").asInstanceOf[List[Map[String, Any]]]
    assert(rows.head("_line") == 2L && rows.head("Ticker") == "AAPL")
    // executed-reference parity: BUY/SELL skipped by the literal not_in
    // polarity (Q1); DEPOSIT kept but its type lookup misses → 1 error
    val v = p("validation").asInstanceOf[Map[String, Any]]
    assert(v("success_count") == 0L && v("skipped_count") == 2L
      && v("error_count") == 1L)
    val ebl = p("errors_by_line").asInstanceOf[Map[String, Any]]
    val e4 = ebl("4").asInstanceOf[List[Map[String, Any]]]
    assert(e4.head("field") == "type" && e4.head("value") == "DEPOSIT")
  }

  test("row update edits the file and the next preview sees it") {
    val (code, body) = post("/api/preview/revolut_stocks/b.csv/update",
      """{"line": 3, "row": {"Ticker": "NVDA"}}""")
    assert(code == 200 && asMap(body)("success") == true)
    val p = asMap(get("/api/preview/revolut_stocks/b.csv")._2)
    val rows = p("rows").asInstanceOf[List[Map[String, Any]]]
    assert(rows(1)("Ticker") == "NVDA" && rows(1)("_line") == 3L)
    assert(post("/api/preview/revolut_stocks/b.csv/update", "{}")._1 == 400)
  }

  test("convert gates on errors (400 + payload) like the reference") {
    val (code, body) = post("/api/preview/revolut_stocks/a.csv/convert",
      """{"mapping_id": "revolut_stocks_to_ghostfolio"}""")
    assert(code == 400)
    val p = asMap(body)
    assert(p("success") == false)
    val es = p("errors").asInstanceOf[List[Map[String, Any]]]
    assert(es.head("line") == 4L && es.head("field") == "type")
    assert(post("/api/preview/revolut_stocks/a.csv/convert", "{}")._1 == 400)
    assert(post("/api/preview/revolut_stocks/a.csv/convert",
      """{"mapping_id": "nope"}""")._1 == 404)
  }

  test("mapping created over HTTP converts cleanly end-to-end") {
    val mapping = """{
      "id": "dash_direct", "name": "Dash Direct",
      "source_id": "revolut_stocks", "destination_id": "ghostfolio",
      "description": "", "filter_rules": [],
      "field_mappings": [
        {"destination_field": "date", "source_field": "Date",
         "transform_type": "direct", "transform_config": {}},
        {"destination_field": "symbol", "source_field": "Ticker",
         "transform_type": "direct", "transform_config": {}},
        {"destination_field": "type", "source_field": null,
         "transform_type": "constant", "transform_config": {"value": "BUY"}},
        {"destination_field": "quantity", "source_field": "Quantity",
         "transform_type": "direct", "transform_config": {}},
        {"destination_field": "unitPrice", "source_field": "Price per share",
         "transform_type": "direct", "transform_config": {}},
        {"destination_field": "currency", "source_field": "Currency",
         "transform_type": "direct", "transform_config": {}}
      ]}"""
    assert(asMap(post("/api/mappings", mapping)._2)("success") == true)
    val (code, body) = post("/api/preview/revolut_stocks/a.csv/convert",
      """{"mapping_id": "dash_direct"}""")
    assert(code == 200)
    val p = asMap(body)
    assert(p("success") == true && p("output_file") == "a_ghostfolio.csv")
    assert(p("message") == "Successfully converted 3 records")
    val outFile = env._4.resolve("ghostfolio").resolve("a_ghostfolio.csv")
    assert(Files.exists(outFile))
    val lines = Files.readAllLines(outFile)
    assert(lines.get(0) == "date,symbol,type,quantity,unitPrice,currency")
    assert(lines.get(1) == "2024-01-15T10:30:00,AAPL,BUY,10,185.5,USD")
    assert(asMap(post("/api/mappings/dash_direct/delete", "")._2)("success") == true)
  }

  test("upload/download/delete file routes and visual-editor save") {
    // upload (raw-body variant of the reference's multipart route)
    val csv = "Date,Ticker,Type,Quantity,Price per share,Total Amount,Currency\r\n" +
      "2024-02-01T10:00:00,NVDA,BUY,1,700.0,700.0,USD\r\n"
    val up = client.send(HttpRequest.newBuilder(
        URI.create(s"$base/upload/revolut_stocks?filename=up.csv"))
      .POST(HttpRequest.BodyPublishers.ofString(csv)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(up.statusCode() == 200)
    assert(Files.exists(env._3.resolve("revolut_stocks").resolve("up.csv")))
    assert(post("/upload/revolut_stocks?filename=evil.txt", csv)._1 == 400)
    assert(post("/upload/nope?filename=x.csv", csv)._1 == 404)
    // download from the output dir
    val outDir = env._4.resolve("ghostfolio")
    Files.createDirectories(outDir)
    Files.write(outDir.resolve("dl.csv"), "a,b\r\n1,2\r\n".getBytes)
    val (dc, dbody) = get("/download/ghostfolio/dl.csv")
    assert(dc == 200 && dbody == "a,b\r\n1,2\r\n")
    assert(get("/download/ghostfolio/../../../etc/passwd")._1 == 404)
    // delete input + output files
    assert(post("/delete/input/revolut_stocks/up.csv", "")._1 == 200)
    assert(!Files.exists(env._3.resolve("revolut_stocks").resolve("up.csv")))
    assert(post("/delete/output/ghostfolio/dl.csv", "")._1 == 200)
    assert(post("/delete/output/ghostfolio/dl.csv", "")._1 == 404)
    // visual-editor save replaces field_mappings/filter_rules in place
    val save = post("/api/mappings/revolut_crypto_to_ghostfolio/save",
      """{"field_mappings": [{"destination_field": "date", "source_field": "Date",
          "transform_type": "direct", "transform_config": {}}],
         "filter_rules": []}""")
    assert(save._1 == 200 && asMap(save._2)("success") == true)
    val saved = SpecStore.loadMappings(env._2.resolve("mappings.json").toString)(
      "revolut_crypto_to_ghostfolio")
    assert(saved.fieldMappings.map(_.destinationField) == Seq("date"))
    assert(saved.filterRules.isEmpty)
    assert(saved.name.nonEmpty) // untouched metadata preserved
    assert(post("/api/mappings/nope/save", "{}")._1 == 404)
  }

  test("process aggregates every csv in the source directory") {
    val (code, body) = post("/api/process/revolut_stocks",
      """{"mapping_id": "revolut_stocks_to_ghostfolio"}""")
    assert(code == 200)
    val p = asMap(body)
    assert(p("mapping_name") == "Revolut Stocks → Ghostfolio")
    // 2 files × (2 BUY/SELL skipped by Q1 polarity, 1 DEPOSIT lookup error)
    assert(p("success_count") == 0L && p("skipped_count") == 4L
      && p("error_count") == 2L)
    val es = p("errors").asInstanceOf[List[Map[String, Any]]]
    assert(es.map(_("file")).toSet == Set("a.csv", "b.csv"))
    assert(p("has_more_errors") == false)
    // reference parity: each error carries the raw input row dict
    es.foreach { e =>
      val rd = e("row_data").asInstanceOf[Map[String, Any]]
      assert(rd("Type") == "DEPOSIT" && rd("Ticker") == "CASH",
        s"row_data must be the errored line's cells, got $rd")
    }
  }
  test("D5 run history: converts append durable RunRecords served by /api/runs and /runs") {
    ReferenceConfig.assumePresent()
    // fresh isolated dashboard with a DETERMINISTIC clock — run ids and
    // timestamps must be stable regardless of what other tests ran
    val cfg = Files.createTempDirectory("dash-cfg5")
    val in5 = Files.createTempDirectory("dash-in5")
    val out5 = Files.createTempDirectory("dash-out5")
    Seq("sources.json", "destinations.json", "mappings.json").foreach(f =>
      Files.copy(Paths.get(cfgSrc, f), cfg.resolve(f)))
    val d = in5.resolve("revolut_stocks")
    Files.createDirectories(d)
    Files.write(d.resolve("a.csv"),
      ("Date,Ticker,Type,Quantity,Price per share,Total Amount,Currency\r\n" +
       "2024-01-15T10:30:00,AAPL,BUY,10,185.5,1855.0,USD\r\n")
        .getBytes(StandardCharsets.UTF_8))
    var tick = 0
    val dash = new Dashboard(TestSpark.spark, cfg.toString, in5.toString,
      out5.toString, clock = () => { tick += 1; s"t$tick" })
    dash.start()
    try {
      val b = s"http://127.0.0.1:${dash.boundPort}"
      def post5(path: String, body: String) =
        client.send(HttpRequest.newBuilder(URI.create(s"$b$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      def get5(path: String) =
        client.send(HttpRequest.newBuilder(URI.create(s"$b$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      val mapping = """{
        "id": "hist_m", "name": "History Mapping",
        "source_id": "revolut_stocks", "destination_id": "ghostfolio",
        "description": "", "filter_rules": [],
        "field_mappings": [
          {"destination_field": "date", "source_field": "Date",
           "transform_type": "direct", "transform_config": {}}]}"""
      assert(post5("/api/mappings", mapping).statusCode() == 200)
      assert(post5("/api/preview/revolut_stocks/a.csv/convert",
        """{"mapping_id": "hist_m"}""").statusCode() == 200)
      assert(post5("/api/process/revolut_stocks",
        """{"mapping_id": "hist_m"}""").statusCode() == 200)
      // store on disk: run_1 (convert) + run_2 (process over the one file)
      val runs = SpecStore.loadRuns(cfg.resolve("runs.json").toString)
      assert(runs.keysIterator.toSeq == Seq("run_1", "run_2"))
      assert(runs("run_1").kind == "convert" && runs("run_2").kind == "process")
      assert(runs("run_1").successCount == 1L && runs("run_1").written)
      assert(runs("run_1").startedAt == "t1" && runs("run_1").finishedAt == "t2")
      // JSON API serves the same records
      val api = asMap(get5("/api/runs").body())
      assert(api.keySet == Set("run_1", "run_2"))
      val r1 = api("run_1").asInstanceOf[Map[String, Any]]
      assert(r1("success_count") == 1L && r1("written") == true &&
        r1("output_file") == "a_ghostfolio.csv")
      // HTML history page names the mapping and the counters
      val page = get5("/runs").body()
      assert(page.contains("History Mapping") && page.contains("run_2") &&
        page.contains("a.csv"))
    } finally dash.stop()
  }

  test("D5 run ids stay distinct under concurrent appends (store-level lock)") {
    // id monotonicity must not depend on the HTTP server being
    // single-threaded (round-12 verdict item 6): 32 simultaneous appends
    // through the locked allocator → 32 distinct contiguous ids, store intact
    val cfg = Files.createTempDirectory("dash-cfg-conc")
    val path = cfg.resolve("runs.json").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val start = new java.util.concurrent.CountDownLatch(1)
      val tasks = (1 to 32).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            val r = SpecStore.appendRunNext(path, from =>
              graft.spec.RunRecord(s"run_${from + 1}", "m", "convert",
                s"f$i.csv", None, 1L, 0L, 0L, written = true, "t0", "t1"))
            seen.add(r.id)
          }
        })
      }
      start.countDown()
      tasks.foreach(_.get())
      assert(seen.size == 32, s"duplicate run ids under concurrency: $seen")
      val runs = SpecStore.loadRuns(path)
      assert(runs.size == 32 &&
        runs.keySet == (1 to 32).map(i => s"run_$i").toSet)
    } finally pool.shutdown()
  }

  test("D7 auth overlay: registration enables enforcement; private/share/public; audit") {
    ReferenceConfig.assumePresent()
    // fresh isolated dashboard: registering a user flips the config dir
    // into auth mode, which must not leak into the shared-dashboard tests
    val cfg = Files.createTempDirectory("dash-cfg7")
    val in7 = Files.createTempDirectory("dash-in7")
    val out7 = Files.createTempDirectory("dash-out7")
    Seq("sources.json", "destinations.json", "mappings.json").foreach(f =>
      Files.copy(Paths.get(cfgSrc, f), cfg.resolve(f)))
    var tick = 0
    val dash = new Dashboard(TestSpark.spark, cfg.toString, in7.toString,
      out7.toString, clock = () => { tick += 1; s"t$tick" })
    dash.start()
    try {
      val b = s"http://127.0.0.1:${dash.boundPort}"
      def req(path: String, body: Option[String], cookie: Option[String]) = {
        val rb = HttpRequest.newBuilder(URI.create(s"$b$path"))
        cookie.foreach(c => rb.header("Cookie", s"session=$c"))
        body match {
          case Some(s) => rb.POST(HttpRequest.BodyPublishers.ofString(s))
          case None    => rb.GET()
        }
        client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
      }
      def post7(path: String, body: String, cookie: Option[String] = None) =
        req(path, Some(body), cookie)
      def get7(path: String, cookie: Option[String] = None) =
        req(path, None, cookie)
      def token(r: HttpResponse[String]): String =
        r.headers().firstValue("Set-Cookie").get
          .split(";")(0).stripPrefix("session=")

      // open mode: no users → anonymous mutation allowed, me is null
      assert(get7("/api/me").body().contains("null"))
      val mapping = (id: String) => s"""{
        "id": "$id", "name": "M $id",
        "source_id": "revolut_stocks", "destination_id": "ghostfolio",
        "description": "", "filter_rules": [], "field_mappings": []}"""
      assert(post7("/api/mappings", mapping("m_open")).statusCode() == 200)

      // registration flips auth ON: anonymous mutation now 401, but the
      // PRE-AUTH resources stay visible (no ACL entry = legacy/public)
      assert(post7("/api/users", """{"name":"alice","password":"pw1"}""")
        .statusCode() == 200)
      assert(post7("/api/mappings", mapping("m_anon")).statusCode() == 401)
      assert(get7("/api/mappings").body().contains("m_open"))

      // login: bad password rejected, good issues a session cookie
      assert(post7("/api/login", """{"name":"alice","password":"nope"}""")
        .statusCode() == 401)
      val alice = token(post7("/api/login", """{"name":"alice","password":"pw1"}"""))
      assert(get7("/api/me", Some(alice)).body().contains("alice"))

      // alice creates a mapping → owned, private by default; the ACL
      // metadata itself is only as visible as the resource
      assert(post7("/api/mappings", mapping("m_priv"), Some(alice)).statusCode() == 200)
      assert(get7("/api/acl/m_priv").statusCode() == 404)
      val acl = asMap(get7("/api/acl/m_priv", Some(alice)).body())
      assert(acl("owner") == "alice" && acl("visibility") == "private")

      // bob: registered, logged in — cannot see, edit, or delete m_priv
      assert(post7("/api/users", """{"name":"bob","password":"pw2"}""").statusCode() == 200)
      val bob = token(post7("/api/login", """{"name":"bob","password":"pw2"}"""))
      assert(!get7("/api/mappings", Some(bob)).body().contains("m_priv"))
      assert(post7("/api/mappings", mapping("m_priv"), Some(bob)).statusCode() == 403)
      assert(post7("/api/mappings/m_priv/delete", "", Some(bob)).statusCode() == 403)

      // view share: bob sees it but still cannot edit; edit share: can
      assert(post7("/api/acl/m_priv",
        """{"share":{"user":"bob","level":"view"}}""", Some(alice)).statusCode() == 200)
      assert(get7("/api/mappings", Some(bob)).body().contains("m_priv"))
      assert(post7("/api/mappings", mapping("m_priv"), Some(bob)).statusCode() == 403)
      assert(post7("/api/acl/m_priv",
        """{"share":{"user":"bob","level":"edit"}}""", Some(alice)).statusCode() == 200)
      assert(post7("/api/mappings", mapping("m_priv"), Some(bob)).statusCode() == 200)
      // delete stays owner-only; bob cannot grant himself more (owner-only ACL)
      assert(post7("/api/mappings/m_priv/delete", "", Some(bob)).statusCode() == 403)
      assert(post7("/api/acl/m_priv", """{"visibility":"public"}""", Some(bob))
        .statusCode() == 403)

      // revoke + public visibility: bob loses the share but public shows it
      assert(post7("/api/acl/m_priv", """{"revoke":"bob"}""", Some(alice)).statusCode() == 200)
      assert(!get7("/api/mappings", Some(bob)).body().contains("m_priv"))
      assert(post7("/api/acl/m_priv", """{"visibility":"public"}""", Some(alice))
        .statusCode() == 200)
      assert(get7("/api/mappings", Some(bob)).body().contains("m_priv"))

      // side doors cannot overwrite someone else's resource: bob
      // instantiates HIS OWN template onto alice's mapping id → 403
      // (m_priv is public = viewable, but view is not edit)
      assert(post7("/api/templates", mapping("tpl_b"), Some(bob)).statusCode() == 200)
      assert(post7("/api/templates/tpl_b/instantiate",
        """{"id":"m_priv"}""", Some(bob)).statusCode() == 403)
      assert(post7("/api/mappings/tpl_b/save_template", "{}", Some(bob))
        .statusCode() == 404) // tpl_b is a template, not a mapping

      // audit: login-gated; records the flow with the injected clock
      assert(get7("/api/audit").statusCode() == 401)
      val audit = get7("/api/audit", Some(alice)).body()
      Seq("register", "login", "save_mapping", "acl_update").foreach(a =>
        assert(audit.contains(a), s"audit missing $a:\n$audit"))
      assert(audit.contains("\"at\": \"t"))

      // owner delete succeeds; the ACL stays as a TOMBSTONE — the id stays
      // reserved to alice (no squatting) and run history stays scoped
      assert(post7("/api/mappings/m_priv/delete", "", Some(alice)).statusCode() == 200)
      assert(!get7("/api/mappings", Some(alice)).body().contains("m_priv"))
      assert(asMap(get7("/api/acl/m_priv", Some(alice)).body())("owner") == "alice")
      assert(post7("/api/mappings", mapping("m_priv"), Some(bob)).statusCode() == 403)
      assert(post7("/api/mappings", mapping("m_priv"), Some(alice)).statusCode() == 200)
    } finally dash.stop()
  }

  test("D7 hardening: pages/files gated, audit scoped, teams, settings, cookie") {
    ReferenceConfig.assumePresent()
    val cfg = Files.createTempDirectory("dash-cfg7h")
    val inH = Files.createTempDirectory("dash-in7h")
    val outH = Files.createTempDirectory("dash-out7h")
    Seq("sources.json", "destinations.json", "mappings.json").foreach(f =>
      Files.copy(Paths.get(cfgSrc, f), cfg.resolve(f)))
    val dash = new Dashboard(TestSpark.spark, cfg.toString, inH.toString,
      outH.toString, clock = () => "t0")
    dash.start()
    try {
      val b = s"http://127.0.0.1:${dash.boundPort}"
      def req(path: String, body: Option[String], cookie: Option[String]) = {
        val rb = HttpRequest.newBuilder(URI.create(s"$b$path"))
        cookie.foreach(c => rb.header("Cookie", s"session=$c"))
        body match {
          case Some(s) => rb.POST(HttpRequest.BodyPublishers.ofString(s))
          case None    => rb.GET()
        }
        client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
      }
      def postH(path: String, body: String, cookie: Option[String] = None) =
        req(path, Some(body), cookie)
      def getH(path: String, cookie: Option[String] = None) =
        req(path, None, cookie)

      assert(postH("/api/users", """{"name":"alice","password":"pw1"}""")
        .statusCode() == 200)
      val loginResp = postH("/api/login", """{"name":"alice","password":"pw1"}""")
      // session cookie hardening (round-13 verdict item 3)
      val setCookie = loginResp.headers().firstValue("Set-Cookie").get
      assert(setCookie.contains("HttpOnly") && setCookie.contains("SameSite=Strict"),
        s"cookie must be HttpOnly + SameSite=Strict: $setCookie")
      val alice = setCookie.split(";")(0).stripPrefix("session=")
      assert(postH("/api/users", """{"name":"bob","password":"pw2"}""")
        .statusCode() == 200)
      val bob = postH("/api/login", """{"name":"bob","password":"pw2"}""")
        .headers().firstValue("Set-Cookie").get.split(";")(0).stripPrefix("session=")

      // alice's private mapping + private source + private destination
      val mapping = """{
        "id": "m_priv", "name": "Private M",
        "source_id": "revolut_stocks", "destination_id": "ghostfolio",
        "description": "", "filter_rules": [], "field_mappings": []}"""
      assert(postH("/api/mappings", mapping, Some(alice)).statusCode() == 200)
      val srcSpec = """{"id": "s_priv", "name": "S", "description": "",
        "default_directory": "s_priv", "columns": [
          {"name": "SecretCol", "type": "string", "source_name": null,
           "max_length": null, "required": false, "default": null,
           "date_format": null}]}"""
      assert(postH("/api/sources", srcSpec, Some(alice)).statusCode() == 200)
      val dstSpec = """{"id": "d_priv", "name": "D", "description": "",
        "default_directory": "d_priv", "columns": []}"""
      assert(postH("/api/destinations", dstSpec, Some(alice)).statusCode() == 200)

      // ---- HTML pages enforce the same visibility as /api ----
      assert(getH("/mappings", Some(bob)).body().contains("m_priv") == false)
      assert(getH("/", Some(bob)).body().contains("s_priv") == false)
      assert(getH("/mappings/m_priv/visual", Some(bob)).statusCode() == 404)
      assert(getH("/mappings/m_priv/edit", Some(bob)).statusCode() == 403)
      assert(getH("/mappings/m_priv/edit").statusCode() == 401)
      assert(getH("/preview/s_priv/x.csv", Some(bob)).statusCode() == 404)
      // form POST side doors are closed: anonymous 401, non-editor 403,
      // and the stored mapping survives untouched
      val enc = java.net.URLEncoder.encode(mapping, StandardCharsets.UTF_8)
      assert(postH("/mappings/new", s"mapping=$enc").statusCode() == 401)
      assert(postH("/mappings/m_priv/edit", s"mapping=$enc", Some(bob))
        .statusCode() == 403)
      assert(SpecStore.loadMappings(cfg.resolve("mappings.json").toString)(
        "m_priv").name == "Private M")

      // ---- file routes enforce the owning spec's ACL ----
      assert(postH("/upload/s_priv?filename=x.csv", "a,b\r\n1,2\r\n").statusCode() == 401)
      assert(postH("/upload/s_priv?filename=x.csv", "a,b\r\n1,2\r\n", Some(bob))
        .statusCode() == 403)
      assert(postH("/upload/s_priv?filename=x.csv", "a,b\r\n1,2\r\n", Some(alice))
        .statusCode() == 200)
      val outDir = outH.resolve("d_priv")
      Files.createDirectories(outDir)
      Files.write(outDir.resolve("o.csv"), "x\r\n1\r\n".getBytes(StandardCharsets.UTF_8))
      assert(getH("/download/d_priv/o.csv").statusCode() == 404)
      assert(getH("/download/d_priv/o.csv", Some(bob)).statusCode() == 404)
      assert(getH("/download/d_priv/o.csv", Some(alice)).statusCode() == 200)
      // a directory no spec claims: login required, then legacy-open
      val legacyDir = outH.resolve("legacy")
      Files.createDirectories(legacyDir)
      Files.write(legacyDir.resolve("l.csv"), "y\r\n".getBytes(StandardCharsets.UTF_8))
      assert(getH("/download/legacy/l.csv").statusCode() == 401)
      assert(getH("/download/legacy/l.csv", Some(bob)).statusCode() == 200)
      assert(postH("/delete/output/d_priv/o.csv", "", Some(bob)).statusCode() == 403)
      assert(postH("/delete/input/s_priv/x.csv", "").statusCode() == 401)
      assert(postH("/delete/output/d_priv/o.csv", "", Some(alice)).statusCode() == 200)

      // ---- audit is scoped to visibility (round-13 verdict item 1) ----
      val bobAudit = getH("/api/audit", Some(bob)).body()
      assert(!bobAudit.contains("m_priv") && !bobAudit.contains("s_priv"),
        s"bob must not see alice's private-resource events:\n$bobAudit")
      assert(bobAudit.contains("bob")) // own events stay visible
      val aliceAudit = getH("/api/audit", Some(alice)).body()
      assert(aliceAudit.contains("m_priv") && aliceAudit.contains("save_spec"))

      // ---- teams as ACL principals ----
      assert(postH("/api/teams", """{"name":"eng"}""").statusCode() == 401)
      val tResp = postH("/api/teams", """{"name":"eng"}""", Some(alice))
      assert(tResp.statusCode() == 200 && asMap(tResp.body())("id") == "team_1")
      assert(postH("/api/teams", """{"name":"eng"}""", Some(bob)).statusCode() == 409)
      // share to the team BEFORE bob is a member → still invisible
      assert(postH("/api/acl/m_priv",
        """{"share":{"user":"team:team_1","level":"view"}}""", Some(alice))
        .statusCode() == 200)
      assert(!getH("/api/mappings", Some(bob)).body().contains("m_priv"))
      // only the team owner manages membership
      assert(postH("/api/teams/team_1/members", """{"add":"bob"}""", Some(bob))
        .statusCode() == 403)
      assert(postH("/api/teams/team_1/members", """{"add":"bob"}""", Some(alice))
        .statusCode() == 200)
      assert(getH("/api/mappings", Some(bob)).body().contains("m_priv"))
      assert(getH("/api/teams", Some(bob)).body().contains("team_1"))
      // view share does not grant edit; an edit share to the team does
      assert(postH("/api/mappings", mapping, Some(bob)).statusCode() == 403)
      assert(postH("/api/acl/m_priv",
        """{"share":{"user":"team:team_1","level":"edit"}}""", Some(alice))
        .statusCode() == 200)
      assert(postH("/api/mappings", mapping, Some(bob)).statusCode() == 200)
      // removal revokes the expansion; membership changes are audited
      assert(postH("/api/teams/team_1/members", """{"remove":"bob"}""", Some(alice))
        .statusCode() == 200)
      assert(!getH("/api/mappings", Some(bob)).body().contains("m_priv"))
      assert(getH("/api/audit", Some(alice)).body().contains("team_members"))
      // team events are member/owner-visible only, like the /api/teams
      // listing — bob, now removed, no longer reads the team's trail
      val bobAudit2 = getH("/api/audit", Some(bob)).body()
      assert(!bobAudit2.contains("team_members") && !bobAudit2.contains("create_team"),
        s"a non-member must not see team audit events:\n$bobAudit2")

      // ---- a private mapping is not runnable/applicable by id, and a
      // private source's schema does not leak through the visual page
      // (round-14 self-review) ----
      val stocksDir = inH.resolve("revolut_stocks")
      Files.createDirectories(stocksDir)
      Files.write(stocksDir.resolve("p.csv"),
        ("Date,Ticker,Type,Quantity,Price per share,Total Amount,Currency\r\n" +
         "2024-01-15T10:30:00,AAPL,BUY,10,185.5,1855.0,USD\r\n")
          .getBytes(StandardCharsets.UTF_8))
      // preview over a viewable (legacy) source: alice's private mapping
      // id is treated as absent → validation null, rows still served
      val pv = asMap(getH(
        "/api/preview/revolut_stocks/p.csv?mapping_id=m_priv", Some(bob)).body())
      assert(pv("validation") == null,
        "a private mapping must not be applicable via ?mapping_id=")
      assert(asMap(getH(
        "/api/preview/revolut_stocks/p.csv?mapping_id=m_priv", Some(alice))
        .body())("validation") != null, "the owner still applies it")
      // convert/process by a private mapping id answer the missing-mapping
      // 404 (invisible, not forbidden)
      assert(postH("/api/preview/revolut_stocks/p.csv/convert",
        """{"mapping_id": "m_priv"}""", Some(bob)).statusCode() == 404)
      assert(postH("/api/process/revolut_stocks",
        """{"mapping_id": "m_priv"}""", Some(bob)).statusCode() == 404)
      // visual page of a PUBLIC mapping bound to a PRIVATE source: the
      // source panel (its column names) stays hidden from non-viewers
      val pubMapping = """{
        "id": "m_pub", "name": "Public M",
        "source_id": "s_priv", "destination_id": "ghostfolio",
        "description": "", "filter_rules": [], "field_mappings": []}"""
      assert(postH("/api/mappings", pubMapping, Some(alice)).statusCode() == 200)
      assert(postH("/api/acl/m_pub", """{"visibility":"public"}""", Some(alice))
        .statusCode() == 200)
      val visBob = getH("/mappings/m_pub/visual", Some(bob))
      assert(visBob.statusCode() == 200 && !visBob.body().contains("SecretCol"),
        "a private source's schema must not leak through the visual page")
      assert(getH("/mappings/m_pub/visual", Some(alice)).body()
        .contains("SecretCol"))

      // ---- audit records actions that RAN, with named outcomes ----
      // a convert against a missing mapping leaves no event; an
      // error-gated convert leaves a convert_failed event (round-13
      // advice: the log was written before the handler ran)
      assert(postH("/api/preview/revolut_stocks/p.csv/convert",
        """{"mapping_id": "nope"}""", Some(alice)).statusCode() == 404)
      assert(!getH("/api/audit", Some(alice)).body().contains("nope"),
        "a 404'd convert must leave no audit event")
      val gateMapping = """{
        "id": "m_gate", "name": "Gate M",
        "source_id": "revolut_stocks", "destination_id": "ghostfolio",
        "description": "", "filter_rules": [],
        "field_mappings": [
          {"destination_field": "type", "source_field": "Type",
           "transform_type": "lookup", "transform_config":
             {"NEVER": "x"}}]}"""
      assert(postH("/api/mappings", gateMapping, Some(alice)).statusCode() == 200)
      assert(postH("/api/preview/revolut_stocks/p.csv/convert",
        """{"mapping_id": "m_gate"}""", Some(alice)).statusCode() == 400)
      assert(getH("/api/audit", Some(alice)).body().contains("convert_failed"),
        "an error-gated convert must log its named outcome")

      // ---- per-user settings ----
      assert(getH("/api/me/settings").statusCode() == 401)
      assert(postH("/api/me/settings", """{"theme":"dark","page_size":"50"}""",
        Some(bob)).statusCode() == 200)
      val bobSettings = asMap(getH("/api/me/settings", Some(bob)).body())
      assert(bobSettings("theme") == "dark" && bobSettings("page_size") == "50")
      assert(asMap(getH("/api/me/settings", Some(alice)).body()).isEmpty)

      // ---- dark mode (ROADMAP:71): bob's theme=dark flips the page
      // shell's class; alice (no setting) and anonymous stay light ----
      assert(getH("/", Some(bob)).body().contains("<body class=\"dark\">"))
      assert(!getH("/", Some(alice)).body().contains("class=\"dark\""))
      assert(!getH("/").body().contains("class=\"dark\""))

      // ---- user dashboard (ROADMAP:76): owned / shared-with-me /
      // public, hidden ids never enumerated ----
      assert(getH("/api/me/resources").statusCode() == 401)
      assert(getH("/me").statusCode() == 401)
      val aliceRes = getH("/api/me/resources", Some(alice)).body()
      val aliceMaps = asMap(aliceRes)("mappings").asInstanceOf[Map[String, Any]]
      assert(Set[Any]("m_priv", "m_pub", "m_gate")
        .subsetOf(aliceMaps("owned").asInstanceOf[Seq[Any]].toSet),
        s"alice owns her mappings: $aliceRes")
      val bobRes = getH("/api/me/resources", Some(bob)).body()
      assert(!bobRes.contains("m_priv") && !bobRes.contains("s_priv"),
        s"hidden ids must not be enumerated: $bobRes")
      assert(asMap(bobRes)("mappings").asInstanceOf[Map[String, Any]]("public")
        .asInstanceOf[Seq[_]].contains("m_pub"), s"m_pub is discoverable: $bobRes")
      val mePage = getH("/me", Some(alice))
      assert(mePage.statusCode() == 200 && mePage.body().contains("m_pub"))
    } finally dash.stop()
  }

  test("D6 template library: CRUD + instantiate-with-rename over HTTP") {
    val template = """{
      "id": "tpl_direct", "name": "Direct Template",
      "source_id": "", "destination_id": "",
      "description": "", "filter_rules": [],
      "field_mappings": [
        {"destination_field": "date", "source_field": "Date",
         "transform_type": "direct", "transform_config": {}}]}"""
    assert(asMap(post("/api/templates", template)._2)("success") == true)
    // listed by the API and rendered on the library page
    assert(asMap(get("/api/templates")._2).contains("tpl_direct"))
    val page = get("/templates")._2
    assert(page.contains("tpl_direct") && page.contains("Direct Template"))
    // instantiate into the MAPPING store under a new identity/binding
    val (ic, ib) = post("/api/templates/tpl_direct/instantiate",
      """{"id": "from_tpl", "name": "From Template",
         "source_id": "revolut_stocks", "destination_id": "ghostfolio"}""")
    assert(ic == 200 && asMap(ib)("id") == "from_tpl")
    val ms = asMap(get("/api/mappings")._2)
    val m = ms("from_tpl").asInstanceOf[Map[String, Any]]
    assert(m("source_id") == "revolut_stocks" && m("name") == "From Template")
    // save an existing mapping back into the library, then delete both
    assert(asMap(post("/api/mappings/from_tpl/save_template",
      """{"template_id": "tpl_back", "name": "Saved Back"}""")._2)("success") == true)
    assert(asMap(get("/api/templates")._2).contains("tpl_back"))
    assert(asMap(post("/api/templates/tpl_back/delete", "")._2)("success") == true)
    assert(asMap(post("/api/templates/tpl_back/delete", "")._2)("success") == false)
    assert(post("/api/templates/ghost/instantiate", "{}")._1 == 404)
    assert(asMap(post("/api/mappings/from_tpl/delete", "")._2)("success") == true)
  }
}
