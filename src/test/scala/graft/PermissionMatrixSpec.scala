package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.http.Dashboard

/** The D7 permission model as one falsifiable TABLE: every gated route ×
  * every principal class → pinned status code, executed in one pass
  * against live stores. The principal axis covers the whole lattice —
  * anonymous, an unrelated login, a per-user view share, a TEAM view
  * share, a per-user edit share, a TEAM edit share, and the owner — so a
  * future gate change that silently widens (or narrows) any cell fails
  * this suite by name, the way the fuzz manifests pin the readers.
  *
  * Status-code conventions under test (established in rounds 13-14):
  * view-gated reads answer 404 for non-viewers (invisible, not
  * forbidden); edit/owner-gated writes answer 401 anonymous / 403
  * insufficient; login+view routes (instantiate, save_template) answer
  * 401 anonymous / 404 non-viewer. */
class PermissionMatrixSpec extends AnyFunSuite {

  private val client = HttpClient.newHttpClient()

  test("route x principal matrix: every cell answers its pinned status") {
    val cfg = Files.createTempDirectory("pm-cfg")
    val in = Files.createTempDirectory("pm-in")
    val out = Files.createTempDirectory("pm-out")
    // empty stores — every resource in the matrix is created under auth
    Seq("sources.json", "destinations.json", "mappings.json").foreach(f =>
      Files.writeString(cfg.resolve(f), "{}"))
    val dash = new Dashboard(TestSpark.spark, cfg.toString, in.toString,
      out.toString, clock = () => "t0")
    dash.start()
    try {
      val b = s"http://127.0.0.1:${dash.boundPort}"
      def req(method: String, path: String, body: String,
              cookie: Option[String]): HttpResponse[String] = {
        val rb = HttpRequest.newBuilder(URI.create(s"$b$path"))
        cookie.foreach(c => rb.header("Cookie", s"session=$c"))
        if (method == "POST") rb.POST(HttpRequest.BodyPublishers.ofString(body))
        else rb.GET()
        client.send(rb.build(), HttpResponse.BodyHandlers.ofString())
      }
      def login(name: String): String = {
        assert(req("POST", "/api/users",
          s"""{"name":"$name","password":"pw-$name"}""", None).statusCode() == 200)
        req("POST", "/api/login",
          s"""{"name":"$name","password":"pw-$name"}""", None)
          .headers().firstValue("Set-Cookie").get.split(";")(0)
          .stripPrefix("session=")
      }
      // principal order is the privilege lattice, least → most
      val alice = login("alice")   // owner
      val rando = login("rando")   // logged in, no grant
      val vic   = login("vic")     // per-user view share
      val tv    = login("tv")      // view via team:t1
      val ed    = login("ed")      // per-user edit share
      val te    = login("te")      // edit via team:t2
      val principals: Seq[(String, Option[String])] = Seq(
        "anon" -> None, "rando" -> Some(rando), "vic" -> Some(vic),
        "tv" -> Some(tv), "ed" -> Some(ed), "te" -> Some(te),
        "owner" -> Some(alice))

      // alice's private resources: source s1 (with a real file), mapping
      // m1 (s1 → dd1, one direct field, error-free), template tp1
      def post(path: String, body: String, c: Option[String]) =
        req("POST", path, body, c).statusCode()
      assert(post("/api/sources", """{"id": "s1", "name": "S1",
        "description": "", "default_directory": "s1", "columns": [
          {"name": "A", "type": "string", "source_name": null,
           "max_length": null, "required": false, "default": null,
           "date_format": null}]}""", Some(alice)) == 200)
      assert(post("/api/destinations", """{"id": "dd1", "name": "D1",
        "description": "", "default_directory": "dd1", "columns": [
          {"name": "a", "type": "string", "source_name": null,
           "max_length": null, "required": false, "default": null,
           "date_format": null}]}""", Some(alice)) == 200)
      val m1 = """{
        "id": "m1", "name": "M1", "source_id": "s1",
        "destination_id": "dd1", "description": "", "filter_rules": [],
        "field_mappings": [
          {"destination_field": "a", "source_field": "A",
           "transform_type": "direct", "transform_config": {}}]}"""
      assert(post("/api/mappings", m1, Some(alice)) == 200)
      assert(post("/api/templates",
        m1.replace("\"m1\"", "\"tp1\""), Some(alice)) == 200)
      Files.write(Paths.get(in.toString, "s1", "f.csv"),
        "A\r\nv1\r\n".getBytes(StandardCharsets.UTF_8))
      // teams: t1 grants view, t2 grants edit (owner alice, one member each)
      assert(post("/api/teams", """{"name":"viewers"}""", Some(alice)) == 200)
      assert(post("/api/teams", """{"name":"editors"}""", Some(alice)) == 200)
      assert(post("/api/teams/team_1/members", """{"add":"tv"}""", Some(alice)) == 200)
      assert(post("/api/teams/team_2/members", """{"add":"te"}""", Some(alice)) == 200)
      // file-route fixtures: a downloadable output under dd1, one
      // sacrificial input/output per principal for the delete rows
      Files.createDirectories(Paths.get(out.toString, "dd1"))
      Files.write(Paths.get(out.toString, "dd1", "o.csv"),
        "a\r\nv1\r\n".getBytes(StandardCharsets.UTF_8))
      Seq("anon", "rando", "vic", "tv", "ed", "te", "owner").foreach { p =>
        Files.write(Paths.get(in.toString, "s1", s"del_$p.csv"),
          "A\r\nx\r\n".getBytes(StandardCharsets.UTF_8))
        Files.write(Paths.get(out.toString, "dd1", s"del_$p.csv"),
          "a\r\nx\r\n".getBytes(StandardCharsets.UTF_8))
      }
      // the same share set on every matrix resource
      Seq("s1", "m1", "tp1", "dd1").foreach { id =>
        Seq("""{"share":{"user":"vic","level":"view"}}""",
            """{"share":{"user":"ed","level":"edit"}}""",
            """{"share":{"user":"team:team_1","level":"view"}}""",
            """{"share":{"user":"team:team_2","level":"edit"}}""").foreach { s =>
          assert(post(s"/api/acl/$id", s, Some(alice)) == 200, s"share $s on $id")
        }
      }

      // the matrix — expected codes in principal order
      // [anon, rando, vic, tv, ed, te, owner]
      final case class Cell(method: String, path: String, body: String,
                            expect: Seq[Int], perPrincipalId: Boolean = false,
                            perPrincipalPath: Boolean = false)
      val V = Seq(404, 404, 200, 200, 200, 200, 200)  // view-gated read
      val E = Seq(401, 403, 403, 403, 200, 200, 200)  // edit-gated write
      val O = Seq(401, 403, 403, 403, 403, 403, 200)  // owner-only
      val LV = Seq(401, 404, 200, 200, 200, 200, 200) // login + view
      val matrix = Seq(
        Cell("GET", "/api/sources/s1/columns", "", V),
        Cell("GET", "/api/preview/s1/f.csv", "", V),
        Cell("GET", "/api/acl/m1", "", V),
        Cell("POST", "/api/preview/s1/f.csv/convert",
          """{"mapping_id": "m1"}""", V), // view runs a viewable mapping
        Cell("POST", "/api/preview/s1/f.csv/update",
          """{"line": 2, "row": {"A": "v1"}}""", E),
        Cell("POST", "/api/mappings", m1, E), // upsert of an existing id
        Cell("POST", "/api/mappings/m1/save",
          """{"field_mappings": [
               {"destination_field": "a", "source_field": "A",
                "transform_type": "direct", "transform_config": {}}],
              "filter_rules": []}""", E),
        Cell("POST", "/api/templates/tp1/instantiate",
          """{"id": "inst_PRINCIPAL"}""", LV, perPrincipalId = true),
        Cell("POST", "/api/mappings/m1/save_template",
          """{"template_id": "tb_PRINCIPAL"}""", LV, perPrincipalId = true),
        Cell("POST", "/api/acl/m1", "{}", O),
        Cell("POST", "/api/teams/team_1/members", """{"add":"x"}""", O),
        // ---- HTML pages/forms + file routes: the round-13 advice's two
        // HIGH side doors, pinned in the same lattice as their /api twins
        Cell("GET", "/mappings/m1/visual", "", V),
        Cell("GET", "/mappings/m1/edit", "", E),
        Cell("POST", "/mappings/m1/edit",
          "mapping=" + java.net.URLEncoder.encode(m1, StandardCharsets.UTF_8),
          Seq(401, 403, 403, 403, 302, 302, 302)), // editors get the redirect
        Cell("POST", "/upload/s1?filename=up_PRINCIPAL.csv", "A\r\nx\r\n", E,
          perPrincipalPath = true),
        Cell("GET", "/download/dd1/o.csv", "", V),
        Cell("POST", "/delete/input/s1/del_PRINCIPAL.csv", "", E,
          perPrincipalPath = true),
        Cell("POST", "/delete/output/dd1/del_PRINCIPAL.csv", "", E,
          perPrincipalPath = true),
        // delete LAST — the owner's 200 tombstones m1
        Cell("POST", "/api/mappings/m1/delete", "", O))

      matrix.foreach { cell =>
        principals.zip(cell.expect).foreach { case ((pname, cookie), want) =>
          val body = if (cell.perPrincipalId)
            cell.body.replace("PRINCIPAL", pname) else cell.body
          val path = if (cell.perPrincipalPath)
            cell.path.replace("PRINCIPAL", pname) else cell.path
          val got = req(cell.method, path, body, cookie).statusCode()
          assert(got == want,
            s"${cell.method} ${cell.path} as $pname: expected $want, got $got")
        }
      }

      // run visibility follows the mapping INCLUDING team expansion: the
      // converts above appended m1 run records — a team-view sharee sees
      // them, an unrelated login does not
      val tvRuns = req("GET", "/api/runs", "", Some(tv)).body()
      assert(tvRuns.contains("m1"), s"team sharee must see m1 runs: $tvRuns")
      assert(!req("GET", "/api/runs", "", Some(rando)).body().contains("m1"))
      // the /runs page shows the same runs
      val tvPage = req("GET", "/runs", "", Some(tv)).body()
      assert(tvPage.contains("m1"), s"team sharee must see m1 runs on /runs: $tvPage")
      val randoPage = req("GET", "/runs", "", Some(rando)).body()
      assert(!randoPage.contains("m1"), s"rando must not see m1 runs on /runs: $randoPage")

      // post-delete: the id is tombstoned — even an edit-sharee cannot
      // recreate it, the owner can
      assert(post("/api/mappings", m1, Some(rando)) == 403)
      assert(post("/api/mappings", m1, Some(alice)) == 200)
    } finally dash.stop()
  }
}
