package graft

import scala.collection.immutable.VectorMap
import org.scalatest.funsuite.AnyFunSuite
import graft.spec.{SpecJson, SpecStore}

/** `SpecJson.dumps` renders `json.dumps(v, indent=2)` in one pass over each
  * container, whatever kind of `Seq` or `Map` holds the items. */
class SpecJsonDumpSpec extends AnyFunSuite {

  test("nested containers, empty ones included, render as json.dumps(indent=2)") {
    val v = VectorMap[String, Any]("a" -> List(1L, VectorMap("b" -> Nil, "c" -> VectorMap.empty)),
      "d" -> "xé")
    assert(SpecJson.dumps(v) ==
      "{\n  \"a\": [\n    1,\n    {\n      \"b\": [],\n      \"c\": {}\n    }\n  ],\n" +
      "  \"d\": \"x\\u00e9\"\n}")
  }

  test("a 5,000-row preview payload dumps to the same bytes as a List and as a Vector") {
    val columns = List("txn_id", "customer", "txn_date", "amount", "note")
    val rows = (0 until 5000).map { i =>
      VectorMap[String, Any]("_line" -> (i + 2L), "txn_id" -> s"${100000 + i}",
        "customer" -> (if (i % 3 == 0) "Smith, John" else "Ngozi \"Ngo\" Okafor"),
        "txn_date" -> "2024-01-15", "amount" -> f"${i / 100}%d.${i % 100}%02d", "note" -> "")
    }
    def payload(rs: Seq[VectorMap[String, Any]]) = VectorMap[String, Any](
      "columns" -> columns, "rows" -> rs, "total" -> 5000L,
      "errors_by_line" -> VectorMap("17" -> List(VectorMap("field" -> "date",
        "message" -> "Date format error", "value" -> "not-a-date"))),
      "validation" -> null)
    val asList = SpecJson.dumps(payload(rows.toList))
    val asVector = SpecJson.dumps(payload(rows.toVector))
    assert(asList == asVector)
    assert(asList.startsWith("{\n  \"columns\": [\n    \"txn_id\",\n"))
    assert(asList.contains("\n    {\n      \"_line\": 2,\n      \"txn_id\": \"100000\",\n"))
    assert(asList.endsWith("\n  \"validation\": null\n}"))
    assert(SpecStore.parseAny(asList) == payload(rows.toList))
  }
}
