package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source files stay plain text: a raw NUL byte makes grep and ripgrep
  * treat the whole file as binary and silently drop it from searches.
  * Write the character as the `\u0000` escape instead. Sessions come from
  * one factory, so their policy is set in one place. The paper's path
  * writes CSV with one renderer, `PyCsv.appendRecord`, and parses records
  * by hand only in engine/PyCsv, so the dialect is kept in one place; its
  * one call of Spark's own CSV reader is in CsvSource, and records are
  * numbered by one reader, CsvSource.readWithLineNumbers. Spark's internal
  * Column API is reached only through the graftbridge package, and the
  * engine persists no intermediate. Tests reach the reference checkout
  * only through ReferenceConfig. */
class SourceHygieneSpec extends AnyFunSuite {
  private lazy val sources: List[Path] = {
    val walk = Files.walk(Paths.get("src"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no Scala source file contains a NUL byte") {
    assert(sources.nonEmpty)
    val withNul = sources.filter((p: Path) => Files.readAllBytes(p).contains(0.toByte))
    assert(withNul.isEmpty, s"NUL bytes in: ${withNul.mkString(", ")}")
  }

  test("only GraftSession builds a SparkSession") {
    val factory = Paths.get("src/main/scala/graft/GraftSession.scala")
    assert(sources.contains(factory))
    val call = "SparkSession" + ".builder" // split so this file does not match
    val builders = sources.filter(p =>
      p != factory && Files.readString(p, ISO_8859_1).contains(call))
    assert(builders.isEmpty, s"$call outside GraftSession in: ${builders.mkString(", ")}")
  }

  test("only PyCsv quotes CSV cells or parses multi-line CSV records") {
    val codec = Paths.get("src/main/scala/graft/engine/PyCsv.scala")
    assert(sources.contains(codec))
    // a hand-rolled cell quote, and Spark's multiLine CSV reader (a second
    // record parser)
    val copies = Seq("""replace("\"", "\"\"")""", "\"multiLine\"")
    val offenders = sources.filter(p =>
      p.startsWith(Paths.get("src/main")) && p != codec &&
        copies.exists(Files.readString(p, ISO_8859_1).contains))
    assert(offenders.isEmpty, s"CSV dialect code outside PyCsv in: ${offenders.mkString(", ")}")
  }

  test("src/main has no second reader that numbers records itself") {
    // a whole-file read or an RDD index is how a second numbering reader
    // would come back; split so this file does not match
    val calls = Seq("binaryFiles" + "(", "wholeTextFiles" + "(", ".zipWithIndex" + "()")
    val offenders = sources.filter(p =>
      p.startsWith(Paths.get("src/main")) && calls.exists(Files.readString(p, ISO_8859_1).contains))
    assert(offenders.isEmpty, s"record-numbering reads outside CsvSource in: ${offenders.mkString(", ")}")
  }

  test("the paper's path writes CSV only through PyCsv") {
    // Spark's univocity writer, and Spark's CSV reader or writer outside
    // CsvSource on the convert, CLI and dashboard paths
    val univocity = Seq("UnivocityGenerator", "catalyst.csv")
    val main = sources.filter(_.startsWith(Paths.get("src/main")))
    val generators = main.filter(p => univocity.exists(Files.readString(p, ISO_8859_1).contains))
    assert(generators.isEmpty, s"Spark's CSV generator in: ${generators.mkString(", ")}")
    val paths = Seq("engine", "builtin", "http", "cli").map(d => Paths.get(s"src/main/scala/graft/$d"))
    val reader = Paths.get("src/main/scala/graft/engine/CsvSource.scala")
    assert(main.contains(reader))
    val offenders = main.filter(p => paths.exists(p.startsWith) && p != reader &&
      Files.readString(p, ISO_8859_1).contains(".csv("))
    assert(offenders.isEmpty, s"Spark CSV calls outside CsvSource in: ${offenders.mkString(", ")}")
  }

  test("only the graftbridge package reaches Spark's internal Column API") {
    // Column.internalFn names functions Spark does not publish, and the
    // classic package holds the Column <-> Expression converters; both can
    // change between Spark releases, so one bridge holds every use
    val bridge = Paths.get("src/main/scala/org/apache/spark/sql/graftbridge")
    val internals = Seq("internalFn", "org.apache.spark.sql.classic")
    val main = sources.filter(_.startsWith(Paths.get("src/main")))
    assert(main.exists(_.startsWith(bridge)))
    val offenders = main.filter(p => !p.startsWith(bridge) &&
      internals.exists(Files.readString(p, ISO_8859_1).contains))
    assert(offenders.isEmpty, s"Spark internals outside graftbridge in: ${offenders.mkString(", ")}")
  }

  test("src/main/scala/graft/engine persists nothing") {
    // the engine observes its counters on the one action that runs a pass,
    // so no intermediate has to be cached, or released, around it
    val engine = Paths.get("src/main/scala/graft/engine")
    assert(sources.exists(_.startsWith(engine)))
    val calls = Seq(".persist(", ".cache()")
    val offenders = sources.filter(p => p.startsWith(engine) &&
      calls.exists(Files.readString(p, ISO_8859_1).contains))
    assert(offenders.isEmpty, s"persisted intermediates in: ${offenders.mkString(", ")}")
  }

  test("src/test reaches the reference checkout only through ReferenceConfig") {
    val config = Paths.get("src/test/scala/graft/ReferenceConfig.scala")
    val checkout = Paths.get(ReferenceConfig.dir).getParent.getParent.toString
    val walk = Files.walk(Paths.get("src/test"))
    val files = try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList finally walk.close()
    assert(files.contains(config))
    val offenders = files.filter(p => p != config && Files.readString(p, ISO_8859_1).contains(checkout))
    assert(offenders.isEmpty, s"$checkout outside ReferenceConfig in: ${offenders.mkString(", ")}")
  }
}
