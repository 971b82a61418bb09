package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source files stay plain text: a raw NUL byte makes grep and ripgrep
  * treat the whole file as binary and silently drop it from searches.
  * Write the character as the `\u0000` escape instead. */
class SourceHygieneSpec extends AnyFunSuite {
  test("no Scala source file contains a NUL byte") {
    val walk = Files.walk(Paths.get("src"))
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
                  finally walk.close()
    assert(sources.nonEmpty)
    val withNul = sources.filter((p: Path) => Files.readAllBytes(p).contains(0.toByte))
    assert(withNul.isEmpty, s"NUL bytes in: ${withNul.mkString(", ")}")
  }
}
