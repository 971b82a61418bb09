package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Expected outputs pinned in `<dir>/<file>.tsv` as `key<TAB>value` lines.
  * When `writing`, `check` records the actual value instead and `save`
  * rewrites the touched files. */
final class Pins(dir: Path, writing: Boolean) {
  private val files = mutable.Map.empty[String, mutable.Map[String, String]]

  private def load(file: String): mutable.Map[String, String] =
    files.getOrElseUpdate(file, {
      val p = dir.resolve(s"$file.tsv")
      val m = mutable.TreeMap.empty[String, String]
      if (Files.exists(p) && !writing)
        Files.readAllLines(p, StandardCharsets.UTF_8).asScala
          .filter(l => l.nonEmpty && !l.startsWith("#"))
          .foreach { l => val Array(k, v) = l.split("\t", 2); m(k) = v }
      m
    })

  /** None when `actual` equals the pinned value, else a failure message. */
  def check(file: String, key: String, actual: String): Option[String] = {
    val m = load(file)
    if (writing) { m(key) = actual; None }
    else m.get(key) match {
      case Some(v) if v == actual => None
      case Some(v) => Some(s"$file/$key: expected $v, got $actual")
      case None => Some(s"$file/$key: no pinned value")
    }
  }

  def save(): Unit = if (writing) files.foreach { case (file, m) =>
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"$file.tsv"),
      m.map { case (k, v) => s"$k\t$v\n" }.mkString.getBytes(StandardCharsets.UTF_8))
  }
}
