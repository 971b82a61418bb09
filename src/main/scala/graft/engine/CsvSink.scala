package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import graft.spec.{ColumnSpec, FileSpec, SpecJson}

/** CSV writer matching the reference's csv.DictWriter output
  * (csv_loader.py:11-23; dynamic.py:334-343):
  *   - header row in the given field order,
  *   - None → empty cell, Python str() for numerics/booleans,
  *   - every record, header included, rendered by `PyCsv.appendRecord`
  *     (QUOTE_MINIMAL, doubled quotes, a lone empty field written `""`).
  *
  * `writeSingleFile` reproduces the reference's one-output-file-per-input
  * contract without funnelling the plan through one task: the rows are
  * written as header-less part files in parallel by the spec sink
  * (`graft.sources.SpecCsvTable`), then joined in partition order behind
  * one header and published with an atomic rename — or discarded, when the
  * caller's gate refuses them. The sink and this join both handle the files
  * through `java.nio.file`, so staging holds only the parts.
  */
object CsvSink {

  /** CPython str(float) as a Column-level UDF — the single shared instance
    * (TransformCompiler's formula render uses it too). It is the convert's
    * hot path: every formula value is rendered here, by `PyFormat`'s
    * Schubfach digits with its one-digit rule for subnormals. */
  val pyFloatUdf = udf((d: java.lang.Double) =>
    if (d == null) null else PyFormat.pyFloatStr(d))

  /** §1.3.2 money format as a Column (exact CPython `f"{v:.8f}"` rounding —
    * HALF_EVEN on the binary value — then trailing-zero/dot strip). */
  val money8Udf = udf((d: java.lang.Double) =>
    if (d == null) null else PyFormat.money8(d))

  /** str(value) per Python semantics, as a Column. */
  def pyStringify(df: DataFrame, name: String): Column = {
    val c = col(s"`$name`")
    df.schema(name).dataType match {
      case StringType => c
      case DoubleType | FloatType => pyFloatUdf(c.cast("double"))
      case BooleanType => when(c, "True").otherwise("False")
      case _ => c.cast("string")
    }
  }

  private def prepared(df: DataFrame, fieldOrder: Seq[String]): DataFrame =
    df.select(fieldOrder.map(n => pyStringify(df, n).as(n)): _*)

  /** The sink's part files in partition order (`part-<partition>-<task>.csv`). */
  private def partsInOrder(dir: Path): Seq[Path] = {
    val listing = Files.list(dir)
    val parts = try listing.iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).toSeq finally listing.close()
    parts.sortBy(n => (n.drop(5).takeWhile(_.isDigit).toInt, n)).map(dir.resolve)
  }

  private def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  /** Reference-compat path: exactly one CSV file at `outFile`.
    *
    * The rows go out in parallel as header-less parts under
    * `outFile.__staging__`. Once that job is done — so the row count
    * observed on it, and any metrics the caller observed on `df`, are in —
    * `publish` decides. If it agrees, the parts are joined in partition
    * order behind the header into `outFile.__tmp__`, which is renamed onto
    * `outFile` in one atomic move; otherwise `outFile` is left as it was.
    * Staging is always removed. Returns the rows published, if any were.
    */
  def writeSingleFile(df: DataFrame, fieldOrder: Seq[String], outFile: String,
                      delimiter: String = ",",
                      publish: Long => Boolean = _ => true): Option[Long] = {
    // header-less, so the sink writes rows only; it requires a
    // one-character delimiter, as csv.writer does
    val parts = FileSpec("single_file", "single_file",
      columns = fieldOrder.map(ColumnSpec(_)), delimiter = delimiter,
      encoding = "utf-8", hasHeader = false)
    val rows = Observation()
    val out = prepared(df, fieldOrder).observe(rows, count(lit(1)).as("rows"))
    val staging = Paths.get(outFile + ".__staging__")
    val tmp = Paths.get(outFile + ".__tmp__")
    try {
      out.write.format("graft.sources.SpecCsvTable")
        .option("spec", SpecJson.dumps(SpecJson.fileSpecDict(parts)))
        .mode("overwrite").save(staging.toString)
      val n = rows.get("rows").asInstanceOf[Long]
      Option.when(publish(n)) {
        val target = Paths.get(outFile).toAbsolutePath
        Files.createDirectories(target.getParent)
        val w = Files.newOutputStream(tmp)
        try {
          val header = new java.lang.StringBuilder
          PyCsv.appendRecord(header, fieldOrder, delimiter.head)
          w.write(header.append('\n').toString.getBytes(StandardCharsets.UTF_8))
          partsInOrder(staging).foreach(Files.copy(_, w))
        } finally w.close()
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        n
      }
    } finally {
      deleteTree(staging)
      Files.deleteIfExists(tmp)
    }
  }
}
