package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.io.StringWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** CSV writer matching the reference's csv.DictWriter output
  * (csv_loader.py:11-23; dynamic.py:334-343):
  *   - header row in the given field order,
  *   - None → empty cell, Python str() for numerics/booleans,
  *   - QUOTE_MINIMAL with doubled quotes (Spark: escape = quote char).
  *
  * `writeSingleFile` reproduces the reference's one-output-file-per-input
  * contract without funnelling the plan through one task: the rows are
  * written as header-less part files in parallel, then joined in partition
  * order behind one header and published with an atomic rename — or
  * discarded, when the caller's gate refuses them.
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

  /** Writer options, shared by the part files and the header. */
  private[graft] def csvOptions(columns: Int, delimiter: String): Map[String, String] = {
    // csv.writer quirk: an empty (or None) value in a ONE-column row is
    // written as `""` — a quoted empty — so the record is distinguishable
    // from a blank line; in multi-column rows empties stay unquoted.
    // univocity substitutes empty/nullValue BEFORE quote processing, so the
    // two-char `""` lands raw, exactly as Python emits it.
    val lone = if (columns == 1) "\"\"" else ""
    Map(
      "sep" -> delimiter,
      "escape" -> "\"",       // RFC-4180 doubled quotes, like csv module
      "emptyValue" -> lone,   // like DictWriter
      "nullValue" -> lone,
      // Spark's CSV writer TRIMS cell whitespace by default; csv.writer
      // preserves it verbatim (fuzz case: a value ending in '\n' lost its
      // newline inside the quoted cell)
      "ignoreLeadingWhiteSpace" -> "false",
      "ignoreTrailingWhiteSpace" -> "false")
  }

  /** The header line, rendered by the generator Spark's CSV writer uses. */
  private def header(schema: StructType, options: Map[String, String],
                     timeZone: String): Array[Byte] = {
    val out = new StringWriter()
    val gen = new UnivocityGenerator(schema, out, new CSVOptions(options, false, timeZone))
    gen.writeHeaders()
    gen.close()
    out.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Spark's part files in partition order (`part-<partition>-<job>-c<n>`). */
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
    val options = csvOptions(fieldOrder.length, delimiter)
    val rows = Observation()
    val out = prepared(df, fieldOrder).observe(rows, count(lit(1)).as("rows"))
    val staging = Paths.get(outFile + ".__staging__")
    val tmp = Paths.get(outFile + ".__tmp__")
    try {
      out.write.options(options).mode("overwrite").csv(staging.toString)
      val n = rows.get("rows").asInstanceOf[Long]
      Option.when(publish(n)) {
        val target = Paths.get(outFile).toAbsolutePath
        Files.createDirectories(target.getParent)
        val w = Files.newOutputStream(tmp)
        try {
          w.write(header(out.schema, options,
            df.sparkSession.conf.get("spark.sql.session.timeZone")))
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
