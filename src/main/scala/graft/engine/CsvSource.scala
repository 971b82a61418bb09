package graft.engine

import java.io.InputStream
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.spec.FileSpec

/** CSV ingestion per FileSpec (reference S1/S2, extractors/base.py:8-14,
  * dynamic.py:298-302). All columns are read as strings — the reference's
  * runtime is `dict[str, str]`; typed casts happen lazily downstream.
  *
  * Unlike the reference's dynamic engine (which hardcodes UTF-8 + comma,
  * dynamic.py:298-299 — SURVEY §1.3.6), `read` and
  * `readRecordsWithOrdinals` honour the spec's delimiter and encoding;
  * `readWithLineNumbers`, the path `Api` takes, honours only the delimiter.
  */
object CsvSource {

  /** Python's csv.DictReader yields "" for empty cells (never None for a
    * present column) — coalesce Spark's CSV nulls to "" so downstream
    * truthiness/str() semantics match the reference's dict[str,str] rows. */
  private def pyStrings(df: DataFrame): DataFrame =
    df.select(df.columns.map(c =>
      coalesce(col(s"`$c`"), lit("")).as(c)): _*)

  /** Fast path: header-driven all-string read; scales to a directory glob
    * (one Spark job over many files — partitioned by file splits).
    *
    * Boundary vs the provenance reader: Spark's native CSV parser cannot
    * distinguish a MISSING trailing cell from a present empty one, so this
    * path folds both to "" (pyStrings). `readWithLineNumbers` preserves
    * the DictReader None/"" distinction that lookup errors and null-safe
    * filter rules observe — use it wherever reference-exact error/filter
    * semantics on SHORT ROWS matter (the parity paths do); this reader is
    * for well-formed rectangular data at scale. */
  def read(spark: SparkSession, path: String, spec: FileSpec): DataFrame =
    pyStrings(spark.read
      .option("header", spec.hasHeader)
      .option("sep", spec.delimiter)
      .option("encoding", spec.encoding)
      .option("inferSchema", value = false)
      // csv-module dialect: quotes escape by DOUBLING, not backslash
      // (Spark's default escape '\' leaves `"say ""hi"""` unparsed — the
      // round-12 fuzz suite caught it)
      .option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .csv(path))

  /** Provenance path: attaches the reference's 1-based file line numbers
    * (header = line 1, first data row = 2 — dynamic.py:302). Built from a
    * text scan + zipWithIndex (contiguous, unlike
    * monotonically_increasing_id) and `PyCsv.parseLine` for the fields of
    * each line.
    *
    * Like the reference's dynamic engine (dynamic.py:298-302), this reader
    * decodes UTF-8 and takes line 1 as the header whatever the spec's
    * `encoding` and `has_header` say; only its delimiter is honoured.
    * `path` names one file; its header is read on the driver
    * (`firstLine`), so a one-partition file starts no job until an action.
    * Assumes no embedded newlines inside quoted fields (same rows the
    * reference's csv.DictReader would see line-aligned); use `read` when
    * line provenance isn't needed — it's the fast path at scale.
    */
  def readWithLineNumbers(spark: SparkSession, path: String, spec: FileSpec): DataFrame = {
    import spark.implicits._
    val lines = spark.read.text(path).as[String].rdd
      .zipWithIndex()
      .map { case (l, i) => (l, i + 1) } // 1-based file lines
    val df = spark.createDataFrame(lines).toDF("__line", "__line_number")
    val d = spec.delimiter.head
    val header = firstLine(spark, path)
    val colNames = PyCsv.parseLine(header, d)
    // Parse with the csv-module splitter instead of from_csv: the
    // reference's DictReader distinguishes a MISSING trailing cell (row
    // shorter than the header → None) from a PRESENT empty cell ("") —
    // lookup's error condition and null-safe filters observe the
    // difference — and unescapes doubled quotes. Spark's CSV parser folds
    // both to null (and needs escape wiring for `""`). A deterministic
    // scalar UDF on this compat/provenance path only; fully distributed
    // (per-line map, no shuffle), and `read` stays the codegen'd fast path.
    val parseUdf = udf((line: String) => PyCsv.parseLine(line, d))
    df.filter($"__line_number" > 1 && $"__line" =!= "")
      .withColumn("__fields", parseUdf($"__line"))
      .select(col("__line_number") +:
        colNames.zipWithIndex.map { case (n, i) =>
          try_element_at(col("__fields"), lit(i + 1)).as(n) }: _*)
  }

  /** Line 1 of the file at `path`, read on the driver so that building the
    * frame starts no Spark job. It reads as Spark's text source does: a
    * compressed file is decompressed by the codec its extension names,
    * Hadoop's `LineReader` ends the line at `\n`, `\r` or `\r\n`, a
    * leading UTF-8 byte-order mark is dropped (as `LineRecordReader` drops
    * it) and `Text` decodes UTF-8. An empty file has no header and fails. */
  private def firstLine(spark: SparkSession, path: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val raw = p.getFileSystem(conf).open(p)
    val in = Option(new CompressionCodecFactory(conf).getCodec(p))
      .fold[InputStream](raw)(_.createInputStream(raw))
    try {
      val line = new Text()
      if (new LineReader(in).readLine(line) == 0)
        throw new NoSuchElementException(s"$path has no header line")
      val b = line.getBytes
      val bom = line.getLength >= 3 &&
        b(0) == 0xEF.toByte && b(1) == 0xBB.toByte && b(2) == 0xBF.toByte
      if (bom) Text.decode(b, 3, line.getLength - 3) else line.toString
    } finally in.close()
  }

  /** Record-ordinal provenance path: the reference's "line numbers" are
    * really `enumerate(DictReader, start=2)` — RECORD ordinals, which
    * diverge from physical file lines when a quoted field embeds a newline
    * (dynamic.py:302; pinned by the `multiline` golden). Each file is read
    * whole in one task (such CSVs cannot split anyway), decoded with the
    * spec's encoding and parsed by `PyCsv.records`; its first record is the
    * header and the rest are numbered from 2. A record shorter than the
    * header leaves the missing cells null (DictReader's None), as
    * `readWithLineNumbers` does. */
  def readRecordsWithOrdinals(spark: SparkSession, path: String, spec: FileSpec): DataFrame = {
    val d = spec.delimiter.head
    val encoding = spec.encoding
    val texts = spark.sparkContext.binaryFiles(path).values
      .map(f => new String(f.toArray(), encoding))
    val header = texts.map(PyCsv.records(_, d).take(1).toSeq.flatten).first()
    val rows = texts.flatMap(t => PyCsv.records(t, d).drop(1).zipWithIndex.map {
      case (rec, i) => Row.fromSeq((i + 2L) +: header.indices.map(j =>
        if (j < rec.length) rec(j) else null))
    })
    spark.createDataFrame(rows, StructType(
      StructField("__line_number", LongType, nullable = false) +:
        header.map(StructField(_, StringType, nullable = true))))
  }
}
