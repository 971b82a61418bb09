package graft.engine

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.{SerializableWritable, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.spec.FileSpec

/** CSV ingestion per FileSpec (reference S1/S2, extractors/base.py:8-14,
  * dynamic.py:298-302). All columns are read as strings — the reference's
  * runtime is `dict[str, str]`; typed casts happen lazily downstream.
  *
  * Two readers: `read`, Spark's CSV source for rectangular data at scale,
  * and `readWithLineNumbers`, the path `Api` takes, which numbers records
  * as the reference does. Unlike the reference's dynamic engine (which
  * hardcodes UTF-8 + comma, dynamic.py:298-299 — SURVEY §1.3.6), `read`
  * honours the spec's delimiter and encoding; `readWithLineNumbers`
  * honours only the delimiter.
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
    * path folds both to "" (pyStrings), and it numbers nothing.
    * `readWithLineNumbers` numbers records and preserves
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

  /** Provenance path: the rows of the file at `path`, each numbered by
    * its record ordinal as the reference numbers them,
    * `enumerate(csv.DictReader, start=2)` (dynamic.py:302, app.py:535):
    * the header is record 1, a quoted line break adds no number and a
    * blank line is not counted. Records are `PyCsv`'s, read from
    * `spark.read.text` with its partitioning: each split's lines are one
    * stream, read as if each line ended in `\n`. A record shorter than the
    * header leaves the missing cells null (DictReader's None).
    *
    * A one-partition file (every dashboard file) is read from a record
    * start at ordinal 1, and building its frame starts no job. With more
    * partitions, one job first scans every split but the last from both
    * states a line can start in, between records and inside a quoted
    * field (`Split`); the driver chains the splits left to right to learn
    * each one's true state and first ordinal (`Plan`). Each split then
    * emits the records that end in it, the first after the lines of a
    * record carried in from the splits before; the last split also emits
    * a record still open at the end of the file. A second job runs only
    * when a record crosses a split boundary, to fetch the lines it has in
    * the splits before the one it ends in.
    *
    * Like the reference's dynamic engine (dynamic.py:298-302), this reader
    * decodes UTF-8 and takes the first record as the header whatever the
    * spec's `encoding` and `has_header` say; only its delimiter is
    * honoured. `path` names one file. Use `read` when record provenance
    * isn't needed: it's the fast path at scale.
    */
  def readWithLineNumbers(spark: SparkSession, path: String, spec: FileSpec): DataFrame = {
    val d = spec.delimiter.head
    val conf = spark.sparkContext.hadoopConfiguration
    val header = firstRecord(conf, path, d)
    val lastBreak = endsInBreak(conf, path)
    val text = spark.read.text(path).queryExecution.toRdd
    val last = text.getNumPartitions - 1
    val plan = if (last <= 0) Plan.single else chain(text, d)
    val width = header.length
    val rows = text.mapPartitionsWithIndex[Row] { (i, it) =>
      if (plan.inside(i)) Iterator.empty
      else {
        val lines = plan.carried(i).iterator ++ it.map(_.getUTF8String(0).toString)
        val recs = PyCsv.lineRecords(lines, d, if (i == last) Some(lastBreak) else None)
        var ordinal = plan.base(i) max 2L
        // ordinal 1 is the header
        (if (plan.base(i) == 1) recs.drop(1) else recs).map { rec =>
          val cells = new Array[Any](width + 1)
          cells(0) = ordinal
          var j = 0
          while (j < width && j < rec.length) { cells(j + 1) = rec(j); j += 1 }
          ordinal += 1
          new GenericRow(cells)
        }
      }
    }
    spark.createDataFrame(rows, StructType(
      StructField("__line_number", LongType, nullable = false) +:
        header.map(StructField(_, StringType, nullable = true))))
  }

  /** One split read from one start state: the records that end in it, and
    * whether a record is still open after its last line, begun at line
    * `openFrom` of the split (-1: begun in an earlier split). */
  private final case class Scan(ended: Long, open: Boolean, openFrom: Int)

  /** A split's line count and its scans from both start states. */
  private final case class Split(lines: Int, between: Scan, quoted: Scan)

  /** What each split needs to emit its records: the ordinal of the first
    * record it reads, the lines of a record carried in from the splits
    * before it, and whether it lies wholly inside a record that a later
    * split ends (then it emits nothing). */
  private final case class Plan(base: Array[Long], carried: Array[Vector[String]],
                                inside: Array[Boolean])
  private object Plan {
    val single: Plan = Plan(Array(1L), Array(Vector.empty), Array(false))
  }

  /** Scans one split's lines from both start states at once. */
  private def scan(rows: Iterator[InternalRow], d: Char): Split = {
    // index 0 starts between records, index 1 inside a quoted field
    val ended = Array(0L, 0L)
    val open = Array(false, true)
    val from = Array(0, -1)
    var j = 0
    rows.foreach { r =>
      val line = r.getUTF8String(0).toString
      var k = 0
      while (k < 2) {
        if (open(k)) {
          if (!PyCsv.quotedAfter(line, quoted = true, d)) { open(k) = false; ended(k) += 1 }
        } else if (line.nonEmpty) {
          if (PyCsv.quotedAfter(line, quoted = false, d)) { open(k) = true; from(k) = j }
          else ended(k) += 1
        }
        k += 1
      }
      j += 1
    }
    Split(j, Scan(ended(0), open(0), from(0)), Scan(ended(1), open(1), from(1)))
  }

  /** Phase 1 and the driver's chaining: one job scans the splits, then
    * each split's true start state follows from the one before it, from a
    * record start at the beginning of the file. The last split's own scan
    * decides nothing, so the job skips it, as `zipWithIndex` does. Only
    * then are the lines of records that cross a boundary fetched, so no
    * other line reaches the driver. */
  private def chain(text: RDD[InternalRow], d: Char): Plan = {
    val last = text.getNumPartitions - 1
    val sc = text.sparkContext
    val splits = sc.runJob(text, (it: Iterator[InternalRow]) => scan(it, d), 0 until last)
    val base = new Array[Long](last + 1)
    val inside = new Array[Boolean](last + 1)
    val scans = new Array[Scan](last)
    base(0) = 1L
    for (i <- 0 until last) {
      scans(i) = if (i > 0 && scans(i - 1).open) splits(i).quoted else splits(i).between
      base(i + 1) = base(i) + scans(i).ended
      inside(i) = scans(i).open && scans(i).openFrom < 0
    }
    // the first line of each split that a record open at its end holds
    val from = (0 until last).collect {
      case i if scans(i).open && splits(i).lines > 0 => i -> (scans(i).openFrom max 0)
    }.toMap
    val tails =
      if (from.isEmpty) Map.empty[Int, Vector[String]]
      else {
        val ids = from.keys.toSeq.sorted
        ids.zip(sc.runJob(text, (ctx: TaskContext, it: Iterator[InternalRow]) =>
          it.drop(from(ctx.partitionId())).map(_.getUTF8String(0).toString).toVector, ids)).toMap
      }
    // the lines of the record open at each split's start
    val carried = new Array[Vector[String]](last + 1)
    var pending = Vector.empty[String]
    for (i <- 0 until last) {
      carried(i) = if (inside(i)) Vector.empty else pending
      pending =
        if (!scans(i).open) Vector.empty
        else (if (inside(i)) pending else Vector.empty) ++ tails.getOrElse(i, Vector.empty)
    }
    carried(last) = pending
    Plan(base, carried, inside)
  }

  /** The file as Spark's text source reads its bytes: a compressed file is
    * decompressed by the codec its extension names. */
  private def open(conf: Configuration, path: String): InputStream = {
    val p = new Path(path)
    val raw = p.getFileSystem(conf).open(p)
    Option(new CompressionCodecFactory(conf).getCodec(p))
      .fold[InputStream](raw)(_.createInputStream(raw))
  }

  /** The file's first record, the header, read on the driver so that
    * building the frame starts no Spark job. A leading UTF-8 byte-order
    * mark is dropped (as `LineRecordReader` drops it) and the bytes decode
    * as UTF-8. An empty file has no header and fails. */
  private def firstRecord(conf: Configuration, path: String, d: Char): IndexedSeq[String] = {
    val in = new BufferedReader(new InputStreamReader(open(conf, path), UTF_8))
    try {
      in.mark(1)
      if (in.read() != 0xFEFF) in.reset()
      PyCsv.records(in, d).nextOption()
        .getOrElse(throw new NoSuchElementException(s"$path has no header line"))
    } finally in.close()
  }

  /** Whether the file's last byte is a line break, which only a record
    * still open in a quoted field at the end of the file asks. The last
    * byte of an uncompressed file is read here, after a seek. A compressed
    * file is decompressed through, and only by a task that asks; for it
    * the Hadoop configuration, some 100 KB serialized, ships with every
    * task, so it does not for an uncompressed file. */
  private def endsInBreak(conf: Configuration, path: String): () => Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (new CompressionCodecFactory(conf).getCodec(p) == null) {
      val raw = fs.open(p)
      val b = try { raw.seek(fs.getFileStatus(p).getLen - 1); raw.read() } finally raw.close()
      () => b == '\n' || b == '\r'
    } else {
      val shipped = new SerializableWritable(conf)
      () => {
        val in = open(shipped.value, path)
        val buf = new Array[Byte](1 << 16)
        var b = -1
        try {
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) b = buf(n - 1) & 0xFF; n = in.read(buf) }
        } finally in.close()
        b == '\n' || b == '\r'
      }
    }
  }
}
