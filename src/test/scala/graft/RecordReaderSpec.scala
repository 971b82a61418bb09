package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.GZIPOutputStream
import scala.util.Random
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Api, CsvSource, PyCsv, RowEdit}
import graft.spec.FileSpec

/** `CsvSource.readWithLineNumbers` numbers records as CPython's
  * `enumerate(csv.DictReader, start=2)` does, however the text source
  * splits the file: its rows equal `PyCsv.records` on the whole text, the
  * header dropped, numbered from 2, with missing cells null. Most cases
  * read with 64-byte splits, so quoted line breaks, quotes and CRLFs fall
  * across split boundaries. */
class RecordReaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def file(text: String, name: String = "in.csv"): String = {
    val f = Files.createTempDirectory("records").resolve(name)
    val out = Files.newOutputStream(f)
    val in = if (name.endsWith(".gz")) new GZIPOutputStream(out) else out
    try in.write(text.getBytes(UTF_8)) finally in.close()
    f.toString
  }

  private def read(path: String) =
    CsvSource.readWithLineNumbers(spark, path, FileSpec("t", "t"))

  /** The rows `PyCsv.records` reads from the whole text. */
  private def expected(text: String): Seq[Seq[Any]] = {
    val recs = PyCsv.records(text, ',').toVector
    recs.tail.zipWithIndex.map { case (r, i) =>
      (i + 2L) +: recs.head.indices.map(j => if (j < r.length) r(j) else null)
    }
  }

  private def rows(path: String): Seq[Seq[Any]] = read(path).collect().map(_.toSeq).toSeq

  /** Lines in each split, as the text source splits the file. */
  private def splitLines(path: String): Seq[Int] =
    spark.read.text(path).rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq

  private def withSplitBytes[T](bytes: String)(body: => T): T = {
    val keys = Seq("spark.sql.files.maxPartitionBytes" -> bytes, "spark.sql.files.openCostInBytes" -> "0")
    val before = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The largest result a task sent the driver while `body` ran. */
  private def largestTaskResult(body: => Unit): Long = {
    val largest = new AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) largest.accumulateAndGet(e.taskMetrics.resultSize, math.max(_, _))
    }
    spark.sparkContext.addSparkListener(listener)
    // `during` returns after the listener bus has delivered the block's events
    try SparkJobs.during(spark)(body) finally spark.sparkContext.removeSparkListener(listener)
    largest.get
  }

  /** A random file: LF, CRLF and lone-CR ends, blank lines, short rows,
    * quoted fields with line breaks, doubled and stray quotes, long cells;
    * it may end without a break or inside an open quote. */
  private def randomText(rng: Random): String = {
    val width = 1 + rng.nextInt(4)
    def brk = Seq("\n", "\r\n", "\r")(rng.nextInt(3))
    def cell: String = rng.nextInt(9) match {
      case 0 => ""
      case 1 => "\"" + Seq("a", brk, "\"\"", ",", "b").take(1 + rng.nextInt(5)).mkString + "\""
      case 2 => "\"q" + Seq.fill(1 + rng.nextInt(4))(brk + "line").mkString + "\""
      case 3 => "say \"hi\""
      case 4 => "x" * (40 + rng.nextInt(150))
      case 5 => "\"\"\"quoted\"\"\""
      case _ => rng.alphanumeric.take(1 + rng.nextInt(6)).mkString
    }
    val sb = new StringBuilder((1 to width).map(i => s"c$i").mkString(","))
    for (_ <- 0 until 5 + rng.nextInt(25)) {
      sb.append(brk)
      if (rng.nextInt(8) == 0) sb.append(brk) // a blank line
      sb.append(Seq.fill(1 + rng.nextInt(width + 1))(cell).mkString(","))
    }
    rng.nextInt(4) match {
      case 0 => sb.toString
      case 1 => sb.append(",\"open").append(brk).append("still").toString
      case _ => sb.append(brk).toString
    }
  }

  test("random files in 64-byte splits read as PyCsv reads the whole text") {
    val rng = new Random(20261019L)
    withSplitBytes("64") {
      for (k <- 0 until 40) {
        val text = randomText(rng)
        val path = file(text)
        assert(rows(path) == expected(text), s"file $k: ${text.take(300).replace("\r", "\\r")}")
      }
    }
  }

  test("splits that hold no line start: a long line over several splits") {
    val text = "id,note\n1," + "x" * 300 + "\n2,b\n"
    val path = file(text)
    withSplitBytes("64") {
      assert(splitLines(path).count(_ == 0) >= 3)
      assert(rows(path) == Seq(Seq(2L, "1", "x" * 300), Seq(3L, "2", "b")))
    }
  }

  test("a quoted record spanning three or more splits, CRLF and lone CR inside") {
    val note = (1 to 30).map(i => s"line $i").mkString("\r\n") + "\r" + "\"\"end\"\""
    val text = "id,note,n\r\n1,a,1\r\n2,\"" + note + "\",2\r\n\r\n3,c\r\n"
    assert(note.length > 3 * 64)
    val path = file(text)
    withSplitBytes("64") {
      assert(splitLines(path).size >= 5)
      assert(rows(path) == Seq(Seq(2L, "1", "a", "1"),
        Seq(3L, "2", note.replace("\r\n", "\n").replace("\r", "\n").replace("\"\"", "\""), "2"),
        Seq(4L, "3", "c", null)))
    }
  }

  test("a file that ends inside an open quote keeps its last break only if it has one") {
    // CPython: list(csv.reader(io.StringIO('h\n"open\nstill'))) ends with
    // ['open\nstill'], and with a final '\n' with ['open\nstill\n']
    val body = "h\n1\n\"open\n" + "y" * 200 + "\nstill"
    for ((text, last) <- Seq(body -> "still", (body + "\n") -> "still\n", (body + "\r\n") -> "still\n");
         (name, bytes) <- Seq("in.csv" -> "64", "in.csv" -> "128m", "in.csv.gz" -> "64")) withSplitBytes(bytes) {
      assert(rows(file(text, name)) == Seq(Seq(2L, "1"), Seq(3L, "open\n" + "y" * 200 + "\n" + last)),
        s"$name, split bytes $bytes")
    }
  }

  test("building a frame over a gzip file reads only its first record") {
    // a gzip stream cut short fails only where it is read through
    val whole = Files.readAllBytes(Paths.get(file("id\n" + (1 to 5000).map(i => s"$i\n").mkString, "in.csv.gz")))
    val cut = Files.createTempDirectory("records").resolve("cut.csv.gz")
    Files.write(cut, whole.take(whole.length / 2))
    assert(read(cut.toString).columns.toSeq == Seq("__line_number", "id"))
  }

  test("phase 1 sends the driver no lines when no record is open at a split boundary") {
    // csv.writer writes a last cell `end\n` as `"end` and a line holding
    // only `"`; read from inside a quote, that line opens a field that the
    // plain rows after it never close
    val text = "id,note\n1,\"end\n\"\n" + (2 to 8000).map(i => s"$i,plain row $i\n").mkString
    val path = file(text)
    withSplitBytes("64k") {
      assert(spark.read.text(path).rdd.getNumPartitions >= 3)
      val largest = largestTaskResult(read(path))
      assert(largest < 8 * 1024, s"a task sent $largest bytes")
      assert(rows(path) == expected(text))
    }
  }

  test("a blank line and a quoted break take no number; a one-partition frame starts no job") {
    val text = "id,name\n1,a\n\n2,\"b\nb\"\n3,c\n"
    val path = file(text)
    assert(SparkJobs.during(spark)(read(path)).jobs == 0)
    assert(rows(path) == Seq(Seq(2L, "1", "a"), Seq(3L, "2", "b\nb"), Seq(4L, "3", "c")))
  }

  test("a multi-partition file has one build-time job, as zipWithIndex had") {
    val text = "id,name\n" + (1 to 2000).map(i => s"$i,\"n, $i\"\n").mkString
    val path = file(text)
    withSplitBytes("4k") {
      assert(spark.read.text(path).rdd.getNumPartitions > 4)
      assert(SparkJobs.during(spark)(spark.read.text(path).rdd.zipWithIndex()).jobs == 1)
      assert(SparkJobs.during(spark)(read(path)).jobs == 1)
      assert(rows(path) == expected(text))
    }
  }

  test("preview and RowEdit number rows alike: editing a previewed row edits that row") {
    val text = "id,name,note\r\n1,a,x\r\n\r\n2,b,\"multi\r\nline\"\r\n3,c\r\n4,d,y\r\n"
    val rows = Api.preview(spark, file(text), FileSpec("t", "t"), None).rows
    assert(rows.size == 4)
    for (row <- rows) {
      val path = file(text)
      assert(RowEdit.updateRow(path, row.line.toInt, Map("name" -> "EDITED")) == Right(()))
      val after = Api.preview(spark, path, FileSpec("t", "t"), None).rows
      assert(after == rows.map(r =>
        if (r.line == row.line) r.copy(cells = r.cells.updated("name", "EDITED")) else r),
        s"edit of line ${row.line}")
    }
  }
}
