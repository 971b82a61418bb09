package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, try_element_at, udf}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.CsvSource
import graft.CsvDialectPropertySpec.parseLine
import graft.spec.FileSpec

/** `CsvSource.readWithLineNumbers` reads the header on the driver. Its
  * frame must equal the one built when the header came from a Spark job
  * over the text source, whatever ends line 1. */
class CsvSourceHeaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def file(text: String, name: String = "in.csv"): String = {
    val f = Files.createTempDirectory("header").resolve(name)
    val out = Files.newOutputStream(f)
    val in = if (name.endsWith(".gz")) new GZIPOutputStream(out) else out
    try in.write(text.getBytes(UTF_8)) finally in.close()
    f.toString
  }

  /** The frame as built when line 1 was fetched with `head()`. */
  private def headerByJob(path: String): DataFrame = {
    import spark.implicits._
    val lines = spark.read.text(path).as[String].rdd
      .zipWithIndex()
      .map { case (l, i) => (l, i + 1) }
    val df = spark.createDataFrame(lines).toDF("__line", "__line_number")
    val header = df.filter($"__line_number" === 1).head().getString(0)
    val parse = udf((line: String) => parseLine(line, ','))
    df.filter($"__line_number" > 1 && $"__line" =!= "")
      .withColumn("__fields", parse($"__line"))
      .select(col("__line_number") +:
        parseLine(header, ',').zipWithIndex.map { case (n, i) =>
          try_element_at(col("__fields"), lit(i + 1)).as(n) }: _*)
  }

  private def read(path: String): DataFrame =
    CsvSource.readWithLineNumbers(spark, path, FileSpec("t", "t"))

  private def jobsDuring(body: => Unit): Int = SparkJobs.during(spark)(body).jobs

  private val endings = Seq(
    "LF" -> "id,na\u00efve name\n1,a\n2,b\n",
    "CRLF" -> "id,na\u00efve name\r\n1,a\r\n2,b\r\n",
    "lone CR" -> "id,na\u00efve name\r1,a\r2,b",
    "UTF-8 BOM" -> "\uFEFFid,na\u00efve name\n1,a\n2,b\n")

  for ((ending, text) <- endings) {
    test(s"header read on the driver equals the head() job's ($ending)") {
      val path = file(text)
      val got = read(path)
      val want = headerByJob(path)
      assert(got.columns.toSeq == Seq("__line_number", "id", "na\u00efve name"))
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(got.collect().toSeq == want.collect().toSeq)
      assert(got.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
        Seq((2L, "1", "a"), (3L, "2", "b")))
    }
  }

  test("a gzip file's header is read decompressed, as the text source reads it") {
    val path = file("id,name\n1,a\n2,b\n", "in.csv.gz")
    assert(read(path).columns.toSeq == Seq("__line_number", "id", "name"))
    assert(read(path).collect().toSeq == headerByJob(path).collect().toSeq)
  }

  test("an empty file still fails for want of a header") {
    val path = file("")
    intercept[NoSuchElementException](headerByJob(path))
    intercept[NoSuchElementException](read(path))
  }

  test("building the frame for a one-partition file starts no Spark job") {
    val path = file("id,name\n1,a\n2,b\n")
    assert(jobsDuring(headerByJob(path)) >= 1, "the listener counts the head() job")
    assert(jobsDuring(read(path)) == 0)
  }
}
