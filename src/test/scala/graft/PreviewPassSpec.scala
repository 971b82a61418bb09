package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Api, CsvSource, Preview, PreviewRow, Runner}
import graft.spec.{ETLMapping, FieldMapping, FileSpec, FilterRule}

/** `Api.preview` runs one observed pass: its rows equal a read sorted by
  * line number, its counts and errors equal `Runner.validate`'s whatever
  * `n` is, and a preview of a one-partition file is one Spark job with no
  * shuffle, even where its errors lie past the rows it returns. */
class PreviewPassSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val spec = FileSpec("s", "s")

  private val mapping = ETLMapping("m", "m", "s", "d",
    fieldMappings = Seq(
      FieldMapping("id", Some("id"), "prefix", Map("value" -> "T")),
      FieldMapping("date", Some("date"), "date_format",
        Map("input_format" -> "%Y-%m-%d", "output_format" -> "%d.%m.%Y")),
      FieldMapping("status", Some("status"), "lookup", Map("paid" -> "P", "refunded" -> "R"))),
    filterRules = Seq(FilterRule("status", "equals", value = Some("cancelled"))))

  /** `rows` data rows; a line in `badDates` gets an unparseable date, one
    * in `badStatus` a status the lookup misses, every seventh row is
    * cancelled (skipped). */
  private def file(rows: Int, badDates: Set[Long] = Set.empty,
                   badStatus: Set[Long] = Set.empty): String = {
    val sb = new StringBuilder("id,date,status,note\n")
    for (i <- 0 until rows) {
      val line = i + 2L
      val date = if (badDates(line)) "not-a-date" else f"2024-01-${1 + i % 28}%02d"
      val status = if (badStatus(line)) "lost" else if (i % 7 == 3) "cancelled" else "paid"
      sb.append(s"${1000 + i},$date,$status,\"note, $i\"\n")
    }
    val f = Files.createTempDirectory("preview").resolve("in.csv")
    Files.write(f, sb.toString.getBytes(UTF_8))
    f.toString
  }

  /** The first `n` rows as the preview read them before: sorted by line. */
  private def sortedRows(path: String, n: Int): Seq[PreviewRow] = {
    val df = CsvSource.readWithLineNumbers(spark, path, spec)
    val cols = df.columns.filterNot(_ == "__line_number")
    df.orderBy("__line_number").limit(n).collect().map(r =>
      PreviewRow(r.getAs[Long]("__line_number"),
        cols.map(c => c -> Option(r.getAs[String](c)).getOrElse("")).toMap)).toSeq
  }

  private def validate(path: String) =
    Runner.validate(CsvSource.readWithLineNumbers(spark, path, spec), mapping)

  test("rows of a file read in several partitions equal the sorted read") {
    val path = file(2000, badDates = Set(40L, 1500L), badStatus = Set(40L, 1999L))
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "4k")
    try {
      assert(CsvSource.readWithLineNumbers(spark, path, spec).rdd.getNumPartitions > 4)
      val all = sortedRows(path, Int.MaxValue)
      assert(all.size == 2000)
      assert(Api.preview(spark, path, spec, None, n = Int.MaxValue).rows == all)
      val p = Api.preview(spark, path, spec, Some(mapping), n = Int.MaxValue)
      assert(p.rows == all)
      assert(p.result.contains(validate(path)))
      assert(Api.preview(spark, path, spec, Some(mapping), n = 25).rows == all.take(25))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("with n = 10 the counts and errors cover the lines the rows stop short of") {
    val path = file(60, badDates = Set(6L, 30L, 41L), badStatus = Set(41L, 55L))
    val p = Api.preview(spark, path, spec, Some(mapping), n = 10)
    assert(p.rows.map(_.line) == (2L to 11L))
    val want = validate(path)
    assert(want.errorCount == 5)
    assert(p.result.contains(want))
    assert(p.errorsByLine.keySet == Set(6L, 30L, 41L, 55L))
    // two errors on one line come in the detail's order: by field
    assert(p.errorsByLine(41L).map(_.field) == Seq("date", "status"))
  }

  test("every error on the collected rows: detail in errorDetail's order") {
    val path = file(60, badDates = Set(6L, 30L, 41L), badStatus = Set(41L, 55L))
    val p = Api.preview(spark, path, spec, Some(mapping), n = Int.MaxValue)
    assert(p.result.contains(validate(path)))
    assert(p.result.get.errors.map(e => (e.line_number, e.field)) ==
      Seq(6L -> "date", 30L -> "date", 41L -> "date", 41L -> "status", 55L -> "status"))
  }

  test("a whole-file preview with a mapping is one Spark job with no shuffle") {
    val path = file(500, badDates = Set(7L))
    val old = SparkJobs.during(spark) {
      sortedRows(path, Int.MaxValue)
      validate(path)
    }
    assert(old.jobs > 1 && old.shuffleBytes > 0, "the listener sees the sorted read's shuffle")
    val ran = SparkJobs.during(spark)(Api.preview(spark, path, spec, Some(mapping), n = Int.MaxValue))
    assert(ran == SparkJobs.Ran(jobs = 1, shuffleBytes = 0))
  }

  test("a preview with n = 10 and errors past line 11 is one job") {
    val path = file(60, badDates = Set(6L, 30L, 41L), badStatus = Set(41L, 55L))
    var p = Option.empty[Preview]
    val ran = SparkJobs.during(spark) {
      p = Some(Api.preview(spark, path, spec, Some(mapping), n = 10))
    }
    assert(ran.jobs == 1)
    assert(p.get.errorsByLine.keySet == Set(6L, 30L, 41L, 55L))
  }

  test("Runner.validate runs as many jobs with errors as without") {
    val clean = file(60)
    val errored = file(60, badDates = Set(6L, 30L, 41L), badStatus = Set(41L, 55L))
    assert(validate(clean).errorCount == 0 && validate(errored).errorCount == 5)
    val without = SparkJobs.during(spark)(validate(clean))
    val withErrors = SparkJobs.during(spark)(validate(errored))
    assert(withErrors.jobs == without.jobs)
  }

  test("the process route's re-read (no mapping, every row) is one job, rows unchanged") {
    val path = file(300)
    var rows = Seq.empty[PreviewRow]
    val ran = SparkJobs.during(spark) {
      rows = Api.preview(spark, path, spec, None, n = Int.MaxValue).rows
    }
    assert(ran == SparkJobs.Ran(jobs = 1, shuffleBytes = 0))
    assert(rows == sortedRows(path, Int.MaxValue))
  }

  test("a blank line among the first n + 1 lines still leaves n rows") {
    val f = Files.createTempDirectory("preview").resolve("blank.csv")
    Files.write(f, "id,name\n1,a\n\n2,b\n3,c\n4,d\n".getBytes(UTF_8))
    val p = Api.preview(spark, f.toString, spec, None, n = 3)
    assert(p.rows.map(_.line) == Seq(2L, 3L, 4L))
    assert(p.rows == sortedRows(f.toString, 3))
    assert(Api.preview(spark, f.toString, spec, None, n = 10).rows.map(_.line) ==
      Seq(2L, 3L, 4L, 5L))
  }
}
