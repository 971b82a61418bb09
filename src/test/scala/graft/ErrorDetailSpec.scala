package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Api, CsvSource, RowError, Runner, TransformResult}
import graft.spec.{ETLMapping, FieldMapping, FileSpec}

/** The error detail is observed on the pass that writes or counts: a gated
  * convert is one Spark job past the reader's, and the detail equals the
  * sort-and-limit query it replaced, bound and ties included. */
class ErrorDetailSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val spec = FileSpec("s", "s")

  // `status` comes first in mapping order, but a `date` error sorts first
  private val mapping = ETLMapping("m", "m", "s", "d",
    fieldMappings = Seq(
      FieldMapping("status", Some("status"), "lookup", Map("paid" -> "P")),
      FieldMapping("date", Some("date"), "date_format",
        Map("input_format" -> "%Y-%m-%d", "output_format" -> "%d.%m.%Y"))))

  /** The error detail as a query over an annotated plan: explode the errors,
    * sort by (line, field, message), keep the first `MaxCollectedErrors`. */
  private def sortedDetail(planned: DataFrame): Seq[RowError] = {
    import spark.implicits._
    planned.filter(!col("__skip") && size(col("__errors")) > 0)
      .select(col("__line_number"), explode(col("__errors")).as("e"))
      .select(col("__line_number").as("line_number"), col("e.field"),
              col("e.error_message"), col("e.source_value"))
      .orderBy(col("line_number"), col("field"), col("error_message"))
      .limit(Runner.MaxCollectedErrors)
      .as[RowError].collect().toSeq
  }

  test("a gated convert of a split file is one job past the reader's; detail == sorted query") {
    val badDate = Set(40L, 700L, 1500L)
    val badStatus = Set(40L, 1999L)
    val sb = new StringBuilder("id,date,status,note\n")
    for (i <- 0 until 2000) {
      val line = i + 2L
      val date = if (badDate(line)) s"bad-$line" else f"2024-01-${1 + i % 28}%02d"
      val status = if (badStatus(line)) "lost" else "paid"
      sb.append(s"${1000 + i},$date,$status,\"note, $i\"\n")
    }
    val dir = Files.createTempDirectory("detail")
    val path = dir.resolve("in.csv").toString
    Files.write(Paths.get(path), sb.toString.getBytes(UTF_8))

    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "4k")
    try {
      val df = CsvSource.readWithLineNumbers(spark, path, spec)
      val parts = df.rdd.getNumPartitions
      assert(parts > 4)
      // the errored lines lie in at least 3 partitions
      val errParts = df.filter(col("__line_number").isin((badDate ++ badStatus).toSeq: _*))
        .select(spark_partition_id()).distinct().count()
      assert(errParts >= 3)
      val want = sortedDetail(Runner.plan(df, mapping))
      assert(want.size == 5 && want.take(2).map(_.field) == Seq("date", "status"))

      val read = SparkJobs.during(spark)(CsvSource.readWithLineNumbers(spark, path, spec))
      val gatedOut = dir.resolve("gated.csv").toString
      var gated = Option.empty[TransformResult]
      val ran = SparkJobs.during(spark) {
        gated = Some(Api.convert(spark, path, spec, mapping, gatedOut, failOnError = true))
      }
      assert(ran.jobs == read.jobs + 1)
      assert(!gated.get.written && !Files.exists(Paths.get(gatedOut)))
      assert(gated.get.errorCount == 5 && gated.get.errors == want)

      val openOut = dir.resolve("open.csv").toString
      val open = Api.convert(spark, path, spec, mapping, openOut, failOnError = false)
      assert(open.written && Files.exists(Paths.get(openOut)))
      assert(open.errorCount == 5 && open.errors == want)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("past MaxCollectedErrors with every line tied: exact count, bounded sorted prefix") {
    // no __line_number column: every row is line -1; every row's status
    // misses the lookup and every third row's date does not parse
    val n = Runner.MaxCollectedErrors + 1000L
    val df = spark.range(0, n, 1, 4).select(
      concat(lit("lost-"), col("id").cast("string")).as("status"),
      when(col("id") % 3 === 0, concat(lit("bad-"), col("id").cast("string")))
        .otherwise(lit("2024-01-01")).as("date"))
    val dateErrors = (n + 2) / 3
    val want = sortedDetail(Runner.plan(df, mapping))
      .map(e => (e.line_number, e.field, e.error_message))
    assert(want.size == Runner.MaxCollectedErrors)
    assert(want.count(_._2 == "date") == dateErrors)

    val out = Files.createTempDirectory("detail").resolve("out.csv").toString
    for (r <- Seq(Runner.validate(df, mapping), Runner.convert(df, mapping, out))) {
      assert(r.errorCount == n + dateErrors)
      assert(r.errors.size == Runner.MaxCollectedErrors)
      assert(r.errors.map(e => (e.line_number, e.field, e.error_message)) == want)
      assert(r.errors.forall(e => e.source_value.startsWith(if (e.field == "date") "bad-" else "lost-")))
    }
    assert(!Files.exists(Paths.get(out)))
  }
}
