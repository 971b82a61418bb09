package graft.cli

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftSession
import graft.builtin.Revolut
import graft.engine.CsvSource
import graft.spec.FileSpec

/** Batch CLI mirroring the reference's cli.py (O2, SURVEY.md §2.A:
  * /root/reference/src/converter/cli.py:18-106): per-account input dirs of
  * CSVs, one `{stem}_ghostfolio.csv` per input, per-file and total counts
  * printed.
  *
  * Compat mode loops per file for byte-identical per-file outputs (the
  * reference contract). At 100 TB the same plans run once over the whole
  * directory glob with input_file_name() partitioned writes instead — the
  * plan is identical, only the write fan-out changes (SURVEY.md §2.A S2).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(master = sys.env.get("SPARK_MASTER"))
    try run(spark, sys.env.getOrElse("GRAFT_DATA_DIR", "data"), args.headOption)
    finally spark.stop()
  }

  /** Converts every CSV in `dataDir/in/revolut_{stocks,crypto}` to
    * `dataDir/out/ghostfolio/{stem}_ghostfolio.csv` and returns the total
    * number of activities written. */
  def run(spark: SparkSession, dataDir: String, accountName: Option[String]): Long = {
    val inputDir = Paths.get(dataDir, "in")
    val outputDir = Paths.get(dataDir, "out")

    Seq("revolut_stocks", "revolut_crypto").foreach(d =>
      Files.createDirectories(inputDir.resolve(d)))
    Files.createDirectories(outputDir.resolve("ghostfolio"))

    println("Ghostfolio Converter")
    println("=" * 40)
    println(s"Input:  ${inputDir.toAbsolutePath}")
    println(s"Output: ${outputDir.toAbsolutePath}")
    println("=" * 40)

    var total = 0L
    total += processDir(spark, inputDir.resolve("revolut_stocks"),
      outputDir.resolve("ghostfolio"), "stocks",
      raw => Revolut.stocksPlan(raw, accountName.getOrElse("Revolut Stocks")))
    total += processDir(spark, inputDir.resolve("revolut_crypto"),
      outputDir.resolve("ghostfolio"), "crypto",
      raw => Revolut.cryptoPlan(raw, accountName.getOrElse("Revolut Crypto")))

    println("=" * 40)
    println(s"Total activities converted: $total")
    total
  }

  private def processDir(spark: SparkSession, in: Path, outDir: Path,
                         label: String, plan: DataFrame => DataFrame): Long = {
    if (!Files.isDirectory(in)) return 0L
    val csvs = Files.list(in).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".csv")).toSeq.sortBy(_.toString)
    csvs.map { csv =>
      val stem = csv.getFileName.toString.stripSuffix(".csv")
      val out = outDir.resolve(s"${stem}_ghostfolio.csv")
      println(s"Processing ($label): ${csv.getFileName}")
      val raw = CsvSource.read(spark, csv.toString, FileSpec(stem, stem))
      val n = Revolut.writeGhostfolio(plan(raw), out.toString)
      println(s"  -> ${out.getFileName} ($n activities)")
      n
    }.sum
  }
}
