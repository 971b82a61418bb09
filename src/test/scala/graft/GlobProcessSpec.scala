package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.builtin.Revolut
import graft.engine.CsvSource
import graft.spec.FileSpec

/** Glob mode (one job, per-file provenance, partitioned outputs) must agree
  * with the per-file compat loop on counts and row content. */
class GlobProcessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def readRows(path: String): Seq[String] =
    spark.read.option("header", "true").csv(path)
      .collect().map(_.mkString("|")).sorted.toSeq

  test("processGlob (stocks) == per-file loop on a two-file directory") {
    val in = Files.createTempDirectory("glob_in")
    val fixture = Files.readString(Paths.get("src/test/resources/fixtures/stocks_hardcoded.csv"))
    Files.writeString(in.resolve("jan.csv"), fixture)
    Files.writeString(in.resolve("feb.csv"), fixture)
    val out = Files.createTempDirectory("glob_out").resolve("gf").toString

    val counts = Revolut.processGlob(spark, s"$in/*.csv", out,
      Revolut.stocksPlan(_, "Revolut Stocks", _))
    assert(counts.keySet == Set("jan", "feb"))
    assert(counts.values.toSeq == Seq(8L, 8L), s"counts: $counts")

    // row content of one partition equals the single-file pipeline output
    val single = Files.createTempDirectory("glob_ref").resolve("ref.csv").toString
    Revolut.writeGhostfolio(
      Revolut.stocksPlan(CsvSource.read(spark, in.resolve("jan.csv").toString,
        FileSpec("t", "t"))), single)
    val part = readRows(s"$out/src_file=jan")
    val ref = readRows(single)
    assert(part == ref && part.nonEmpty)
  }

  test("processGlob (crypto) matches per-file counts") {
    val in = Files.createTempDirectory("glob_cin")
    val fixture = Files.readString(Paths.get("src/test/resources/fixtures/crypto_hardcoded.csv"))
    Files.writeString(in.resolve("a.csv"), fixture)
    Files.writeString(in.resolve("b.csv"), fixture)
    val out = Files.createTempDirectory("glob_cout").resolve("gf").toString
    val counts = Revolut.processGlob(spark, s"$in/*.csv", out,
      Revolut.cryptoPlan(_, "Revolut Crypto", _))
    assert(counts == Map("a" -> 6L, "b" -> 6L), s"counts: $counts")
  }

  test("processGlob keeps cell whitespace like the per-file writer") {
    // Spark's CSV writer trims cells unless told not to; csv.DictWriter
    // (and writeGhostfolio) keep a padded account name as given
    val in = Files.createTempDirectory("glob_pad")
    Files.copy(Paths.get("src/test/resources/fixtures/stocks_hardcoded.csv"),
      in.resolve("jan.csv"))
    val out = Files.createTempDirectory("glob_pad_out").resolve("gf").toString
    val account = "Revolut Stocks "
    Revolut.processGlob(spark, s"$in/*.csv", out, Revolut.stocksPlan(_, account, _))
    val single = Files.createTempDirectory("glob_pad_ref").resolve("ref.csv").toString
    Revolut.writeGhostfolio(Revolut.stocksPlan(CsvSource.read(spark,
      in.resolve("jan.csv").toString, FileSpec("t", "t")), account), single)
    val part = readRows(s"$out/src_file=jan")
    assert(part == readRows(single) && part.nonEmpty)
    assert(part.forall(_.contains(s"|$account|")), part.head)
  }
}
