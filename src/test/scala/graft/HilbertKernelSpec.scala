package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native HilbertIndex24 kernel must reproduce EXACTLY the chained
  * expression form it replaced (hilbertIndexChained — 7 undo rounds + gray
  * code + interleave as CASE/xor Project levels): pure integer arithmetic,
  * pinned exhaustively on a coordinate slice, on randoms over the full
  * 8-bit domain, on out-of-domain values (negative / >255 — Scala's / and %
  * mirror SQL div/% exactly), and on both evaluation paths. */
class HilbertKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def compare(coords: Seq[(Long, Long, Long)]): Unit = {
    val base = coords.toDF("x", "y", "w")
    val chained = HilbertKernelSpec.hilbertIndexChained(base)
      .select($"x", $"y", $"w", $"h".as("h_chain"))
    val kernel = catalog.Analytics.hilbertIndex(base)
      .select($"x", $"y", $"w", $"h".as("h_kernel"))
    val joined = chained.join(kernel, Seq("x", "y", "w"))
      .select($"x", $"y", $"w", $"h_chain", $"h_kernel").collect()
    assert(joined.length == coords.distinct.length)
    joined.foreach { r =>
      assert(r.getLong(3) == r.getLong(4),
        s"kernel diverges at (${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}): " +
          s"chain=${r.getLong(3)} kernel=${r.getLong(4)}")
    }
  }

  test("kernel == chained form: exhaustive low-coordinate cube") {
    compare(for {
      x <- 0L to 15L; y <- 0L to 15L; w <- 0L to 15L
    } yield (x, y, w))
  }

  test("kernel == chained form: randoms over the 8-bit domain") {
    val rnd = new scala.util.Random(2424)
    compare(Seq.fill(2000)(
      (rnd.nextInt(256).toLong, rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
      .distinct)
  }

  test("kernel == chained form: out-of-domain coordinates") {
    compare(Seq((-1L, 0L, 0L), (0L, -7L, 3L), (256L, 255L, 0L),
      (1000L, -1000L, 77L), (-255L, -255L, -255L), (300L, 300L, 300L)))
  }

  test("kernel == chained form, interpreted path") {
    val old = spark.conf.getOption("spark.sql.codegen.wholeStage")
    val oldF = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try compare(for { x <- 0L to 7L; y <- 0L to 7L; w <- 0L to 7L }
      yield (x, y, w))
    finally {
      old.fold(spark.conf.unset("spark.sql.codegen.wholeStage"))(
        spark.conf.set("spark.sql.codegen.wholeStage", _))
      oldF.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
    }
  }
}

object HilbertKernelSpec {
  /** The chained-projection pipeline the kernel replaced: each level of
    * `Analytics.hilbertLevels` is one narrow Project, whole-stage codegen
    * compiles the transform to straight-line integer code. Kept as the
    * kernel's executable specification; `Analytics.hilbertSql` is the same
    * chain in the oracle's SQL. */
  def hilbertIndexChained(base: DataFrame): DataFrame = {
    var df = base.selectExpr("x", "y", "w", "x AS x0", "y AS x1", "w AS x2")
    catalog.Analytics.hilbertLevels((a, b) => s"($a ^ $b)").foreach { lvl =>
      val cols = (df.columns.toSeq ++ lvl.keys.filterNot(df.columns.contains)).distinct
      df = df.selectExpr(cols.map(c => s"${lvl.getOrElse(c, c)} AS $c"): _*)
    }
    df.selectExpr("x", "y", "w", s"${catalog.Analytics.hilbertInterleave("div")} AS h")
  }
}
