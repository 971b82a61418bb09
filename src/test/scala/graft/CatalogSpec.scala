package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all suites, built by `GraftSession` like every
  * main's; local[4] keeps test startup cheap and the partition count fixed. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cores = 4)
  val sf: String = "/root/testdata/sf0.001"
}

class CatalogSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching queries key") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name runs on sf0.001 and is deterministic in column set") {
      val df = fn(spark, TestSpark.sf)
      val n = df.count()
      assert(n >= 0)
      assert(df.columns.distinct.length == df.columns.length,
        s"duplicate output columns in $name")
    }
  }
}
