package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev utility: replicate the driver testdata K× with CONSISTENT key shifts
  * (foreign keys shift together, dims stay fixed) to probe scaling behavior
  * beyond the shipped scale factors. Writes a full table set usable by
  * `Tables`, e.g. `runMain graft.StressGen /root/testdata/sf0.1 /tmp/sf1 10`.
  * Never touches /root/testdata. */
object StressGen {
  private val Shift = 100000000L

  def main(args: Array[String]): Unit = {
    val Array(src, dst, kStr) = args
    val k = kStr.toInt
    val spark = GraftSession()
    val t = Tables(spark, src)

    def rep(df: DataFrame, keys: Seq[String])(write: String): Unit = {
      val copies = (0 until k).map { i =>
        keys.foldLeft(df) { (d, c) => d.withColumn(c, col(c) + lit(i * Shift)) }
      }
      copies.reduce(_ unionAll _).write.mode("overwrite")
        .parquet(s"$dst/$write.parquet")
    }

    // dims unchanged (nation/region keys are shared vocabulary)
    t.region.write.mode("overwrite").parquet(s"$dst/region.parquet")
    t.nation.write.mode("overwrite").parquet(s"$dst/nation.parquet")
    rep(t.customer, Seq("c_custkey"))("customer")
    rep(t.supplier, Seq("s_suppkey"))("supplier")
    rep(t.part, Seq("p_partkey"))("part")
    rep(t.orders, Seq("o_orderkey", "o_custkey"))("orders")
    rep(t.lineitem, Seq("l_orderkey", "l_partkey", "l_suppkey"))("lineitem")
    rep(t.events, Seq("event_id", "user_id"))("events")
    rep(t.documents, Seq("doc_id"))("documents")
    rep(t.embeddings, Seq("vec_id"))("embeddings")
    println(s"wrote ${k}x of $src to $dst")
    spark.stop()
  }
}
