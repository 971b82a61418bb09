package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryPack, Scratch, SparkEntry}

/** `catalog_sf001`: a fixed sample of the batch entries of
  * `SparkEntry.queries`, at sf0.01, in name order. Each query's DataFrame is
  * built (`catalog.build`: eager jobs inside the packs run here) and then
  * executed by a `noop` write (`catalog.exec`), which runs every output
  * column and the final ordering; an `observe` on the same pass counts the
  * rows and sums a hash of every row, checked against pinned values.
  * The untimed warm-up pass stages the `Scratch` fixtures and compiles the
  * generated code, so the timed pass measures warm queries; query time
  * excludes any staging inside its window, which counts as set-up.
  * Streaming entries run timer-driven micro-batches and are left out. The
  * tables are the fixed read-only ones, so the seed does not apply. */
final class CatalogWorkload(env: Env, pins: Pins) extends Workload {
  import CatalogWorkload._

  private val sfDir = env.data.resolve("sf0.01").toString
  val minPasses = 2

  def setup(spark: SparkSession): Unit = ()

  def pass(spark: SparkSession, t: Tracer): Pass = {
    val results = sample.map { case (name, fn) =>
      val staged0 = Scratch.stagingSeconds
      val obs = Observation(s"check_$name")
      val (outcome, ns) = Pass.timed(t.span(s"op.query.$name") {
        try {
          val df = t.span("catalog.build")(fn(spark, sfDir))
          t.span("catalog.exec")(
            df.observe(obs, count(lit(1)).as("rows"), rowHashSum(df).as("hash"))
              .write.format("noop").mode("overwrite").save())
          Right(obs.get)
        } catch { case e: Exception => Left(e) }
      })
      spark.catalog.clearCache()
      val net = math.max(0L, ns - ((Scratch.stagingSeconds - staged0) * 1e9).toLong)
      System.err.println(f"perfbench: $name%-32s ${net / 1e6}%9.1f ms")
      val problem = outcome match {
        case Left(e) => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        case Right(m) =>
          pins.check("catalog_sf001", name, s"${m("rows")}:${m("hash")}").map(p => s"$name: $p")
      }
      (net, outcome.map(_("rows").asInstanceOf[Long]).getOrElse(0L), problem)
    }
    // one request is the whole sampled suite, submitted as one batch: with
    // nine heterogeneous queries, per-query percentiles would only say
    // which query happened to sit at the median
    Pass(Seq(results.map(_._1).sum), results.map(_._2).sum, results.flatMap(_._3), results.size)
  }

  def layers(spark: SparkSession, t: Tracer): Unit = t.span("layers")(())

  def layerMetrics(spans: Seq[Span], counts: Map[Long, Counts]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val queries = spans.filter(_.name.startsWith("op.query."))
    val passes = math.max(1, spans.count(_.name == "layers")).toDouble
    def c(s: Span): Counts = counts.getOrElse(s.id, new Counts)
    def sub(q: Span, name: String): Seq[Span] = children.getOrElse(q.id, Nil).filter(_.name == name)
    def subtree(q: Span): Seq[Span] = q +: children.getOrElse(q.id, Nil)
    val perPack = queries.groupBy(q => packOf(q.name.stripPrefix("op.query.")))
    Map(
      "catalog.build_s" -> queries.flatMap(sub(_, "catalog.build")).map(_.seconds).sum / passes,
      "catalog.build_jobs" -> queries.flatMap(sub(_, "catalog.build")).map(c(_).jobs).sum / passes,
      "catalog.exec_s" -> queries.flatMap(sub(_, "catalog.exec")).map(_.seconds).sum / passes,
      "catalog.exchanges" -> queries.flatMap(subtree).map(c(_).exchanges).sum / passes
    ) ++ packs.flatMap { p =>
      val qs = perPack.getOrElse(p, Nil)
      Seq(s"catalog.$p.s" -> qs.map(_.seconds).sum / passes,
        s"catalog.$p.jobs" -> qs.flatMap(subtree).map(c(_).jobs).sum / passes)
    }
  }
}

object CatalogWorkload {
  /** Every `Stride`-th batch query in name order, starting with the
    * first: a fixed sample that keeps one pass near ten seconds on four
    * cores, so the workload fits the benchmark's run budget. */
  val Stride = 40

  private val packObjects: Seq[QueryPack] = Seq(
    graft.catalog.Relational, graft.catalog.Semantics, graft.catalog.Text, graft.catalog.Events,
    graft.catalog.Streams, graft.catalog.Dedup, graft.catalog.Similarity,
    graft.catalog.Multimodal, graft.catalog.Temporal, graft.catalog.Analytics,
    graft.catalog.Strings, graft.catalog.Formats, graft.catalog.Quality, graft.catalog.CorpusGate)

  def packName(p: QueryPack): String = p.getClass.getSimpleName.stripSuffix("$")
  val packs: Seq[String] = packObjects.map(packName)
  private val packByQuery: Map[String, String] =
    packObjects.flatMap(p => p.queries.keys.map(_ -> packName(p))).toMap
  def packOf(query: String): String = packByQuery(query)

  def isStreaming(name: String): Boolean =
    name.contains("_stream") || name.startsWith("c10_") || name.startsWith("c12_")

  /** The sampled queries in name order, drawn from `SparkEntry.queries`. */
  lazy val sample: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.filterNot(q => isStreaming(q._1)).sortBy(_._1)
      .zipWithIndex.collect { case (q, i) if i % Stride == 0 => q }

  /** Order-insensitive digest of a frame: the decimal sum of a 64-bit hash
    * of each row. Doubles are rounded to 9 significant digits first, so the
    * digest does not depend on the summation order of parallel aggregates;
    * nested values hash through their JSON form. */
  def rowHashSum(df: DataFrame): Column = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType =>
        when(c.isNull || c.isNaN, c.cast("string"))
          .otherwise(format_string("%.8e", c.cast("double")))
      case _: MapType | _: StructType | _: ArrayType => to_json(c)
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    coalesce(sum(h.cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))
  }
}
