package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics as the last stdout line:
  * `{"failures": [...], "attempted": n, "failed": n, "metrics": {name: value}}`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * with system properties `perfbench.work` (scratch directory for inputs and
  * outputs), `perfbench.data` (the read-only test tables), `perfbench.pins`
  * (pinned expected outputs) and `perfbench.traces` (span files).
  * `--pin 1` rewrites the pinned outputs from this run instead of checking.
  *
  * Untraced runs (`--trace 0`) report end-to-end metrics and register no
  * listener. Traced runs alternate untraced passes with traced ones, each
  * traced pass followed by its layer-by-layer twin, and report per-layer
  * metrics, the share of op time no layer span covers, and the tracing
  * overhead (traced minus untraced pass time). */
object Main {
  val SetupReps = 3
  val TracedPasses = 2

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = kv.getOrElse("workload", sys.error("--workload is required"))
    val seed = kv.get("seed").map(_.toLong).getOrElse(1L)
    val seconds = kv.get("seconds").map(_.toDouble).getOrElse(10.0)
    val traced = kv.get("trace").contains("1")
    val pin = kv.get("pin").contains("1")
    val cores = Runtime.getRuntime.availableProcessors()
    val env = Env(Paths.get(sys.props("perfbench.work")), Paths.get(sys.props("perfbench.data")), seed)
    val pins = new Pins(Paths.get(sys.props("perfbench.pins")), pin)
    val workload: Workload = name match {
      case "etl_convert" => new EtlWorkload(env, pins, validate = false)
      case "etl_validate" => new EtlWorkload(env, pins, validate = true)
      case "dashboard_session" => new DashboardWorkload(env)
      case "catalog_sf001" => new CatalogWorkload(env, pins)
      case other => sys.error(s"unknown workload $other")
    }
    Files.createDirectories(env.work)

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", env.work.resolve("spark-local").toString)
        .config("spark.cleaner.periodicGC.interval", "30min")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // set-up, repeated on fresh sessions; the median is setup_s
    val setupNs = mutable.ArrayBuffer.empty[Long]
    var spark: SparkSession = null
    for (rep <- 1 to SetupReps) {
      if (spark != null) {
        workload.teardown()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session()
      workload.setup(spark)
      setupNs += System.nanoTime() - t0
    }
    val off = new Tracer(spark, enabled = false)
    val w0 = System.nanoTime()
    workload.pass(spark, off) // untimed: fills caches and JIT, stages fixtures
    val warmupNs = System.nanoTime() - w0
    val setupS = Stats.median(setupNs.map(_ / 1e9).toSeq) + warmupNs / 1e9
    System.err.println(
      f"perfbench: set-up ${setupNs.map(_ / 1e9).mkString(" ")} s, warm-up ${warmupNs / 1e9}%.2f s")

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val passes: Seq[Pass] =
      if (!traced) {
        val staged0 = graft.Scratch.stagingSeconds
        val buf = mutable.ArrayBuffer.empty[Pass]
        val t0 = System.nanoTime()
        while (buf.size < workload.minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
          buf += workload.pass(spark, off)
          System.err.println(f"perfbench: pass ${buf.last.wallNs / 1e6}%.1f ms")
        }
        val ps = buf.toSeq
        // fixture staging inside a timed query is excluded from its time
        // and counted as set-up instead
        val stagedInLoop = graft.Scratch.stagingSeconds - staged0
        val lat = ps.flatMap(_.latenciesNs).map(_ / 1e6)
        val opNs = ps.flatMap(_.latenciesNs).sum
        metrics("setup_s") = setupS + stagedInLoop
        metrics("rows_per_s") = ps.map(_.rows).sum / (opNs / 1e9)
        metrics("request_ms_p50") = Stats.median(lat)
        metrics("request_ms_p90") = Stats.quantile(lat, 0.9)
        metrics("suite_s") = Stats.median(ps.map(_.wallNs / 1e9))
        ps
      } else {
        // traced passes, each with its layer twin, alternate with untraced
        // ones so that warm-up drift does not bias the tracing overhead;
        // per-call means and medians need only a few passes
        val tracer = new Tracer(spark, enabled = true)
        val ref, ps = mutable.ArrayBuffer.empty[Pass]
        val t0 = System.nanoTime()
        while (ps.size < math.min(workload.minPasses, TracedPasses) ||
               (System.nanoTime() - t0) / 1e9 < seconds) {
          def traced(): Unit = {
            tracer.attach()
            ps += workload.pass(spark, tracer)
            workload.layers(spark, tracer)
            tracer.detach()
          }
          // ABBA order: neither side always runs first
          if (ps.size % 2 == 0) { ref += workload.pass(spark, off); traced() }
          else { traced(); ref += workload.pass(spark, off) }
        }
        val counts = tracer.attribute()
        val spans = tracer.allSpans
        metrics ++= Report.generic(spans, counts, tracer.gcNsByOp)
        metrics ++= workload.layerMetrics(spans, counts)
        val untraced = Stats.median(ref.map(_.wallNs / 1e9))
        val tracedS = Stats.median(ps.map(_.wallNs / 1e9))
        metrics("trace.overhead_s") = tracedS - untraced
        metrics("trace.overhead_share") = (tracedS - untraced) / untraced
        metrics("spark.persisted_rdds_end") = spark.sparkContext.getPersistentRDDs.size
        metrics("scratch.staging_s") = graft.Scratch.stagingSeconds
        Report.writeSpans(Paths.get(sys.props("perfbench.traces")).resolve(s"$name-seed$seed.jsonl"),
          spans, counts)
        (ref ++ ps).toSeq
      }
    metrics("retained_heap_mb") = retainedHeapMb()
    pins.save()
    workload.teardown()
    spark.stop()

    val failures = passes.flatMap(_.failures)
    val attempted = passes.map(_.attempted).sum
    val failed = math.min(failures.size, attempted)
    failures.distinct.take(20).foreach(f => println(s"FAILED $f"))
    println(Json.obj(Seq(
      "failures" -> failures.distinct.take(50).map(Json.str).mkString("[", ",", "]"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> Json.num(v) }))))
    System.out.flush()
  }

  /** Driver heap in use after a full collection, in MiB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def gcNanos(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum * 1000000L
}
