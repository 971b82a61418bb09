package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** Where a run reads its fixed tables and writes everything it makes. */
final case class Env(work: Path, data: Path, seed: Long)

/** One benchmark workload. A run calls `setup` several times, each on a
  * fresh session (`teardown` in between), then `pass` untimed as a warm-up,
  * then `pass` repeatedly; a traced run also calls `layers` after each
  * traced pass. */
trait Workload {
  /** Passes a run needs at least, whatever `--seconds` says. */
  def minPasses: Int
  /** Generates or stages the inputs and starts what the ops talk to. */
  def setup(spark: SparkSession): Unit
  /** Releases what `setup` started, before the next set-up repetition. */
  def teardown(): Unit = ()
  /** One pass over the workload's fixed op sequence, with output checks;
    * when traced, each op is a root span whose children are layer calls. */
  def pass(spark: SparkSession, t: Tracer): Pass
  /** Traced runs only: the same inputs, driven through the layers' public
    * functions one by one, under one root span named `layers`. */
  def layers(spark: SparkSession, t: Tracer): Unit
  /** Per-layer metrics the generic span/listener roll-up cannot name,
    * from this run's spans and their attributed counts. */
  def layerMetrics(spans: Seq[Span], counts: Map[Long, Counts]): Map[String, Double]
}
