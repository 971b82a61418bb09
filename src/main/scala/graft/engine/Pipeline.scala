package graft.engine

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.spec.{ETLMapping, PipelineSpec}

/** One pipeline stage's outcome. `ran = false` marks stages after a tripped
  * fail_on_error gate — exactly a sequential runner's behavior, where a
  * gated stage that errors writes nothing and downstream steps never run. */
final case class StageResult(
    mappingId: String,
    ran: Boolean,
    successCount: Long,
    skippedCount: Long,
    errorCount: Long)

final case class PipelineResult(
    stages: Seq[StageResult],
    written: Boolean,
    /** index of the stage whose gate aborted the chain, if any */
    gatedStage: Option[Int])

/** Declarative multi-step mapping chains — reference ROADMAP.md:53
  * ("Multi-step pipelines: destination of mapping A feeding mapping B"),
  * planned there and implemented here.
  *
  * Execution is ONE composed Catalyst plan: each step's destination columns
  * become the next step's source schema, stringified between stages with
  * the same Python-str semantics the CSV boundary applies (`None` → "",
  * floats via str(float)) so the chain is bit-identical to running each
  * mapping separately through Runner.convert and re-reading the
  * intermediate CSV — pinned both ways by PipelineSpec tests and the c17
  * oracle entry. Nothing materializes between steps: every stage, gated or
  * not, observes its counters on the chain's one write, the way
  * Runner.convert gates a single mapping. The file is published only if it
  * has rows and no `fail_on_error` stage saw an error or kept no row; a
  * tripped gate writes nothing — the reference's K3 quarantine
  * (dynamic.py:334-343) lifted to chains — and the stages after it report
  * `ran = false`, as a sequential runner would never have started them.
  * Their rows were still computed inside the discarded staging write.
  * Scale shape: a chain is one Spark job, a single filter+project pipeline
  * (one stage, no shuffle; aggregate steps add exactly their groupBy
  * exchange), and nothing is persisted.
  *
  * Stage-2+ error DETAIL carries line_number -1 (the intermediate "file"
  * never exists, so there is no file line to report); counters are exact.
  */
object Pipeline {

  def runSpec(df: DataFrame, p: PipelineSpec,
              mappings: Map[String, ETLMapping], outFile: String): PipelineResult = {
    val steps = p.steps.map { s =>
      val m = mappings.getOrElse(s.mappingId,
        throw new IllegalArgumentException(
          s"pipeline '${p.id}': unknown mapping_id '${s.mappingId}'"))
      (m, s.failOnError)
    }
    run(df, steps, outFile)
  }

  /** The composed chain as one lazy frame — the all-ungated scale path and
    * the c17 oracle surface. Equivalent to run() with every gate off,
    * minus the metrics/write plumbing. */
  def compose(df: DataFrame, steps: Seq[ETLMapping]): DataFrame = {
    var cur = df
    steps.foreach { m =>
      require(m.fieldMappings.nonEmpty,
        s"pipeline step '${m.id}': empty field_mappings cannot feed a chain")
      cur = stringified(Runner.output(Runner.plan(cur, m), m))
    }
    cur
  }

  def run(df: DataFrame, steps: Seq[(ETLMapping, Boolean)],
          outFile: String): PipelineResult = {
    require(steps.nonEmpty, "pipeline needs at least one step")
    steps.foreach { case (m, _) =>
      require(m.fieldMappings.nonEmpty,
        s"pipeline step '${m.id}': empty field_mappings cannot feed a chain")
    }

    // every stage's gate counters ride the one write
    var cur = df
    val gates = steps.map { case (m, _) =>
      val planned = Runner.plan(cur, m)
      val gate = Observation()
      cur = stringified(Runner.output(Runner.observe(planned, gate), m))
      (gate, planned)
    }
    // read once the write has run, in stage order: a stage after the first
    // tripped gate is never counted (reference write gate, K3)
    lazy val counts = LazyList.from(gates).map { case (g, p) => Runner.Counts.of(g, p) }
    lazy val abort = steps.indices.find(i =>
      steps(i)._2 && (counts(i).errs > 0 || counts(i).survivors == 0))

    val written = CsvSink.writeSingleFile(cur, cur.columns.toSeq, outFile,
      publish = n => abort.isEmpty && n > 0).isDefined
    val stages = steps.zipWithIndex.map { case ((m, _), i) =>
      if (abort.exists(_ < i)) StageResult(m.id, ran = false, 0L, 0L, 0L)
      else { val c = counts(i); StageResult(m.id, ran = true, c.clean, c.skipped, c.errs) }
    }
    PipelineResult(stages, written, abort)
  }

  /** The CSV-boundary string semantics a sequential run would apply between
    * mappings: Python str() per type, null → "" (csv.DictWriter + the
    * DictReader round-trip). Applying it in-plan keeps chain == sequential
    * bit-for-bit without materializing the intermediate file. */
  private def stringified(df: DataFrame): DataFrame =
    df.select(df.columns.toSeq.map(c =>
      coalesce(CsvSink.pyStringify(df, c), lit("")).as(c)): _*)
}
