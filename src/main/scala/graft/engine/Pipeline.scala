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
  * oracle entry. Nothing materializes between steps UNLESS a step carries
  * `fail_on_error`: that forces the reference's K3 two-phase at the stage
  * boundary (persist + count errors before any downstream work), and a
  * tripped gate aborts the chain with no output written — the reference's
  * quarantine behavior (dynamic.py:334-343) lifted to chains.
  *
  * Ungated stage counters ride the plan as `Observation`s, filled in by
  * whichever action first runs that stage — the final write, or a later
  * gate's count — zero extra passes. The final frame is written the way
  * Runner.convert writes: parallel parts, published only if it has rows.
  * Scale shape: an all-ungated chain is a single filter+project pipeline
  * (one stage, no shuffle; aggregate steps add exactly their groupBy
  * exchange); each fail_on_error gate adds one materialization boundary,
  * which is the cost the K3 semantics inherently require.
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

    // chain state
    var cur = df
    var abort: Option[Int] = None
    val persisted = List.newBuilder[DataFrame]
    // stage index -> its counters, exact (gated) or observed (ungated);
    // stages after a tripped gate are never built and have none
    val counts = scala.collection.mutable.Map[Int, () => Runner.Counts]()

    steps.zipWithIndex.foreach { case ((m, foe), i) =>
      if (abort.isEmpty) {
        if (foe) {
          // K3 two-phase at this boundary: materialize, gate, then continue
          // from the persisted frame (downstream work starts only if clean)
          val planned = Runner.plan(cur, m).persist()
          persisted += planned
          val c = Runner.Counts.of(planned)
          counts(i) = () => c
          // reference write gate: any surviving row AND no errors (K3)
          if (c.errs > 0 || c.survivors == 0) abort = Some(i)
          else cur = stringified(Runner.output(planned, m))
        } else {
          val planned = Runner.plan(cur, m)
          val gate = Observation()
          counts(i) = () => Runner.Counts.of(gate, planned)
          cur = stringified(Runner.output(Runner.observe(planned, gate), m))
        }
      }
    }

    val written = try {
      abort.isEmpty &&
        CsvSink.writeSingleFile(cur, cur.columns.toSeq, outFile, publish = _ > 0).isDefined
    } finally persisted.result().foreach(_.unpersist())

    val stages = steps.zipWithIndex.map { case ((m, _), i) =>
      counts.get(i).map(_()) match {
        case Some(c) => StageResult(m.id, ran = true, c.clean, c.skipped, c.errs)
        case None    => StageResult(m.id, ran = false, 0L, 0L, 0L)
      }
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
