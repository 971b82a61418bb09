package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String
import graft.spec.ETLMapping
import graft.compile.TransformCompiler

/** One row-level error (reference RowError, dynamic.py:14-21; row_data is
  * reconstructable by line number and intentionally not duplicated). */
final case class RowError(
    line_number: Long,
    field: String,
    error_message: String,
    source_value: String)

/** Run summary (reference TransformResult, dynamic.py:24-40):
  *  - successCount: rows transformed with no field errors
  *  - skippedCount: rows dropped by filter rules (plus ALL rows when the
  *    mapping has zero field_mappings — empty dict is falsy,
  *    dynamic.py:309-318)
  *  - errorCount: number of field errors, not errored rows
  */
final case class TransformResult(
    successCount: Long,
    skippedCount: Long,
    errorCount: Long,
    errors: Seq[RowError],
    written: Boolean)

/** The dynamic-mapping engine: mapping JSON compiles once to a single
  * filter+project plan (scan → filter(!skip) → select(T* columns + error
  * array)); Catalyst pushes the filter into the scan and codegens the
  * projection — the per-row Python interpretation of the reference
  * (dynamic.py:239-348) becomes one shuffle-free stage.
  */
object Runner {
  /** Upper bound on per-row error DETAIL collected to the driver (counts
    * stay exact). Far above any interactive file; a 100 TB adversarial
    * input cannot OOM the driver through the compat path. */
  val MaxCollectedErrors = 100000

  private[engine] val LINE = "__line_number"
  private[engine] val SKIP = "__skip"
  private[engine] val ERRS = "__errors"
  private val ERR_TYPE = "array<struct<field:string,error_message:string,source_value:string>>"

  /** The mapping compiled against `df`'s columns, and its row's skip flag
    * and error array (empty on a skipped row). */
  private def compiled(df: DataFrame, m: ETLMapping): (TransformCompiler.CompiledMapping, Column, Column) = {
    val cm = TransformCompiler.compile(m, df.columns.toSet - LINE)
    val errCol = when(cm.skip, array().cast(ERR_TYPE)).otherwise(cm.errors.cast(ERR_TYPE))
    (cm, cm.skip.as(SKIP), errCol.as(ERRS))
  }

  /** Annotated plan: all input rows, plus skip flag, destination values and
    * error array. Lazy — callers pick the action. */
  def plan(df: DataFrame, m: ETLMapping): DataFrame = {
    val (cm, skip, errs) = compiled(df, m)
    val lineCol = if (df.columns.contains(LINE)) col(LINE) else lit(-1L).as(LINE)
    // field values & errors are only meaningful on non-skipped rows
    val valueCols = cm.fields.map { case (d, c) => when(!cm.skip, c).as(d) }
    df.select(lineCol.cast("long").as(LINE) +: skip +: errs +: valueCols: _*)
  }

  /** `df`'s own columns (raw cells and line number) followed by the
    * mapping's skip flag and error array; without a mapping no row is
    * skipped and none has errors. Lazy, like `plan`. */
  private[engine] def flagged(df: DataFrame, m: Option[ETLMapping]): DataFrame = {
    val (skip, errs) = m.fold((lit(false).as(SKIP), array().cast(ERR_TYPE).as(ERRS))) { m =>
      val (_, s, e) = compiled(df, m)
      (s, e)
    }
    df.select(col("*"), skip, errs)
  }

  /** The gate's counters over an annotated plan (row-level, before any
    * aggregation), and the first errored rows: `validate` runs them as one
    * aggregate query; `convert`, `Pipeline` and `Api.preview` observe them
    * on the pass that writes or collects, so the error detail costs no
    * second query. `detail` holds the `MaxCollectedErrors` lowest errored
    * rows by (line, smallest error, errors): each errored row holds at
    * least one error, so they hold the first `MaxCollectedErrors` errors,
    * also where lines tie (a frame without line numbers numbers every row
    * -1). Each task keeps at most that many rows, as a sort-and-limit
    * would, so driver memory stays bounded whatever the input. */
  private val GateCounts: Seq[Column] = Seq(
    coalesce(sum(when(col(SKIP), 1L).otherwise(0L)), lit(0L)).as("skipped"),
    coalesce(sum(when(!col(SKIP) && size(col(ERRS)) === 0, 1L).otherwise(0L)), lit(0L)).as("clean"),
    coalesce(sum(when(!col(SKIP), size(col(ERRS)).cast("long")).otherwise(0L)), lit(0L)).as("errs"),
    count(lit(1)).as("total"),
    Bridge.collectSmallest(when(!col(SKIP) && size(col(ERRS)) > 0,
      struct(col(LINE), array_min(col(ERRS)), col(ERRS))), MaxCollectedErrors).as("detail"))

  /** The gate's counts and the error detail: the first `MaxCollectedErrors`
    * errors by (line, field, message), however many there are. */
  private[engine] final case class Counts(skipped: Long, clean: Long, errs: Long, total: Long,
                                          errors: Seq[RowError]) {
    /** rows the filter rules keep */
    def survivors: Long = total - skipped
  }

  private[engine] object Counts {
    def of(values: Map[String, Any]): Counts = {
      def n(k: String) = values(k).asInstanceOf[Long]
      val errors = values("detail").asInstanceOf[collection.Seq[Row]].flatMap { r =>
        r.getSeq[Row](2).map(e => RowError(r.getLong(0), e.getString(0), e.getString(1), e.getString(2)))
      }
      Counts(n("skipped"), n("clean"), n("errs"), n("total"),
        errors.sorted(DetailOrder).take(MaxCollectedErrors).toSeq)
    }
    /** One aggregate query over an annotated plan. */
    def of(planned: DataFrame): Counts = {
      val r = planned.agg(GateCounts.head, GateCounts.tail: _*).head()
      of(r.getValuesMap[Any](r.schema.fieldNames.toSeq))
    }
    /** Counters `observe`d on `planned` by whatever action ran it; blocks
      * until the listener bus has delivered them. AQE drops a query stage
      * that comes out empty, and the metrics observed inside it with it:
      * then they are recounted with one query. */
    def of(gate: Observation, planned: DataFrame): Counts = {
      val observed = gate.get
      if (observed.isEmpty) of(planned) else of(observed)
    }
  }

  /** `planned` with the gate's counters observed on the action that runs it. */
  private[engine] def observe(planned: DataFrame, gate: Observation): DataFrame =
    planned.observe(gate, GateCounts.head, GateCounts.tail: _*)

  /** The error detail's order: line, field, message, strings compared as
    * Spark sorts them ascending, by UTF-8 bytes with nulls first. */
  private val DetailOrder: Ordering[RowError] = {
    val str = Ordering.by((s: String) => Option(s).map(UTF8String.fromString))
    Ordering.by((e: RowError) => (e.line_number, e.field, e.error_message))(
      Ordering.Tuple3(Ordering.Long, str, str))
  }

  private[engine] def result(m: ETLMapping, c: Counts, written: Boolean = false): TransformResult =
    if (m.fieldMappings.isEmpty) TransformResult(0L, c.total, 0L, Nil, written = false)
    else TransformResult(c.clean, c.skipped, c.errs, c.errors, written)

  /** Dry-run (reference validate_file, dynamic.py:259-265): one aggregate
    * query for the counts and the bounded error detail, errors or none. It
    * never collects input rows, so driver memory stays bounded whatever
    * the file's size; `Api.preview`, which collects rows anyway, gets the
    * same result from its one observed pass. */
  def validate(df: DataFrame, m: ETLMapping): TransformResult =
    result(m, Counts.of(plan(df, m)))

  // --- t12: aggregation transforms in the mapping DSL -----------------------
  // Reference ROADMAP.md:51 plans `sum/count/avg` as a transform type but
  // never implemented it, so the semantics here are defined by this engine
  // (documented, oracle-pinned):
  //   * `transform_type: "aggregate"`, config
  //     `{group_by: [dest fields...], agg: "sum"|"count"|"avg"}` +
  //     the FieldMapping's own source_field as the aggregated input;
  //   * filter rules skip rows FIRST (pre-aggregation), row-level transforms
  //     build the group keys, and every aggregate entry in one mapping must
  //     declare the same group_by;
  //   * sum/avg parse the source with H5 leniency (strip commas,
  //     empty/unparsable -> 0.0) and ACCUMULATE IN DECIMAL(38,12) so the
  //     result is order-independent — a float fold would differ run-to-run
  //     under Spark's partial aggregation (and at 1000 executors); avg =
  //     decimal sum cast double / row count (exact IEEE division);
  //   * count counts truthy source values (non-empty, the engine's falsy
  //     convention), or all surviving rows when source_field is absent;
  //   * outputs render per §1.3.2 (`%.8f` then strip — money8), counts as
  //     plain integers; row-level destinations not named in group_by have
  //     no defined post-aggregation value and are dropped.
  // Scale shape: one hash aggregation with map-side partial combine on the
  // group keys — the same plan TPC-H q1 runs; no extra shuffle beyond the
  // groupBy exchange.

  /** H5 lenient float (revolut_stocks.py:104-111): strip commas; empty or
    * unparsable → 0.0. The aggregate mapping's sum/avg input and the
    * Revolut plans' number parser. */
  def lenientFloat(c: Column): Column =
    coalesce(regexp_replace(c.cast("string"), ",", "").try_cast("double"), lit(0.0))

  def hasAggregates(m: ETLMapping): Boolean =
    m.fieldMappings.exists(_.transformType == "aggregate")

  /** Grouped output frame for a mapping with aggregate fields: group keys +
    * formatted aggregate strings, columns in field_mappings order. */
  def aggregatePlan(df: DataFrame, m: ETLMapping): DataFrame = aggregated(plan(df, m), m)

  /** The grouping over an annotated plan. The compiler treats `aggregate`
    * as `direct`, so each aggregate field's column already carries its
    * source value. */
  private def aggregated(planned: DataFrame, m: ETLMapping): DataFrame = {
    val (aggFms, rowFms) = m.fieldMappings.partition(_.transformType == "aggregate")
    require(aggFms.nonEmpty, "aggregatePlan needs at least one aggregate field")
    val groupBys = aggFms.map(_.config.get("group_by") match {
      case Some(l: List[_]) => l.map(String.valueOf)
      case Some(s: String)  => Seq(s)
      case _                => Nil
    })
    val groupBy = groupBys.head
    require(groupBys.forall(_ == groupBy),
      s"all aggregate fields must share one group_by; saw ${groupBys.distinct}")
    val rowDests = rowFms.map(_.destinationField).toSet
    require(groupBy.forall(rowDests.contains),
      s"group_by names destination fields; missing: ${groupBy.filterNot(rowDests.contains)}")

    val dec = "decimal(38,12)"
    val aggExprs = aggFms.map { fm =>
      val in = col(fm.destinationField)
      fm.config.get("agg").map(String.valueOf).getOrElse("count") match {
        case "sum" =>
          CsvSink.money8Udf(coalesce(sum(lenientFloat(in).cast(dec)), lit(0).cast(dec))
            .cast("double")).as(fm.destinationField)
        case "avg" =>
          CsvSink.money8Udf(coalesce(sum(lenientFloat(in).cast(dec)), lit(0).cast(dec))
            .cast("double") / count(lit(1))).as(fm.destinationField)
        case "count" =>
          (if (fm.sourceField.isEmpty) count(lit(1))
           else sum(when(in.isNotNull && in =!= "", 1L).otherwise(0L)))
            .cast("string").as(fm.destinationField)
        case other =>
          throw new IllegalArgumentException(
            s"aggregate field '${fm.destinationField}': unknown agg '$other'")
      }
    }
    val grouped = planned.filter(!col(SKIP)).groupBy(groupBy.map(col): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    // output order = field_mappings first-occurrence order over the
    // surviving destinations (§1.3.4 header convention)
    val outOrder = m.fieldMappings.map(_.destinationField).distinct
      .filter(d => groupBy.contains(d) || aggFms.exists(_.destinationField == d))
    grouped.select(outOrder.map(col): _*)
  }

  /** What a mapping writes, from its annotated plan: the kept rows in
    * destination order or, for an aggregate mapping (t12), the grouped
    * frame sorted by group key so the single-file output is deterministic. */
  private[engine] def output(planned: DataFrame, m: ETLMapping): DataFrame =
    if (hasAggregates(m)) {
      val out = aggregated(planned, m)
      val keys = out.columns.filterNot(c =>
        m.fieldMappings.exists(fm =>
          fm.destinationField == c && fm.transformType == "aggregate"))
      if (keys.isEmpty) out else out.orderBy(keys.map(col): _*)
    } else {
      val dests = planned.columns.filterNot(Set(LINE, SKIP, ERRS))
      planned.filter(!col(SKIP)).select(dests.map(col): _*)
    }

  /** Transform + conditional write (reference transform_file,
    * dynamic.py:267-278, 334-343): output written only when there are
    * surviving rows AND (no errors OR !failOnError); errored rows are still
    * written when the gate allows (quirk Q4).
    *
    * One pass: the gate's counters are observed on the annotated plan while
    * the output is written in parallel to staging; the file is published
    * only if the gate then passes (for aggregate mappings the gate stays
    * row-level, observed below the grouping). The bounded error detail is
    * observed on the same pass and adds no query: a convert of a row-level
    * mapping is one Spark job, gated or not.
    */
  def convert(df: DataFrame, m: ETLMapping, outFile: String,
              failOnError: Boolean = true): TransformResult =
    // an empty mapping writes nothing: every row is skipped
    if (m.fieldMappings.isEmpty) validate(df, m)
    else {
      val planned = plan(df, m)
      val gate = Observation()
      val out = output(observe(planned, gate), m)
      lazy val c = Counts.of(gate, planned)
      val written = CsvSink.writeSingleFile(out, out.columns.toSeq, outFile,
        publish = _ => c.survivors > 0 && (c.errs == 0 || !failOnError)).isDefined
      result(m, c, written)
    }
}
