package graft.engine

import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.spec.{ETLMapping, FileSpec}

/** One preview row: its record ordinal (header = 1, first data record = 2,
  * app.py:535) plus the raw cells in header order. */
final case class PreviewRow(line: Long, cells: Map[String, String])

/** Preview + per-line validation payload — the engine-relevant shape of the
  * reference dashboard's `GET /api/preview/<src>/<file>?mapping_id=` (D1,
  * app.py:515-575): raw rows with `_line` provenance, and, when a mapping is
  * given, errors grouped by line. */
final case class Preview(rows: Seq[PreviewRow],
                         errorsByLine: Map[Long, Seq[RowError]],
                         result: Option[TransformResult])

/** Engine-side implementations of the reference dashboard's data endpoints
  * (SURVEY.md §2.A D1/D3). HTTP/session plumbing is out of engine scope;
  * these return the payloads the endpoints serialize.
  *
  * Scale note: preview is one observed pass over the record-numbered
  * scan. It flags each row with the mapping's compiled skip flag and
  * errors, observes the gate's counts and bounded error detail over every
  * row, keeps the records numbered up to `n + 1` above that observation
  * and collects them: one Spark job for a one-partition file, whatever
  * `n` is and wherever the errors are, with no sort and no shuffle,
  * because the scan numbers records in partition order. A bounded `n`
  * still scans the whole file for the counts. Conversion observes the
  * same counters and detail on its write pass, so it is one job too.
  */
object Api {

  /** D1 — first `n` raw rows with their record ordinals; with a mapping,
    * also the full-file validation (dry-run) and its errors grouped by
    * line. Ordinals have no gaps, so the rows numbered up to `n + 1` are
    * the first `n`.
    *
    * The counts and the bounded error detail are `Runner.validate`'s,
    * observed on the same pass over every row, so they cover the lines a
    * bounded `n` stops short of without a second query. */
  def preview(spark: SparkSession, path: String, spec: FileSpec,
              mapping: Option[ETLMapping], n: Int = 100): Preview = {
    val df = CsvSource.readWithLineNumbers(spark, path, spec)
    val flagged = Runner.flagged(df, mapping)
    val gate = Observation()
    // the row bound sits above the observation: the counts cover every row
    val collected = Runner.observe(flagged, gate)
      .filter(col(Runner.LINE) <= n.toLong + 1).collect()
    val c = Runner.Counts.of(gate, flagged)
    val rows = previewRows(df.columns, collected)
    mapping match {
      case None => Preview(rows, Map.empty, None)
      case Some(m) =>
        val result = Runner.result(m, c)
        Preview(rows, result.errors.groupBy(_.line_number), Some(result))
    }
  }

  /** The raw rows numbered `lines`, in file order: the row data of a
    * file's errors. Only those rows reach the driver. */
  def rowsAt(spark: SparkSession, path: String, spec: FileSpec,
             lines: Set[Long]): Seq[PreviewRow] = {
    val df = CsvSource.readWithLineNumbers(spark, path, spec)
    previewRows(df.columns, df.filter(col(Runner.LINE).isin(lines.toSeq: _*)).collect())
  }

  /** Rows whose leading columns are the reader's `columns`, as preview
    * rows; a missing cell reads "". */
  private def previewRows(columns: Array[String], rows: Array[Row]): Seq[PreviewRow] = {
    val line = columns.indexOf(Runner.LINE)
    val cells = columns.indices.filter(_ != line)
    rows.map(r => PreviewRow(r.getLong(line),
      cells.map(i => columns(i) -> Option(r.getString(i)).getOrElse("")).toMap)).toSeq
  }

  /** D3 — validate-then-convert with the fail-on-error gate (app.py:625-677
    * semantics: 400-with-errors maps to `written=false` + error list). */
  def convert(spark: SparkSession, path: String, spec: FileSpec,
              mapping: ETLMapping, outFile: String,
              failOnError: Boolean = true): TransformResult = {
    val df = CsvSource.readWithLineNumbers(spark, path, spec)
    Runner.convert(df, mapping, outFile, failOnError)
  }
}
