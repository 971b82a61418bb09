package graft.engine

import org.apache.spark.sql.SparkSession
import graft.spec.{ETLMapping, FileSpec}

/** One preview row: 1-based CSV line number (header = 1, first data row = 2,
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
  * Scale note: preview is `limit(n)` over the line-numbered scan — Spark
  * stops reading after the first partition satisfies the limit; validation
  * reuses the same compiled plan as conversion (one aggregate pass for the
  * counts, a second only when there are errors to detail).
  */
object Api {

  /** D1 — first `n` raw rows with line numbers; with a mapping, also the
    * full-file validation (dry-run) and its errors grouped by line. */
  def preview(spark: SparkSession, path: String, spec: FileSpec,
              mapping: Option[ETLMapping], n: Int = 100): Preview = {
    val df = CsvSource.readWithLineNumbers(spark, path, spec)
    val dataCols = df.columns.filterNot(_ == "__line_number")
    val rows = df.orderBy("__line_number").limit(n).collect().map { r =>
      PreviewRow(r.getAs[Long]("__line_number"),
        dataCols.map(c => c -> Option(r.getAs[String](c)).getOrElse("")).toMap)
    }.toSeq
    mapping match {
      case None => Preview(rows, Map.empty, None)
      case Some(m) =>
        val result = Runner.validate(df, m)
        Preview(rows, result.errors.groupBy(_.line_number), Some(result))
    }
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
