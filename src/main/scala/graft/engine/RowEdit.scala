package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Single-row CSV edit — the reference dashboard's preview→edit→revalidate
  * loop (app.py:577-623 `api_update_row`): read the whole file with the
  * Python csv module's excel dialect (`PyCsv`), replace the record at
  * `lineNumber` (header = 1, first record = 2, blank lines skipped —
  * DictReader semantics), write everything back via DictWriter
  * (QUOTE_MINIMAL, CRLF terminators, None/missing → empty cell).
  *
  * This is a driver-side file-mutation utility (the reference edits one row
  * of one file interactively); the distributed read/convert paths are
  * CsvSource/Runner.
  */
object RowEdit {

  /** app.py:577-623: update record `lineNumber` (start=2) with the given
    * column→value map; unmentioned columns keep their values. Returns
    * Left(message) on the reference's error cases. */
  def updateRow(filePath: String, lineNumber: Int,
                updatedRow: Map[String, String]): Either[String, Unit] = {
    val p = Paths.get(filePath)
    if (!Files.exists(p)) return Left("File not found")
    // open(encoding='utf-8'): PyCsv reads line breaks universally
    val records = PyCsv.records(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8), ',').toVector
    if (records.isEmpty) return Left("Failed to read file: empty")
    val columns = records.head
    val body = records.tail
    if (body.exists(_.length > columns.length))
      return Left("Failed to write file: row has fields not in fieldnames")
    val updated = body.zipWithIndex.map { case (rec, idx) =>
      val lineNum = idx + 2
      // DictReader: short records → None (written back as ''), so pad first
      val padded = rec.padTo(columns.length, "")
      if (lineNum == lineNumber)
        columns.zip(padded).map { case (c, v) => updatedRow.getOrElse(c, v) }
      else padded
    }
    Files.write(p, PyCsv.renderRecords(columns +: updated)
      .getBytes(StandardCharsets.UTF_8))
    Right(())
  }
}
