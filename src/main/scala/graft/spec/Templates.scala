package graft.spec

import java.nio.charset.Charset
import java.nio.file.{Files, Paths}
import graft.engine.PyCsv

/** Template CSV generation — app.py:715-747
  * `_create_spec_directory_and_template`: when a spec is created, its input
  * directory is created and seeded with `_template_{id}.csv` containing the
  * header plus one example row of per-type dummy values (the one place the
  * reference's `ColumnType` drives runtime output).
  */
object Templates {

  /** app.py:729-739 `get_dummy_value`. */
  def dummyValue(col: ColumnSpec): String = col.colType match {
    case ColumnType.StringT   => s"example_${col.name.toLowerCase.replace(' ', '_')}"
    case ColumnType.IntegerT  => "123"
    case ColumnType.FloatT    => "123.45"
    case ColumnType.DateT     => "2024-01-15"
    case ColumnType.DatetimeT => "2024-01-15T10:30:00"
    case ColumnType.BooleanT  => "true"
    case ColumnType.MoneyT    => "99.99"
  }

  /** Header + example row, csv.writer bytes (QUOTE_MINIMAL, CRLF). */
  def templateCsv(spec: FileSpec): String = {
    val delim = spec.delimiter.headOption.getOrElse(',')
    PyCsv.renderRecords(
      Seq(spec.columns.map(_.name), spec.columns.map(dummyValue)), delim)
  }

  /** D6 mapping-template instantiation: copy a saved template into a
    * concrete mapping under a new identity and source/destination binding.
    * Field mappings and filter rules carry over verbatim — a template is
    * exactly an unbound mapping (ROADMAP's "Mapping templates library"). */
  def instantiate(template: ETLMapping, newId: String, newName: String,
                  sourceId: String, destinationId: String): ETLMapping =
    template.copy(id = newId, name = newName,
      sourceId = sourceId, destinationId = destinationId)

  /** Create `baseDir/default_directory` and write the template file (no-ops
    * mirror the reference: no directory configured, or no columns). Returns
    * the written path, if any. */
  def createSpecDirectoryAndTemplate(spec: FileSpec, baseDir: String): Option[String] = {
    if (spec.defaultDirectory.isEmpty) return None
    val dir = Paths.get(baseDir, spec.defaultDirectory)
    Files.createDirectories(dir)
    if (spec.columns.isEmpty) None
    else {
      val f = dir.resolve(s"_template_${spec.id}.csv")
      val cs = try Charset.forName(spec.encoding)
               catch { case _: Exception => Charset.forName("utf-8") }
      Files.write(f, templateCsv(spec).getBytes(cs))
      Some(f.toString)
    }
  }
}
