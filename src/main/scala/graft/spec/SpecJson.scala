package graft.spec

import scala.collection.immutable.VectorMap
import graft.engine.PyFormat

/** Serializer for the reference's JSON config store, byte-compatible with
  * CPython's `json.dump(obj, f, indent=2)` (models.py:191-205 `_save_file` /
  * `_save_mappings_file`; the shipped config files are verbatim
  * `json.dumps(..., indent=2)` output, verified byte-for-byte).
  *
  * Key order mirrors the reference's `to_dict` bodies (models.py:43-52,
  * 80-89, 121-126, 156-164); top-level key order is the store's dict
  * insertion order (load order, new ids appended) — preserved here via
  * `VectorMap` end-to-end.
  */
object SpecJson {

  /** `json.dumps(v, indent=2)` for the plain-value tree `anyOf` produces
    * (VectorMap / List / String / Long / Double / Boolean / null).
    * ensure_ascii=True: every char outside 0x20–0x7e is \\u-escaped. */
  def dumps(v: Any, indent: Int = 2): String = {
    val sb = new StringBuilder
    writeVal(sb, v, indent, 0)
    sb.toString
  }

  private def pad(n: Int): String = " " * n

  private def writeVal(sb: StringBuilder, v: Any, indent: Int, depth: Int): Unit = v match {
    case null => sb ++= "null"
    case None => sb ++= "null"
    case Some(x) => writeVal(sb, x, indent, depth)
    case s: String => writeStr(sb, s)
    case b: Boolean => sb ++= (if (b) "true" else "false")
    case i: Int => sb ++= i.toString
    case l: Long => sb ++= l.toString
    case d: Double => sb ++= PyFormat.pyFloatStr(d)
    case f: Float => sb ++= PyFormat.pyFloatStr(f.toDouble)
    case m: collection.Map[_, _] =>
      if (m.isEmpty) sb ++= "{}"
      else {
        sb += '{'
        writeItems(sb, m.iterator, indent, depth) { case (k, mv) =>
          writeStr(sb, k.toString); sb ++= ": "
          writeVal(sb, mv, indent, depth + 1)
        }
        sb += '}'
      }
    case xs: Seq[_] =>
      if (xs.isEmpty) sb ++= "[]"
      else {
        sb += '['
        writeItems(sb, xs.iterator, indent, depth)(writeVal(sb, _, indent, depth + 1))
        sb += ']'
      }
    case other => writeStr(sb, other.toString)
  }

  /** The indented body of a non-empty container, in one pass over its
    * items (a `List`'s `size` is linear, so no per-item size check). */
  private def writeItems[A](sb: StringBuilder, items: Iterator[A], indent: Int, depth: Int)
                           (write: A => Unit): Unit = {
    val inner = pad(indent * (depth + 1))
    var first = true
    items.foreach { x =>
      sb ++= (if (first) "\n" else ",\n")
      first = false
      sb ++= inner
      write(x)
    }
    sb += '\n'
    sb ++= pad(indent * depth)
  }

  private def writeStr(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case '\b' => sb ++= "\\b"
      case '\f' => sb ++= "\\f"
      case c if c < 0x20 || c > 0x7e => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }

  // ---- to_dict twins (field order = models.py to_dict bodies) ----

  def columnSpecDict(c: ColumnSpec): VectorMap[String, Any] = VectorMap(
    "name" -> c.name,
    "type" -> c.colType.name,
    "source_name" -> c.sourceName.orNull,
    "max_length" -> c.maxLength.map(_.toLong).orNull,
    "required" -> c.required,
    "default" -> c.default.orNull,
    "date_format" -> c.dateFormat.orNull)

  def fileSpecDict(s: FileSpec): VectorMap[String, Any] = VectorMap(
    "id" -> s.id,
    "name" -> s.name,
    "description" -> s.description,
    "default_directory" -> s.defaultDirectory,
    "columns" -> s.columns.map(columnSpecDict),
    "delimiter" -> s.delimiter,
    "encoding" -> s.encoding,
    "has_header" -> s.hasHeader)

  def fieldMappingDict(m: FieldMapping): VectorMap[String, Any] = VectorMap(
    "destination_field" -> m.destinationField,
    "source_field" -> m.sourceField.orNull,
    "transform_type" -> m.transformType,
    "transform_config" -> m.config)

  /** filter_rules are raw pass-through dicts in the reference
    * (ETLMapping.filter_rules: list[dict]); emit the parsed raw object when
    * present, else rebuild from the typed fields. */
  def filterRuleDict(r: FilterRule): collection.Map[String, Any] =
    if (r.raw.nonEmpty) r.raw
    else {
      val base = VectorMap[String, Any]("field" -> r.field, "operator" -> r.operator)
      val withVal = r.value.fold(base)(v => base + ("value" -> v))
      if (r.values.nonEmpty) withVal + ("values" -> r.values.toList) else withVal
    }

  def etlMappingDict(m: ETLMapping): VectorMap[String, Any] = VectorMap(
    "id" -> m.id,
    "name" -> m.name,
    "source_id" -> m.sourceId,
    "destination_id" -> m.destinationId,
    "description" -> m.description,
    "field_mappings" -> m.fieldMappings.map(fieldMappingDict),
    "filter_rules" -> m.filterRules.map(filterRuleDict))

  /** k32 redaction pin: a secret-keyed property whose value is NOT an env
    * reference is replaced by the redaction marker — literal secrets never
    * reach connections.json; env references pass through verbatim. */
  def connectionSpecDict(c: ConnectionSpec): VectorMap[String, Any] = VectorMap(
    "id" -> c.id,
    "name" -> c.name,
    "description" -> c.description,
    "url" -> c.url,
    "properties" -> VectorMap.from(c.properties.map { case (k, v) =>
      k -> (if (c.secretKeys.contains(k) && !Connections.hasRef(v))
              Connections.Redacted else v)
    }),
    "secret_keys" -> c.secretKeys.toList)

  def dumpConnections(cs: collection.Map[String, ConnectionSpec]): String =
    dumps(cs.map { case (k, v) => k -> connectionSpecDict(v) })

  def pipelineStepDict(s: PipelineStep): VectorMap[String, Any] = VectorMap(
    "mapping_id" -> s.mappingId,
    "fail_on_error" -> s.failOnError)

  def pipelineSpecDict(p: PipelineSpec): VectorMap[String, Any] = VectorMap(
    "id" -> p.id,
    "name" -> p.name,
    "description" -> p.description,
    "steps" -> p.steps.map(pipelineStepDict))

  def dumpPipelines(ps: collection.Map[String, PipelineSpec]): String =
    dumps(ps.map { case (k, v) => k -> pipelineSpecDict(v) })

  def runRecordDict(r: RunRecord): VectorMap[String, Any] = VectorMap(
    "id" -> r.id,
    "mapping_id" -> r.mappingId,
    "kind" -> r.kind,
    "input_file" -> r.inputFile,
    "output_file" -> r.outputFile.orNull,
    "success_count" -> r.successCount,
    "skipped_count" -> r.skippedCount,
    "error_count" -> r.errorCount,
    "written" -> r.written,
    "started_at" -> r.startedAt,
    "finished_at" -> r.finishedAt)

  def dumpRuns(rs: collection.Map[String, RunRecord]): String =
    dumps(rs.map { case (k, v) => k -> runRecordDict(v) })

  def dumpFileSpecs(specs: collection.Map[String, FileSpec]): String =
    dumps(specs.map { case (k, v) => k -> fileSpecDict(v) })

  def dumpMappings(ms: collection.Map[String, ETLMapping]): String =
    dumps(ms.map { case (k, v) => k -> etlMappingDict(v) })
}
