package graft.sources

import java.util
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.engine.PyCsv
import graft.spec.{FileSpec, FilterRule, SpecStore}

/** DataSource V2 connector for the FileSpec system — the reference's
  * declarative source model (models.py:67-102 `FileSpec`: columns,
  * delimiter, encoding, has_header) exposed as a first-class Spark table
  * (SURVEY §7 claimed no custom source was needed; v2 deployment shapes
  * and the spec store argue otherwise — round-9 advice #1).
  *
  * Options: `spec` = FileSpec JSON (the store's on-disk format,
  * SpecStore.parseFileSpec), `path` = file/glob, optional `mapping` =
  * ETLMapping JSON whose filter_rules run INSIDE the scan with the
  * reference's exact skip semantics (dynamic.py:57-82 — the literal
  * `not_in` polarity Q1 included, same cases as compile/FilterCompiler).
  *
  * Pushdown: Catalyst filters Spark offers are split into the string-
  * comparison subset this source evaluates natively while parsing
  * (EqualTo/In/StringContains/StartsWith/EndsWith/IsNull/Not/And/Or over
  * the all-string spec schema) and a remainder Spark keeps; handled ones
  * are reported via `pushedFilters()` and surfaced in the scan's
  * `description()` as `PushedFilters: [...]` so the repo's plan-pin
  * convention (k7/BroadcastClaimsSpec) applies to this source too.
  * Column pruning (`SupportsPushDownRequiredColumns`) reaches the row
  * builder: non-required columns are parsed past but never materialized
  * into rows. Partitions are reported from the driver-side glob — one
  * per CSV file (a header-per-file layout is what the reference's batch
  * runner globs too, O2), so read parallelism = file count and each task
  * streams its file, in the spec's encoding, through the csv-module
  * dialect's record parser (engine/PyCsv: quotes, doubled quotes,
  * embedded newlines).
  *
  * Scale shape (100 TB): planning touches only file metadata; filters and
  * projection run where the bytes are read — rows that the mapping's skip
  * rules or the pushed filters reject never allocate an InternalRow, and
  * a 2-column projection of a 40-column spec builds 2-slot rows. CSV
  * files are not block-splittable under embedded newlines, so per-file
  * tasks are the correct granularity (the layout controls parallelism,
  * exactly like the Avro/xlsx sources).
  */
class SpecCsvTable extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SpecCsvTable.schemaOf(SpecCsvTable.specOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SpecCsvRelation(new CaseInsensitiveStringMap(properties))
}

object SpecCsvTable {
  private[sources] def specOf(options: CaseInsensitiveStringMap): FileSpec = {
    val json = options.get("spec")
    require(json != null, "SpecCsvTable requires a 'spec' option (FileSpec JSON)")
    val spec = SpecStore.parseFileSpec(json)
    // Python's csv module (the reference's parser) rejects multi-char
    // delimiters outright; reader and writer here parse/quote on a single
    // char, so enforce the same contract up front rather than emit a file
    // whose header and rows disagree (round-10 advice).
    require(spec.delimiter.length == 1,
      s"spec '${spec.id}': delimiter must be a single character, got '${spec.delimiter}'")
    spec
  }

  /** Spec-declared schema: one nullable string field per spec column (the
    * reference's runtime rows are dict[str, str]; typed casts are
    * downstream concerns, exactly like engine/CsvSource). */
  private[sources] def schemaOf(spec: FileSpec): StructType =
    StructType(spec.columns.map(c => StructField(c.name, StringType, nullable = true)))

  /** The v1-Filter subset this source evaluates natively. Filters carrying
    * a null comparison value are REJECTED (Spark keeps them): this source's
    * cells are plain strings, and stringifying a null literal would match
    * the literal text "null" where Catalyst's null semantics say
    * never-match (round-10 advice). */
  private[sources] def evaluable(f: Filter): Boolean = f match {
    case EqualTo(_, v)               => v != null
    case In(_, vs)                   => vs != null && !vs.contains(null)
    case _: StringContains | _: StringStartsWith |
         _: StringEndsWith | _: IsNull | _: IsNotNull => true
    case Not(c)    => evaluable(c)
    case And(l, r) => evaluable(l) && evaluable(r)
    case Or(l, r)  => evaluable(l) && evaluable(r)
    case _         => false
  }

  /** Evaluate a pushed filter against the parsed record. Cells are ""
    * for empty/missing (the CsvSource.read convention — Python's
    * DictReader never yields None for a present column), so IsNull is
    * vacuously false on this source. */
  private[sources] def evalFilter(f: Filter, get: String => String): Boolean = f match {
    // null comparison values never reach here (evaluable rejects them);
    // belt-and-braces: a null still never matches, per Catalyst semantics
    case EqualTo(a, v)          => v != null && get(a) == String.valueOf(v)
    case In(a, vs)              => vs != null && vs.exists(v => v != null && get(a) == String.valueOf(v))
    case StringContains(a, v)   => get(a).contains(v)
    case StringStartsWith(a, v) => get(a).startsWith(v)
    case StringEndsWith(a, v)   => get(a).endsWith(v)
    case IsNull(_)              => false
    case IsNotNull(_)           => true
    case Not(c)                 => !evalFilter(c, get)
    case And(l, r)              => evalFilter(l, get) && evalFilter(r, get)
    case Or(l, r)               => evalFilter(l, get) || evalFilter(r, get)
    case _                      => true
  }

  /** The reference's skip semantics over an Option cell (None = the rule
    * names a column absent from the spec — Python `row.get(field)`);
    * mirrors compile/FilterCompiler.rulePredicate case for case. */
  private[graft] def ruleMatches(r: FilterRule, cell: Option[String]): Boolean =
    r.operator match {
      case "equals"       => cell == r.value
      case "not_equals"   => cell != r.value
      case "in"           => cell.exists(r.values.contains)
      case "not_in"       => if (r.values.isEmpty) true else !cell.exists(r.values.contains)
      case "is_empty"     => cell.forall(_ == "")
      case "is_not_empty" => !cell.forall(_ == "")
      case "contains" =>
        r.value.exists(v => v.nonEmpty && cell.getOrElse("None").contains(v))
      case _ => false
    }
}

private[sources] class SpecCsvRelation(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private val spec = SpecCsvTable.specOf(options)
  private val path = {
    val p = options.get("path")
    require(p != null, "SpecCsvTable requires a 'path' option")
    p
  }
  private val rules: Seq[FilterRule] =
    Option(options.get("mapping"))
      .map(j => SpecStore.parseMapping(j).filterRules).getOrElse(Nil)

  override def name(): String = s"graft_spec(${spec.id})"
  override def schema(): StructType = SpecCsvTable.schemaOf(spec)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new SpecCsvScanBuilder(spec, path, rules)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new SpecCsvWriteBuilder(spec, path, info.schema())
}

private[sources] class SpecCsvScanBuilder(spec: FileSpec, path: String,
    rules: Seq[FilterRule]) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required: StructType = SpecCsvTable.schemaOf(spec)
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(SpecCsvTable.evaluable)
    pushed = sup
    unsup // fully handled filters never re-evaluate in Spark
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new SpecCsvScan(spec, path, rules, pushed, required)
}

private[sources] class SpecCsvScan(spec: FileSpec, path: String,
    rules: Seq[FilterRule], pushed: Array[Filter], required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"SpecCsv spec=${spec.id} ReadSchema: [${required.fieldNames.mkString(", ")}], " +
      s"PushedFilters: [${pushed.mkString(", ")}], SkipRules: ${rules.size}"

  override def planInputPartitions(): Array[InputPartition] =
    SpecCsvScan.listFiles(path)
      .map(f => SpecCsvPartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    SpecCsvScan.readerFactory(spec, rules, pushed, required)

  /** The watch-folder leg (reference O2's per-source batch glob made
    * CONTINUOUS): each micro-batch admits the next not-yet-consumed file
    * in lexicographic order (default read limit = 1 file/trigger,
    * honoring maxFiles read limits), the offset is simply how many files
    * of that order have been consumed, and restart resumes from the
    * checkpointed count. Filters/pruning flow through unchanged — the
    * streaming scan runs the same pushed-down reader as the batch scan. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SpecCsvMicroBatch(spec, path, rules, pushed, required)
}

private[sources] object SpecCsvScan {
  def readerFactory(spec: FileSpec, rules: Seq[FilterRule],
      pushed: Array[Filter], required: StructType): PartitionReaderFactory = {
    val entries = SparkSession.active.sparkContext.hadoopConfiguration
      .iterator().asScala.map(e => e.getKey -> e.getValue).toArray
    // drop the raw JSON objects (VectorMap — not Java-serializable, and
    // the reader only evaluates the typed fields)
    new SpecCsvReaderFactory(spec, rules.map(_.copy(raw = Map.empty)),
      pushed, required, entries)
  }

  /** A name Spark's own file sources treat as non-data: dotfiles (incl.
    * this sink's .part-*.csv.inprogress temps) and _metadata-style files
    * must never be read back as rows (round-10 advice). */
  private def hidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  /** Driver-side glob, lexicographically sorted — the stream's admission
    * order (and the batch scan's partition order). Hidden/temp files are
    * excluded both at the glob match and inside listed directories. */
  def listFiles(path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
    matched.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).filter(s => s.isFile && !hidden(s.getPath.getName))
      else if (hidden(st.getPath.getName)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else Array(st)
    }.map(_.getPath.toString).sorted.toSeq
  }
}

/** The DESTINATION side of the spec system as a V2 sink (the reference's
  * K1/K2 semantics: header and column ORDER come from the spec, values
  * render per the spec's delimiter/encoding with csv.writer's
  * QUOTE_MINIMAL quoting — engine/PyCsv — and `\n` line ends). Each task
  * streams its partition into `part-<p>-<t>.csv` via write-then-rename
  * (an in-progress suffix until the task commits, so a failed task never
  * leaves a readable partial file); `mode(overwrite)` maps to V2
  * truncate, which clears prior part files up front on the driver.
  * Input columns map to spec columns BY NAME — a spec column absent from
  * the input writes empty (the engine's dict[str,str] convention); any
  * primitive input type renders through its string form.
  * Files are created, moved and swept with `java.nio.file`, the API
  * `CsvSink.writeSingleFile` joins them with, so the directory holds only
  * the parts (no `.crc` side files) and no write forks a process; `path`
  * is a local directory, and one with a URI scheme is refused.
  * `CsvSink.writeSingleFile` writes the convert's parts through it, with
  * a header-less spec, and joins them behind one header. */
private[sources] class SpecCsvWriteBuilder(spec: FileSpec, path: String,
    inSchema: StructType)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  require(!path.matches("[A-Za-z][A-Za-z0-9+.-]*:.*"),
    s"SpecCsvTable writes to a local path; got '$path'")
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = {
        if (doTruncate) SpecCsvBatchWrite.sweep(path, _.endsWith(".csv"))
        Files.createDirectories(Paths.get(path))
        new SpecCsvBatchWrite(spec, path, inSchema)
      }
    }
}

private[sources] object SpecCsvBatchWrite {
  /** Deletes the files directly in `dir` whose names `doomed` picks. */
  def sweep(dir: String, doomed: String => Boolean): Unit =
    if (Files.isDirectory(Paths.get(dir))) {
      val listing = Files.list(Paths.get(dir))
      try listing.iterator.asScala
        .filter(f => Files.isRegularFile(f) && doomed(f.getFileName.toString))
        .foreach(Files.deleteIfExists)
      finally listing.close()
    }
}

private[sources] class SpecCsvBatchWrite(spec: FileSpec, path: String,
    inSchema: StructType)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new SpecCsvWriterFactory(spec, path, inSchema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  /** Driver-side abort: sweep any leftover task temp files so a failed or
    * killed write never leaves .inprogress litter (task-level abort handles
    * its own file; this catches tasks that died without running it). */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SpecCsvBatchWrite.sweep(path, _.endsWith(".inprogress"))
}

private[sources] class SpecCsvWriterFactory(spec: FileSpec, path: String,
    inSchema: StructType)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new SpecCsvDataWriter(spec, path, inSchema, partitionId, taskId)
}

private[sources] class SpecCsvDataWriter(spec: FileSpec, path: String,
    inSchema: StructType, partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  import org.apache.spark.sql.connector.write.WriterCommitMessage

  private val finalPath = Paths.get(path, f"part-$partitionId%05d-$taskId.csv")
  private val tmpPath = Paths.get(path, f".part-$partitionId%05d-$taskId.csv.inprogress")
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(Files.newOutputStream(tmpPath), spec.encoding))

  // spec column -> input schema ordinal (by name; -1 = absent -> "")
  private val srcIdx: Array[Int] =
    spec.columns.map(c => inSchema.fieldNames.indexOf(c.name)).toArray
  private val delim = spec.delimiter.head

  private def writeRecord(fields: Seq[String]): Unit = {
    val sb = new java.lang.StringBuilder
    PyCsv.appendRecord(sb, fields, delim)
    out.write(sb.append('\n').toString)
  }

  if (spec.hasHeader) writeRecord(spec.columns.map(_.name))

  override def write(row: InternalRow): Unit =
    writeRecord(srcIdx.toSeq.map { j =>
      if (j < 0 || row.isNullAt(j)) ""
      else inSchema.fields(j).dataType match {
        case StringType => row.getUTF8String(j).toString
        case dt => row.get(j, dt).toString
      }
    })

  override def commit(): WriterCommitMessage = {
    out.close()
    // a stale destination fails the move, and so the task, so Spark retries
    // it — reporting success with no output file is silent partition loss
    Files.move(tmpPath, finalPath)
    new WriterCommitMessage {}
  }
  override def abort(): Unit = {
    try out.close() catch { case _: java.io.IOException => () }
    Files.deleteIfExists(tmpPath)
    ()
  }
  override def close(): Unit = ()
}

/** Streaming offset = the SET of consumed file paths (JSON array, sorted).
  * A count-based offset over a re-sorted glob loses data when a new file
  * sorts before already-consumed ones (the indexing shifts: the new file is
  * skipped and an old one re-delivered) — Spark's built-in file source
  * tracks seen paths for exactly this reason (round-10 advice, medium).
  * Offset size grows with the consumed-file count; the watch-folder use
  * this stream serves (reference O2's per-source batch glob) is bounded by
  * directory listing anyway, and the built-in source carries the same
  * per-path ledger (with log compaction as the scale lever). */
private[sources] case class ConsumedFilesOffset(consumed: Set[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    consumed.toSeq.sorted.map { f =>
      "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("[", ",", "]")
}

private[sources] class SpecCsvMicroBatch(spec: FileSpec, path: String,
    rules: Seq[FilterRule], pushed: Array[Filter], required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset, ReadLimit, ReadMaxFiles}

  // AvailableNow pins the file universe at prepare time so a file landing
  // mid-run doesn't extend the drain target (the built-in file source's
  // contract)
  @volatile private var target: Option[Seq[String]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    target = Some(SpecCsvScan.listFiles(path))
  private def available: Seq[String] =
    target.getOrElse(SpecCsvScan.listFiles(path))

  private def consumedOf(o: SOffset): Set[String] =
    o.asInstanceOf[ConsumedFilesOffset].consumed
  /** Not-yet-consumed files in lexicographic admission order — late
    * arrivals that sort before consumed files are still unseen here. */
  private def pending(consumed: Set[String]): Seq[String] =
    available.filterNot(consumed)

  override def initialOffset(): SOffset = ConsumedFilesOffset(Set.empty)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxFiles(1)
  override def latestOffset(): SOffset =
    throw new UnsupportedOperationException(
      "admission-controlled source: use latestOffset(start, limit)")
  override def latestOffset(start: SOffset, limit: ReadLimit): SOffset = {
    val consumed = consumedOf(start)
    val step = limit match {
      case mf: ReadMaxFiles => math.max(mf.maxFiles(), 1)
      case _                => Int.MaxValue // allAvailable
    }
    ConsumedFilesOffset(consumed ++ pending(consumed).take(step))
  }
  override def reportLatestOffset(): SOffset =
    ConsumedFilesOffset(available.toSet)
  override def planInputPartitions(start: SOffset, end: SOffset): Array[InputPartition] =
    (consumedOf(end) -- consumedOf(start)).toSeq.sorted
      .map(f => SpecCsvPartition(f): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    SpecCsvScan.readerFactory(spec, rules, pushed, required)
  override def deserializeOffset(json: String): SOffset = {
    val t = json.trim
    if (t.startsWith("[")) {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(t)
      val b = Set.newBuilder[String]
      node.elements().forEachRemaining(e => b += e.asText())
      ConsumedFilesOffset(b.result())
    } else {
      // legacy count checkpoint (pre round-11): the old contract was "first
      // n files of the current sorted listing have been consumed"
      ConsumedFilesOffset(SpecCsvScan.listFiles(path).take(t.toInt).toSet)
    }
  }
  override def commit(end: SOffset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class SpecCsvPartition(file: String) extends InputPartition

private[sources] class SpecCsvReaderFactory(spec: FileSpec,
    rules: Seq[FilterRule], pushed: Array[Filter], required: StructType,
    confEntries: Array[(String, String)]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SpecCsvReader(partition.asInstanceOf[SpecCsvPartition].file,
      spec, rules, pushed, required, confEntries)
}

private[sources] class SpecCsvReader(file: String, spec: FileSpec,
    rules: Seq[FilterRule], pushed: Array[Filter], required: StructType,
    confEntries: Array[(String, String)]) extends PartitionReader[InternalRow] {

  private val reader = {
    val conf = new Configuration(false)
    confEntries.foreach { case (k, v) => conf.set(k, v) }
    val p = new Path(file)
    new java.io.InputStreamReader(p.getFileSystem(conf).open(p), spec.encoding)
  }
  private val records = PyCsv.records(reader, spec.delimiter.head)

  // source-name → record index, resolved from the header (or spec order)
  private val srcNames: Seq[String] =
    spec.columns.map(c => c.sourceName.getOrElse(c.name))
  private val header: Seq[String] =
    if (spec.hasHeader && records.hasNext) records.next() else srcNames
  private val specIdx: Array[Int] = srcNames.map(header.indexOf).toArray
  private val colPos: Map[String, Int] =
    spec.columns.map(_.name).zipWithIndex.toMap
  // required-field → spec column ordinal (row builder touches only these)
  private val outSpec: Array[Int] = required.fieldNames.map(colPos)

  private def cellOf(rec: IndexedSeq[String], specOrd: Int): String = {
    val i = specIdx(specOrd)
    if (i >= 0 && i < rec.length) rec(i) else ""
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    current = null
    while (current == null && records.hasNext) {
      val rec = records.next()
      def get(field: String): String =
        colPos.get(field).map(cellOf(rec, _)).getOrElse("")
      def cell(field: String): Option[String] =
        colPos.get(field).map(cellOf(rec, _))
      val skipped = rules.exists(r => SpecCsvTable.ruleMatches(r, cell(r.field)))
      if (!skipped && pushed.forall(SpecCsvTable.evalFilter(_, get))) {
        val vals = new Array[Any](outSpec.length)
        var i = 0
        while (i < outSpec.length) {
          vals(i) = UTF8String.fromString(cellOf(rec, outSpec(i)))
          i += 1
        }
        current = new GenericInternalRow(vals)
      }
    }
    current != null
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
