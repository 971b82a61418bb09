package graft.engine

import java.io.{Reader, StringReader}
import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer

/** The one CSV dialect of the system: Python's csv module with its default
  * `excel` dialect, which the reference reads every file with
  * (`csv.DictReader`, dynamic.py:298-302) and writes every file with
  * (`csv.DictWriter`, csv_loader.py:11-23). The paper's path renders every
  * record through `appendRecord` (`CsvSink`, `RowEdit`, `Templates` and
  * the `SpecCsvTable` sink), every hand-written reader calls it, and
  * Spark's own CSV reader, in `CsvSource.read`, is configured to agree
  * with it.
  *
  * Reading (non-strict, CPython `_csv.c`):
  *   - a quote opens a quoted field only at field start; inside it `""` is
  *     one quote and delimiters and line breaks are data;
  *   - text after a closing quote is appended as written (`"a"b` → `ab`);
  *   - a quote inside an unquoted field is literal (`say "hi"` and `a""b`
  *     read back as written);
  *   - a quote left open runs to the end of the input;
  *   - line breaks are universal, as in a file opened in text mode: `\r\n`,
  *     `\r` and `\n` each end a record and read as `\n` inside quotes;
  *   - a blank line is no record (DictReader skips it).
  * A record shorter than the header has no cell for the missing columns;
  * callers map them to null (DictReader's None) or "".
  *
  * Writing (QUOTE_MINIMAL): a field is quoted when it holds the delimiter,
  * a quote, `\r` or `\n`, with quotes doubled; a record that is one empty
  * field is written `""`, so that it does not read back as a blank line.
  */
object PyCsv {

  // parser states, as in _csv.c: no character of the field seen yet, in an
  // unquoted field, in a quoted field, a quote seen in a quoted field
  private final val StartField = 0
  private final val InField = 1
  private final val InQuoted = 2
  private final val QuoteInQuoted = 3

  /** The reader's state machine. `feed` reads up to the end of one record
    * and `finish` ends the input; the record's fields wait in `take`. */
  private final class Machine(d: Char) {
    private var state = StartField
    private var afterCR = false
    private val cell = new java.lang.StringBuilder
    private val fields = new ArrayBuffer[String](16)

    private def save(): Unit = { fields += cell.toString; cell.setLength(0) }

    /** Reads `s` from `from` until the end of the next record or `until`,
      * whichever comes first. Returns the index after the record's line
      * break, or -1 if `until` came first. A blank line is an empty record. */
    def feed(s: String, from: Int, until: Int): Int = {
      var i = from
      while (i < until) {
        val c = s.charAt(i)
        i += 1
        if (c == '\n' && afterCR) afterCR = false // the rest of a \r\n
        else {
          afterCR = c == '\r'
          val nl = afterCR || c == '\n'
          state match {
            case StartField =>
              if (nl) {
                if (fields.nonEmpty) save()
                return i
              } else if (c == '"') state = InQuoted
              else if (c == d) save()
              else { cell.append(c); state = InField }
            case InField =>
              if (nl) { save(); state = StartField; return i }
              else if (c == d) { save(); state = StartField }
              else cell.append(c)
            case InQuoted =>
              if (c == '"') state = QuoteInQuoted
              else cell.append(if (nl) '\n' else c)
            case _ => // QuoteInQuoted
              if (c == '"') { cell.append('"'); state = InQuoted }
              else if (nl) { save(); state = StartField; return i }
              else if (c == d) { save(); state = StartField }
              else { cell.append(c); state = InField }
          }
        }
      }
      -1
    }

    /** Whether the input stops inside a quoted field. */
    def quoted: Boolean = state == InQuoted

    /** Ends the input: true if a record was still open (now in `take`). */
    def finish(): Boolean =
      if (state == StartField && fields.isEmpty) false
      else { save(); state = StartField; true }

    def take(): IndexedSeq[String] = {
      val rec = ArraySeq.unsafeWrapArray(fields.toArray)
      fields.clear()
      rec
    }
  }

  /** The records of a sequence of lines, as `spark.read.text` splits a
    * file: each line lost its break, and each is read as ended by `\n`
    * (universal line breaks make the three kinds equal). Blank lines are
    * skipped. With `end` None more lines follow, so a record still open
    * after the last line is left out. With `Some(lastBreak)` the input
    * ends here: the open record is kept, and the last line is read with
    * its break only if `lastBreak()`. The break shows only in a quoted
    * field left open (`"a` + `\n` reads as `a\n`), so `lastBreak` is asked
    * only then. */
  def lineRecords(lines: Iterator[String], d: Char,
                  end: Option[() => Boolean]): Iterator[IndexedSeq[String]] = {
    val m = new Machine(d)
    def nextRecord(): IndexedSeq[String] = {
      while (lines.hasNext) {
        val line = lines.next()
        m.feed(line, 0, line.length)
        if ((lines.hasNext || end.forall(lastBreak => !m.quoted || lastBreak())) &&
            m.feed("\n", 0, 1) >= 0) {
          val rec = m.take()
          if (rec.nonEmpty) return rec
        }
      }
      if (end.isDefined && m.finish()) m.take() else null
    }
    Iterator.continually(nextRecord()).takeWhile(_ != null)
  }

  /** Whether a record is inside a quoted field at the end of `line`, a
    * line without its break, read from a field start (`quoted` false) or
    * from inside a quoted field (`quoted` true). These are the only two
    * states a line can start in, so this is `Machine`'s state alone, with
    * no cells kept. */
  def quotedAfter(line: String, quoted: Boolean, d: Char): Boolean = {
    var state = if (quoted) InQuoted else StartField
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      state = state match {
        case StartField => if (c == '"') InQuoted else if (c == d) StartField else InField
        case InField => if (c == d) StartField else InField
        case InQuoted => if (c == '"') QuoteInQuoted else InQuoted
        case _ => if (c == '"') InQuoted else if (c == d) StartField else InField
      }
      i += 1
    }
    state == InQuoted
  }

  /** The records of a text, in order; blank lines are skipped. */
  def records(text: String, d: Char): Iterator[IndexedSeq[String]] =
    records(new StringReader(text), d)

  /** The records of a character stream, read in chunks; blank lines are
    * skipped. The caller closes `in`. */
  def records(in: Reader, d: Char): Iterator[IndexedSeq[String]] = {
    val m = new Machine(d)
    val buf = new Array[Char](8192)
    var chunk = ""
    var pos = 0
    def nextRecord(): IndexedSeq[String] = {
      while (true) {
        if (pos == chunk.length) {
          val n = in.read(buf)
          if (n < 0) return if (m.finish()) m.take() else null
          chunk = new String(buf, 0, n)
          pos = 0
        } else {
          val end = m.feed(chunk, pos, chunk.length)
          pos = if (end < 0) chunk.length else end
          if (end >= 0) { val rec = m.take(); if (rec.nonEmpty) return rec }
        }
      }
      null
    }
    Iterator.continually(nextRecord()).takeWhile(_ != null)
  }

  /** Appends one record, QUOTE_MINIMAL, without a line terminator. */
  def appendRecord(sb: java.lang.StringBuilder, fields: Seq[String], d: Char): Unit =
    if (fields.sizeIs == 1 && fields.head.isEmpty) sb.append("\"\"")
    else fields.iterator.zipWithIndex.foreach { case (f, i) =>
      if (i > 0) sb.append(d)
      if (f.exists(c => c == d || c == '"' || c == '\n' || c == '\r'))
        sb.append('"').append(f.replace("\"", "\"\"")).append('"')
      else sb.append(f)
    }

  /** Records as csv.writer writes them: QUOTE_MINIMAL, each ended by
    * `\r\n`. */
  def renderRecords(recs: Seq[Seq[String]], d: Char = ','): String = {
    val sb = new java.lang.StringBuilder
    recs.foreach { rec => appendRecord(sb, rec, d); sb.append("\r\n") }
    sb.toString
  }
}
