package graft.sources

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.RowsBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.{ByteArrayOutputStream, Closeable, FileInputStream, FilterInputStream,
  InputStream, StringReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import java.util.zip.GZIPInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.annotation.switch
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One task's share of a dump file: the records whose start tag comes
  * out while the reader has read file bytes in [lo, hi). The last range
  * of a file has `hi` = `Long.MaxValue`. */
private[graft] final case class DumpRange(path: String, lo: Long, hi: Long)

/** The records of `ranges`, one partition per range, each parsed into
  * a row of `schema` followed by three columns: the record's raw text
  * when it is corrupt (else null), its file's path and its byte offset
  * in the (inflated) file. A range's task inflates its file from the
  * start, finds its records with [[RecordScanner]] and parses each
  * with [[RecordParser]]; it reports the file bytes it read as its
  * input bytes, as a file scan does. */
private[graft] final class DumpRangeRDD(sc: SparkContext, val ranges: Array[DumpRange],
    tag: String, schema: StructType) extends RDD[InternalRow](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    ranges.indices.map(i => DumpRangePartition(i, ranges(i)): Partition).toArray

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val range = split.asInstanceOf[DumpRangePartition].range
    val scanner = new RecordScanner(range.path, tag, range.lo, range.hi)
    context.addTaskCompletionListener[Unit](_ => scanner.close())
    val parser = new RecordParser(schema)
    val file = UTF8String.fromString(range.path)
    val n = schema.length
    new Iterator[InternalRow] {
      private var pending = false
      def hasNext: Boolean = pending || { pending = scanner.next(); pending }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        pending = false
        val text = new String(scanner.bytes, 0, scanner.size, UTF_8)
        val row = new Array[Any](n + 3)
        if (!parser.parse(text, row)) row(n) = UTF8String.fromString(text)
        row(n + 1) = file
        row(n + 2) = scanner.offset
        new GenericInternalRow(row)
      }
    }
  }
}

private final case class DumpRangePartition(index: Int, range: DumpRange) extends Partition

/** Counts the bytes read through it. Every read is filled as far as
  * the stream allows, so the count at a given point of the inflated
  * output is the same in every task that inflates the same file. */
private final class CountingInput(in: InputStream) extends FilterInputStream(in) {
  var count = 0L
  override def read(): Int = {
    val b = in.read()
    if (b >= 0) count += 1
    b
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    var n = 0
    var r = 0
    while (n < len && { r = in.read(b, off + n, len - n); r > 0 }) n += r
    count += n
    if (n == 0 && r < 0) -1 else n
  }
}

/** The bytes of one record, readable in place. */
private final class RecordBuffer extends ByteArrayOutputStream(1 << 12) {
  def array: Array[Byte] = buf
}

/** Finds, in document order, the records of the dump file at `path`
  * (gzip when its name ends in `.gz`) whose start tag comes out while
  * the file bytes read are in [lo, hi): for gzip, the compressed bytes
  * the inflater has read when the tag comes out; for a plain file, the
  * tag's own offset. A record is an element named `tag` that no other
  * such element encloses, which is how Spark's XML reader finds its
  * rows. The scan tracks the depth of `tag` elements and steps over
  * comments, CDATA sections, processing instructions, declarations and
  * quoted attribute values, so a self-closing record, tag text inside
  * any of those and a same-name element nested in a record are all
  * read as that reader reads them. Any other tag is dropped at its
  * first byte that differs from `tag`: no `<` can occur inside a tag,
  * so the scan resumes at the next `<`. The bytes read go to the
  * task's input metrics as they are read. */
private[sources] final class RecordScanner(path: String, tag: String, lo: Long, hi: Long)
    extends Closeable {
  import RecordScanner._
  private val gz = path.endsWith(".gz")
  private val raw = new CountingInput(new FileInputStream(path))
  private val in: InputStream = if (gz) new GZIPInputStream(raw, 8192) else raw
  private val tagBytes = tag.getBytes(UTF_8)
  private val buf = new Array[Byte](1 << 16)
  private var len = 0
  private var i = 0
  private var pos = 0L // file bytes read when `buf` came out
  private var docBase = 0L // document bytes before `buf`
  private var reported = 0L // file bytes added to the input metrics
  private var records = 0L // records not yet added to the input metrics
  private val rec = new RecordBuffer
  private var keep = -1 // where in `buf` the bytes to keep start
  private var state = Text
  private var depth = 0 // open `tag` elements
  private var ltPos = 0L // range position of the current markup's '<'
  private var ltOffset = 0L // document offset of the current markup's '<'
  private var nameLen = 0 // bytes of `tag` matched so far
  private var selfClose = false
  private var run = 0 // per state: '-' or ']' run, "CDATA[" matched, '?' seen, '[' depth
  private var done = false
  private var ready = false

  /** The current record's text is `bytes(0 until size)`. */
  def bytes: Array[Byte] = rec.array
  def size: Int = rec.size
  /** The current record's byte offset in the document. */
  var offset = 0L

  /** Moves to the next record of the range; false once there is none. */
  def next(): Boolean = {
    rec.reset()
    ready = false
    while (!done && !ready) {
      if (i == len) refill()
      else if (state == Text) {
        // most bytes are text or other tags: run to the next '<'
        while (i < len && buf(i) != '<') i += 1
        if (i < len) { lt(); i += 1 }
      } else {
        step(buf(i))
        i += 1
      }
    }
    if (ready) records += 1
    ready
  }

  def close(): Unit = {
    report()
    in.close()
  }

  private def refill(): Unit = {
    if (keep >= 0) { rec.write(buf, keep, len - keep); keep = 0 }
    docBase += len
    len = in.read(buf)
    if (len < 0) { done = true; len = 0 }
    pos = raw.count
    i = 0
    report()
  }

  private def report(): Unit = {
    RowsBridge.addInput(pos - reported, records)
    reported = pos
    records = 0
  }

  private def lt(): Unit = {
    state = Lt
    ltOffset = docBase + i
    ltPos = if (gz) pos else ltOffset
    if (depth == 0 && ltPos >= lo && ltPos < hi) {
      keep = i
      offset = ltOffset
    }
  }

  private def step(b: Byte): Unit = (state: @switch) match {
    case Lt =>
      nameLen = 0
      if (b == '/') state = EndTag
      else if (b == '!') state = Bang
      else if (b == '?') { state = Pi; run = 0 }
      else { state = StartTag; selfClose = false; name(b) }
    case StartTag => name(b)
    case Attrs =>
      if (b == '>') startTag()
      else if (b == '/') selfClose = true
      else if (b == '"') { state = DoubleQuoted; selfClose = false }
      else if (b == '\'') { state = SingleQuoted; selfClose = false }
      else if (!isSpace(b)) selfClose = false
    case DoubleQuoted => if (b == '"') state = Attrs
    case SingleQuoted => if (b == '\'') state = Attrs
    case EndTag =>
      if (nameLen < tagBytes.length) {
        if (b == tagBytes(nameLen)) nameLen += 1 else markupEnd()
      } else if (b == '>') endTag()
      else if (!isSpace(b)) markupEnd()
    case Bang =>
      if (b == '-') state = BangDash
      else if (b == '[') { state = CdataOpen; run = 0 }
      else declaration(b)
    case BangDash =>
      if (b == '-') { state = Comment; run = 0 } else declaration(b)
    case Comment =>
      if (b == '-') run += 1
      else { if (b == '>' && run >= 2) markupEnd(); run = 0 }
    case CdataOpen =>
      if (b == CdataWord(run)) {
        run += 1
        if (run == CdataWord.length) { state = Cdata; run = 0 }
      } else declaration(b)
    case Cdata =>
      if (b == ']') run += 1
      else { if (b == '>' && run >= 2) markupEnd(); run = 0 }
    case Pi =>
      if (b == '>' && run == 1) markupEnd() else run = if (b == '?') 1 else 0
    case Decl =>
      if (b == '[') run += 1
      else if (b == ']') run -= 1
      else if (b == '>' && run <= 0) markupEnd()
  }

  /** One byte of a start tag's name; a tag not named `tag` ends here. */
  private def name(b: Byte): Unit =
    if (nameLen < tagBytes.length) {
      if (b == tagBytes(nameLen)) nameLen += 1 else markupEnd()
    } else if (b == '>') startTag()
    else if (b == '/') { selfClose = true; state = Attrs }
    else if (isSpace(b)) state = Attrs
    else markupEnd()

  /** `<!` that opens neither a comment nor a CDATA section. */
  private def declaration(b: Byte): Unit = {
    state = Decl
    run = if (b == '[') 1 else 0
    if (b == '>') markupEnd()
  }

  private def markupEnd(): Unit = {
    state = Text
    if (depth == 0) dropKept()
  }

  private def startTag(): Unit = {
    state = Text
    if (depth == 0) {
      if (ltPos >= hi) done = true // the first record of the next range
      else if (selfClose && keep >= 0) emit()
    }
    if (!selfClose) depth += 1
  }

  private def endTag(): Unit =
    if (depth == 0) markupEnd() // a stray end tag
    else {
      state = Text
      depth -= 1
      if (depth == 0 && keep >= 0) emit()
    }

  private def dropKept(): Unit = {
    keep = -1
    rec.reset()
  }

  private def emit(): Unit = {
    rec.write(buf, keep, i + 1 - keep)
    keep = -1
    ready = true
  }
}

private object RecordScanner {
  final val Text = 0
  final val Lt = 1
  final val StartTag = 2
  final val Attrs = 3
  final val DoubleQuoted = 4
  final val SingleQuoted = 5
  final val EndTag = 6
  final val Bang = 7
  final val BangDash = 8
  final val Comment = 9
  final val CdataOpen = 10
  final val Cdata = 11
  final val Pi = 12
  final val Decl = 13
  val CdataWord: Array[Byte] = "CDATA[".getBytes(UTF_8)
  def isSpace(b: Byte): Boolean = b == ' ' || b == '\n' || b == '\r' || b == '\t'
}

/** Parses one record's text into a row of `schema` with a StAX cursor,
  * giving the row Spark's XML reader gives for the same text with the
  * options the Discogs reads use (attribute prefix `_`, value tag
  * `_VALUE`, surrounding spaces ignored, no null value, PERMISSIVE).
  * It walks the events as that reader walks them, so a record that
  * reader keeps is kept with the same values, and one it rejects is
  * rejected with the same partial row:
  *  - an attribute `a` is field `_a`; an element with attributes keeps
  *    its text in `_VALUE`; field names match case-insensitively;
  *  - each occurrence of an array field's element adds an item, in
  *    document order; a repeated scalar keeps its last value;
  *  - text is trimmed, entities are decoded and CDATA is kept; a string
  *    field holding elements keeps them as markup;
  *  - comments, processing instructions and undeclared elements are
  *    skipped;
  *  - a value that does not convert (a bad integer) ends the record at
  *    the end of the element holding it and rejects it, keeping the
  *    fields read before it;
  *  - a record that is not well-formed is rejected with every field
  *    null.
  * One parser serves one thread; each record gets a stream reader of
  * its own, so a broken record cannot affect the next. */
private[sources] final class RecordParser(schema: StructType) {
  import RecordParser._
  import XMLStreamConstants._

  private val root = new Shape(schema)
  private var r: XMLStreamReader = _
  /** The next event not yet consumed (comments, processing
    * instructions and declarations skipped); `Gone` past the end. */
  private var ev = 0

  /** Parses `text` into `row(0 until schema.length)`; false when the
    * record is rejected. */
  def parse(text: String, row: Array[Any]): Boolean = {
    r = factory.createXMLStreamReader(new StringReader(text))
    try {
      ev = r.getEventType
      skipFiltered()
      while (ev != START_ELEMENT) advance()
      val attrs = attributes()
      advance()
      copy(obj(root, attrs), row)
      true
    } catch {
      case p: PartialRow =>
        copy(p.row, row)
        false
      case NonFatal(_) =>
        java.util.Arrays.fill(row.asInstanceOf[Array[AnyRef]], 0, schema.length, null)
        false
    } finally r.close()
  }

  private def skipFiltered(): Unit =
    while ((ev: @switch) match {
      case COMMENT | PROCESSING_INSTRUCTION | ENTITY_REFERENCE | DTD | NOTATION_DECLARATION |
           ENTITY_DECLARATION => true
      case _ => false
    }) ev = r.next()

  /** Consumes the current event. */
  private def advance(): Unit =
    if (ev == Gone) throw new NoSuchElementException("past the end of the record")
    else if (ev == END_DOCUMENT) ev = Gone
    else {
      ev = r.next()
      skipFiltered()
    }

  private def isChars: Boolean = ev == CHARACTERS || ev == CDATA || ev == SPACE

  /** The current element's name. */
  private def name(): String = {
    val p = r.getPrefix
    if (p == null || p.isEmpty) r.getLocalName else s"$p:${r.getLocalName}"
  }

  /** The current start element's (name, value) pairs, flattened; null
    * when it has none. */
  private def attributes(): Array[String] = {
    val n = r.getAttributeCount
    if (n == 0) null
    else {
      val a = new Array[String](2 * n)
      var k = 0
      while (k < n) {
        val p = r.getAttributePrefix(k)
        val local = r.getAttributeLocalName(k)
        a(2 * k) = if (p == null || p.isEmpty) local else s"$p:$local"
        a(2 * k + 1) = r.getAttributeValue(k)
        k += 1
      }
      a
    }
  }

  /** The fields of `s` that `attrs` set, converted, into `row`. */
  private def setAttributes(s: Shape, attrs: Array[String], row: Array[Any]): Unit =
    if (attrs != null) {
      var k = 0
      while (k < attrs.length) {
        val f = s.index(AttributePrefix + attrs(k))
        if (f >= 0) row(f) = convert(attrs(k + 1), s.types(f))
        k += 2
      }
    }

  /** The children of the element just consumed, up to and including
    * its end tag, as a row of `s` (Spark's `convertObject`). A child
    * that fails is remembered and the walk goes on from where it
    * failed; the row read so far is then thrown as [[PartialRow]]. */
  private def obj(s: Shape, attrs: Array[String]): GenericInternalRow = {
    val row = new Array[Any](s.n)
    setAttributes(s, attrs, row)
    var bad: Throwable = null
    var stop = false
    while (!stop) {
      if (ev == START_ELEMENT) {
        val field = name()
        val fieldAttrs = attributes()
        advance()
        try {
          val f = s.index(field)
          if (f < 0) skipChildren(field)
          else s.types(f) match {
            case _: StructType => row(f) = objWithAttributes(s.shapes(f), field, fieldAttrs)
            case ArrayType(et, _) =>
              val items = if (row(f) == null) new ArrayBuffer[Any] else row(f).asInstanceOf[ArrayBuffer[Any]]
              val item = et match {
                case _: StructType => objWithAttributes(s.shapes(f), field, fieldAttrs)
                case _ => value(et, field, s.shapes(f))
              }
              row(f) = items += item
            case dt => row(f) = value(dt, field, s.shapes(f))
          }
        } catch {
          case e: javax.xml.stream.XMLStreamException => throw e
          case NonFatal(e) => if (bad == null) bad = e
        }
      } else if (isChars) {
        val white = r.isWhiteSpace
        val text = if (white) null else r.getText
        advance()
        if (!white && s.valueIndex >= 0) s.types(s.valueIndex) match {
          case ArrayType(et, _) =>
            val items = if (row(s.valueIndex) == null) new ArrayBuffer[Any]
              else row(s.valueIndex).asInstanceOf[ArrayBuffer[Any]]
            row(s.valueIndex) = items += convert(text, et)
          case dt => row(s.valueIndex) = convert(text, dt)
        }
      } else if (ev == END_ELEMENT || ev == END_DOCUMENT) {
        advance()
        stop = true
      } else advance()
    }
    var f = 0
    while (f < s.n) {
      row(f) match {
        case items: ArrayBuffer[_] => row(f) = new GenericArrayData(items.toArray[Any])
        case _ =>
      }
      f += 1
    }
    val out = new GenericInternalRow(row)
    if (bad != null) throw new PartialRow(out, bad)
    out
  }

  /** A struct field's element, its start tag just consumed (Spark's
    * `convertObjectWithAttributes`): its content as a row of `s`, every
    * field null when it is empty, with its attributes on top. */
  private def objWithAttributes(s: Shape, field: String, attrs: Array[String])
      : GenericInternalRow = {
    val attrRow = new Array[Any](s.n)
    setAttributes(s, attrs, attrRow)
    val out = value(s.struct, field, s) match {
      case row: GenericInternalRow => row
      case _ => new GenericInternalRow(s.n)
    }
    if (attrs != null) {
      var k = 0
      while (k < attrs.length) {
        val f = s.index(AttributePrefix + attrs(k))
        if (f >= 0) out.values(f) = attrRow(f)
        k += 2
      }
    }
    out
  }

  /** The value of an element of type `dt`, its start tag just consumed,
    * up to and including its end tag (Spark's `convertField`). */
  private def value(dt: DataType, field: String, s: Shape): Any =
    if (ev == START_ELEMENT) dt match {
      case _: StructType => obj(s, null)
      case ArrayType(et, _) => value(et, field, s)
      case StringType => convert(structureAsString(field), StringType)
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    } else if (ev == END_ELEMENT) {
      skipEndElement(field)
      if (dt == StringType) UTF8String.EMPTY_UTF8 else null
    } else if (isChars) dt match {
      case ArrayType(et, _) =>
        val text = r.getText
        advance()
        val v = convert(text, et)
        skipEndElement(field)
        v
      case _: StructType => obj(s, null)
      case StringType => convert(structureAsString(field), StringType)
      case _ if r.isWhiteSpace =>
        advance()
        value(dt, field, s)
      case _ =>
        val v = convert(r.getText, dt)
        advance()
        skipEndElement(field)
        v
    } else throw new IllegalArgumentException(s"unexpected event $ev in <$field>")

  /** The element's content as markup text, up to and including its end
    * tag (Spark's `currentStructureAsString`). */
  private def structureAsString(field: String): String = {
    if (isChars) {
      // the common case, one text and the end tag: no builder
      val text = r.getText
      advance()
      if (ev == END_ELEMENT) {
        skipEndElement(field)
        text
      } else markup(field, new java.lang.StringBuilder(text))
    } else markup(field, new java.lang.StringBuilder)
  }

  /** [[structureAsString]] from where `sb` left off. */
  private def markup(field: String, sb: java.lang.StringBuilder): String = {
    var indent = 0
    var more = true
    while (more) {
      if (ev == START_ELEMENT) {
        sb.append('<').append(r.getLocalName)
        var k = 0
        while (k < r.getAttributeCount) {
          sb.append(' ').append(r.getAttributeLocalName(k)).append("=\"")
            .append(r.getAttributeValue(k)).append('"')
          k += 1
        }
        sb.append('>')
        indent += 1
      } else if (ev == END_ELEMENT) {
        sb.append("</").append(r.getLocalName).append('>')
        indent -= 1
      } else if (isChars) sb.append(r.getText)
      advance()
      more = ev != END_ELEMENT || indent > 0
    }
    skipEndElement(field)
    sb.toString
  }

  /** Consumes whitespace and the element's end tag (Spark's
    * `skipNextEndElement`); any other event is consumed and fails. */
  private def skipEndElement(field: String): Unit = {
    while (isChars && r.isWhiteSpace) advance()
    if (ev == END_ELEMENT) {
      val n = name()
      advance()
      if (n != field) throw new AssertionError(s"expected </$field>, got </$n>")
    } else {
      advance()
      throw new IllegalStateException(s"expected </$field>")
    }
  }

  /** Consumes an undeclared element's content and end tag. */
  private def skipChildren(field: String): Unit = {
    var stop = false
    while (!stop) {
      if (ev == START_ELEMENT) {
        val child = name()
        advance()
        skipChildren(child)
      } else if (ev == END_ELEMENT) {
        val n = name()
        advance()
        if (n != field) throw new AssertionError(s"expected </$field>, got </$n>")
        stop = true
      } else advance()
    }
  }
}

private object RecordParser {
  final val Gone = -1
  final val AttributePrefix = "_"
  final val ValueTag = "_VALUE"

  /** The StAX settings of Spark's XML reader: not namespace-aware,
    * coalescing, no external entities, no DTD. One factory per JVM, as
    * Spark keeps it: finding the implementation is a service lookup, and
    * a configured factory creates readers from any thread. */
  lazy val factory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f
  }

  /** A struct type, ready for the walk: field lookup as Spark's reader
    * does it (exact, else case-insensitive) and the shape of each
    * struct or array-of-struct field. */
  final class Shape(val struct: StructType) {
    val n: Int = struct.length
    val types: Array[DataType] = struct.fields.map(_.dataType)
    val shapes: Array[Shape] = types.map {
      case s: StructType => new Shape(s)
      case ArrayType(s: StructType, _) => new Shape(s)
      case _ => null
    }
    private val exact = struct.fieldNames.zipWithIndex.toMap
    private val folded = struct.fieldNames.zipWithIndex
      .map { case (f, i) => f.toLowerCase(Locale.ROOT) -> i }.toMap
    val valueIndex: Int = exact.getOrElse(ValueTag, -1)
    /** Names seen so far, resolved (-1: no such field); a dump uses few
      * names, and the cap bounds one that does not. */
    private val resolved = new java.util.HashMap[String, Integer]
    def index(name: String): Int = {
      val hit = resolved.get(name)
      if (hit != null) hit
      else {
        val i = exact.getOrElse(name, folded.getOrElse(name.toLowerCase(Locale.ROOT), -1))
        if (resolved.size < 4096) resolved.put(name, i)
        i
      }
    }
  }

  def copy(from: GenericInternalRow, to: Array[Any]): Unit =
    System.arraycopy(from.values, 0, to, 0, from.values.length)

  /** The row read before a value failed to convert. */
  final class PartialRow(val row: GenericInternalRow, cause: Throwable)
    extends RuntimeException(cause)

  /** `text`, trimmed, as `dt`, as Spark's reader converts it: integers
    * parse with their sign split off. */
  def convert(text: String, dt: DataType): Any = {
    val t = text.trim
    dt match {
      case StringType => UTF8String.fromString(t)
      case IntegerType => signed(t)(s => parseInt(s).toLong).toInt
      case LongType => signed(t)(java.lang.Long.parseLong)
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }
  }

  /** `Integer.parseInt`, with a fast path for up to nine ASCII digits
    * (no sign, no overflow) that skips `Character.digit`. */
  private def parseInt(s: String): Int = {
    val n = s.length
    var v = 0
    var k = 0
    while (k < n && k < 9 && { val c = s.charAt(k); c >= '0' && c <= '9' }) {
      v = v * 10 + (s.charAt(k) - '0')
      k += 1
    }
    if (k == n && n > 0) v else Integer.parseInt(s)
  }

  private def signed(text: String)(parse: String => Long): Long =
    if (text.startsWith("+")) parse(text.substring(1))
    else if (text.startsWith("-")) -parse(text.substring(1))
    else parse(text)
}
