package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Map-side word counting as a typed imperative aggregate: tokenizes each
  * input string in a tight JVM loop and accumulates counts into a
  * per-partition [[ByteCounts]]; partitions merge counters, and the final
  * value is a `map<string,bigint>` of token -> count.
  *
  * This is the "combiner" the reference deliberately omitted
  * (`WordCount.java:104`), taken further: the explode-then-groupBy plan
  * materializes one row PER TOKEN (27M rows at the 500k-line bench) before
  * partial aggregation collapses them, while this operator never
  * materializes token rows at all — the shuffle carries one small counter
  * per partition.
  *
  * The kernel reads the input `UTF8String`'s bytes in place (base object +
  * offset, so on- and off-heap strings alike) and allocates only when a key
  * is new. It reproduces, exactly, the reference mapper built on Java's
  * `line.split(",")`:
  *   - split keeps a leading empty field and inner empty fields, drops every
  *     TRAILING empty field, and returns zero fields for an all-comma line
  *     and one (empty) field for an empty line. So after dropping trailing
  *     commas the line has (commas + 1) fields; an empty remainder has
  *     fewer than two.
  *   - `csv_ticker` counts `fields(n - 1).trim` when n > 3 (`StockCount.java:
  *     26-30`): the bytes after the last comma, stripped of bytes <= 0x20 at
  *     both ends (`String.trim`), possibly empty.
  *   - `csv_tokens` tokenizes the headline `fields(1..n-3).mkString(",")`
  *     (`WordCount.java:45-52`) when n > 1: the bytes between the first and
  *     the second-to-last comma, empty unless n > 3. Re-joined commas are
  *     token delimiters, so the byte range needs no re-join.
  *   - tokens are [[TextHashes.cleanTokens]]: A-Z fold to a-z, a maximal
  *     run of a-z is a token, every other byte delimits. Stop words are
  *     pre-seeded sentinels ([[ByteCounts.block]]), so a token is one probe.
  * When the bytes a mode reads (the whole line in `text` mode, the headline
  * range or the last field in the csv modes) hold a byte >= 0x80, the line
  * takes the `String` path instead (split, re-join, `cleanTokens`, `trim`):
  * Catalyst's lower case is locale-dependent and not byte-wise there. The
  * comma positions are the same either way, since UTF-8 never encodes a
  * comma inside a multi-byte character and Java's decoder never folds a
  * comma into a replacement character. Cross-checked against the `String`
  * mapper in TokenCountsAggSpec.
  */
object TokenCountsAgg {
  /** Input is plain text: tokenize + stop-filter + count. */
  val ModeText = "text"
  /** Input is a raw csv line: Java split -> headline re-join -> tokenize
    * (the whole reference WordCount mapper). */
  val ModeCsvTokens = "csv_tokens"
  /** Input is a raw csv line: Java split -> arity>3 filter -> trimmed last
    * field (the whole reference StockCount mapper); no stop filter. */
  val ModeCsvTicker = "csv_ticker"

  /** [[csvSpan]] of a line with at most 3 fields: nothing to count. */
  private[graft] val NoSpan = -1L
  /** [[csvSpan]] of a line whose counted bytes hold a byte >= 0x80. */
  private[graft] val NonAscii = -2L

  /** The bytes a csv line's mapper reads, packed as `from << 32 | to`: the
    * last field (`ticker`) or the headline range [first comma + 1,
    * second-to-last comma). Trailing commas are dropped first, as Java's
    * split drops trailing empty fields. [[NoSpan]] when the line has at
    * most 3 fields, [[NonAscii]] when the range needs the `String` path. */
  private[graft] def csvSpan(s: UTF8String, ticker: Boolean): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var end = s.numBytes
    while (end > 0 && Platform.getByte(base, off + end - 1) == ',') end -= 1
    var first = -1
    var prev = -1
    var last = -1
    var high = 0
    var i = 0
    while (i < end) {
      val b = Platform.getByte(base, off + i)
      high |= b
      if (b == ',') { if (first < 0) first = i; prev = last; last = i }
      i += 1
    }
    if (prev <= first) NoSpan // < 3 commas: at most 3 fields
    else {
      val from = if (ticker) last + 1 else first + 1
      val to = if (ticker) end else prev
      // only a line holding a byte >= 0x80 rescans its range
      if (high < 0 && !isAscii(base, off + from, to - from)) NonAscii
      else from.toLong << 32 | to
    }
  }

  private def isAscii(base: AnyRef, off: Long, n: Int): Boolean = {
    var high = 0
    var i = 0
    while (i < n) { high |= Platform.getByte(base, off + i); i += 1 }
    high >= 0
  }

  /** `fields(1..n-3).mkString(",")` of the Java split. */
  private def headlineOf(line: String): String = {
    val fields = line.split(",")
    fields.slice(1, fields.length - 2).mkString(",")
  }
}

case class TokenCountsAgg(
    child: Expression,
    stopWords: Seq[String],
    mode: String = TokenCountsAgg.ModeText,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ByteCounts] with ExpectsInputTypes {
  import TokenCountsAgg._

  // tickers are never stop-filtered
  @transient private lazy val blocked: Array[Array[Byte]] =
    if (mode == ModeCsvTicker) Array.empty
    else stopWords.map(_.getBytes(UTF_8)).toArray
  private val csv = mode != ModeText
  private val ticker = mode == ModeCsvTicker

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StringType)
  override def nullable: Boolean = false
  override def dataType: DataType = MapType(StringType, LongType, false)
  override def prettyName: String = "graft_token_counts"

  override def createAggregationBuffer(): ByteCounts = {
    val buf = new ByteCounts
    blocked.foreach(buf.block)
    buf
  }

  override def update(buf: ByteCounts, input: InternalRow): ByteCounts = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      if (csv) {
        val span = csvSpan(s, ticker)
        if (span == NonAscii) countLine(buf, s.toString)
        else if (span != NoSpan) {
          val from = (span >>> 32).toInt
          val to = span.toInt
          if (ticker) countTicker(buf, s.getBaseObject, s.getBaseOffset, from, to)
          else countTokens(buf, s.getBaseObject, s.getBaseOffset, from, to)
        }
      } else if (isAscii(s.getBaseObject, s.getBaseOffset, s.numBytes))
        countTokens(buf, s.getBaseObject, s.getBaseOffset, 0, s.numBytes)
      else countStrings(buf, TextHashes.cleanTokens(s.toString))
    }
    buf
  }

  /** Counts the a-z runs of the ASCII bytes [from, to), A-Z folded. */
  private def countTokens(buf: ByteCounts, base: AnyRef, off: Long,
                          from: Int, to: Int): Unit = {
    var start = -1
    var h = 0
    var i = from
    while (i < to) {
      val lc = Platform.getByte(base, off + i) | 0x20
      if (lc >= 'a' && lc <= 'z') {
        if (start < 0) { start = i; h = 0 }
        h = 31 * h + lc
      } else if (start >= 0) {
        buf.add(base, off + start, i - start, h, 1L, fold = true)
        start = -1
      }
      i += 1
    }
    if (start >= 0) buf.add(base, off + start, to - start, h, 1L, fold = true)
  }

  /** Counts the ASCII bytes [from, to) stripped of bytes <= 0x20. */
  private def countTicker(buf: ByteCounts, base: AnyRef, off: Long,
                          from0: Int, to0: Int): Unit = {
    var from = from0
    var to = to0
    while (from < to && Platform.getByte(base, off + from) <= ' ') from += 1
    while (to > from && Platform.getByte(base, off + to - 1) <= ' ') to -= 1
    var h = 0
    var i = from
    while (i < to) { h = 31 * h + Platform.getByte(base, off + i); i += 1 }
    buf.add(base, off + from, to - from, h, 1L, fold = false)
  }

  /** The `String` mapper, for a csv line whose [[csvSpan]] is [[NonAscii]]. */
  private def countLine(buf: ByteCounts, line: String): Unit =
    if (ticker) {
      val fields = line.split(",")
      if (fields.length > 3)
        buf.add(fields(fields.length - 1).trim.getBytes(UTF_8), 1L)
    } else countStrings(buf, TextHashes.cleanTokens(headlineOf(line)))

  private def countStrings(buf: ByteCounts, keys: Array[String]): Unit =
    keys.foreach(k => buf.add(k.getBytes(UTF_8), 1L))

  override def merge(b1: ByteCounts, b2: ByteCounts): ByteCounts = {
    b1.addAll(b2)
    b1
  }

  override def eval(buf: ByteCounts): Any = buf.toMapData

  override def serialize(buf: ByteCounts): Array[Byte] = buf.serialize

  override def deserialize(bytes: Array[Byte]): ByteCounts = {
    val buf = createAggregationBuffer()
    buf.addSerialized(bytes)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TokenCountsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TokenCountsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TokenCountsAgg =
    copy(child = newChildren.head)
}
