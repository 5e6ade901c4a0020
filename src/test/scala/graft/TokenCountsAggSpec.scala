package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.functions.{GraftFunctions, TextHashes, TokenCountsAgg}
import graft.ops.TextOps
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The byte-level [[TokenCountsAgg]] kernel must count exactly what the
  * `String` mapper it replaced counts — the FULL key -> count map, in all
  * three modes, for every way a line can reach it. */
class TokenCountsAggSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  import TokenCountsAgg.{ModeCsvTicker, ModeCsvTokens, ModeText}

  private val modes = Seq(ModeText, ModeCsvTokens, ModeCsvTicker)
  private val stop = TextOps.stopWords.toSet

  /** The reference mapper over Java strings: `String.split(",")`, headline
    * re-join of fields 1..n-3, [[TextHashes.cleanTokens]], stop filter;
    * or the trimmed last field of a line with more than 3 fields. */
  private object StringMapper {
    def headline(line: String): String = {
      val fields = line.split(",")
      if (fields.length < 2) return ""
      val sb = new java.lang.StringBuilder
      var i = 1
      while (i <= fields.length - 3) {
        sb.append(fields(i))
        if (i < fields.length - 3) sb.append(',')
        i += 1
      }
      sb.toString
    }

    def keys(mode: String, line: String): Seq[String] = mode match {
      case ModeText => TextHashes.cleanTokens(line).toSeq.filterNot(stop)
      case ModeCsvTokens =>
        TextHashes.cleanTokens(headline(line)).toSeq.filterNot(stop)
      case ModeCsvTicker =>
        val fields = line.split(",")
        if (fields.length > 3) Seq(fields(fields.length - 1).trim) else Nil
    }

    def counts(mode: String, lines: Seq[String]): Map[String, Long] =
      lines.flatMap(keys(mode, _)).groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
  }

  private val longToken = "Ab" * 2100 // 4,200 bytes, one token
  private val adversarial = Seq(
    "", ",", ",,,", ",a,b,c", ",headline,date,stock", "a,b,c,d,,,",
    "1,Head Line,2020-01-01,AAPL,,,", "1,h,d,\t", "1,h,d,\r", "1,h,d,   ",
    "1,h,d,AAPL\r", "1,h,d, \t MS \r", "1,h\u0001x,d, \u0001T\u0000 ",
    "one", "a,b", "a,b,c", "a,b,c,d", "x,y,,z", "1,,,,", "1,a,,b,c",
    "1,Agilent's Q1 EPS Beats Views, Revenue Up 5.2%,2020-02-18,A",
    "2,Morgan Stanley Upgrades Apple, Maintains Overweight,2019-01-02,AAPL",
    "5,U.S. Stocks Rally Rally Rally,2018-05-04,MS",
    "THE and The quick Brown, fox, JUMPS over,the,lazy dog",
    "@[`{ A Z a z AZaz az@`", s"1,$longToken x,2020,MS", longToken,
    s"1,h,d,$longToken", "3,Élan Über Straße İstanbul,2020,MS",
    "4,h,d,ÜBS ", "5,x,y,日本", "6,naïve café, résumé,2020,ÉTF",
    "Ünïcode only text", "7,plain,2020,MS", "8,a b,2020, MS ")

  private val random: Seq[String] = {
    val rnd = new scala.util.Random(47)
    val alphabet = "abc XY.,z!2 the AND\t\r,,Éü@[`{"
    Seq.fill(400)((0 until rnd.nextInt(60))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
  }
  private val lines = adversarial ++ random

  private def agg(mode: String) = TokenCountsAgg(
    BoundReference(0, StringType, nullable = true),
    if (mode == ModeCsvTicker) Nil else TextOps.stopWords, mode)

  private def toScala(v: Any): Map[String, Long] = {
    val m = v.asInstanceOf[MapData]
    (0 until m.numElements()).map(i =>
      m.keyArray().getUTF8String(i).toString -> m.valueArray().getLong(i))
      .toMap
  }

  private def runDirect(mode: String, input: Seq[UTF8String])
  : Map[String, Long] = {
    val a = agg(mode)
    val buf = a.createAggregationBuffer()
    input.foreach(u => a.update(buf, InternalRow(u)))
    toScala(a.eval(buf))
  }

  /** Each line as a slice of one shared array, between bytes the kernel
    * must not read (letters and commas). */
  private def onHeapSlices(ls: Seq[String]): Seq[UTF8String] = {
    val pad = "Zq,,\t".getBytes(UTF_8)
    val bytes = ls.map(_.getBytes(UTF_8))
    val arr = bytes.foldLeft(pad)((acc, b) => acc ++ b ++ pad)
    var off = pad.length
    bytes.map { b =>
      val u = UTF8String.fromBytes(arr, off, b.length)
      off += b.length + pad.length
      u
    }
  }

  /** Each line as an off-heap `UTF8String` (base object null). */
  private def withOffHeap[A](ls: Seq[String])(f: Seq[UTF8String] => A): A = {
    val bytes = ls.map(_.getBytes(UTF_8))
    val addr = Platform.allocateMemory(bytes.map(_.length + 1).sum)
    try {
      var off = 0L
      val us = bytes.map { b =>
        Platform.copyMemory(b, Platform.BYTE_ARRAY_OFFSET, null, addr + off,
          b.length)
        Platform.putByte(null, addr + off + b.length, 'Q'.toByte)
        val u = UTF8String.fromAddress(null, addr + off, b.length)
        off += b.length + 1
        u
      }
      f(us)
    } finally Platform.freeMemory(addr)
  }

  private def viaDataFrame(mode: String, ls: Seq[String], parts: Int)
  : Map[String, Long] = {
    val df: DataFrame = {
      val d = ls.toDF("value")
      if (parts == 1) d.coalesce(1) else d.repartition(parts)
    }
    val c = mode match {
      case ModeText => GraftFunctions.tokenCounts(spark, col("value"))
      case ModeCsvTokens => GraftFunctions.tokenCountsCsv(spark, col("value"))
      case ModeCsvTicker => GraftFunctions.tickerCounts(spark, col("value"))
    }
    df.agg(c.as("m")).head().getMap[String, Long](0).toMap
  }

  test("oracle sanity: the adversarial lines reach every branch") {
    val tickers = StringMapper.counts(ModeCsvTicker, adversarial)
    assert(tickers.contains("")) // whitespace-only last field
    assert(tickers.contains("ÜBS") && tickers.contains("AAPL"))
    assert(StringMapper.counts(ModeCsvTokens, adversarial)
      .contains(longToken.toLowerCase))
    assert(StringMapper.counts(ModeText, adversarial).contains("stanbul"))
  }

  modes.foreach { mode =>
    test(s"$mode: full map equals the String mapper, sliced on-heap input") {
      assert(runDirect(mode, onHeapSlices(lines)) ==
        StringMapper.counts(mode, lines))
    }

    test(s"$mode: full map equals the String mapper, off-heap input") {
      withOffHeap(lines)(us =>
        assert(runDirect(mode, us) == StringMapper.counts(mode, lines)))
    }

    test(s"$mode: full map equals the String mapper at 1 and 4 partitions") {
      val expected = StringMapper.counts(mode, lines)
      assert(viaDataFrame(mode, lines, 1) == expected)
      assert(viaDataFrame(mode, lines, 4) == expected)
    }

    test(s"$mode: serialize -> deserialize -> merge round trip") {
      val a = agg(mode)
      val (l1, l2) = lines.splitAt(lines.length / 3)
      val b1 = a.createAggregationBuffer()
      val b2 = a.createAggregationBuffer()
      onHeapSlices(l1).foreach(u => a.update(b1, InternalRow(u)))
      onHeapSlices(l2).foreach(u => a.update(b2, InternalRow(u)))
      val expected = StringMapper.counts(mode, lines)
      // final-side shape: a fresh buffer merging two shuffled partials
      val fresh = a.createAggregationBuffer()
      a.merge(fresh, a.deserialize(a.serialize(b1)))
      a.merge(fresh, a.deserialize(a.serialize(b2)))
      assert(toScala(a.eval(fresh)) == expected)
      // a live buffer merging a shuffled one, then updated again: the
      // deserialized side still filters stop words
      val live = a.deserialize(a.serialize(b2))
      a.merge(live, b1)
      onHeapSlices(l1).foreach(u => a.update(live, InternalRow(u)))
      assert(toScala(a.eval(live)) ==
        StringMapper.counts(mode, l1 ++ l1 ++ l2))
    }
  }

  test("csv modes decide the String path on the bytes they count") {
    val span = (line: String, ticker: Boolean) =>
      TokenCountsAgg.csvSpan(UTF8String.fromString(line), ticker)
    // non-ASCII only in the last field: the headline stays on the byte path
    val tickerOnly = "1,plain words,2020,ÉTF"
    assert(span(tickerOnly, false) == (2L << 32 | 13))
    assert(span(tickerOnly, true) == TokenCountsAgg.NonAscii)
    // non-ASCII only in the headline: the ticker stays on the byte path
    val headOnly = "2,café au lait,2020, MS"
    assert(span(headOnly, false) == TokenCountsAgg.NonAscii)
    assert(span(headOnly, true) == (21L << 32 | 24))
    // non-ASCII only in fields 0 and n-2: both modes on the byte path
    val outside = "Ж,plain,Ж,MS,,"
    assert(span(outside, false) == (3L << 32 | 8))
    assert(span(outside, true) == (12L << 32 | 14))
    assert(span("Ж,é,ü", false) == TokenCountsAgg.NoSpan)
    val ls = Seq(tickerOnly, headOnly, outside)
    modes.foreach(mode =>
      assert(runDirect(mode, onHeapSlices(ls)) == StringMapper.counts(mode, ls),
        mode))
  }

  test("malformed UTF-8 counts as its String decoding") {
    val raw: Seq[Array[Byte]] = Seq(
      Array[Byte]('1', ',', 'a', 'b', 0xC3.toByte, ',', 'c', 'd', ',', '2',
        ',', 0xE2.toByte, 0x84.toByte, 'M', 'S'),
      // malformed only outside the counted ranges: the byte path
      Array[Byte](0xE2.toByte, 0x84.toByte, ',', 'x', 'y', ',', 'd',
        0xC3.toByte, ',', ' ', 'M', 'S'),
      Array[Byte](0x80.toByte, ',', 'H', 'i', 0xFF.toByte, 'y', 'o', ',', 'd',
        ',', 'T', 0xC3.toByte, ',', ','))
    val us = raw.map(b => UTF8String.fromBytes(b))
    val decoded = raw.map(b => new String(b, UTF_8))
    assert(TokenCountsAgg.csvSpan(us(1), ticker = false) >= 0)
    assert(TokenCountsAgg.csvSpan(us(1), ticker = true) >= 0)
    modes.foreach(mode =>
      assert(runDirect(mode, us) == StringMapper.counts(mode, decoded), mode))
  }

  test("a ticker over 64 KB survives serialization and the shuffle") {
    val big = "T" * 70000
    val ls = Seq(s"1,h,d,$big", s"2,h,d, $big ", "3,h,d,MS")
    val a = agg(ModeCsvTicker)
    val buf = a.createAggregationBuffer()
    onHeapSlices(ls).foreach(u => a.update(buf, InternalRow(u)))
    assert(toScala(a.eval(a.deserialize(a.serialize(buf)))) ==
      Map(big -> 2L, "MS" -> 1L))
    assert(viaDataFrame(ModeCsvTicker, ls, 2) == Map(big -> 2L, "MS" -> 1L))
  }

  test("string-input natives reject other types at analysis") {
    GraftFunctions.ensureRegistered(spark)
    Seq("graft_token_counts", "graft_token_counts_csv",
      "graft_ticker_counts").foreach { f =>
      val e = intercept[AnalysisException](spark.sql(s"SELECT $f(42)"))
      assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), s"$f: $e")
    }
  }
}
