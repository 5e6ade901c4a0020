package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hash-heavy text operators.
  *
  * The pure higher-order-function versions in [[graft.ops.Dedup]] are
  * correct but interpreted (HOFs are CodegenFallback): at ~64 lambda
  * evaluations per token they dominate the benchmark. These expressions do
  * the same work in tight JVM loops — one eval call per row — for a ~10x
  * speedup, with bit-identical results (asserted in NativeFunctionsSpec).
  *
  * Every expression here implements `doGenCode`: the generated Java is a
  * single call into the [[TextHashes]] codegen bridges (or a referenced
  * expression instance), so the enclosing stage stays inside whole-stage
  * codegen instead of the planner wrapping it in interpreted fallback —
  * the loop fusion matters more than the call itself (pinned for the
  * simhash/minhash plans in PlanAuditSpec).
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"
  override protected def nullSafeEval(input: Any): Any =
    TextHashes.simhash64(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.TextHashes.simhash64($c.toString())")
  override protected def withNewChildInternal(newChild: Expression)
  : SimHash64Expr = copy(child = newChild)
}

case class MinHashSigExpr(child: Expression, k: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      TextHashes.minhashSig(input.asInstanceOf[UTF8String].toString, k))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.TextHashes.minhashSigData($c, $k)")
  override protected def withNewChildInternal(newChild: Expression)
  : MinHashSigExpr = copy(child = newChild)
}

/** [[MinHashSigExpr]] over a pre-computed `array<string>` of shingles
  * (see [[TextHashes.minhashSigOfShingles]]): identical signatures, but
  * the shingling cost is paid once upstream and shared with other
  * consumers of the shingle array. */
case class MinHashFromShinglesExpr(child: Expression, k: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_from_shingles"
  override protected def nullSafeEval(input: Any): Any =
    TextHashes.minhashSigOfShinglesData(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.TextHashes.minhashSigOfShinglesData($c, $k)")
  override protected def withNewChildInternal(newChild: Expression)
  : MinHashFromShinglesExpr = copy(child = newChild)
}

/** Sequential-order double dot product over two `array<float|double>`
  * columns: bit-identical to the `aggregate(zip_with(...))` fold (same
  * left-to-right accumulation) but a tight loop instead of ~2 lambda
  * evaluations per element. Null if either side is null; a length
  * mismatch is an error. Implements `doGenCode` (the one hash-path
  * expression on a per-row SCAN hot path — kNN scoring): the generated
  * loop splices into whole-stage codegen, so the scan -> project ->
  * TakeOrderedAndProject pipeline stays fused instead of falling back to
  * interpreted eval per row. */
case class DotProductExpr(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_dot"

  private def valueAt(a: org.apache.spark.sql.catalyst.util.ArrayData,
                      dt: DataType, i: Int): Double = dt match {
    case org.apache.spark.sql.types.FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val ra = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val lt = left.dataType.asInstanceOf[ArrayType].elementType
    val rt = right.dataType.asInstanceOf[ArrayType].elementType
    if (la.numElements() != ra.numElements())
      throw new IllegalArgumentException(
        s"graft_dot: length mismatch ${la.numElements()} vs ${ra.numElements()}")
    var acc = 0.0
    var i = 0
    val n = la.numElements()
    while (i < n) { acc += valueAt(la, lt, i) * valueAt(ra, rt, i); i += 1 }
    acc
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
  : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    def getter(side: Expression, arr: String, i: String): String =
      side.dataType.asInstanceOf[ArrayType].elementType match {
        case org.apache.spark.sql.types.FloatType =>
          s"(double) $arr.getFloat($i)"
        case _ => s"$arr.getDouble($i)"
      }
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $l.numElements();
         |if ($n != $r.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot: length mismatch " + $n + " vs " + $r.numElements());
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${getter(left, l, i)} * ${getter(right, r, i)};
         |}
         |${ev.value} = $acc;
         |""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** Share of clean tokens belonging to a fixed word set — the native twin
  * of `size(filter(toks, _.isInCollection(words))) / size(toks)`, whose
  * `filter` lambda is interpreted (HOFs are CodegenFallback) and costs
  * ~1 µs/token; this is one set-probe per token in a tight loop. */
case class WordSetRatioExpr(child: Expression, words: Seq[String])
  extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_word_set_ratio"
  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](words.size * 2)
    words.foreach(s.add)
    s
  }
  /** Codegen entry point (called from generated Java via a reference to
    * this instance, which carries the prebuilt word set). */
  def ratio(input: UTF8String): Double =
    TextHashes.wordSetRatio(input.toString, set)
  override protected def nullSafeEval(input: Any): Any =
    ratio(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = {
    val ref = ctx.addReferenceObj("wordSetRatioExpr", this,
      classOf[WordSetRatioExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.ratio($c)")
  }
  override protected def withNewChildInternal(newChild: Expression)
  : WordSetRatioExpr = copy(child = newChild)
}

/** One-pass text curation statistics — the native fused twin of the
  * [[graft.ops.Quality]] ratio columns: `struct(n_chars, n_punct,
  * n_tokens, n_stop, n_distinct)` from ONE code-point walk plus ONE
  * tokenization ([[TextHashes.textStats]]). The declarative formulation
  * runs a regex pass (punct) plus three separate interpreted-HOF token
  * passes (stop filter, distinct, count) per row; downstream ratios
  * recomputed from this struct are the identical integer-over-integer
  * double divisions, so oracles are unaffected. */
case class TextStatsExpr(child: Expression, stop: Seq[String])
  extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_chars", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("n_punct", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("n_tokens", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("n_stop", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("n_distinct", LongType,
        nullable = false)))
  override def prettyName: String = "graft_text_stats"
  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](stop.size * 2)
    stop.foreach(s.add)
    s
  }
  /** Codegen entry point (called from generated Java via a reference to
    * this instance, which carries the prebuilt stop set). */
  def stats(input: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val a = TextHashes.textStats(input.toString, set)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](a(0), a(1), a(2), a(3), a(4)))
  }
  override protected def nullSafeEval(input: Any): Any =
    stats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = {
    val ref = ctx.addReferenceObj("textStatsExpr", this,
      classOf[TextStatsExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.stats($c)")
  }
  override protected def withNewChildInternal(newChild: Expression)
  : TextStatsExpr = copy(child = newChild)
}

/** Marker-word argmax language ID — the native twin of
  * [[graft.ops.Quality.langId]], which evaluates one interpreted `filter`
  * lambda per language per row (4 full token passes); this tokenizes once
  * and probes all marker sets in a single loop. */
case class LangIdExpr(child: Expression, langs: Seq[(String, Seq[String])],
                      floor: Double)
  extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_lang_id"
  @transient private lazy val langArr
  : Array[(String, java.util.Set[String])] =
    langs.map { case (l, ws) =>
      val s = new java.util.HashSet[String](ws.size * 2)
      ws.foreach(s.add)
      (l, s: java.util.Set[String])
    }.toArray
  /** Codegen entry point (called from generated Java via a reference to
    * this instance, which carries the prebuilt marker sets). */
  def idOf(input: UTF8String): UTF8String =
    UTF8String.fromString(TextHashes.langId(input.toString, langArr, floor))
  override protected def nullSafeEval(input: Any): Any =
    idOf(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = {
    val ref = ctx.addReferenceObj("langIdExpr", this,
      classOf[LangIdExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.idOf($c)")
  }
  override protected def withNewChildInternal(newChild: Expression)
  : LangIdExpr = copy(child = newChild)
}

/** Content-defined chunks of a text column (see [[TextHashes.cdcChunks]]):
  * rolling polynomial window hash, boundary at hash % 64 == 0. */
case class CdcChunksExpr(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_cdc_chunks"
  override protected def nullSafeEval(input: Any): Any =
    TextHashes.cdcChunksData(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.TextHashes.cdcChunksData($c)")
  override protected def withNewChildInternal(newChild: Expression)
  : CdcChunksExpr = copy(child = newChild)
}

/** Point query against a serialized `count_min_sketch(...)` aggregate
  * (`org.apache.spark.util.sketch.CountMinSketch` bytes): returns the
  * estimated count of `item` — `>= true count` always, `<= true count +
  * eps*N` with the sketch's configured confidence. Spark ships the
  * builder aggregate but no probe function, so heavy-hitter queries
  * would otherwise have to collect the sketch to the driver. The
  * deserialized sketch is cached while consecutive rows carry the same
  * bytes — the broadcast-one-sketch-against-many-keys shape — so the
  * ~11 KB parse cost is paid once per task, not per row. */
case class CmsEstimateExpr(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cms_estimate"

  // One immutable (bytes, sketch) pair behind a single reference: a
  // concurrent reader sees either the old pair or the new pair, never
  // matching bytes paired with a stale sketch (the two-field version had
  // exactly that torn-read window). Plan copies are per-task today, but
  // nothing should depend on that.
  @transient private var cached
  : (Array[Byte], org.apache.spark.util.sketch.CountMinSketch) = _

  /** Codegen entry point (also the interpreted path): deserialize-once
    * probe of a serialized count-min sketch. */
  def estimate(bytes: Array[Byte], item: Any): Long = {
    var c = cached
    if ((c eq null) || !java.util.Arrays.equals(c._1, bytes)) {
      c = (bytes, org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(bytes)))
      cached = c
    }
    item match {
      case s: UTF8String => c._2.estimateCount(s.toString)
      case other => c._2.estimateCount(other)
    }
  }

  override protected def nullSafeEval(sk: Any, item: Any): Any =
    estimate(sk.asInstanceOf[Array[Byte]], item)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = {
    val ref = ctx.addReferenceObj("cmsEstimateExpr", this,
      classOf[CmsEstimateExpr].getName)
    // item may be a primitive in generated code; box explicitly so the
    // Object-typed parameter resolves for every probe-column type
    defineCodeGen(ctx, ev, (sk, item) =>
      s"$ref.estimate($sk, (Object)($item))")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimateExpr =
    copy(left = newLeft, right = newRight)
}

/** Probe of a serialized `BloomFilter` (the bytes the built-in
  * [[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]]
  * emits) against an `xxhash64`-ed key: true iff the key MIGHT be in the
  * build set — never a false negative, false positives at the filter's
  * configured rate. Spark's own `BloomFilterMightContain` only accepts a
  * foldable/scalar-subquery filter side, which rules out the
  * broadcast-one-sketch-against-many-rows shape the engine uses for CMS
  * probes; this expression fills that gap with the same
  * deserialize-once immutable-pair cache as [[CmsEstimateExpr]].
  *
  * The 100 TB use: build the bloom over a filtered dimension's join
  * keys (key-cardinality bytes), broadcast it, and drop non-matching
  * fact rows BEFORE the join shuffle — the classic semi-join pruning
  * pattern; the subsequent real join removes the false positives, so
  * results are exact. */
case class BloomMightContainExpr(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_bloom_might_contain"

  @transient private var cached
  : (Array[Byte], org.apache.spark.util.sketch.BloomFilter) = _

  /** Codegen entry point (also the interpreted path). */
  def mightContain(bytes: Array[Byte], item: Long): Boolean = {
    var c = cached
    if ((c eq null) || !java.util.Arrays.equals(c._1, bytes)) {
      c = (bytes, org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes)))
      cached = c
    }
    c._2.mightContainLong(item)
  }

  override protected def nullSafeEval(sk: Any, item: Any): Any =
    mightContain(sk.asInstanceOf[Array[Byte]], item.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = {
    val ref = ctx.addReferenceObj("bloomMightContainExpr", this,
      classOf[BloomMightContainExpr].getName)
    defineCodeGen(ctx, ev, (sk, item) => s"$ref.mightContain($sk, $item)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContainExpr =
    copy(left = newLeft, right = newRight)
}

/** Z-order (Morton) curve value over two long columns: interleaves the
  * low 16 bits of each (x even positions, y odd) into a 32-bit value.
  * Sorting / range-partitioning data by this value clusters rows that
  * are close in BOTH dimensions into the same partitions — the standard
  * multi-column layout trick so min/max file statistics prune scans on
  * either predicate column, where a lexicographic sort only prunes the
  * leading one. Pure bit arithmetic, so any engine reproduces it. */
case class ZOrderExpr(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    ZOrderExpr.interleave16(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = defineCodeGen(ctx, ev, (x, y) =>
    s"graft.functions.ZOrderExpr.interleave16($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrderExpr =
    copy(left = newLeft, right = newRight)
}

object ZOrderExpr {
  /** Morton-interleave the low 16 bits of x (even bit positions) and y
    * (odd positions). Public static: called from generated Java. */
  def interleave16(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
}

/** PQ encoding — per-subspace nearest codebook centroid — with the
  * MODEL as constructor data instead of inlined literal trees. The
  * literal form (kept as [[graft.ops.Similarity.pqCodesLiteral]] for the
  * cross-check spec) plans ~25 expression nodes per (subspace, centroid)
  * — ~1000 nodes for the 4×10×16 codebook — and every action over an
  * index build re-walks them through analysis and optimization; this is
  * ONE plan node and a tight loop per row. Arithmetic is bit-identical
  * to the literal form: the same ascending-index dot accumulation as
  * [[DotProductExpr]], the same ss - 2·sm + bb association, Spark's
  * double round (HALF_UP via Double.toString-based BigDecimal) at scale
  * 6, struct-min tie-breaking (NaN greatest, ties to the lower centroid
  * position) — asserted row-for-row against the literal form in
  * NativeFunctionsSpec. Output: one LONG centroid label per subspace. */
case class PqEncodeExpr(child: Expression,
    codebook: Seq[Seq[(Long, Seq[Double])]], subDim: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  @transient private lazy val cents: Array[Array[Array[Double]]] =
    codebook.map(_.map(_._2.toArray).toArray).toArray
  @transient private lazy val lbls: Array[Array[Long]] =
    codebook.map(_.map(_._1).toArray).toArray
  // ||m||^2 summed in ascending index order — the literal form computed
  // this in Scala the same way before inlining it as one constant
  @transient private lazy val bbs: Array[Array[Double]] =
    codebook.map(_.map(_._2.map(x => x * x).sum).toArray).toArray

  private def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  def encode(arr: org.apache.spark.sql.catalyst.util.ArrayData)
  : org.apache.spark.sql.catalyst.util.ArrayData = {
    val m = cents.length
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val base = j * subDim
      var ss = 0.0
      var t = 0
      while (t < subDim) {
        val x = arr.getDouble(base + t); ss += x * x; t += 1
      }
      val cj = cents(j)
      var best = -1
      var bestD = 0.0
      var i = 0
      while (i < cj.length) {
        val c = cj(i)
        var sm = 0.0
        t = 0
        while (t < subDim) { sm += arr.getDouble(base + t) * c(t); t += 1 }
        val d2 = round6(ss - 2.0 * sm + bbs(j)(i))
        // struct-min semantics: strictly smaller wins (ties keep the
        // earlier position); a NaN incumbent loses to any non-NaN
        if (best < 0 || d2 < bestD || (bestD.isNaN && !d2.isNaN)) {
          best = i; bestD = d2
        }
        i += 1
      }
      out(j) = lbls(j)(best)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = {
    val ref = ctx.addReferenceObj("pqEncoder", this,
      classOf[PqEncodeExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.encode($c)")
  }
  override protected def withNewChildInternal(newChild: Expression)
  : PqEncodeExpr = copy(child = newChild)
}

/** Nearest-centroid assignment by ROUNDED cosine — the coarse-quantizer
  * route step — with the centroid table as CONSTRUCTOR data instead of
  * inlined literal trees (the [[PqEncodeExpr]] discipline; the literal
  * form is kept as [[graft.ops.Similarity.assignToCentroidsLiteral]]
  * for the cross-check spec). Output: struct<assigned: long,
  * cos: double>. Arithmetic is bit-identical to the literal form: the
  * same ascending dot accumulation, cos = round6(dot(e,m) /
  * (sqrt(dot(e,e)) · ||m||)) with ||m|| the Scala-computed constant,
  * and array_max struct semantics (greater cos wins, NaN greatest,
  * ties to the LOWER centroid position via the -i tiebreak). */
case class CentroidAssignExpr(child: Expression,
    centroids: Seq[(Long, Seq[Double])])
  extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("assigned", LongType,
      nullable = false),
    org.apache.spark.sql.types.StructField("cos",
      org.apache.spark.sql.types.DoubleType, nullable = false)))
  override def prettyName: String = "graft_centroid_assign"

  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_._2.toArray).toArray
  @transient private lazy val lbls: Array[Long] =
    centroids.map(_._1).toArray
  @transient private lazy val norms: Array[Double] =
    centroids.map(c => math.sqrt(c._2.map(x => x * x).sum)).toArray

  private def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  def assign(arr: org.apache.spark.sql.catalyst.util.ArrayData)
  : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val n = arr.numElements()
    var ee = 0.0
    var t = 0
    while (t < n) { val x = arr.getDouble(t); ee += x * x; t += 1 }
    val en = math.sqrt(ee)
    var best = -1
    var bestC = 0.0
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      var em = 0.0
      t = 0
      while (t < n) { em += arr.getDouble(t) * c(t); t += 1 }
      val den = en * norms(i)
      // ANSI parity with the literal form: double division by a zero
      // divisor THROWS under ANSI mode (a zero-norm vector or centroid);
      // returning NaN here would silently diverge on degenerate input
      if (den == 0.0) throw new ArithmeticException(
        "[DIVIDE_BY_ZERO] Division by zero " +
          "(graft_centroid_assign over a zero-norm vector or centroid)")
      val cos = round6(em / den)
      // struct-max semantics: strictly greater wins; a NaN challenger
      // beats any non-NaN incumbent (NaN sorts greatest); ties keep the
      // earlier position (its -i tiebreak is higher)
      if (best < 0 || cos > bestC || (cos.isNaN && !bestC.isNaN)) {
        best = i; bestC = cos
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](lbls(best), bestC))
  }

  override protected def nullSafeEval(input: Any): Any =
    assign(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = {
    val ref = ctx.addReferenceObj("centroidAssign", this,
      classOf[CentroidAssignExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.assign($c)")
  }
  override protected def withNewChildInternal(newChild: Expression)
  : CentroidAssignExpr = copy(child = newChild)
}

/** All ordered (i < j) element pairs of a long array as one
  * array<struct<a, b>> — the basket-shaped co-occurrence expansion
  * (rel_basket_pairs / rel_item_cooccur_sim / the co-purchase graph
  * builders). Equivalent to the nested transform/slice HOF form, but
  * those pay two interpreted lambda evaluations per emitted pair; this
  * is one tight loop per row inside whole-stage codegen. Order of
  * emitted pairs matches the HOF form (outer index ascending, inner
  * ascending), so on a sorted distinct basket every pair is a < b. */
case class SortedPairsExpr(child: Expression) extends UnaryExpression
  with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("b", LongType,
        nullable = false))), containsNull = false)
  override def prettyName: String = "graft_pairs"
  override protected def nullSafeEval(input: Any): Any =
    SortedPairsExpr.pairsData(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.SortedPairsExpr.pairsData($c)")
  override protected def withNewChildInternal(newChild: Expression)
  : SortedPairsExpr = copy(child = newChild)
}

object SortedPairsExpr {
  /** Codegen bridge: m*(m-1)/2 two-long rows from an m-element array. */
  def pairsData(arr: org.apache.spark.sql.catalyst.util.ArrayData)
  : org.apache.spark.sql.catalyst.util.ArrayData = {
    val m = arr.numElements()
    val out = new Array[Any](m * (m - 1) / 2)
    var idx = 0
    var i = 0
    while (i < m) {
      val a = arr.getLong(i)
      var j = i + 1
      while (j < m) {
        out(idx) =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](a, arr.getLong(j)))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class ShinglesExpr(child: Expression, n: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"
  override protected def nullSafeEval(input: Any): Any =
    TextHashes.shinglesData(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.TextHashes.shinglesData($c, $n)")
  override protected def withNewChildInternal(newChild: Expression)
  : ShinglesExpr = copy(child = newChild)
}

/** Registration + Column-level API. Functions are injected per-session
  * (idempotent) through the internal function registry; sessions built with
  * `.withExtensions(GraftExtensions.inject)` get them at construction. */
object GraftFunctions {

  private[functions] def builderSeq
  : Seq[(String, Seq[Expression] => Expression)] = builders

  private def builders = Seq[(String, Seq[Expression] => Expression)](
    "graft_simhash64" -> (es => SimHash64Expr(es.head)),
    "graft_minhash_sig" -> (es => MinHashSigExpr(es.head,
      es(1).eval().asInstanceOf[Number].intValue())),
    "graft_shingles" -> (es => ShinglesExpr(es.head,
      es(1).eval().asInstanceOf[Number].intValue())),
    "graft_minhash_from_shingles" -> (es => MinHashFromShinglesExpr(es.head,
      es(1).eval().asInstanceOf[Number].intValue())),
    "graft_token_counts" -> (es => TokenCountsAgg(es.head,
      graft.ops.TextOps.stopWords)),
    "graft_token_counts_csv" -> (es => TokenCountsAgg(es.head,
      graft.ops.TextOps.stopWords, TokenCountsAgg.ModeCsvTokens)),
    "graft_ticker_counts" -> (es => TokenCountsAgg(es.head, Nil,
      TokenCountsAgg.ModeCsvTicker)),
    "graft_cdc_chunks" -> (es => CdcChunksExpr(es.head)),
    "graft_pairs" -> (es => SortedPairsExpr(es.head)),
    "graft_cms_estimate" -> (es => CmsEstimateExpr(es.head, es(1))),
    // the built-in bloom build aggregate (not exposed as a SQL function
    // by Spark itself) + the broadcast-shape probe above
    "graft_bloom_agg" -> (es =>
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(es.head, es(1))),
    "graft_bloom_might_contain" -> (es =>
      BloomMightContainExpr(es.head, es(1))),
    "graft_cms_merge" -> (es => CmsMergeAgg(es.head)),
    "graft_misra_gries" -> (es => MisraGriesAgg(es.head,
      es(1).eval().asInstanceOf[Number].intValue())),
    "graft_kmv_sketch" -> (es => KmvSketchAgg(es.head,
      es(1).eval().asInstanceOf[Number].intValue())),
    "graft_kmv_merge" -> (es => KmvMergeAgg(es.head,
      es(1).eval().asInstanceOf[Number].intValue())),
    "graft_qsketch" -> (es => QuantileSketchAgg(es(0), es(1),
      es(2).eval().asInstanceOf[Number].intValue())),
    "graft_qsketch_merge" -> (es => QuantileSketchMergeAgg(es.head,
      es(1).eval().asInstanceOf[Number].intValue())),
    "graft_zorder" -> (es => ZOrderExpr(es.head, es(1))),
    "graft_vec_mean" -> (es => VectorMeanAgg(es.head)),
    "graft_vec_outer_sum" -> (es => VectorOuterSumAgg(es.head)),
    "graft_stop_ratio" -> (es => WordSetRatioExpr(es.head,
      graft.ops.TextOps.stopWords)),
    "graft_text_stats" -> (es => TextStatsExpr(es.head,
      graft.ops.TextOps.stopWords)),
    "graft_lang_id" -> (es => LangIdExpr(es.head,
      graft.ops.Quality.langOrder.map(l =>
        l -> graft.ops.Quality.langMarkers(l)), 0.02)))

  /** Register into an existing (classic) session; safe to call per query.
    * Only names the session lacks are registered, so a session built with
    * [[GraftExtensions]] (or already served by an earlier call) keeps its
    * builders and logs no "replaced a previously registered function". */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  def simhash64(spark: SparkSession, c: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_simhash64", c)
  }

  def minhashSig(spark: SparkSession, c: Column, k: Int): Column = {
    ensureRegistered(spark)
    call_function("graft_minhash_sig", c,
      org.apache.spark.sql.functions.lit(k))
  }

  def shingles(spark: SparkSession, c: Column, n: Int = 3): Column = {
    ensureRegistered(spark)
    call_function("graft_shingles", c, org.apache.spark.sql.functions.lit(n))
  }

  /** All i < j pairs of a long array as array<struct<a, b>> (see
    * [[SortedPairsExpr]]). */
  def sortedPairs(spark: SparkSession, c: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_pairs", c)
  }

  /** MinHash signature from a pre-computed shingle array (see
    * [[MinHashFromShinglesExpr]]). */
  def minhashSigFromShingles(spark: SparkSession, c: Column, k: Int)
  : Column = {
    ensureRegistered(spark)
    call_function("graft_minhash_from_shingles", c,
      org.apache.spark.sql.functions.lit(k))
  }

  /** Map-side word counting (see [[TokenCountsAgg]]); aggregate function —
    * use inside `.agg(...)`; stop words are the reference list. */
  def tokenCounts(spark: SparkSession, c: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_token_counts", c)
  }

  /** Whole reference WordCount mapper (naive split -> headline re-join ->
    * tokenize -> stop-filter -> count) as one map-side aggregate over raw
    * csv lines. */
  def tokenCountsCsv(spark: SparkSession, c: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_token_counts_csv", c)
  }

  /** Whole reference StockCount mapper (Java split -> arity filter ->
    * trimmed last field -> count) as one map-side aggregate over raw csv
    * lines. */
  def tickerCounts(spark: SparkSession, c: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_ticker_counts", c)
  }

  /** Content-defined chunks (rolling-hash boundaries; see
    * [[TextHashes.cdcChunks]]). */
  def cdcChunks(spark: SparkSession, c: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_cdc_chunks", c)
  }

  /** Estimated count of `item` from a serialized count-min sketch (see
    * [[CmsEstimateExpr]]); pairs with the built-in `count_min_sketch`
    * aggregate. */
  def cmsEstimate(spark: SparkSession, sketch: Column, item: Column)
  : Column = {
    ensureRegistered(spark)
    call_function("graft_cms_estimate", sketch, item)
  }

  /** Bloom-filter build aggregate over an `xxhash64`-ed key column (the
    * built-in [[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]],
    * which Spark uses for runtime filters but does not register as a SQL
    * function); returns the serialized filter bytes. */
  def bloomAgg(spark: SparkSession, hashed: Column, estItems: Long)
  : Column = {
    ensureRegistered(spark)
    call_function("graft_bloom_agg", hashed,
      org.apache.spark.sql.functions.lit(estItems))
  }

  /** Probe of serialized bloom-filter bytes against an `xxhash64`-ed key
    * (see [[BloomMightContainExpr]]); pairs with [[bloomAgg]]. */
  def bloomMightContain(spark: SparkSession, sketch: Column, hashed: Column)
  : Column = {
    ensureRegistered(spark)
    call_function("graft_bloom_might_contain", sketch, hashed)
  }

  /** Merge serialized count-min sketches into one (see [[CmsMergeAgg]]);
    * aggregate function — use inside `.agg(...)`. */
  def cmsMerge(spark: SparkSession, c: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_cms_merge", c)
  }

  /** Misra-Gries frequent-items candidate summary (see [[MisraGriesAgg]]);
    * aggregate function — use inside `.agg(...)`. Returns a
    * `map<string,bigint>` of at most `capacity` candidate keys whose set
    * is a guaranteed superset of every key with frequency >
    * N/(capacity+1). */
  def misraGries(spark: SparkSession, c: Column, capacity: Int): Column = {
    ensureRegistered(spark)
    call_function("graft_misra_gries", c,
      org.apache.spark.sql.functions.lit(capacity))
  }

  /** KMV/Theta sketch: k smallest distinct hash values as a sorted
    * `array<bigint>` (see [[KmvSketchAgg]]); aggregate function — use
    * inside `.agg(...)`. */
  def kmvSketch(spark: SparkSession, c: Column, k: Int): Column = {
    ensureRegistered(spark)
    call_function("graft_kmv_sketch", c,
      org.apache.spark.sql.functions.lit(k))
  }

  /** O(k) union of KMV sketch COLUMNS keeping the k smallest distinct
    * values (see [[KmvMergeAgg]]): merges already-built sketches
    * without exploding them back to rows; lossless vs re-sketching the
    * concatenated raw streams. Aggregate function — use inside
    * `.agg(...)`. */
  def kmvMerge(spark: SparkSession, c: Column, k: Int): Column = {
    ensureRegistered(spark)
    call_function("graft_kmv_merge", c,
      org.apache.spark.sql.functions.lit(k))
  }

  /** Deterministic mergeable quantile sketch over (rowHash, value) —
    * md5-level sampling, rank error ~O(sqrt(1/capacity)); see
    * [[QSketch]] for the wire format and the lossless-merge identity.
    * Aggregate function — use inside `.agg(...)`. */
  def qsketch(spark: SparkSession, hash: Column, value: Column,
              capacity: Int): Column = {
    ensureRegistered(spark)
    call_function("graft_qsketch", hash, value,
      org.apache.spark.sql.functions.lit(capacity))
  }

  /** O(capacity) merge of quantile-sketch COLUMNS (the [[QSketch]]
    * wire format) — the partials-store read path; lossless vs
    * sketching the concatenated raw data. Aggregate function — use
    * inside `.agg(...)`. */
  def qsketchMerge(spark: SparkSession, c: Column, capacity: Int)
  : Column = {
    ensureRegistered(spark)
    call_function("graft_qsketch_merge", c,
      org.apache.spark.sql.functions.lit(capacity))
  }

  /** Z-order (Morton) value of two long columns (see [[ZOrderExpr]]). */
  def zorder(spark: SparkSession, x: Column, y: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_zorder", x, y)
  }

  /** Element-wise mean of a vector column (see [[VectorMeanAgg]]);
    * aggregate function — use inside `.agg(...)`. */
  def vecMean(spark: SparkSession, c: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_vec_mean", c)
  }

  /** Second-moment sums of a vector column (see [[VectorOuterSumAgg]]):
    * [n, Σxᵢ…, upper-tri Σxᵢxⱼ…] — the covariance/PCA one-pass
    * primitive; aggregate function — use inside `.agg(...)`. */
  def vecOuterSum(spark: SparkSession, c: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_vec_outer_sum", c)
  }

  /** Stop-word share of clean tokens (native [[WordSetRatioExpr]] over the
    * reference stop list); equals [[graft.ops.Quality.stopwordRatio]]. */
  def stopRatio(spark: SparkSession, c: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_stop_ratio", c)
  }

  /** One-pass curation statistics struct (see [[TextStatsExpr]]):
    * n_chars, n_punct, n_tokens, n_stop, n_distinct. */
  def textStats(spark: SparkSession, c: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_text_stats", c)
  }

  /** Marker-argmax language ID (native [[LangIdExpr]]); equals
    * [[graft.ops.Quality.langId]]. */
  def langId(spark: SparkSession, c: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_lang_id", c)
  }
}

/** SparkSessionExtensions hook: `SparkSession.builder.withExtensions(
  * GraftExtensions.inject)` or `spark.sql.extensions=graft.functions.
  * GraftExtensions`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftExtensions.inject(ext)
}

object GraftExtensions {
  val inject: org.apache.spark.sql.SparkSessionExtensions => Unit = { ext =>
    // the same builder table the per-session registration path uses, so
    // extension-built sessions get the complete function surface
    GraftFunctions.builderSeq.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), b))
    }
    // global-rank rewrite: un-partitioned row_number windows plan as the
    // range-partitioned GlobalRank operator instead of a single-partition
    // WindowExec (rule + the strategy that plans the logical node)
    ext.injectOptimizerRule(_ => graft.plans.GlobalRankRule)
    ext.injectPlannerStrategy(_ => graft.plans.GlobalRankStrategy)
    // running-sum rewrite: sum() OVER (ORDER BY ... ROWS UNBOUNDED
    // PRECEDING) plans as the distributed GlobalScan prefix sum
    ext.injectOptimizerRule(_ => graft.plans.GlobalScanRule)
    ext.injectPlannerStrategy(_ => graft.plans.GlobalScanStrategy)
    // offset rewrite: un-partitioned lag/lead plans as the boundary-row
    // GlobalShift operator instead of a single-partition WindowExec
    ext.injectOptimizerRule(_ => graft.plans.GlobalShiftRule)
    ext.injectPlannerStrategy(_ => graft.plans.GlobalShiftStrategy)
    // edge-value rewrite: un-partitioned first_value/last_value/nth_value
    // plans as the spliced-threshold GlobalEdge operator
    ext.injectOptimizerRule(_ => graft.plans.GlobalEdgeRule)
    ext.injectPlannerStrategy(_ => graft.plans.GlobalEdgeStrategy)
    // sliding-frame rewrite: un-partitioned ROWS k PRECEDING..CURRENT ROW
    // aggregates (optionally mixed with prefix aggregates) plan as the
    // boundary-seeded GlobalFrame operator, stacked on GlobalScan
    ext.injectOptimizerRule(_ => graft.plans.GlobalFrameRule)
    ext.injectPlannerStrategy(_ => graft.plans.GlobalFrameStrategy)
    // mixed-family rewrite: ONE un-partitioned window projecting rank /
    // tie-ranks / lag / edge values / prefix + sliding aggregates
    // together composes the family operators onto one shared sort
    ext.injectOptimizerRule(_ => graft.plans.GlobalWindowRule)
    // value-range rewrite: un-partitioned RANGE x PRECEDING..CURRENT ROW
    // aggregates over a numeric ORDER BY plan as the key-spliced
    // GlobalRange operator
    ext.injectOptimizerRule(_ => graft.plans.GlobalRangeRule)
    ext.injectPlannerStrategy(_ => graft.plans.GlobalRangeStrategy)
    // half-bounded value-range rewrite: sum/count OVER (RANGE UNBOUNDED
    // PRECEDING .. y PRECEDING/FOLLOWING) decomposes into the running
    // prefix minus/plus the bounded gap frame (null-faithful via count
    // guards); the family rules then fuse the members onto one sort
    ext.injectOptimizerRule(_ => graft.plans.GlobalHalfRangeRule)
  }
}
