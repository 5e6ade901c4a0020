package graft

import graft.functions.{GraftFunctions, TextHashes}
import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native Catalyst expressions must be bit-identical to the pure
  * built-in-expression versions they accelerate. */
class NativeFunctionsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(99)
  private val texts = Seq("", " ", "a", "one two", "U.S. Stocks, Rally 5%!",
    "the quick brown fox jumps over the lazy dog") ++
    Seq.fill(200)(Seq.fill(rnd.nextInt(30))(
      "abcdefghij spark scale ,.!? 0123"(rnd.nextInt(32))).mkString)

  /** Windowed-Horner reference for the CDC hash — the definition the
    * DuckDB oracle implements; the production path rolls the window. */
  private def cdcChunksReference(text: String): Seq[String] = {
    val P = (1L << 61) - 1
    val cps = text.codePoints().toArray
    def winHash(i: Int): BigInt = // window ends at 0-based i
      (i - 7 to i).foldLeft(BigInt(0))((acc, j) => (acc * 263 + cps(j)) % P)
    val bounds = (7 until cps.length).filter(i => winHash(i) % 64 == 0)
      .map(_ + 1)
    val cuts = 0 +: bounds :+ cps.length
    if (cps.length < 8) Seq(text)
    else cuts.sliding(2).map { case Seq(a, b) =>
      new String(cps, a, b - a)
    }.toSeq
  }

  test("cdcChunks: rolling hash == windowed reference, chunks rejoin") {
    val cdcTexts = texts ++ Seq("ü" * 20, "日本語のテキストです、長い文章。" * 4,
      Seq.fill(500)("abcdefgh"(rnd.nextInt(8))).mkString)
    cdcTexts.foreach { t =>
      val got = TextHashes.cdcChunks(t).toSeq
      assert(got == cdcChunksReference(t), s"text=${t.take(60)}")
      assert(got.mkString == t, s"chunks must concatenate back: ${t.take(60)}")
      assert(got.nonEmpty)
    }
    // long random text actually produces multiple chunks (mask = 63)
    val long = Seq.fill(4000)("abcdefghijklmnop"(rnd.nextInt(16))).mkString
    assert(TextHashes.cdcChunks(long).length > 10)
  }

  test("cdcChunks native expression == JVM twin") {
    val df = texts.toDF("t")
    val got = df.select(GraftFunctions.cdcChunks(col("t")))
      .as[Seq[String]].collect()
    got.zip(texts).foreach { case (g, t) =>
      assert(g == TextHashes.cdcChunks(t).toSeq, s"text=$t")
    }
  }

  test("minhash from pre-computed shingles == minhash from text") {
    val df = texts.toDF("t")
    val got = df.select(
      GraftFunctions.minhashSigFromShingles(
        GraftFunctions.shingles(col("t")), 8),
      GraftFunctions.minhashSig(col("t"), 8))
      .as[(Seq[Long], Seq[Long])].collect()
    got.zip(texts).foreach { case ((fromSh, fromText), t) =>
      assert(fromSh == fromText, s"text=$t")
    }
    // duplicate-invariance: distinct shingles give the same signature
    val dup = df.select(
      GraftFunctions.minhashSigFromShingles(
        array_distinct(GraftFunctions.shingles(col("t"))), 8),
      GraftFunctions.minhashSig(col("t"), 8))
      .as[(Seq[Long], Seq[Long])].collect()
    dup.foreach { case (a, b) => assert(a == b) }
  }

  test("native simhash64 == builtin-expression simhash64 == reference") {
    val df = texts.toDF("t")
    val got = df.select(
      GraftFunctions.simhash64(col("t")),
      Dedup.simhash64(col("t"))).as[(Long, Long)].collect()
    got.zip(texts).foreach { case ((native, builtin), t) =>
      assert(native == builtin, s"text=$t")
      assert(native == TextHashes.simhash64(t), s"text=$t")
    }
  }

  test("native minhash_sig == portable aggregation-based signature") {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val native = df.select(col("doc_id"),
      GraftFunctions.minhashSig(col("text"), 8).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val portable = Dedup.minhashSignature(df, col("text"), col("doc_id"), 8)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(native.keySet == portable.keySet)
    native.foreach { case (id, sig) =>
      assert(sig == portable(id), s"doc_id=$id text=${texts(id.toInt)}")
    }
  }

  test("native shingles == builtin-expression shingles") {
    val df = texts.toDF("t")
    val got = df.select(
      GraftFunctions.shingles(col("t"), 3),
      Dedup.shingles(col("t"), 3)).as[(Seq[String], Seq[String])].collect()
    got.zip(texts).foreach { case ((native, builtin), t) =>
      assert(native == builtin, s"text=$t")
    }
  }

  test("native sorted-pairs == nested transform/slice HOF, exact order") {
    val arrs = Seq(Seq.empty[Long], Seq(7L), Seq(1L, 5L),
      Seq(1L, 2L, 3L, 4L, 5L)) ++
      Seq.fill(50)(Seq.fill(rnd.nextInt(9))(rnd.nextLong()).distinct
        .sorted.toSeq)
    val df = arrs.toDF("parts")
    val native = df.select(
      GraftFunctions.sortedPairs(col("parts")).as("p"))
      .select(expr("transform(p, x -> struct(x.a AS a, x.b AS b))"))
      .as[Seq[(Long, Long)]].collect()
    val hof = df.select(expr(
      """flatten(transform(parts, (x, i) ->
        |  transform(slice(parts, i + 2, size(parts)),
        |            y -> struct(x AS a, y AS b))))""".stripMargin))
      .as[Seq[(Long, Long)]].collect()
    native.zip(hof).zip(arrs).foreach { case ((n, h), a) =>
      assert(n == h, s"input=$a")
    }
  }

  test("native PQ encode == literal-expression pqCodes, row-for-row") {
    val subDim = 4
    val m = 3
    val k = 5
    val codebook: Seq[Seq[(Long, Seq[Double])]] = (0 until m).map(_ =>
      (0 until k).map(i => i.toLong ->
        Seq.fill(subDim)(math.rint(rnd.nextGaussian() * 1e6) / 1e6)))
    // random vectors plus adversarial ties: vectors equal to a centroid
    // (d2 = 0 against it) and duplicated centroids across positions
    val vecs = Seq.fill(300)(Seq.fill(m * subDim)(
      math.rint(rnd.nextGaussian() * 1e6) / 1e6)) ++
      (0 until k).map(i => (0 until m).flatMap(j => codebook(j)(i)._2))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val nat = graft.ops.Similarity.pqCodes(df, col("embedding"),
      col("vec_id"), codebook, subDim).orderBy("vec_id").collect()
    val lit0 = graft.ops.Similarity.pqCodesLiteral(df, col("embedding"),
      col("vec_id"), codebook, subDim).orderBy("vec_id").collect()
    assert(nat.map(_.toSeq).toSeq == lit0.map(_.toSeq).toSeq)
  }

  test("native centroid assignment == literal-expression form, row-for-row") {
    val dims = 6
    val k = 5
    val cents: Seq[(Any, Seq[Double])] = (0 until k).map(i => (i.toLong: Any) ->
      Seq.fill(dims)(math.rint(rnd.nextGaussian() * 1e6) / 1e6))
    // random vectors plus ties: vectors EQUAL to centroids (cos = 1
    // against them, and against any duplicated centroid)
    val vecs = Seq.fill(300)(Seq.fill(dims)(
      math.rint(rnd.nextGaussian() * 1e6) / 1e6)) ++ cents.map(_._2)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val nat = graft.ops.Similarity.assignToCentroids(df, col("embedding"),
      col("vec_id"), cents).orderBy("vec_id").collect()
    val lit0 = graft.ops.Similarity.assignToCentroidsLiteral(df,
      col("embedding"), col("vec_id"), cents).orderBy("vec_id").collect()
    assert(nat.map(_.toSeq).toSeq == lit0.map(_.toSeq).toSeq)
    // ANSI parity on degenerate input: BOTH forms throw on a zero-norm
    // vector (double division by zero throws under ANSI), rather than
    // the native form silently yielding NaN
    val zero = Seq((0L, Seq.fill(dims)(0.0))).toDF("vec_id", "embedding")
    intercept[Throwable] {
      graft.ops.Similarity.assignToCentroids(zero, col("embedding"),
        col("vec_id"), cents).collect()
    }
    intercept[Throwable] {
      graft.ops.Similarity.assignToCentroidsLiteral(zero, col("embedding"),
        col("vec_id"), cents).collect()
    }
  }

  test("assignToCentroids rejects an empty centroid list at construction") {
    val df = Seq((0L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      graft.ops.Similarity.assignToCentroids(df, col("embedding"),
        col("vec_id"), Nil))
    assert(e.getMessage.contains("centroid"), e.getMessage)
  }

  test("pqCodes rejects an empty codebook or subspace at construction") {
    val df = Seq((0L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    Seq(Nil, Seq(Seq(0L -> Seq(1.0)), Nil)).foreach { codebook =>
      val e = intercept[IllegalArgumentException](
        graft.ops.Similarity.pqCodes(df, col("embedding"), col("vec_id"),
          codebook, 1))
      assert(e.getMessage.contains("pqCodes"), e.getMessage)
    }
  }

  test("native dot product == declarative fold, bit-identical") {
    val rnd2 = new scala.util.Random(5)
    val vecs = Seq.fill(50)((Seq.fill(64)(rnd2.nextFloat()),
      Seq.fill(64)(rnd2.nextFloat())))
    val df = vecs.toDF("a", "b")
    val got = df.select(
      graft.ops.Similarity.dot(col("a"), col("b")),
      graft.ops.Similarity.dotDeclarative(col("a"), col("b")))
      .as[(Double, Double)].collect()
    got.foreach { case (native, decl) => assert(native == decl) }
  }

  test("native stop_ratio == declarative stopwordRatio, bit-identical") {
    // marker/stop-word-rich texts so ratios are non-trivial
    val extra = Seq("the cat and the hat is on a mat",
      "el perro y la casa de los gatos", "le chat et la maison les arbres",
      "der hund und die katze ist ein tier nicht mit")
    val df = (texts ++ extra).toDF("t")
    val got = df.select(
      GraftFunctions.stopRatio(col("t")),
      graft.ops.Quality.stopwordRatio(col("t")))
      .as[(Double, Double)].collect()
    got.zip(texts ++ extra).foreach { case ((native, decl), t) =>
      assert(native == decl, s"text=$t")
    }
  }

  test("native lang_id == declarative langId on markers and random text") {
    val extra = Seq("the cat and the hat is on a mat",
      "el perro y la casa de los gatos", "le chat et la maison les arbres",
      "der hund und die katze ist ein tier nicht mit",
      // tie shapes: "la" is an es AND fr marker; "de" es marker
      "la la de de", "the el le der", "")
    val df = (texts ++ extra).toDF("t")
    val got = df.select(
      GraftFunctions.langId(col("t")),
      graft.ops.Quality.langId(col("t")))
      .as[(String, String)].collect()
    got.zip(texts ++ extra).foreach { case ((native, decl), t) =>
      assert(native == decl, s"text=$t")
    }
  }

  test("cms_estimate matches CountMinSketch.estimateCount and bounds exact") {
    // reference sketch built directly through the library the built-in
    // count_min_sketch aggregate serializes
    val items = Seq("a", "a", "a", "b", "b", "c") ++ (1 to 50).map(i => s"k$i")
    val ref = org.apache.spark.util.sketch.CountMinSketch.create(0.001, 0.999, 42)
    items.foreach(ref.add)
    val bos = new java.io.ByteArrayOutputStream()
    ref.writeTo(bos)
    val bytes = bos.toByteArray
    val df = items.distinct.toDF("item")
      .crossJoin(Seq(Tuple1(bytes)).toDF("cms"))
    val got = df.select(col("item"),
      GraftFunctions.cmsEstimate(col("cms"), col("item")))
      .as[(String, Long)].collect().toMap
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    items.distinct.foreach { it =>
      assert(got(it) == ref.estimateCount(it), s"item=$it")
      assert(got(it) >= exact(it), s"CMS under-estimated $it")
    }
    // the full pipeline: built-in aggregate -> native probe
    val sketch = items.toDF("item")
      .agg(expr("count_min_sketch(item, 0.001d, 0.999d, 42)").as("cms"))
    val viaAgg = items.distinct.toDF("item").crossJoin(sketch)
      .select(col("item"),
        GraftFunctions.cmsEstimate(col("cms"), col("item")))
      .as[(String, Long)].collect().toMap
    items.distinct.foreach(it => assert(viaAgg(it) >= exact(it)))
  }

  test("textStats equals the declarative Quality ratios exactly, " +
    "codegen on (no fallback)") {
    val key = "spark.sql.codegen.fallback"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val fixture = texts ++ Seq("Ünïcödé, tõkens — and MORE!!",
        "\t\n mixed  WS \f chars \r", "digits 123 only 456",
        "the the the the", "!!!???")
      val df = fixture.toDF("t")
      val st = graft.functions.GraftFunctions.textStats(col("t"))
      def ratio(num: org.apache.spark.sql.Column,
                den: org.apache.spark.sql.Column) =
        when(den === 0L, lit(0.0))
          .otherwise(num.cast("double") / den.cast("double"))
      val got = df.select(col("t"), st.as("st"))
        .select(col("t"),
          ratio(col("st.n_stop"), col("st.n_tokens")).as("sw"),
          ratio(col("st.n_punct"), col("st.n_chars")).as("punct"),
          ratio(col("st.n_distinct"), col("st.n_tokens")).as("uniq"),
          col("st.n_chars").as("nc"), col("st.n_tokens").as("nt"))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3),
            r.getLong(4), r.getLong(5))).toMap
      val want = df.select(col("t"),
          graft.ops.Quality.stopwordRatio(col("t")).as("sw"),
          graft.ops.Quality.punctRatio(col("t")).as("punct"),
          graft.ops.Quality.uniqueRatio(col("t")).as("uniq"),
          length(col("t")).cast("long").as("nc"),
          size(graft.ops.Dedup.cleanTokens(col("t"))).cast("long").as("nt"))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3),
            r.getLong(4), r.getLong(5))).toMap
      fixture.foreach { t =>
        assert(got(t) == want(t), s"textStats mismatch on: '$t'")
      }
    } finally spark.conf.set(key, old)
  }

  test("every native's generated Java COMPILES — no silent codegen fallback") {
    // spark.sql.codegen.fallback=true (the default) swallows a generated-
    // code compile error by re-running the stage interpreted, so a broken
    // doGenCode would pass every value test above. With fallback off, a
    // compile failure throws here instead.
    val key = "spark.sql.codegen.fallback"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val sketch = Seq("a", "b", "a").toDF("item")
        .agg(expr("count_min_sketch(item, 0.001d, 0.999d, 42)").as("cms"))
      val rows = texts.toDF("t").crossJoin(sketch)
        .select(col("t"),
          GraftFunctions.simhash64(col("t")).as("sh"),
          GraftFunctions.minhashSig(col("t"), 8).as("mh"),
          GraftFunctions.shingles(col("t")).as("shg"),
          GraftFunctions.cdcChunks(col("t")).as("cdc"),
          GraftFunctions.stopRatio(col("t")).as("sr"),
          GraftFunctions.langId(col("t")).as("lid"),
          GraftFunctions.cmsEstimate(col("cms"), lit("a")).as("cms_a"))
        .withColumn("mh2",
          GraftFunctions.minhashSigFromShingles(col("shg"), 8))
        .collect()
      rows.foreach { r =>
        val t = r.getString(0)
        assert(r.getLong(1) == TextHashes.simhash64(t), s"simhash: $t")
        assert(r.getSeq[Long](2) == TextHashes.minhashSig(t, 8).toSeq, s"minhash: $t")
        assert(r.getSeq[String](3) == TextHashes.shingles(t).toSeq, s"shingles: $t")
        assert(r.getSeq[String](4) == TextHashes.cdcChunks(t).toSeq, s"cdc: $t")
        assert(r.getLong(7) == 2L, s"cms estimate of 'a'")
        assert(r.getSeq[Long](8) == TextHashes.minhashSig(t, 8).toSeq,
          s"minhash-from-shingles: $t")
      }
    } finally spark.conf.set(key, old)
  }

  test("bloom build + probe: no false negatives, bounded FPR, codegen") {
    val key = "spark.sql.codegen.fallback"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false") // a broken doGenCode must throw, not fall back
    try {
      val bloom = (0L until 500L).toDF("k")
        .agg(GraftFunctions.bloomAgg(xxhash64(col("k")), 1000L)
          .as("bf"))
      val probed = (0L until 5000L).toDF("k").crossJoin(bloom)
        .select(col("k"), GraftFunctions.bloomMightContain(
          col("bf"), xxhash64(col("k"))).as("hit"))
        .as[(Long, Boolean)].collect().toMap
      (0L until 500L).foreach(k => assert(probed(k), s"false negative: $k"))
      val fp = (500L until 5000L).count(probed(_))
      assert(fp.toDouble / 4500 <= 0.06, s"false-positive rate $fp/4500")
    } finally spark.conf.set(key, old)
  }

  test("cms merge: merged partial sketches == one sketch over all data") {
    val items = (1 to 400).map(i => s"k${i % 23}")
    val (a, b) = items.splitAt(170)
    def sketchOf(xs: Seq[String]) = xs.toDF("item")
      .agg(expr("count_min_sketch(item, 0.001d, 0.999d, 42)").as("cms"))
    val merged = sketchOf(a).unionAll(sketchOf(b))
      .agg(GraftFunctions.cmsMerge(col("cms")).as("cms"))
    val whole = sketchOf(items)
    // merge is an element-wise counter add at equal shape+seed: every
    // per-key estimate must be IDENTICAL to the build-once sketch's
    val keys = items.distinct.toDF("item")
    def estimates(sk: org.apache.spark.sql.DataFrame) =
      keys.crossJoin(sk).select(col("item"),
        GraftFunctions.cmsEstimate(col("cms"), col("item")))
        .as[(String, Long)].collect().toMap
    assert(estimates(merged) == estimates(whole))
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    estimates(merged).foreach { case (k, est) =>
      assert(est >= exact(k), s"merged CMS under-estimated $k")
    }
  }

  test("zorder: range partitioning by z clusters BOTH dimensions") {
    val grid = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    val parts = grid.toDF("x", "y")
      .withColumn("z", GraftFunctions.zorder(col("x"), col("y")))
      .repartitionByRange(16, col("z"))
      .select(spark_partition_id().as("pid"), col("x"), col("y"))
      .groupBy("pid")
      .agg((max("x") - min("x") + 1).as("dx"),
        (max("y") - min("y") + 1).as("dy"), count(lit(1)).as("n"))
      .as[(Int, Long, Long, Long)].collect()
    assert(parts.map(_._4).sum == 64L * 64L)
    // a z-curve segment of ~256 cells has a bounding box near 256 cells;
    // a single-dimension sort would leave dy (or dx) at the full 64
    val avgArea = parts.map(p => p._2 * p._3).sum.toDouble / parts.length
    assert(avgArea <= 1024.0, s"avg bounding-box area $avgArea — not clustered")
    assert(parts.forall(p => p._2 < 64 || p._3 < 64),
      "some partition spans the full range in both dimensions")
  }

  test("extensions hook registers the functions at session construction") {
    // the shared TestSpark session is built with GraftExtensions.inject,
    // the only registration path: the SQL names resolve with no other call
    val r = spark.sql(
      "SELECT graft_simhash64('hello world') AS h, " +
        "graft_minhash_sig('one two three four', 4) AS s").head()
    assert(r.getLong(0) == TextHashes.simhash64("hello world"))
    assert(r.getSeq[Long](1) ==
      TextHashes.minhashSig("one two three four", 4).toSeq)
  }

  test("graft_pairs rejects non-array<bigint> input at analysis") {
    // array(1L, null) is array<bigint> with nullable elements: a null
    // would otherwise read as 0
    Seq("array(1, 2)", "'x'", "array('a', 'b')", "array(1L, null)")
      .foreach { arg =>
        val e = intercept[org.apache.spark.sql.AnalysisException](
          spark.sql(s"SELECT graft_pairs($arg)"))
        assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), s"$arg: $e")
      }
    assert(spark.sql("SELECT graft_pairs(array(1L, 5L, 9L))").head()
      .getSeq[org.apache.spark.sql.Row](0).size == 3)
  }
}
