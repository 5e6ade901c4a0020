package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the Theta/KMV sketch set-operation family:
  * the native KmvSketchAgg retention contract (exactly the k smallest
  * distinct hashes, any partitioning), lossless union merge, and the
  * estimator identities the registry queries rely on — beyond the
  * DuckDB hash compare, which pins values but not the reasons they
  * are right. */
class ThetaSketchSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private val P60 = 1152921504606846976L // 2^60

  test("KmvSketchAgg retains exactly the k smallest distinct values " +
    "under any partitioning") {
    import spark.implicits._
    // adversarial input: duplicates, unsorted, several partitions
    val vals = (1L to 500L).flatMap(v => Seq(v * 7919L % 100003L,
      v * 7919L % 100003L)) // every value twice
    val expected = vals.distinct.sorted.take(32)
    for (parts <- Seq(1, 3, 8)) {
      val got = vals.toDF("h").repartition(parts)
        .agg(graft.functions.GraftFunctions
          .kmvSketch(col("h"), 32).as("ks"))
        .head().getAs[scala.collection.Seq[Long]]("ks")
      assert(got.toSeq == expected,
        s"parts=$parts: ${got.take(5)}... != ${expected.take(5)}...")
    }
  }

  test("KMV union merge is lossless: merged per-day partials equal the " +
    "sketch of the concatenated data") {
    // rel_theta_union_merge's oracle is the DIRECT k-smallest of the
    // union — so its very correctness pass proves this; here the claim
    // is pinned at the sketch-content level for a different k to rule
    // out coincidence
    import spark.implicits._
    val base = SparkEntry.events(spark, sf)
      .where(col("event_type").isin("click", "purchase"))
      .select(to_date(col("ts")).as("day"),
        (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
          .cast("long").as("key"))
    val h = conv(substring(md5(col("key").cast("string").cast("binary")),
      1, 15), 16, 10).cast("long")
    val k = 48
    val direct = base.select(h.as("h"))
      .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k))
      .head().getSeq[Long](0)
    val merged = base.select(col("day"), h.as("h"))
      .groupBy("day")
      .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
        .as("ks"))
      .select(explode(col("ks")).as("h"))
      .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k))
      .head().getSeq[Long](0)
    assert(direct == merged, "per-day merge lost a global k-smallest hash")
  }

  test("theta estimates land within 3 rsd of exact and the set algebra " +
    "is consistent") {
    // KMV rsd ~ 1/sqrt(k-2) with k=128 → ~9%; 3 sigma is the
    // conventional sketch-accuracy bar (same shape as the HLL/CMS
    // contracts elsewhere in the registry)
    val rsd3 = 3.0 / math.sqrt(126.0)
    run("rel_theta_sketch_distinct").collect().foreach { r =>
      val est = r.getAs[Double]("est")
      val exact = r.getAs[Long]("exact").toDouble
      assert(math.abs(est - exact) <= rsd3 * exact + 1e-9,
        s"${r.getAs[String]("event_type")}: est $est vs exact $exact")
    }
    val u = run("rel_theta_union_merge").head()
    assert(math.abs(u.getAs[Double]("est") -
      u.getAs[Long]("exact").toDouble) <=
      rsd3 * u.getAs[Long]("exact") + 1e-9)
    // intersection + difference partition segment A below the shared θ:
    // s_inter + s_diff = |kA below θ| exactly, so the two estimates sum
    // to the A-below-θ estimate — the inclusion-exclusion consistency a
    // user composes set expressions with
    val i = run("rel_theta_intersect").head()
    val d = run("rel_theta_diff").head()
    assert(i.getAs[Long]("exact") + d.getAs[Long]("exact") > 0)
    val sumParts = i.getAs[Long]("s_inter") + d.getAs[Long]("s_diff")
    assert(sumParts <= 128,
      s"retained below-theta rows exceed k: $sumParts")
    // and each estimate is nonnegative with theta in range by
    // construction: est = s * 2^60 / theta >= s >= 0
    assert(i.getAs[Double]("est") >= 0.0 && d.getAs[Double]("est") >= 0.0)
  }

  test("theta IVM refresh equals the from-scratch sketch (registry " +
    "query invariant at the row level)") {
    // rel_theta_ivm's oracle IS the from-scratch sketch; this pins the
    // same merge-equals-recompute identity against the batch query
    // directly so a drift in either path localizes here
    val ivm = run("rel_theta_ivm").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val direct = run("rel_theta_sketch_distinct").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(ivm == direct,
      s"incremental refresh diverged from recompute:\n$ivm\nvs\n$direct")
  }

  test("table checksum is order- and partitioning-independent") {
    val base = run("rel_table_checksum").head()
    val (n, sum) = (base.getAs[Long]("n_rows"),
      base.getAs[String]("checksum"))
    // same rows, shuffled hard: checksum must not move
    val reshuffled = SparkEntry.queries("rel_table_checksum")(
      TestSpark.spark, sf)
    assert(reshuffled.head().getAs[String]("checksum") == sum)
    import org.apache.spark.sql.functions._
    val df = TestSpark.spark.read.parquet(s"$sf/lineitem.parquet")
      .orderBy(rand(7)).repartition(7)
    df.createOrReplaceTempView("graft_ck_shuffled")
    val h = conv(substring(md5(concat_ws("|",
      col("l_orderkey").cast("string"), col("l_partkey").cast("string"),
      col("l_suppkey").cast("string"),
      col("l_quantity").cast("decimal(18,2)").cast("string"),
      col("l_returnflag")).cast("binary")), 1, 15), 16, 10)
      .cast("decimal(38,0)")
    val got = df.select(h.as("h"))
      .agg(count(lit(1)).as("n"), sum2(col("h")))
      .head()
    assert(got.getLong(0) == n)
    assert(got.getDecimal(1).toBigInteger.toString == sum,
      "checksum changed under reorder/repartition")
  }

  private def sum2(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.sum(c)
      .cast("decimal(38,0)")

  test("sketch cube: every rollup grouping set merged from the finest " +
    "partials equals its from-scratch sketch") {
    // k=8 so truncation is active at sf0.001 (15 distinct users) — the
    // lossless-rollup claim is trivially true in the sub-k regime
    val k = 8
    val h = conv(substring(md5(col("user_id").cast("long").cast("string")
      .cast("binary")), 1, 15), 16, 10).cast("long")
    val base = SparkEntry.events(spark, sf).select(col("event_type"),
      (unix_date(to_date(col("ts"))).cast("long") % 7).as("dow"),
      h.as("h"))
    val fin = base.groupBy("event_type", "dow")
      .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
        .as("ks"))
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.get(0).toString ->
        r.getSeq[Long](1).toSeq).toMap
    // by-type rollup from partials vs from scratch
    val rolled = collectMap(fin
      .select(col("event_type"), explode(col("ks")).as("h"))
      .groupBy("event_type")
      .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
        .as("ks")))
    val direct = collectMap(base.groupBy("event_type")
      .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
        .as("ks")))
    assert(rolled == direct, "by-type rollup diverged from scratch")
    // grand total from partials vs from scratch
    val rolledAll = fin.select(explode(col("ks")).as("h"))
      .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k))
      .head().getSeq[Long](0)
    val directAll = base
      .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k))
      .head().getSeq[Long](0)
    assert(rolledAll == directAll, "grand-total rollup diverged")
    assert(rolledAll.size == k, "expected a truncated (full-k) sketch — " +
      "raise the data size or lower k so the test bites")
    // the registry query's cube: cells of each grouping set must cover
    // the full cross of observed values (5 types × 7 dows + 5 + 7 + 1)
    val cube = run("rel_sketch_cube").collect()
    val types = cube.map(_.getString(0)).distinct
    val dows = cube.map(_.getLong(1)).distinct
    assert(types.contains("ALL") && dows.contains(-1L))
    val cells = cube.filter(r => r.getString(0) != "ALL" &&
      r.getLong(1) != -1L).length
    val nTypes = types.count(_ != "ALL")
    val nDows = dows.count(_ != -1L)
    assert(cube.length == cells + nTypes + nDows + 1,
      s"grouping sets malformed: ${cube.length} rows, $cells cells")
  }

  test("stream-to-store handoff: the store accumulates one partial per " +
    "micro-batch and the merge-at-read equals the batch sketch") {
    val k = 64
    val ev = SparkEntry.events(spark, sf).select(col("event_type"),
      conv(substring(md5(
        (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
          .cast("long").cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("long").as("h"))
    val store = graft.streaming.StreamGate
      .scratchDir("stage", "skhoteststore")
    try {
      graft.streaming.StreamGate.stageCsvAndReplay(ev, "gate_skhotest")(
        graft.streaming.StreamGate.replayCsvForeachBatch(spark, _, _,
          "gate_skhotest")((df, id) =>
          graft.streaming.StreamGate.appendBatch(df.groupBy("event_type")
            .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
              .as("ks")), id, store)))
      val parts = spark.read.parquet(store)
      // one file per trigger → one appended partial set per micro-batch
      assert(parts.select("batch_id").distinct().count() >= 2,
        "replay must actually slice the stream into multiple batches")
      val merged = parts
        .select(col("event_type"), explode(col("ks")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq)
        .toMap
      val direct = ev.groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq)
        .toMap
      assert(merged == direct,
        "merge-at-read over stored per-batch partials diverged from " +
          "the from-scratch batch sketch")
      // foreachBatch is at-least-once: a crash between append and
      // checkpoint commit replays a batch, duplicating its partial in
      // the store. KMV merge is a set union, so duplicated partials
      // merge away — serve-side results are exactly-once-EFFECTIVE
      // with no dedup-by-batch_id filter. Pin it: double the store.
      val doubled = parts.unionAll(parts)
        .select(col("event_type"), explode(col("ks")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq)
        .toMap
      assert(doubled == direct,
        "a replayed (duplicated) partial changed the served sketch — " +
          "merge lost idempotence")
    } finally graft.streaming.StreamGate.deleteRecursively(store)
  }

  test("rolling-window sketch: merged per-day partials equal the " +
    "from-scratch window sketch, and estimates track exact WAU") {
    import spark.implicits._
    // the sliding-window lossless-merge identity at sketch-content
    // level, with k=32 so truncation actually happens at sf0.001
    val k = 32
    val h = conv(substring(md5(col("user_id").cast("long").cast("string")
      .cast("binary")), 1, 15), 16, 10).cast("long")
    val userDays = SparkEntry.events(spark, sf)
      .select(col("user_id"),
        unix_date(to_date(col("ts"))).cast("long").as("day"))
      .distinct()
    val d1 = userDays.agg(max(col("day"))).head().getLong(0)
    // from scratch: sketch the users active in each trailing window
    val direct = userDays
      .select(h.as("h"), explode(expr("sequence(day, day + 6)"))
        .as("obs_day"))
      .where(col("obs_day") <= d1)
      .groupBy("obs_day")
      .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
        .as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    // merge-at-read: one k-long partial per day, re-merged per window
    val merged = SparkEntry.events(spark, sf)
      .select(unix_date(to_date(col("ts"))).cast("long").as("day"),
        h.as("h"))
      .groupBy("day")
      .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
        .as("ks"))
      .select(explode(expr("sequence(day, day + 6)")).as("obs_day"),
        col("ks"))
      .where(col("obs_day") <= d1)
      .select(col("obs_day"), explode(col("ks")).as("h"))
      .groupBy("obs_day")
      .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
        .as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(merged == direct,
      "sliding-window merge-at-read diverged from the from-scratch " +
        "window sketch — the lossless-merge identity is broken")
    // registry query vs the exact rolling count: sub-k windows are
    // exact; truncated windows land within 4 rsd (k=128 → ~36%)
    val exact = run("rel_rolling_active_users").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val est = run("rel_rolling_wau_sketch").collect()
    assert(est.nonEmpty && est.map(_.getLong(0)).toSet == exact.keySet,
      "window key sets differ between exact and sketch twins")
    est.foreach { r =>
      val (day, nKept, e) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val w = exact(day)
      if (nKept < 128) assert(e == w.toDouble,
        s"day $day: sub-k window must be exact ($e vs $w)")
      else assert(math.abs(e - w) / w < 0.36,
        s"day $day: estimate $e off exact $w beyond 4 rsd")
    }
  }

  test("sub-k segments estimate exactly (theta = 2^60 regime)") {
    import spark.implicits._
    // 40 distinct keys < k=128: the sketch holds the full distinct set
    // and est must equal exact — the estimator's exact-mode branch
    val df = (1L to 200L).map(v => v % 40L).toDF("key")
    val h = conv(substring(md5(col("key").cast("string").cast("binary")),
      1, 15), 16, 10).cast("long")
    val ks = df.select(h.as("h"))
      .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), 128))
      .head().getSeq[Long](0)
    assert(ks.size == 40, s"expected 40 retained, got ${ks.size}")
    assert(ks == ks.sorted && ks.distinct.size == ks.size)
    assert(ks.forall(v => v >= 0 && v < P60),
      "hashes must be 60-bit nonnegative")
  }

  test("KmvMergeAgg: O(k) column merge equals the direct sketch of the " +
    "concatenated data, under any partitioning") {
    import spark.implicits._
    val vals = (1L to 900L).map(v => v * 6151L % 10007L)
    val k = 32
    val expected = vals.distinct.sorted.take(k)
    val partials = vals.zipWithIndex
      .map { case (v, i) => (i % 13, v) }.toDF("g", "h")
      .groupBy("g")
      .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
        .as("ks"))
    for (parts <- Seq(1, 3, 8)) {
      val got = partials.repartition(parts)
        .agg(graft.functions.GraftFunctions.kmvMerge(col("ks"), k))
        .head().getSeq[Long](0)
      assert(got.toSeq == expected, s"parts=$parts")
    }
  }

  test("KmvMergeAgg: unsorted inputs, null sketches, and empty arrays " +
    "merge correctly") {
    import spark.implicits._
    val df = Seq(
      (1, Some(Seq(50L, 10L, 30L))), // unsorted on purpose
      (2, None),
      (3, Some(Seq.empty[Long])),
      (4, Some(Seq(20L, 10L, 40L)))) // overlapping values dedup
      .toDF("g", "ks")
    val got = df
      .agg(graft.functions.GraftFunctions.kmvMerge(col("ks"), 4))
      .head().getSeq[Long](0)
    assert(got.toSeq == Seq(10L, 20L, 30L, 40L), got.toString)
  }

  test("graft_kmv_merge is reachable from a raw SQL string and agrees " +
    "with the DataFrame path") {
    import spark.implicits._
    (1L to 300L).map(v => (v % 5, v * 271L % 997L))
      .toDF("g", "h").createOrReplaceTempView("kmv_merge_probe")
    val got = spark.sql("""
      SELECT graft_kmv_merge(ks, 16) AS ks
      FROM (SELECT g, graft_kmv_sketch(h, 16) AS ks
            FROM kmv_merge_probe GROUP BY g)""")
      .head().getSeq[Long](0)
    val want = (1L to 300L).map(v => v * 271L % 997L)
      .distinct.sorted.take(16)
    assert(got.toSeq == want, got.toString)
  }
}
