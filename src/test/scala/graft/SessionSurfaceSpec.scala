package graft

import graft.functions.GraftFunctions
import graft.plans.{GlobalFrame, GlobalRank, GlobalScan, Recurrence, ScanKind}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `GraftExtensions.inject` is the whole session surface: every graft
  * function, rule and strategy arrives when the session is built. The
  * DataFrame entry points and the Column helpers only build plans and
  * expressions; none of them registers anything on the session. */
class SessionSurfaceSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog",
      "2020-01-01,quick fox news,x,AAPL"),
    (2L, "spark scales the word count job", "2020-01-02,word count,y,MSFT"),
    (3L, "le chat est sur la table", "2020-01-03,chat news,z,AAPL"),
    (4L, "der Hund und die Katze", "2020-01-04,hund,w,IBM"))
    .toDF("id", "t", "line")
    .withColumn("e", array(col("id").cast("double"), lit(1.0)))
    .withColumn("parts", array(col("id"), col("id") + 10L))
    .withColumn("m", lit(3L))

  test("entry points and helpers run on the injected surface, leave the " +
    "session's experimental lists empty, and every builder resolves in SQL") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    assert(GlobalRank.ranked(docs, "id" -> false).collect().length == 4)
    assert(GlobalScan.runningSum(docs, "id", "id" -> false).collect()
      .length == 4)
    assert(GlobalFrame.trailing(docs, "id", 1, ScanKind.Sum, "id" -> false)
      .collect().length == 4)
    assert(Recurrence.scan(docs, "m", "id", 0L, "id" -> false).collect()
      .length == 4)

    // one Column helper per graft_* builder
    val h = xxhash64(col("t"))
    assert(docs.select(GraftFunctions.simhash64(col("t")),
      GraftFunctions.minhashSig(col("t"), 4),
      GraftFunctions.shingles(col("t")),
      GraftFunctions.minhashSigFromShingles(
        GraftFunctions.shingles(col("t")), 4),
      GraftFunctions.sortedPairs(col("parts")),
      GraftFunctions.cdcChunks(col("t")),
      GraftFunctions.zorder(col("id"), col("id")),
      GraftFunctions.stopRatio(col("t")),
      GraftFunctions.textStats(col("t")),
      GraftFunctions.langId(col("t"))).collect().length == 4)
    val sk = docs.groupBy((col("id") % 2L).as("g")).agg(
      GraftFunctions.tokenCounts(col("t")).as("tc"),
      GraftFunctions.tokenCountsCsv(col("line")).as("tcc"),
      GraftFunctions.tickerCounts(col("line")).as("tk"),
      GraftFunctions.misraGries(col("t"), 4).as("mg"),
      GraftFunctions.vecMean(col("e")).as("vm"),
      GraftFunctions.vecOuterSum(col("e")).as("vo"),
      GraftFunctions.kmvSketch(h, 8).as("ks"),
      GraftFunctions.qsketch(h, col("id"), 16).as("qs"),
      GraftFunctions.bloomAgg(h, 100L).as("bf"),
      expr("count_min_sketch(t, 0.01d, 0.99d, 7)").as("cms"))
    assert(sk.agg(GraftFunctions.kmvMerge(col("ks"), 8),
      GraftFunctions.qsketchMerge(col("qs"), 16),
      GraftFunctions.cmsMerge(col("cms"))).collect().length == 1)
    assert(sk.crossJoin(docs.select("t")).select(
      GraftFunctions.cmsEstimate(col("cms"), col("t")),
      GraftFunctions.bloomMightContain(col("bf"), h)).collect().length == 8)

    val lists = classic.experimental
    assert(lists.extraStrategies.isEmpty, lists.extraStrategies.toString)
    assert(lists.extraOptimizations.isEmpty, lists.extraOptimizations.toString)

    // and every builder name resolves through spark.sql
    docs.createOrReplaceTempView("surface_docs")
    val from = "surface_docs"
    val cms = "(SELECT count_min_sketch(t, 0.01d, 0.99d, 7) AS cms " +
      s"FROM $from)"
    val calls = Map(
      "graft_simhash64" -> ("graft_simhash64(t)", from),
      "graft_minhash_sig" -> ("graft_minhash_sig(t, 4)", from),
      "graft_shingles" -> ("graft_shingles(t, 3)", from),
      "graft_minhash_from_shingles" ->
        ("graft_minhash_from_shingles(graft_shingles(t, 3), 4)", from),
      "graft_token_counts" -> ("graft_token_counts(t)", from),
      "graft_token_counts_csv" -> ("graft_token_counts_csv(line)", from),
      "graft_ticker_counts" -> ("graft_ticker_counts(line)", from),
      "graft_cdc_chunks" -> ("graft_cdc_chunks(t)", from),
      "graft_pairs" -> ("graft_pairs(parts)", from),
      "graft_cms_estimate" -> ("graft_cms_estimate(cms, 'fox')", cms),
      "graft_bloom_agg" -> ("graft_bloom_agg(xxhash64(t), 100L)", from),
      "graft_bloom_might_contain" ->
        ("graft_bloom_might_contain(bf, xxhash64('fox'))",
          s"(SELECT graft_bloom_agg(xxhash64(t), 100L) AS bf FROM $from)"),
      "graft_cms_merge" -> ("graft_cms_merge(cms)", cms),
      "graft_misra_gries" -> ("graft_misra_gries(t, 4)", from),
      "graft_kmv_sketch" -> ("graft_kmv_sketch(xxhash64(t), 8)", from),
      "graft_kmv_merge" -> ("graft_kmv_merge(ks, 8)",
        s"(SELECT graft_kmv_sketch(xxhash64(t), 8) AS ks FROM $from " +
          "GROUP BY id % 2)"),
      "graft_qsketch" -> ("graft_qsketch(xxhash64(t), id, 16)", from),
      "graft_qsketch_merge" -> ("graft_qsketch_merge(qs, 16)",
        s"(SELECT graft_qsketch(xxhash64(t), id, 16) AS qs FROM $from " +
          "GROUP BY id % 2)"),
      "graft_zorder" -> ("graft_zorder(id, id)", from),
      "graft_vec_mean" -> ("graft_vec_mean(e)", from),
      "graft_vec_outer_sum" -> ("graft_vec_outer_sum(e)", from),
      "graft_stop_ratio" -> ("graft_stop_ratio(t)", from),
      "graft_text_stats" -> ("graft_text_stats(t)", from),
      "graft_lang_id" -> ("graft_lang_id(t)", from))
    assert(calls.keySet == GraftFunctions.builders.map(_._1).toSet)
    calls.foreach { case (name, (call, src)) =>
      assert(spark.sql(s"SELECT $call AS r FROM $src").collect().nonEmpty,
        name)
    }
  }

  test("a rewrite is switched off per session through excludedRules") {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
    def plan(s: org.apache.spark.sql.SparkSession) = s.range(100)
      .withColumn("r", row_number().over(w))
      .queryExecution.executedPlan.toString
    val off = spark.newSession()
    off.conf.set("spark.sql.optimizer.excludedRules",
      graft.plans.GlobalRankRule.ruleName)
    assert(plan(off).contains("Window") && !plan(off).contains("GlobalRank"))
    assert(plan(spark).contains("GlobalRank"))
  }

  test("building an events-backed registry query leaves the session's " +
    "conf untouched") {
    val s = spark.newSession()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // a one-table sf dir: events with ts as TIMESTAMP_NTZ, as the
    // fixtures' naive TIMESTAMP(MICROS) column reads
    val dir = TestSpark.scratchDir("surface_sf").toString
    s.range(3).selectExpr("id AS event_id", "id AS user_id",
        "'click' AS event_type", "1.0D AS value",
        "TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ts",
        """'{"k": 1}' AS props""")
      .write.parquet(s"$dir/events.parquet")
    val df = SparkEntry.queries("rel_json_extract")(s, dir)
    assert(df.collect().toSeq.map(r => (r.getLong(1), r.getLong(2))) ==
      Seq((3L, 3L)))
    assert(s.conf.get(key) == "false")
  }
}
