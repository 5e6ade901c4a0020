package graft
package registry

import SparkEntry.{tbl, events}
import Shared.{kmvEstimate, kmvEstimateSql, kmvTheta, qsketchFromScratchSql,
  qsketchReadout, thetaHash}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Sketches and samples: HLL, CMS, bloom, theta/KMV set operations,
  * quantile sketches and their stores, and deterministic sampling. */
private[graft] object RelSketchQueries {

  val queries: Seq[Query] = Seq(

    // Bloom-filter accuracy CONTRACT (companion to rel_cms_freq_bounded):
    // probe EVERY customer key against a bloom built over one segment's
    // keys. Present keys can never miss (the bloom guarantee — any miss
    // would also silently drop rows in rel_bloom_join_prune); absent-key
    // false positives must stay under the filter's configured 3% default
    // rate at ANY scale (capacity derives from the segment's key count)
    Query("rel_bloom_fpp_bounded", (s, dir) => {
      val cust = tbl(s, dir, "customer")
      val seg = cust.where(col("c_mktsegment") === "BUILDING")
      // data-derived capacity, same reasoning as rel_bloom_join_prune:
      // the 3% FP contract below is only meaningful if the filter is
      // sized for what it actually holds at THIS scale
      val nKeys = math.max(20000L, (seg.count() * 13L) / 10L)
      val bloom = seg
        .agg(graft.functions.GraftFunctions
          .bloomAgg(xxhash64(col("c_custkey")), nKeys).as("bf"))
      cust.crossJoin(broadcast(bloom))
        .select((col("c_mktsegment") === "BUILDING").as("present"),
          graft.functions.GraftFunctions.bloomMightContain(
            col("bf"), xxhash64(col("c_custkey"))).as("hit"))
        .agg(
          sum(when(col("present") && !col("hit"), 1L).otherwise(0L))
            .as("n_present_missed"),
          (sum(when(!col("present") && col("hit"), 1.0).otherwise(0.0)) /
            sum(when(!col("present"), 1.0).otherwise(0.0)) <= 0.03)
            .cast("long").as("fpr_ok"))
    },
      // contract flags are deterministic (the bloom's internal hashing is
      // seed-free): no present key may miss, absent-key FPR under the bound
      """SELECT cast(0 AS bigint) AS n_present_missed,
        |       cast(1 AS bigint) AS fpr_ok""".stripMargin),

    // Sketch accuracy CONTRACT, driver-checked: HLL distinct estimate must
    // land within 10% of exact (default rsd 5%); the oracle expects 1 per
    // key, so a drifting sketch fails the round loudly
    Query("rel_approx_distinct_bounded", (s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx"),
          countDistinct(col("user_id")).as("exact"))
        .select(col("event_type"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.10)
            .cast("long").as("within_10pct")),
      """SELECT event_type, cast(1 AS bigint) AS within_10pct
        |FROM events GROUP BY event_type""".stripMargin),

    // Incremental-sketch HLL: one DataSketches HLL sketch per (key, day)
    // — the partials a pipeline stores — unioned per key by the built-in
    // hll_union_agg, the merge-then-estimate twin of rel_cms_merge_bounded
    // for DISTINCT counts. The unioned estimate must land within 10% of
    // exact (HLL union is lossless over sketches of equal lgK).
    Query("rel_hll_union_bounded", (s, dir) => {
      val unioned = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        .groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx"))
      events(s, dir).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact"))
        .join(unioned, "event_type")
        .select(col("event_type"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.10)
            .cast("long").as("within_10pct"))
    },
      """SELECT event_type, cast(1 AS bigint) AS within_10pct
        |FROM events GROUP BY event_type""".stripMargin),

    // Quantile-sketch accuracy CONTRACT (same pattern as the HLL bound):
    // percentile_approx's KLL-style sketch must land within 5% of the
    // exact median per key, checked by the driver every round
    Query("rel_approx_quantile_bounded", (s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(percentile_approx(col("value"), lit(0.5), lit(1000))
            .as("approx"),
          expr("percentile(value, 0.5)").as("exact"))
        .select(col("event_type"),
          (abs(col("approx") - col("exact")) <=
            abs(col("exact")) * 0.05 + 1e-9).cast("long")
            .as("within_5pct")),
      """SELECT event_type, cast(1 AS bigint) AS within_5pct
        |FROM events GROUP BY event_type""".stripMargin),

    // Count-min-sketch accuracy CONTRACT (heavy-hitter frequency): the
    // built-in count_min_sketch aggregate builds one ~11 KB sketch (eps
    // 0.1%, 99.9% confidence, fixed seed), broadcast against the per-key
    // exact counts and probed by the native graft_cms_estimate expression.
    // CMS guarantees estimate >= exact always and <= exact + eps*N at the
    // confidence level — both sides of the sandwich are driver-checked
    Query("rel_cms_freq_bounded", (s, dir) => {
      val sketch = events(s, dir).agg(
        expr("count_min_sketch(event_type, 0.001d, 0.999d, 42)").as("cms"),
        count(lit(1)).as("n"))
      events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("exact"))
        .crossJoin(broadcast(sketch))
        .select(col("event_type"),
          (graft.functions.GraftFunctions
            .cmsEstimate(col("cms"), col("event_type"))
            .between(col("exact"),
              col("exact") + ceil(col("n") * 0.001).cast("long")))
            .cast("long").as("within_eps"))
    },
      """SELECT event_type, cast(1 AS bigint) AS within_eps
        |FROM events GROUP BY event_type""".stripMargin),

    // Incremental-sketch CMS: one sketch PER DAY (the partials a 100 TB
    // pipeline would materialize once and store), merged by the native
    // graft_cms_merge aggregate — a merged CMS is bit-identical to one
    // built over the concatenated data at equal eps/confidence/seed, so
    // the merged probe must satisfy the same sandwich the single-sketch
    // rel_cms_freq_bounded pins: estimate >= exact, <= exact + eps*N
    Query("rel_cms_merge_bounded", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("count_min_sketch(event_type, 0.001d, 0.999d, 42)")
          .as("cms"), count(lit(1)).as("n"))
      val merged = daily.agg(
        graft.functions.GraftFunctions.cmsMerge(col("cms")).as("cms"),
        sum(col("n")).as("n"))
      events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("exact"))
        .crossJoin(broadcast(merged))
        .select(col("event_type"),
          (graft.functions.GraftFunctions
            .cmsEstimate(col("cms"), col("event_type"))
            .between(col("exact"),
              col("exact") + ceil(col("n") * 0.001).cast("long")))
            .cast("long").as("within_eps"))
    },
      // merged daily sketches obey the same deterministic sandwich the
      // single sketch does (merge = element-wise counter add, same seed)
      """SELECT event_type, cast(1 AS bigint) AS within_eps
        |FROM events GROUP BY event_type""".stripMargin),

    // HLL sketch (approximate distinct). Raw estimates differ per engine
    // by design, so the ORACLE-CHECKED surface is the accuracy contract:
    // the sketch estimate must land within 10% of the exact distinct
    // count (default rsd 5%) — a drifting sketch fails the round loudly
    // instead of hiding behind a rows-only check.
    Query("rel_approx_distinct", (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact"),
          count(lit(1)).as("cnt"))
        .select(col("l_returnflag"), col("cnt"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.10)
            .cast("long").as("within_10pct")),
      """SELECT l_returnflag, count(*) AS cnt,
        |       cast(1 AS bigint) AS within_10pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // Deterministic stratified sampling: per-stratum rates via an
    // md5-bucket predicate on the row key — never rand(), so the sample
    // is reproducible across engines, retries, and partitionings (the
    // property a training-data pipeline needs for lineage)
    // WEIGHTED SAMPLING WITHOUT REPLACEMENT (Efraimidis–Spirakis) made
    // DETERMINISTIC: u = md5-derived 52-bit uniform per row, key =
    // -ln(u)/w, keep the k smallest keys — exactly the ES reservoir
    // scheme, but the "randomness" is a content hash so both engines
    // (and any re-run) draw the identical sample. One scan + a
    // distributed top-k (TakeOrderedAndProject) — the training-data
    // mixing primitive (sample by per-class weight) at any scale. Keys
    // rounded to 9 decimals with an id tiebreak so the cut row cannot
    // flip on a last-ulp libm difference.
    Query("rel_weighted_sample", (s, dir) => {
      val h = conv(substring(md5(col("event_id").cast("string")
        .cast("binary")), 1, 13), 16, 10).cast("long")
      val u = (h.cast("double") + lit(0.5)) / lit(4503599627370496.0)
      val w = when(col("event_type") === "click", 20.0)
        .when(col("event_type") === "view", 10.0).otherwise(5.0)
      events(s, dir)
        .select(col("event_id"), col("event_type"),
          round(-log(u) / w, 9).as("k"))
        .orderBy(col("k"), col("event_id")).limit(500)
    },
      // identical md5-uniform, identical literal fp sequence; DOUBLE casts
      // everywhere (bare DuckDB numeric literals are DECIMAL)
      """WITH t AS (
        |  SELECT event_id, event_type,
        |         round(-ln((('0x' || substr(md5(event_id::VARCHAR), 1, 13))
        |                      ::BIGINT::DOUBLE + CAST(0.5 AS DOUBLE))
        |                   / CAST(4503599627370496 AS DOUBLE))
        |               / CASE WHEN event_type = 'click'
        |                      THEN CAST(20.0 AS DOUBLE)
        |                      WHEN event_type = 'view'
        |                      THEN CAST(10.0 AS DOUBLE)
        |                      ELSE CAST(5.0 AS DOUBLE) END,
        |               9) AS k
        |  FROM events
        |)
        |SELECT event_id, event_type, k FROM t
        |ORDER BY k, event_id LIMIT 500""".stripMargin),

    // HLL sketch INTERSECTION estimate via inclusion-exclusion —
    // |A∩B| ≈ est(A) + est(B) − est(A∪B) — with the same accuracy-
    // contract shape as rel_hll_union_bounded: the driver re-checks
    // every round that the sketch route lands within the bound of the
    // exact overlap (purchase ∩ click user sets). Inclusion-exclusion
    // amplifies the union's relative error into the (smaller)
    // intersection, hence the wider 15% + 100 bound. The exact side is
    // a distinct-distinct semi-ish join on user_id; the sketch side
    // never shuffles more than two 4 KB sketches.
    Query("rel_hll_intersect_bounded", (s, dir) => {
      val ev = events(s, dir)
        .where(col("event_type").isin("purchase", "click"))
      val ests = ev.groupBy("event_type")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        .agg(sum(expr("hll_sketch_estimate(sk)")).as("sum_est"),
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_union"))
      val exact = ev.where(col("event_type") === "purchase")
        .select("user_id").distinct()
        .join(ev.where(col("event_type") === "click")
          .select("user_id").distinct(), "user_id")
        .agg(count(lit(1)).as("exact_in"))
      ests.crossJoin(broadcast(exact))
        .select(col("exact_in"),
          (abs(col("sum_est") - col("est_union") - col("exact_in")) <=
            col("exact_in").cast("double") * 0.15 + 100.0)
            .cast("long").as("within_bound"))
    },
      """WITH i AS (
        |  SELECT count(*) AS exact_in
        |  FROM (SELECT DISTINCT user_id FROM events
        |        WHERE event_type = 'purchase') a
        |  JOIN (SELECT DISTINCT user_id FROM events
        |        WHERE event_type = 'click') b USING (user_id)
        |)
        |SELECT exact_in, cast(1 AS BIGINT) AS within_bound
        |FROM i""".stripMargin),

    Query("rel_stratified_sample", (s, dir) => {
      val bucket = conv(substring(md5(col("event_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long") % 100
      events(s, dir)
        .select(col("event_id"), col("event_type"), col("user_id"),
          bucket.as("bucket"))
        .withColumn("rate",
          when(col("event_type") === "click", 20)
            .when(col("event_type") === "view", 10).otherwise(5))
        .where(col("bucket") < col("rate"))
        .select(col("event_id"), col("event_type"), col("user_id"))
    },
      """SELECT event_id, event_type, user_id
        |FROM events
        |WHERE ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 100
        |      < CASE WHEN event_type = 'click' THEN 20
        |             WHEN event_type = 'view' THEN 10 ELSE 5 END""".stripMargin),

    // WEIGHTED SAMPLE WITHOUT REPLACEMENT (priority / sequential-Poisson
    // sampling, Ohlsson; Duffield et al.) — the data-mixing primitive:
    // each order draws priority = w/u with u uniform from its md5, and
    // the global top-k by priority IS a weighted sample without
    // replacement (inclusion probability increases with weight). The
    // arithmetic is EXACT integers end to end — u = h/2^32 from the
    // first 8 md5 hex digits (h=0 guarded to 1), so priority =
    // (w_cents * 2^32) div h with no float anywhere and the oracle
    // reproduces the sample bit-for-bit. The plan is the O(k)-per-
    // partition TakeOrderedAndProject — never a global sort: at 100 TB
    // each task keeps its local top-100 and the driver merges
    // partitions × k rows.
    Query("rel_priority_sample", (s, dir) => {
      val h = greatest(conv(substring(md5(col("o_orderkey").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long"), lit(1L))
      tbl(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) AS bigint)").as("w_cents"),
          h.as("h"))
        .select(col("o_orderkey"), col("w_cents"),
          expr("(w_cents * 4294967296) div h").as("priority"))
        .orderBy(col("priority").desc, col("o_orderkey").asc)
        .limit(100)
    },
      // exact-integer priority sampling: identical md5 draw and floor
      // division, so the top-100 sample reproduces bit-for-bit
      """WITH b AS (
        |  SELECT o_orderkey,
        |         cast(round(o_totalprice * 100) AS bigint) AS w_cents,
        |         greatest(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))
        |                    ::BIGINT, 1) AS h
        |  FROM orders
        |)
        |SELECT o_orderkey, w_cents,
        |       cast((w_cents * 4294967296) // h AS bigint) AS priority
        |FROM b
        |ORDER BY priority DESC, o_orderkey
        |LIMIT 100""".stripMargin),

    // PRIORITY-SAMPLING SUBSET-SUM ESTIMATOR (Duffield-Lund-Thorup):
    // the reason a pipeline keeps priority samples — estimate the TOTAL
    // weight from k rows: with τ = the (k+1)-th priority, ŵ_i =
    // max(w_i, τ) is the Horvitz-Thompson estimate under inclusion
    // probability min(1, w_i/τ), and Σŵ is unbiased for Σw (priority
    // w/u is already weight-scaled: u = h/2^32 cancels the 2^32) —
    // integers end to end, so the oracle reproduces the estimate
    // bit-for-bit; the exact total rides along as accuracy evidence.
    // Two TakeOrderedAndProject passes (k and k+1 rows), never a sort.
    Query("rel_priority_sample_est", (s, dir) => {
      val h = greatest(conv(substring(md5(col("o_orderkey").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long"), lit(1L))
      val pri = tbl(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) AS bigint)").as("w_cents"),
          h.as("h"))
        .select(col("o_orderkey"), col("w_cents"),
          expr("(w_cents * 4294967296) div h").as("priority"))
      val top101 = pri
        .orderBy(col("priority").desc, col("o_orderkey").asc).limit(101)
      // τ = the smallest of the k+1 highest priorities = the (k+1)-th.
      // Sub-k guard (DLT definition): with n <= k rows EVERY row is
      // sampled with probability 1 and ŵ = w exactly — τ is 0, not a
      // retained row's own priority (which would overestimate via
      // max(w, τ)). greatest(w, 0) = w for the non-negative w_cents,
      // so τ=0 makes the estimator collapse to the exact sum.
      val tau = top101.agg(
        when(count(lit(1)) <= 100, lit(0L))
          .otherwise(min(col("priority"))).as("tau"))
      val exact = pri.agg(sum(col("w_cents")).as("exact_total"))
      top101
        .orderBy(col("priority").desc, col("o_orderkey").asc).limit(100)
        .crossJoin(broadcast(tau))
        .select(col("w_cents"),
          greatest(col("w_cents"), col("tau")).as("w_hat"), col("tau"))
        .groupBy(col("tau"))
        .agg(sum(col("w_hat")).as("est_total"))
        .crossJoin(broadcast(exact))
        .select(col("tau"), col("est_total"), col("exact_total"))
    },
      // same exact-integer draw; τ = the 101st priority, ŵ = max(w, τ)
      """WITH b AS (
        |  SELECT o_orderkey,
        |         cast(round(o_totalprice * 100) AS bigint) AS w_cents,
        |         greatest(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))
        |                    ::BIGINT, 1) AS h
        |  FROM orders
        |), p AS (
        |  SELECT o_orderkey, w_cents,
        |         cast((w_cents * 4294967296) // h AS bigint) AS priority
        |  FROM b
        |), t AS (
        |  SELECT o_orderkey, w_cents, priority,
        |         row_number() OVER (ORDER BY priority DESC, o_orderkey)
        |           AS rn
        |  FROM p
        |), tau AS (
        |  -- sub-k guard (DLT): with n <= 100 rows every row is sampled
        |  -- exactly, so tau = 0 and greatest(w, 0) = w
        |  SELECT CASE WHEN count(*) <= 100 THEN cast(0 AS bigint)
        |              ELSE cast(min(priority) AS bigint) END AS tau
        |  FROM t WHERE rn <= 101
        |)
        |SELECT tau.tau,
        |       cast(sum(greatest(w_cents, tau.tau)) AS bigint)
        |           AS est_total,
        |       (SELECT cast(sum(w_cents) AS bigint) FROM b) AS exact_total
        |FROM t, tau WHERE t.rn <= 100
        |GROUP BY tau.tau""".stripMargin),

    // WEIGHTED QUANTILES FROM A PRIORITY SAMPLE — the SKETCHED sibling
    // of rel_weighted_quantiles (which narrows to the EXACT answer via
    // Selection.weightedQuantile's multi-pass selection): what the DLT
    // estimator is FOR — revenue-weighted percentiles ("the median
    // dollar": the order price p such that orders totaling half the
    // spend are priced <= p) served from a bounded 256-row priority
    // sample per segment, never a full sort of the weights. est_rank(x)
    // = Σ_{retained, v<=x} max(w, τ) is the Horvitz-Thompson subset-sum
    // estimate, so the weighted p50/p95 fall out of one cumulative
    // window over <= 256 retained rows; τ carries the sub-k guard
    // (τ=0 ⇒ exact when a segment has <= 256 orders). Integer
    // arithmetic end to end — the oracle reproduces the sample AND the
    // served quantiles bit-for-bit. Scale shape: the rn <= k+1 filter
    // under a partitioned row_number plans WindowGroupLimit (each task
    // keeps its local top-257 per segment before the shuffle); the
    // cumulative window runs over segments × 256 rows — model-sized.
    Query("rel_weighted_quantile_sample", (s, dir) => {
      val k = 256
      val h = greatest(conv(substring(md5(col("o_orderkey").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long"), lit(1L))
      val pri = tbl(s, dir, "orders")
        .select(col("o_orderpriority").as("seg"), col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) AS bigint)").as("w_cents"),
          h.as("h"))
        .select(col("seg"), col("o_orderkey"), col("w_cents"),
          expr("(w_cents * 4294967296) div h").as("priority"))
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy("seg")
        .orderBy(col("priority").desc, col("o_orderkey").asc)
      val top = pri.withColumn("rn", row_number().over(wTop))
        .where(col("rn") <= k + 1)
      val tau = top.groupBy("seg").agg(
        when(count(lit(1)) <= k, lit(0L))
          .otherwise(min(col("priority"))).as("tau"))
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy("seg").orderBy(col("w_cents"), col("o_orderkey"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy("seg")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .unboundedFollowing)
      val exact = tbl(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("seg"))
        .agg(sum(expr("cast(round(o_totalprice * 100) AS bigint)"))
          .as("exact_total"))
      top.where(col("rn") <= k)
        .join(broadcast(tau), "seg")
        .select(col("seg"), col("w_cents"), col("o_orderkey"),
          greatest(col("w_cents"), col("tau")).as("w_hat"))
        .select(col("seg"), col("w_cents"),
          sum(col("w_hat")).over(wCum).as("cum"),
          sum(col("w_hat")).over(wAll).as("est_total"))
        .groupBy(col("seg"), col("est_total"))
        .agg(count(lit(1)).as("n_kept"),
          min(when(col("cum") * 2 >= col("est_total"), col("w_cents")))
            .as("p50w_cents"),
          min(when(col("cum") * 20 >= col("est_total") * 19,
            col("w_cents"))).as("p95w_cents"))
        .join(broadcast(exact), "seg")
        .select(col("seg"), col("n_kept"), col("est_total"),
          col("exact_total"), col("p50w_cents"), col("p95w_cents"))
    },
      // same exact-integer sample per segment; the served weighted
      // quantiles are the HT subset-sum readout over the retained rows
      """WITH b AS (
        |  SELECT o_orderpriority AS seg, o_orderkey,
        |         cast(round(o_totalprice * 100) AS bigint) AS w_cents,
        |         greatest(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))
        |                    ::BIGINT, 1) AS h
        |  FROM orders
        |), p AS (
        |  SELECT seg, o_orderkey, w_cents,
        |         cast((w_cents * 4294967296) // h AS bigint) AS priority
        |  FROM b
        |), t AS (
        |  SELECT *, row_number() OVER (PARTITION BY seg
        |                               ORDER BY priority DESC, o_orderkey)
        |           AS rn
        |  FROM p
        |), tau AS (
        |  SELECT seg, CASE WHEN count(*) <= 256 THEN cast(0 AS bigint)
        |                   ELSE cast(min(priority) AS bigint) END AS tau
        |  FROM t WHERE rn <= 257 GROUP BY 1
        |), r AS (
        |  SELECT t.seg, t.w_cents, t.o_orderkey,
        |         greatest(t.w_cents, tau.tau) AS w_hat
        |  FROM t JOIN tau USING (seg) WHERE t.rn <= 256
        |), c AS (
        |  SELECT seg, w_cents,
        |         sum(w_hat) OVER (PARTITION BY seg
        |                          ORDER BY w_cents, o_orderkey) AS cum,
        |         sum(w_hat) OVER (PARTITION BY seg) AS est_total
        |  FROM r
        |), e AS (
        |  SELECT o_orderpriority AS seg,
        |         cast(sum(cast(round(o_totalprice * 100) AS bigint))
        |              AS bigint) AS exact_total
        |  FROM orders GROUP BY 1
        |)
        |SELECT c.seg, cast(count(*) AS bigint) AS n_kept,
        |       cast(c.est_total AS bigint) AS est_total, e.exact_total,
        |       min(CASE WHEN 2 * cum >= est_total THEN w_cents END)
        |         AS p50w_cents,
        |       min(CASE WHEN 20 * cum >= 19 * est_total THEN w_cents END)
        |         AS p95w_cents
        |FROM c JOIN e USING (seg)
        |GROUP BY c.seg, c.est_total, e.exact_total""".stripMargin),

    // Deterministic per-key sampling: at most 3 events per user, chosen by
    // md5 order — the per-user cap a training pipeline applies so heavy
    // users can't dominate a dataset (and the reproducible cousin of
    // reservoir sampling: no rand(), so retries/re-partitions pick the
    // SAME rows). One hash-partitioned window per user_id; output per key
    // is bounded at k, so downstream joins on the sample can't skew.
    Query("rel_sample_per_key", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(md5(col("event_id").cast("string").cast("binary")),
          col("event_id"))
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("event_id"), col("user_id"), col("event_type"))
    },
      """SELECT event_id, user_id, event_type
        |FROM (
        |  SELECT event_id, user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY md5(event_id::VARCHAR),
        |                                     event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3""".stripMargin),

    // AMS/CMS SELF-JOIN SIZE (F₂) — join-size estimation from a
    // Count-Min inner product: the optimizer-statistics primitive that
    // prices a self-join WITHOUT computing it. The sketch side is 5
    // rows × 1024 buckets of map-side-combined counters (shuffle =
    // 5·1024 rows at any scale) vs the exact side's distinct-key
    // shuffle; est = min over rows of Σ counter² NEVER underestimates
    // (collisions only add), pinned by spec and by the oracle
    // replaying the identical mod-(2³¹−1) bucket hashes in SQL.
    Query("rel_cms_selfjoin_size", (s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val P = 2147483647L
      val hp = Seq((0L, 1103515245L, 12345L), (1L, 1140671485L, 12820163L),
        (2L, 134775813L, 1L), (3L, 214013L, 2531011L),
        (4L, 16843009L, 826366247L))
      val keys = tbl(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // feeds the exact side and the sketch side
      val exact = keys.agg(sum(d38(col("c")) * col("c")).as("f2x"))
      val buckets = keys
        .withColumn("h", explode(array(hp.map { case (j, a, b) =>
          struct(lit(j).as("j"), lit(a).as("a"), lit(b).as("b")) }: _*)))
        .select(col("h.j").as("j"),
          (((col("h.a") * (col("k") % P) + col("h.b")) % P) % 1024L)
            .as("bkt"),
          col("c"))
        .groupBy("j", "bkt").agg(sum(col("c")).as("cb"))
      val est = buckets.groupBy("j")
        .agg(sum(d38(col("cb")) * col("cb")).as("f2j"))
        .agg(min(col("f2j")).as("f2e"))
      exact.crossJoin(broadcast(est))
        .select(col("f2x").cast("double").as("f2_exact"),
          col("f2e").cast("double").as("f2_est"),
          round(col("f2e").cast("double") / col("f2x").cast("double"), 6)
            .as("blowup"))
    },
      """WITH keys AS (
        |  SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1
        |), ex AS (
        |  SELECT sum(c::HUGEINT * c) AS f2x FROM keys
        |), hp AS (
        |  SELECT * FROM (VALUES (0, 1103515245, 12345),
        |                        (1, 1140671485, 12820163),
        |                        (2, 134775813, 1),
        |                        (3, 214013, 2531011),
        |                        (4, 16843009, 826366247)) AS t(j, a, b)
        |), bk AS (
        |  SELECT hp.j,
        |         ((hp.a * (keys.k % 2147483647) + hp.b) % 2147483647)
        |           % 1024 AS bkt,
        |         keys.c
        |  FROM keys CROSS JOIN hp
        |), cb AS (
        |  SELECT j, bkt, sum(c) AS cb FROM bk GROUP BY 1, 2
        |), es AS (
        |  SELECT min(f2j) AS f2e FROM (
        |    SELECT j, sum(cb::HUGEINT * cb) AS f2j FROM cb GROUP BY j)
        |)
        |SELECT cast(f2x AS DOUBLE) AS f2_exact,
        |       cast(f2e AS DOUBLE) AS f2_est,
        |       round(cast(f2e AS DOUBLE) / cast(f2x AS DOUBLE), 6)
        |         AS blowup
        |FROM ex CROSS JOIN es""".stripMargin),

    // THETA/KMV SKETCH SET-OPERATION FAMILY — distinct counts of
    // UNION / INTERSECTION / DIFFERENCE across segments from bounded
    // mergeable sketches (the DataSketches Theta framework's estimator,
    // k smallest distinct 60-bit hashes): the only way set-expression
    // cardinalities stay tractable at 100 TB, where the exact answer
    // needs a corpus-wide distinct shuffle PER EXPRESSION but the
    // sketches are built once (k longs per segment, map-side partial
    // aggregation via the native KmvSketchAgg) and combined in O(k).
    // Entities are "user-day" activity keys; hashes are md5-derived so
    // the DuckDB oracle reproduces the sketch BIT-EXACTLY — the
    // estimates are oracle-checked values, not just bounded claims.
    // Exact counts ride along in each output as accuracy evidence
    // (k=128 → rsd ~9%).

    // Per-segment distinct estimate: the base sketch + estimator.
    Query("rel_theta_sketch_distinct", (s, dir) => {
      val k = 128
      val base = events(s, dir).select(col("event_type"),
        (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
          .cast("long").as("key"))
      base.select(col("event_type"), col("key"),
        thetaHash(col("key")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"), countDistinct(col("key")).as("exact"))
        .select(col("event_type"),
          size(col("ks")).cast("long").as("n_kept"),
          kmvEstimate(col("ks"), k).as("est"),
          col("exact"))
    },
      s"""WITH b AS (
        |  SELECT DISTINCT event_type,
        |         user_id * 100000 + (ts::DATE - DATE '1970-01-01') AS key
        |  FROM events
        |), h AS (
        |  SELECT event_type,
        |         ('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM b
        |), r AS (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h)
        |           AS rn
        |  FROM h
        |), s AS (
        |  SELECT event_type, count(*) AS n_kept, max(h) AS theta
        |  FROM r WHERE rn <= 128 GROUP BY 1
        |), e AS (
        |  SELECT event_type, count(*) AS exact FROM b GROUP BY 1
        |)
        |SELECT s.event_type, s.n_kept,
        |       ${kmvEstimateSql("s.n_kept", "s.theta")} AS est,
        |       e.exact
        |FROM s JOIN e USING (event_type)""".stripMargin),

    // Union via MERGE of per-day partial sketches (click ∪ purchase):
    // the sketches a pipeline stores per segment re-combine without a
    // rescan, and KMV merge is LOSSLESS (every global k-smallest hash is
    // retained by its own day's sketch) — so the merged estimate is
    // oracle-checked against the k-smallest of the union computed
    // directly.
    Query("rel_theta_union_merge", (s, dir) => {
      val k = 128
      val base = events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(to_date(col("ts")).as("day"),
          (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
            .cast("long").as("key"))
      val daily = base.select(col("day"), thetaHash(col("key")).as("h"))
        .groupBy("day")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      val merged = daily.select(explode(col("ks")).as("h"))
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      val exact = base.agg(countDistinct(col("key")).as("exact"))
      merged.crossJoin(broadcast(exact))
        .select(size(col("ks")).cast("long").as("n_kept"),
          kmvEstimate(col("ks"), k).as("est"),
          col("exact"))
    },
      s"""WITH b AS (
        |  SELECT DISTINCT
        |         user_id * 100000 + (ts::DATE - DATE '1970-01-01') AS key
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), h AS (
        |  SELECT ('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM b
        |), r AS (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h
        |), s AS (
        |  SELECT count(*) AS n_kept, max(h) AS theta FROM r WHERE rn <= 128
        |)
        |SELECT s.n_kept,
        |       ${kmvEstimateSql("s.n_kept", "s.theta")} AS est,
        |       (SELECT count(*) FROM b) AS exact
        |FROM s""".stripMargin),

    // Intersection estimate (click ∩ purchase user-days): θ = min of the
    // two segment thetas; each retained set is a COMPLETE distinct
    // sample below its own θ, so |kA ∩ kB below θ| / (θ/2^60) estimates
    // the overlap — two O(k) arrays combined on the executor, no rescan.
    Query("rel_theta_intersect", (s, dir) => {
      val k = 128
      val base = events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
            .cast("long").as("key"))
      val sk = base.select(col("event_type"), thetaHash(col("key")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      val a = sk.where(col("event_type") === "click")
        .select(col("ks").as("ka")).limit(1)
      val b = sk.where(col("event_type") === "purchase")
        .select(col("ks").as("kb")).limit(1)
      val exact = base.groupBy("key")
        .agg(countDistinct(col("event_type")).as("nt"))
        .where(col("nt") === 2).agg(count(lit(1)).as("exact"))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(exact))
        .withColumn("theta",
          least(kmvTheta(col("ka"), k), kmvTheta(col("kb"), k)))
        .withColumn("s_inter",
          size(expr("filter(array_intersect(ka, kb), x -> x < theta)"))
            .cast("long"))
        .select(col("s_inter"),
          round(col("s_inter").cast("double")
            * lit(1.152921504606846976e18)
            / col("theta").cast("double"), 4).as("est"),
          col("exact"))
    },
      """WITH b AS (
        |  SELECT DISTINCT event_type,
        |         user_id * 100000 + (ts::DATE - DATE '1970-01-01') AS key
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), h AS (
        |  SELECT event_type,
        |         ('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM b
        |), r AS (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h)
        |           AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h
        |), k AS (
        |  SELECT event_type, h, nd FROM r WHERE rn <= 128
        |), t AS (
        |  SELECT min(th) AS theta FROM (
        |    SELECT CASE WHEN max(nd) < 128 THEN 1152921504606846976
        |                ELSE max(h) END AS th
        |    FROM k GROUP BY event_type)
        |), si AS (
        |  SELECT count(*) AS s_inter
        |  FROM (SELECT h FROM k WHERE event_type = 'click') ka
        |  JOIN (SELECT h FROM k WHERE event_type = 'purchase') kb
        |    USING (h), t
        |  WHERE h < t.theta
        |), ex AS (
        |  SELECT count(*) AS exact FROM (
        |    SELECT key FROM b GROUP BY key HAVING count(*) = 2)
        |)
        |SELECT si.s_inter,
        |       round(si.s_inter::DOUBLE * 1152921504606846976
        |             / t.theta::DOUBLE, 4) AS est,
        |       ex.exact
        |FROM si, t, ex""".stripMargin),

    // Difference estimate (click ∖ purchase): below θ the B-sample is
    // complete, so "h ∉ kB" is an exact non-membership test there —
    // |{h ∈ kA : h < θ, h ∉ kB}| / (θ/2^60).
    Query("rel_theta_diff", (s, dir) => {
      val k = 128
      val base = events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
            .cast("long").as("key"))
      val sk = base.select(col("event_type"), thetaHash(col("key")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      val a = sk.where(col("event_type") === "click")
        .select(col("ks").as("ka")).limit(1)
      val b = sk.where(col("event_type") === "purchase")
        .select(col("ks").as("kb")).limit(1)
      val exact = base.groupBy("key")
        .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("has_a"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("has_b"))
        .where(col("has_a") === 1L && col("has_b") === 0L)
        .agg(count(lit(1)).as("exact"))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(exact))
        .withColumn("theta",
          least(kmvTheta(col("ka"), k), kmvTheta(col("kb"), k)))
        .withColumn("s_diff",
          size(expr("filter(array_except(ka, kb), x -> x < theta)"))
            .cast("long"))
        .select(col("s_diff"),
          round(col("s_diff").cast("double")
            * lit(1.152921504606846976e18)
            / col("theta").cast("double"), 4).as("est"),
          col("exact"))
    },
      """WITH b AS (
        |  SELECT DISTINCT event_type,
        |         user_id * 100000 + (ts::DATE - DATE '1970-01-01') AS key
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), h AS (
        |  SELECT event_type,
        |         ('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM b
        |), r AS (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h)
        |           AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h
        |), k AS (
        |  SELECT event_type, h, nd FROM r WHERE rn <= 128
        |), t AS (
        |  SELECT min(th) AS theta FROM (
        |    SELECT CASE WHEN max(nd) < 128 THEN 1152921504606846976
        |                ELSE max(h) END AS th
        |    FROM k GROUP BY event_type)
        |), sd AS (
        |  SELECT count(*) AS s_diff
        |  FROM (SELECT h FROM k WHERE event_type = 'click') ka, t
        |  WHERE ka.h < t.theta
        |    AND ka.h NOT IN (SELECT h FROM k WHERE event_type = 'purchase')
        |), ex AS (
        |  SELECT count(*) AS exact FROM (
        |    SELECT key FROM b WHERE event_type = 'click'
        |    AND key NOT IN (SELECT key FROM b WHERE event_type = 'purchase'))
        |)
        |SELECT sd.s_diff,
        |       round(sd.s_diff::DOUBLE * 1152921504606846976
        |             / t.theta::DOUBLE, 4) AS est,
        |       ex.exact
        |FROM sd, t, ex""".stripMargin),

    // ROLLING DISTINCT VIA MERGEABLE SKETCH PARTIALS — the scale twin of
    // rel_rolling_active_users. The exact query ships every
    // (user, obs_day) pair through the shuffle: O(users × 7) rows, with
    // a countDistinct state per window. Here each day is first reduced
    // to ONE k-long KMV partial (map-side bounded state), and the
    // 7-day window is a merge-at-read over those partials: the sliding
    // explode fans out O(days × 7) sketch rows — k longs each,
    // INDEPENDENT of user count — so the window stage costs
    // O(days × 7 × k) regardless of corpus size. KMV merge is lossless
    // (the global k smallest distinct hashes of a union are each among
    // their own day's k smallest), so the merged window sketch EQUALS
    // the from-scratch sketch of the window's users — which is exactly
    // what the DuckDB oracle computes, bit-for-bit (md5-derived hash).
    Query("rel_rolling_wau_sketch", (s, dir) => {
      val k = 128
      val daily = events(s, dir)
        .select(unix_date(to_date(col("ts"))).cast("long").as("day"),
          thetaHash(col("user_id").cast("long")).as("h"))
        .groupBy("day")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      val span = daily.agg(max(col("day")).as("d1"))
      daily
        .select(explode(expr("sequence(day, day + 6)")).as("obs_day"),
          col("ks"))
        .crossJoin(broadcast(span))
        .where(col("obs_day") <= col("d1")) // no post-horizon days
        .groupBy("obs_day")
        // O(k) column merge (graft_kmv_merge): the window stage ships
        // O(days × 7) sketch ROWS, never explodes them back to hashes
        .agg(graft.functions.GraftFunctions.kmvMerge(col("ks"), k)
          .as("ks"))
        .select(col("obs_day").cast("long").as("obs_day"),
          size(col("ks")).cast("long").as("n_kept"),
          kmvEstimate(col("ks"), k).as("est"))
    },
      // From-scratch k-smallest per window == the merged per-day partials
      // (lossless KMV merge identity) — so the oracle never sees the
      // store, only the definition
      s"""WITH ud AS (
        |  SELECT DISTINCT user_id,
        |         (ts::DATE - DATE '1970-01-01') AS day
        |  FROM events
        |), sp AS (
        |  SELECT max(day) AS d1 FROM ud
        |), x AS (
        |  SELECT DISTINCT day + r.range AS obs_day,
        |         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
        |           AS h
        |  FROM ud, range(7) r
        |), rk AS (
        |  SELECT obs_day, h,
        |         row_number() OVER (PARTITION BY obs_day ORDER BY h)
        |           AS rn
        |  FROM x, sp WHERE obs_day <= sp.d1
        |), s AS (
        |  SELECT obs_day, count(*) AS n_kept, max(h) AS theta
        |  FROM rk WHERE rn <= 128 GROUP BY 1
        |)
        |SELECT cast(obs_day AS bigint) AS obs_day, n_kept,
        |       ${kmvEstimateSql("n_kept", "theta")} AS est
        |FROM s""".stripMargin),

    // ROLLING p95 DASHBOARD FROM QUANTILE-SKETCH PARTIALS — the
    // quantile sibling of rel_rolling_wau_sketch: each day reduces to
    // ONE 256-cap qsketch partial, and every observation day's
    // trailing-7-day p50/p95 is an O(cap) merge of seven partials —
    // the window stage costs O(days × 7 × cap) REGARDLESS of event
    // volume, where an exact rolling percentile would re-rank 7 days
    // of raw values per window. The merge is lossless (minimal-level
    // identity), so each window's sketch — contents included — equals
    // the from-scratch sketch of the window's raw rows, which is what
    // the oracle computes.
    Query("rel_rolling_p95_sketch", (s, dir) => {
      val cap = 256
      val daily = events(s, dir)
        .select(unix_date(to_date(col("ts"))).cast("long").as("day"),
          thetaHash(col("event_id")).as("h"),
          expr("cast(round(value * 1000) AS bigint)").as("cents"))
        .groupBy("day")
        .agg(graft.functions.GraftFunctions
          .qsketch(col("h"), col("cents"), cap).as("qs"))
      val span = daily.agg(max(col("day")).as("d1"))
      daily
        .select(explode(expr("sequence(day, day + 6)")).as("obs_day"),
          col("qs"))
        .crossJoin(broadcast(span))
        .where(col("obs_day") <= col("d1")) // no post-horizon days
        .groupBy("obs_day")
        .agg(graft.functions.GraftFunctions
          .qsketchMerge(col("qs"), cap).as("qs"))
        .transform(
          qsketchReadout("obs_day", _.cast("long").as("obs_day")))
    },
      // each rolling window's sketch from scratch over the window's raw
      // rows — the lossless merge makes the partials path equal it
      // bit-for-bit, contents included
      """WITH t AS (
        |  SELECT (ts::DATE - DATE '1970-01-01') AS day,
        |         cast(round(value * 1000) AS bigint) AS cents,
        |         ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT
        |           AS h
        |  FROM events
        |), sp AS (SELECT max(day) AS d1 FROM t),
        |obs AS (
        |  SELECT DISTINCT day + g AS obs_day
        |  FROM (SELECT DISTINCT day FROM t)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS g), sp
        |  WHERE day + g <= sp.d1
        |), w AS (
        |  SELECT o.obs_day, t.cents, t.h
        |  FROM obs o JOIN t ON t.day BETWEEN o.obs_day - 6 AND o.obs_day
        |), z AS (
        |  SELECT *, CASE WHEN h = 0 THEN 60
        |                 ELSE bit_count(CAST((~h) & (h - 1) AS BIGINT))
        |            END AS tz
        |  FROM w
        |), lev AS (
        |  SELECT obs_day, l, count(*) FILTER (WHERE tz >= l) AS cnt
        |  FROM z CROSS JOIN (SELECT unnest(generate_series(0, 60)) AS l)
        |  GROUP BY 1, 2
        |), lv AS (
        |  SELECT obs_day, min(l) AS lvl FROM lev WHERE cnt <= 256
        |  GROUP BY 1
        |), ret AS (
        |  SELECT z.obs_day, z.h, z.cents, lv.lvl
        |  FROM z JOIN lv USING (obs_day) WHERE z.tz >= lv.lvl
        |), ord AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY obs_day
        |                            ORDER BY cents, h) AS rv,
        |         count(*) OVER (PARTITION BY obs_day) AS m
        |  FROM ret
        |)
        |SELECT cast(obs_day AS bigint) AS obs_day,
        |       cast(lvl AS bigint) AS lvl, cast(m AS bigint) AS n_kept,
        |       max(CASE WHEN rv = cast(ceil(m * 0.5) AS bigint)
        |                THEN cents END) AS p50_cents,
        |       max(CASE WHEN rv = cast(ceil(m * 0.95) AS bigint)
        |                THEN cents END) AS p95_cents,
        |       lvl::VARCHAR || ';' ||
        |         string_agg(h::VARCHAR || ';' || cents::VARCHAR, ';'
        |                    ORDER BY h, cents) AS contents
        |FROM ord GROUP BY obs_day, lvl, m""".stripMargin),

    // THETA-SKETCH IVM — incremental distinct-count maintenance: the
    // materialized base sketch (events before the cutover hour) absorbs
    // a delta batch by MERGE ALONE — no base rescan — and because KMV
    // merge is lossless the refreshed estimate is oracle-checked EQUAL
    // to the from-scratch sketch of base ∪ delta. The distinct-count
    // analogue of rel_ivm_agg/rel_ivm_join's "merge equals recompute"
    // contract, at O(k) refresh cost per segment.
    Query("rel_theta_ivm", (s, dir) => {
      val k = 128
      val withKey = events(s, dir).select(col("event_type"),
        unix_micros(col("ts")).as("t_us"),
        (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
          .cast("long").as("key"))
      // deterministic cutover: 80% through the fixed event time span
      val cut = withKey.agg((min(col("t_us")) +
        ((max(col("t_us")) - min(col("t_us"))) * 8L) / 10L).as("cut"))
      val staged = withKey.crossJoin(broadcast(cut))
        .select(col("event_type"), col("key"),
          (col("t_us") >= col("cut")).as("is_delta"))
      val parts = staged
        .select(col("event_type"), col("is_delta"),
          thetaHash(col("key")).as("h"))
        .groupBy("event_type", "is_delta")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      // refresh = O(k) merge of the two partial sketch COLUMNS
      // (graft_kmv_merge), never a rescan and never an explode
      val merged = parts
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvMerge(col("ks"), k)
          .as("ks"))
      val exact = staged.groupBy("event_type")
        .agg(countDistinct(col("key")).as("exact"))
      merged.join(exact, "event_type")
        .select(col("event_type"),
          size(col("ks")).cast("long").as("n_kept"),
          kmvEstimate(col("ks"), k).as("est"),
          col("exact"))
    },
      // from-scratch sketch of the full stream: KMV merge is lossless, so
      // the incrementally-refreshed sketch must equal it exactly
      s"""WITH b AS (
        |  SELECT DISTINCT event_type,
        |         user_id * 100000 + (ts::DATE - DATE '1970-01-01') AS key
        |  FROM events
        |), h AS (
        |  SELECT event_type,
        |         ('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM b
        |), r AS (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h)
        |           AS rn
        |  FROM h
        |), s AS (
        |  SELECT event_type, count(*) AS n_kept, max(h) AS theta
        |  FROM r WHERE rn <= 128 GROUP BY 1
        |), e AS (
        |  SELECT event_type, count(*) AS exact FROM b GROUP BY 1
        |)
        |SELECT s.event_type, s.n_kept,
        |       ${kmvEstimateSql("s.n_kept", "s.theta")} AS est,
        |       e.exact
        |FROM s JOIN e USING (event_type)""".stripMargin),

    // SKETCH PERSISTENCE ROUND-TRIP — the store-partials warehouse
    // pattern that is the main production use of mergeable sketches:
    // per-(segment, day) KMV partials are WRITTEN to a parquet table
    // (k longs per cell — the table a 100 TB pipeline materializes
    // nightly), then a SEPARATE read merges-at-read per segment and
    // estimates. KMV merge is lossless (union of k-smallest sets,
    // re-truncated to k), so the round-tripped estimate is
    // oracle-checked EQUAL to the from-scratch sketch of the raw data —
    // the persisted partials lose nothing, and refresh cost is
    // O(days * k) per segment, never a rescan of the corpus.
    Query("rel_sketch_roundtrip", (s, dir) => {
      val k = 128
      val store = graft.streaming.StreamGate
        .scratchDir("stage", "sketchstore")
      events(s, dir).select(col("event_type"),
          to_date(col("ts")).as("day"),
          thetaHash((col("user_id") * 100000L +
            unix_date(to_date(col("ts")))).cast("long")).as("h"))
        .groupBy("event_type", "day")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
        .write.mode("overwrite").parquet(store)
      // separate read: merge-at-read over the persisted partials only.
      // Eagerly checkpointed so the scratch store can be deleted (the
      // result is O(segments × k) — model-sized)
      try {
        s.read.parquet(store)
          .groupBy("event_type")
          // O(k) column merge: partials never explode back to rows
          .agg(graft.functions.GraftFunctions.kmvMerge(col("ks"), k)
            .as("ks"))
          .select(col("event_type"),
            size(col("ks")).cast("long").as("n_kept"),
            round(when(size(col("ks")) < k, size(col("ks")).cast("double"))
              .otherwise(lit((k - 1).toDouble)
                * lit(1.152921504606846976e18)
                / element_at(col("ks"), k).cast("double")), 4).as("est"))
          .localCheckpoint(true)
      } finally graft.streaming.StreamGate.deleteRecursively(store)
    },
      // the round-tripped (persisted-then-merged) sketch must equal the
      // from-scratch k-smallest construction — KMV merge is lossless
      s"""WITH b AS (
        |  SELECT DISTINCT event_type,
        |         user_id * 100000 + (ts::DATE - DATE '1970-01-01') AS key
        |  FROM events
        |), h AS (
        |  SELECT event_type,
        |         ('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM b
        |), r AS (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h)
        |           AS rn
        |  FROM h
        |), s AS (
        |  SELECT event_type, count(*) AS n_kept, max(h) AS theta
        |  FROM r WHERE rn <= 128 GROUP BY 1
        |)
        |SELECT event_type, n_kept,
        |       ${kmvEstimateSql("n_kept", "theta")} AS est
        |FROM s""".stripMargin),

    // KMV ACCURACY/COST CURVE — the rel_qsketch_cap_curve discipline
    // applied to the distinct-count sketch family: one scan computes the
    // global KMV sketch of the user-day key at caps 64 / 256 / 1024 plus
    // the exact distinct count, and the curve reads out (cap, kept rows,
    // estimate, exact, relative error). Everything is deterministic md5
    // integer arithmetic, so the DuckDB oracle re-derives the IDENTICAL
    // estimates — the measured error curve (not just one operating
    // point) is itself oracle-checked; the in-path require pins each
    // rung inside the 5/sqrt(cap) KMV error envelope. This is the
    // memory/accuracy tuning table a 100 TB distinct-count deployment
    // reads: 8 KiB of sketch for ~12% error, 128 KiB for ~3%.
    Query("rel_kmv_cap_curve", (s, dir) => {
      val caps = Seq(64, 256, 1024)
      val hashed = events(s, dir).select(
          (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
            .cast("long").as("key"))
        .select(col("key"), thetaHash(col("key")).as("h"))
      val aggs = countDistinct(col("key")).as("exact") +:
        caps.map(k => graft.functions.GraftFunctions
          .kmvSketch(col("h"), k).as(s"ks$k"))
      // one row (exact + three sketches); checkpointed so the three
      // per-cap readouts below never rescan events
      val one = hashed.agg(aggs.head, aggs.tail: _*).localCheckpoint(true)
      val curve = caps.map { k =>
        one.select(
          lit(k.toLong).as("cap"),
          size(col(s"ks$k")).cast("long").as("n_kept"),
          kmvEstimate(col(s"ks$k"), k).as("est"),
          col("exact").cast("long").as("exact"))
      }.reduce(_ unionAll _)
        .withColumn("rel_err",
          round(abs(col("est") - col("exact")) / col("exact"), 6))
      curve.collect().foreach { r =>
        require(r.getDouble(4) <= 5.0 / math.sqrt(r.getLong(0).toDouble),
          s"KMV error outside the 5/sqrt(cap) envelope: $r")
      }
      curve
    },
      // identical md5/60-bit/kth-min arithmetic per cap; the error column
      // is derived from the same estimate, so the whole curve is exact
      """WITH b AS (
        |  SELECT DISTINCT user_id * 100000
        |           + (ts::DATE - DATE '1970-01-01') AS key
        |  FROM events
        |), h AS (
        |  SELECT ('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM b
        |), r AS (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h
        |), x AS (
        |  SELECT count(*) AS exact FROM b
        |), caps AS (SELECT unnest([64, 256, 1024]) AS cap),
        |s AS (
        |  SELECT cap, count(*) AS n_kept, max(h) AS theta
        |  FROM r JOIN caps ON rn <= cap GROUP BY 1
        |), e AS (
        |  SELECT cap, n_kept,
        |         CASE WHEN n_kept < cap THEN round(n_kept::DOUBLE, 4)
        |              ELSE round((cap - 1)::DOUBLE * 1152921504606846976
        |                         / theta::DOUBLE, 4) END AS est
        |  FROM s
        |)
        |SELECT cap::BIGINT AS cap, n_kept::BIGINT AS n_kept, est,
        |       x.exact::BIGINT AS exact,
        |       round(abs(est - x.exact) / x.exact, 6) AS rel_err
        |FROM e, x""".stripMargin),

    // SKETCH DATA CUBE — distinct-count rollups over grouping sets,
    // all merged from the FINEST-grain partials: one KMV partial per
    // (event_type, day-of-week) cell, then the three coarser grouping
    // sets ((type), (dow), ()) are O(cells × k) re-merges of those
    // partials — events are scanned ONCE for the whole cube. Lossless
    // at every level (any hash among a rollup's k smallest is among
    // its own finest cell's k smallest), so every cell of every
    // grouping set is oracle-checked bit-exactly against the
    // from-scratch sketch. This is the additivity story COUNT(DISTINCT)
    // famously lacks in OLAP cubes: distinct counts don't sum across
    // cells, but their sketches union.
    Query("rel_sketch_cube", (s, dir) => {
      val k = 128
      val kmv = (c: Column) =>
        graft.functions.GraftFunctions.kmvSketch(c, k)
      val fin = events(s, dir)
        .select(col("event_type"),
          (unix_date(to_date(col("ts"))).cast("long") % 7).as("dow"),
          thetaHash(col("user_id").cast("long")).as("h"))
        .groupBy("event_type", "dow")
        .agg(kmv(col("h")).as("ks"))
        // finest grain is types × 7 rows of k longs — model-sized;
        // lazily checkpointed so the three rollups reuse ONE
        // materialization instead of rescanning events each
        .localCheckpoint(false)
      // rollups = O(cells × k) column merges (graft_kmv_merge): the
      // partials never explode back to cells × k rows
      val mrg = (c: Column) =>
        graft.functions.GraftFunctions.kmvMerge(c, k)
      val cell = fin.select(col("event_type").as("event_type_g"),
        col("dow").as("dow_g"), col("ks"))
      val byType = fin
        .groupBy("event_type").agg(mrg(col("ks")).as("ks"))
        .select(col("event_type").as("event_type_g"),
          lit(-1L).as("dow_g"), col("ks"))
      val byDow = fin
        .groupBy("dow").agg(mrg(col("ks")).as("ks"))
        .select(lit("ALL").as("event_type_g"), col("dow").as("dow_g"),
          col("ks"))
      val total = fin
        .agg(mrg(col("ks")).as("ks"))
        .select(lit("ALL").as("event_type_g"), lit(-1L).as("dow_g"),
          col("ks"))
      cell.unionByName(byType).unionByName(byDow).unionByName(total)
        .select(col("event_type_g"), col("dow_g"),
          size(col("ks")).cast("long").as("n_kept"),
          round(when(size(col("ks")) < k, size(col("ks")).cast("double"))
            .otherwise(lit((k - 1).toDouble)
              * lit(1.152921504606846976e18)
              / element_at(col("ks"), k).cast("double")), 4).as("est"))
    },
      // every grouping-set cell from scratch: the cube's rollups-from-
      // partials must equal these bit-for-bit (lossless merge at every
      // level)
      s"""WITH ud AS (
        |  SELECT DISTINCT user_id, event_type,
        |         (ts::DATE - DATE '1970-01-01') % 7 AS dow
        |  FROM events
        |), c AS (
        |  SELECT event_type AS tg, dow AS dg, user_id FROM ud
        |  UNION
        |  SELECT event_type, -1, user_id FROM ud
        |  UNION
        |  SELECT 'ALL', dow, user_id FROM ud
        |  UNION
        |  SELECT 'ALL', -1, user_id FROM ud
        |), h AS (
        |  SELECT tg, dg,
        |         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
        |           AS h
        |  FROM c
        |), r AS (
        |  SELECT tg, dg, h,
        |         row_number() OVER (PARTITION BY tg, dg ORDER BY h)
        |           AS rn
        |  FROM h
        |), s AS (
        |  SELECT tg, dg, count(*) AS n_kept, max(h) AS theta
        |  FROM r WHERE rn <= 128 GROUP BY 1, 2
        |)
        |SELECT tg AS event_type_g, cast(dg AS bigint) AS dow_g, n_kept,
        |       ${kmvEstimateSql("n_kept", "theta")} AS est
        |FROM s""".stripMargin),

    // QUANTILE SERVING FROM HISTOGRAM PARTIALS — the pre-aggregation
    // twin of the sketch store, for the OTHER mergeable summary: one
    // log2-bucket histogram per (event_type, day) — O(days × types ×
    // 64) partial rows, merged by plain count-sum — serves p50/p95 for
    // ANY day-range slice without rescanning events (here: the
    // trailing 7 observed days). Bucketing matches
    // stream_quantile_sketch (length(bin(round(value*100)))), so the
    // readout is the same cumulative-rank walk and the oracle is
    // exact: both engines compute identical bucket boundaries.
    Query("rel_quantile_partials", (s, dir) => {
      val parts = events(s, dir).select(col("event_type"),
          unix_date(to_date(col("ts"))).cast("long").as("day"),
          length(bin(round(col("value") * 100).cast("long"))).as("bucket"))
        .groupBy("event_type", "day", "bucket")
        .agg(count(lit(1)).as("cnt"))
      val span = parts.agg(max(col("day")).as("d1"))
      val sliced = parts.crossJoin(broadcast(span))
        .where(col("day") > col("d1") - 7)
        .groupBy("event_type", "bucket")
        .agg(sum(col("cnt")).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("bucket")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .unboundedFollowing)
      sliced.select(col("event_type"), col("bucket"), col("cnt"),
          sum(col("cnt")).over(w).as("cum"),
          sum(col("cnt")).over(wAll).as("n"))
        .groupBy(col("event_type"), col("n"))
        .agg(
          min(when(col("cum") >= expr("(n + 1) div 2"), col("bucket")))
            .as("b50"),
          min(when(col("cum") >= expr("(19 * n + 19) div 20"),
            col("bucket"))).as("b95"))
        .select(col("event_type"), col("n").cast("long").as("n"),
          (pow(lit(2.0), col("b50")) / 100.0).as("p50_est"),
          (pow(lit(2.0), col("b95")) / 100.0).as("p95_est"))
    },
      """WITH p AS (
        |  SELECT event_type, (ts::DATE - DATE '1970-01-01') AS day,
        |         length(bin(CAST(round(value * 100, 0) AS BIGINT)))
        |           AS bucket,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2, 3
        |), sp AS (SELECT max(day) AS d1 FROM p),
        |h AS (
        |  SELECT event_type, bucket, sum(cnt) AS cnt
        |  FROM p, sp WHERE day > sp.d1 - 7 GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, sum(cnt) AS n FROM h GROUP BY 1
        |), c AS (
        |  SELECT h.event_type, h.bucket, t.n,
        |         sum(cnt) OVER (PARTITION BY h.event_type
        |                        ORDER BY h.bucket) AS cum
        |  FROM h JOIN t ON h.event_type = t.event_type
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       pow(2, min(CASE WHEN cum >= (n + 1) // 2
        |                       THEN bucket END)) / 100.0 AS p50_est,
        |       pow(2, min(CASE WHEN cum >= (19 * n + 19) // 20
        |                       THEN bucket END)) / 100.0 AS p95_est
        |FROM c GROUP BY 1, 2""".stripMargin),

    // RANK-ERROR-BOUNDED QUANTILE SKETCH (the KLL-role summary, md5-
    // deterministic; see functions/QuantileSketchAgg.scala): per
    // event_type, retain the rows whose 60-bit md5(event_id) hash has
    // trailing-zero count >= the minimal level L keeping <= 256 rows —
    // an order-insensitive, engine-reproducible level sample. Quantile
    // reads are retained-value ranks: p50/p95 = value at ceil(q*m) of
    // the sorted retained multiset; rank error ~ sqrt(q(1-q)/m) of n
    // (~4% at m=256), INDEPENDENT of the value distribution — unlike
    // rel_quantile_partials' log2 buckets, whose value error is up to
    // ~2x within a bucket. The oracle rebuilds the exact retained SET
    // from the definition and checks the full sketch CONTENTS
    // bit-for-bit (the ";"-joined [lvl, h, v, ...] string), not just
    // the served quantiles.
    Query("rel_quantile_sketch", (s, dir) => {
      val cap = 256
      events(s, dir).select(col("event_type"),
          thetaHash(col("event_id")).as("h"),
          expr("cast(round(value * 1000) AS bigint)").as("cents"))
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions
          .qsketch(col("h"), col("cents"), cap).as("qs"))
        // values sit at even 0-based positions >= 2 of [L, h1, v1, ...]
        .transform(qsketchReadout("event_type"))
    },
      // the retained set is a pure function of the data (minimal level L
      // with <= 256 rows of trailing-zero count >= L over md5(event_id)),
      // so the oracle rebuilds it from the definition and checks the full
      // sketch contents string bit-for-bit, plus the rank readouts
      qsketchFromScratchSql),

    // QSKETCH CAP CURVE — the accuracy/cost knob demonstrated from
    // data: the same sketch at cap 256 / 1024 / 4096 per event_type,
    // each served estimate's TRUE rank error measured against the full
    // value multiset and emitted in basis points as EXACT integers
    // (|2·rank(p50) − n|·10⁴ div 2n and |20·rank(p95) − 19n|·10⁴ div
    // 20n — no fp anywhere, both engines replay the division). A
    // consumer picks the cap from this table: error falls ~1/sqrt(cap)
    // while the shuffled state grows O(cap) per group (the per-cap
    // sketch aggregates stay partial+final; the readout join back to
    // events broadcasts the 3×types-row estimate frame).
    Query("rel_qsketch_cap_curve", (s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        thetaHash(col("event_id")).as("h"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
      val perCap = Seq(256, 1024, 4096).map { cap =>
        ev.groupBy("event_type")
          .agg(graft.functions.GraftFunctions
            .qsketch(col("h"), col("cents"), cap).as("qs"))
          .select(col("event_type"), lit(cap.toLong).as("cap"),
            element_at(col("qs"), 1).as("lvl"),
            expr("array_sort(filter(qs, (x, i) -> i >= 2 AND i % 2 = 0))")
              .as("vals"))
          .select(col("event_type"), col("cap"), col("lvl"),
            size(col("vals")).cast("long").as("n_kept"),
            expr("element_at(vals, cast(ceil(size(vals) * 0.5) AS int))")
              .as("p50_cents"),
            expr("element_at(vals, cast(ceil(size(vals) * 0.95) AS int))")
              .as("p95_cents"))
      }.reduce(_ unionAll _)
      ev.join(broadcast(perCap), "event_type")
        .groupBy(col("event_type"), col("cap"), col("lvl"),
          col("n_kept"), col("p50_cents"), col("p95_cents"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("cents") <= col("p50_cents"), 1L).otherwise(0L))
            .as("r50"),
          sum(when(col("cents") <= col("p95_cents"), 1L).otherwise(0L))
            .as("r95"))
        .select(col("event_type"), col("cap"), col("lvl"),
          col("n_kept"),
          col("p50_cents"), col("p95_cents"),
          expr("abs(2 * r50 - n) * 10000 div (2 * n)").as("err50_bp"),
          expr("abs(20 * r95 - 19 * n) * 10000 div (20 * n)")
            .as("err95_bp"))
    },
      // cap curve: the from-scratch rebuild parameterized by cap, plus
      // the exact integer rank-error readout of each served estimate
      """WITH t AS (
        |  SELECT event_type,
        |         cast(round(value * 1000) AS bigint) AS cents,
        |         ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT
        |           AS h
        |  FROM events
        |), z AS (
        |  SELECT *, CASE WHEN h = 0 THEN 60
        |                 ELSE bit_count(CAST((~h) & (h - 1) AS BIGINT))
        |            END AS tz
        |  FROM t
        |), lev AS (
        |  SELECT event_type, cap, l,
        |         count(*) FILTER (WHERE tz >= l) AS cnt
        |  FROM z
        |  CROSS JOIN (VALUES (256), (1024), (4096)) AS c(cap)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 60)) AS l)
        |  GROUP BY 1, 2, 3
        |), lv AS (
        |  SELECT event_type, cap, min(l) AS lvl FROM lev
        |  WHERE cnt <= cap GROUP BY 1, 2
        |), ret AS (
        |  SELECT z.event_type, lv.cap, z.cents, lv.lvl
        |  FROM z JOIN lv USING (event_type) WHERE z.tz >= lv.lvl
        |), ord AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY event_type, cap
        |                            ORDER BY cents) AS rv,
        |         count(*) OVER (PARTITION BY event_type, cap) AS m
        |  FROM ret
        |), est AS (
        |  SELECT event_type, cap, lvl, cast(m AS bigint) AS n_kept,
        |         max(CASE WHEN rv = cast(ceil(m * 0.5) AS bigint)
        |                  THEN cents END) AS p50_cents,
        |         max(CASE WHEN rv = cast(ceil(m * 0.95) AS bigint)
        |                  THEN cents END) AS p95_cents
        |  FROM ord GROUP BY event_type, cap, lvl, m
        |), rk AS (
        |  SELECT e.event_type, e.cap, e.lvl, e.n_kept,
        |         e.p50_cents, e.p95_cents,
        |         count(*) AS n,
        |         sum(CASE WHEN t.cents <= e.p50_cents THEN 1
        |                  ELSE 0 END) AS r50,
        |         sum(CASE WHEN t.cents <= e.p95_cents THEN 1
        |                  ELSE 0 END) AS r95
        |  FROM est e JOIN t ON t.event_type = e.event_type
        |  GROUP BY 1, 2, 3, 4, 5, 6
        |)
        |SELECT event_type, cast(cap AS bigint) AS cap,
        |       cast(lvl AS bigint) AS lvl, n_kept,
        |       p50_cents, p95_cents,
        |       cast(abs(2 * r50 - n) * 10000 // (2 * n) AS bigint)
        |         AS err50_bp,
        |       cast(abs(20 * r95 - 19 * n) * 10000 // (20 * n) AS bigint)
        |         AS err95_bp
        |FROM rk""".stripMargin),

    // QUANTILE-SKETCH PARTIALS STORE — the serving twin: one 256-cap
    // sketch per (event_type, day) persisted to parquet (O(days ×
    // types × cap) longs), then ANY day-range slice is served by an
    // O(cap) graft_qsketch_merge of the partials in range (here the
    // trailing 7 observed days) — never a rescan of events. The merge
    // is LOSSLESS (minimal-level identity, see QSketch): the merged
    // sketch is bit-identical to sketching the sliced raw rows from
    // scratch, which is exactly what the oracle computes — contents
    // included. Supersedes rel_quantile_partials' log2-bucket serving
    // with distribution-independent rank error.
    Query("rel_qsketch_store", (s, dir) => {
      val cap = 256
      val store = graft.streaming.StreamGate
        .scratchDir("stage", "qsketchstore")
      events(s, dir).select(col("event_type"),
          unix_date(to_date(col("ts"))).cast("long").as("day"),
          thetaHash(col("event_id")).as("h"),
          expr("cast(round(value * 1000) AS bigint)").as("cents"))
        .groupBy("event_type", "day")
        .agg(graft.functions.GraftFunctions
          .qsketch(col("h"), col("cents"), cap).as("qs"))
        .write.mode("overwrite").parquet(store)
      try {
        val parts = s.read.parquet(store)
        val span = parts.agg(max(col("day")).as("d1"))
        parts.crossJoin(broadcast(span))
          .where(col("day") > col("d1") - 7)
          .groupBy("event_type")
          .agg(graft.functions.GraftFunctions
            .qsketchMerge(col("qs"), cap).as("qs"))
          .transform(qsketchReadout("event_type"))
          // eager: the scratch store is deleted on exit
          .localCheckpoint(true)
      } finally graft.streaming.StreamGate.deleteRecursively(store)
    },
      // lossless merge identity: the trailing-7-day merge of per-day
      // partials equals the from-scratch sketch of the sliced raw rows —
      // same definition as above, applied after the day cut
      """WITH t0 AS (
        |  SELECT event_type, (ts::DATE - DATE '1970-01-01') AS day,
        |         cast(round(value * 1000) AS bigint) AS cents,
        |         ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT
        |           AS h
        |  FROM events
        |), sp AS (SELECT max(day) AS d1 FROM t0),
        |t AS (
        |  SELECT event_type, cents, h FROM t0, sp WHERE day > sp.d1 - 7
        |), z AS (
        |  SELECT *, CASE WHEN h = 0 THEN 60
        |                 ELSE bit_count(CAST((~h) & (h - 1) AS BIGINT))
        |            END AS tz
        |  FROM t
        |), lev AS (
        |  SELECT event_type, l, count(*) FILTER (WHERE tz >= l) AS cnt
        |  FROM z CROSS JOIN (SELECT unnest(generate_series(0, 60)) AS l)
        |  GROUP BY 1, 2
        |), lv AS (
        |  SELECT event_type, min(l) AS lvl FROM lev WHERE cnt <= 256
        |  GROUP BY 1
        |), ret AS (
        |  SELECT z.event_type, z.h, z.cents, lv.lvl
        |  FROM z JOIN lv USING (event_type) WHERE z.tz >= lv.lvl
        |), ord AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY cents, h) AS rv,
        |         count(*) OVER (PARTITION BY event_type) AS m
        |  FROM ret
        |)
        |SELECT event_type, cast(lvl AS bigint) AS lvl,
        |       cast(m AS bigint) AS n_kept,
        |       max(CASE WHEN rv = cast(ceil(m * 0.5) AS bigint)
        |                THEN cents END) AS p50_cents,
        |       max(CASE WHEN rv = cast(ceil(m * 0.95) AS bigint)
        |                THEN cents END) AS p95_cents,
        |       lvl::VARCHAR || ';' ||
        |         string_agg(h::VARCHAR || ';' || cents::VARCHAR, ';'
        |                    ORDER BY h, cents) AS contents
        |FROM ord GROUP BY event_type, lvl, m""".stripMargin),

    // Containment estimate (click ⊆ purchase direction): the ASYMMETRIC
    // similarity |A∩B|/|A| — below θ both retained sets are complete,
    // so the ratio of in-sample counts estimates it directly. The
    // segment-level twin of dedup_containment_pairs' doc-in-doc shape.
    Query("rel_theta_containment", (s, dir) => {
      val k = 128
      val base = events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
            .cast("long").as("key"))
      val sk = base.select(col("event_type"), thetaHash(col("key")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      val a = sk.where(col("event_type") === "click")
        .select(col("ks").as("ka")).limit(1)
      val b = sk.where(col("event_type") === "purchase")
        .select(col("ks").as("kb")).limit(1)
      a.crossJoin(broadcast(b))
        .withColumn("theta",
          least(kmvTheta(col("ka"), k), kmvTheta(col("kb"), k)))
        .withColumn("s_inter",
          size(expr("filter(array_intersect(ka, kb), x -> x < theta)"))
            .cast("long"))
        .withColumn("s_a",
          size(expr("filter(ka, x -> x < theta)")).cast("long"))
        .select(col("s_inter"), col("s_a"),
          round(col("s_inter").cast("double") / col("s_a").cast("double"),
            6).as("containment"))
    },
      """WITH b AS (
        |  SELECT DISTINCT event_type,
        |         user_id * 100000 + (ts::DATE - DATE '1970-01-01') AS key
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), h AS (
        |  SELECT event_type,
        |         ('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM b
        |), r AS (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h)
        |           AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h
        |), k AS (
        |  SELECT event_type, h, nd FROM r WHERE rn <= 128
        |), t AS (
        |  SELECT min(th) AS theta FROM (
        |    SELECT CASE WHEN max(nd) < 128 THEN 1152921504606846976
        |                ELSE max(h) END AS th
        |    FROM k GROUP BY event_type)
        |), si AS (
        |  SELECT count(*) AS s_inter
        |  FROM (SELECT h FROM k WHERE event_type = 'click') ka
        |  JOIN (SELECT h FROM k WHERE event_type = 'purchase') kb
        |    USING (h), t
        |  WHERE h < t.theta
        |), sa AS (
        |  SELECT count(*) AS s_a
        |  FROM (SELECT h FROM k WHERE event_type = 'click') ka, t
        |  WHERE ka.h < t.theta
        |)
        |SELECT si.s_inter, sa.s_a,
        |       round(si.s_inter::DOUBLE / sa.s_a::DOUBLE, 6)
        |         AS containment
        |FROM si, sa""".stripMargin),

    // Pairwise segment-similarity MATRIX from sketches: theta-Jaccard
    // for every event-type pair — below the shared θ both retained sets
    // are complete distinct samples, so J ≈ |kA∩kB < θ| / |kA∪kB < θ|.
    // The 100 TB shape: 5 sketches built in one pass, all 10 pairwise
    // similarities from O(k) array algebra on the executors — an exact
    // pairwise-Jaccard matrix would cost one corpus-wide distinct
    // shuffle PER PAIR.
    Query("rel_theta_jaccard_matrix", (s, dir) => {
      val k = 128
      val base = events(s, dir).select(col("event_type"),
        (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
          .cast("long").as("key"))
      val sk = base.select(col("event_type"), thetaHash(col("key")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      val a = sk.select(col("event_type").as("ta"), col("ks").as("ka"))
      val b = sk.select(col("event_type").as("tb"), col("ks").as("kb"))
      a.crossJoin(broadcast(b)).where(col("ta") < col("tb"))
        .withColumn("theta",
          least(kmvTheta(col("ka"), k), kmvTheta(col("kb"), k)))
        .withColumn("s_inter",
          size(expr("filter(array_intersect(ka, kb), x -> x < theta)"))
            .cast("long"))
        .withColumn("s_union",
          size(expr("filter(array_union(ka, kb), x -> x < theta)"))
            .cast("long"))
        .select(col("ta"), col("tb"), col("s_inter"), col("s_union"),
          round(col("s_inter").cast("double") /
            col("s_union").cast("double"), 6).as("jacc_est"))
    },
      """WITH b AS (
        |  SELECT DISTINCT event_type,
        |         user_id * 100000 + (ts::DATE - DATE '1970-01-01') AS key
        |  FROM events
        |), h AS (
        |  SELECT event_type,
        |         ('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM b
        |), r AS (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h)
        |           AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h
        |), k AS (
        |  SELECT event_type, h FROM r WHERE rn <= 128
        |), t AS (
        |  SELECT event_type,
        |         CASE WHEN max(nd) < 128 THEN 1152921504606846976
        |              ELSE max(h) END AS th
        |  FROM (SELECT event_type, h, nd FROM r WHERE rn <= 128)
        |  GROUP BY 1
        |), p AS (
        |  SELECT a.event_type AS ta, bb.event_type AS tb,
        |         least(a.th, bb.th) AS theta
        |  FROM t a JOIN t bb ON a.event_type < bb.event_type
        |), si AS (
        |  SELECT p.ta, p.tb, count(*) AS s_inter
        |  FROM p JOIN k ka ON ka.event_type = p.ta AND ka.h < p.theta
        |         JOIN k kb ON kb.event_type = p.tb AND kb.h = ka.h
        |  GROUP BY 1, 2
        |), su AS (
        |  SELECT p.ta, p.tb, count(DISTINCT u.h) AS s_union
        |  FROM p JOIN k u ON u.event_type IN (p.ta, p.tb)
        |                 AND u.h < p.theta
        |  GROUP BY 1, 2
        |)
        |SELECT p.ta, p.tb,
        |       coalesce(si.s_inter, 0) AS s_inter, su.s_union,
        |       round(coalesce(si.s_inter, 0)::DOUBLE
        |             / su.s_union::DOUBLE, 6) AS jacc_est
        |FROM p
        |LEFT JOIN si ON si.ta = p.ta AND si.tb = p.tb
        |JOIN su ON su.ta = p.ta AND su.tb = p.tb""".stripMargin),
  )
}
