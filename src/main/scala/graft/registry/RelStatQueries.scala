package graft
package registry

import SparkEntry.{tbl, events}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Statistics and model evaluation: tests, estimators, robust statistics,
  * forecasting and classifier/ranking metrics. */
private[graft] object RelStatQueries {

  /** Shared modulus and per-replica affine mix constants for
    * rel_bootstrap_ci: replica b remixes the row's md5 seed as
    * (a_b·x + c_b) mod (2³¹−1) with (a_b, c_b) = (48271^(b+1),
    * 69621^(b+1)) mod P — generated once here and interpolated
    * verbatim into BOTH the Spark plan and the DuckDB oracle so the
    * "random" weights are the same bits on both engines. */
  private[graft] val BootP = 2147483647L

  private[graft] val bootMix: Seq[(Long, Long, Long)] = {
    def powmod(g: Long, e: Long): Long = {
      var r = 1L; var b = g % BootP; var n = e
      while (n > 0) {
        if ((n & 1) == 1) r = r * b % BootP
        b = b * b % BootP; n >>= 1
      }
      r
    }
    (0 until 20).map(b =>
      (b.toLong, powmod(48271L, b + 1L), powmod(69621L, b + 1L)))
  }

  val queries: Seq[Query] = Seq(

    // Cohort retention matrix — first-activity-day cohorts x day offsets,
    // counting distinct users active at each offset: the standard product-
    // analytics retention query. Two aggregations and one key join, all
    // shuffling on user/cohort keys; dates carried as epoch-day integers
    // so the compare is engine-neutral.
    Query("rel_retention_cohorts", (s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = e.groupBy("user_id").agg(min(col("day")).as("cohort"))
      e.join(first, "user_id")
        .select(
          datediff(col("cohort"), to_date(lit("1970-01-01")))
            .cast("long").as("cohort_day"),
          datediff(col("day"), col("cohort")).cast("long").as("offset_days"),
          col("user_id"))
        .distinct()
        .groupBy("cohort_day", "offset_days")
        .agg(count(lit(1)).as("n_users"))
    },
      """WITH e AS (
        |  SELECT user_id, cast(ts AS date) AS day FROM events
        |), f AS (
        |  SELECT user_id, min(day) AS cohort FROM e GROUP BY user_id
        |), a AS (
        |  SELECT DISTINCT
        |         date_diff('day', DATE '1970-01-01', f.cohort) AS cohort_day,
        |         date_diff('day', f.cohort, e.day) AS offset_days,
        |         e.user_id
        |  FROM e JOIN f USING (user_id)
        |)
        |SELECT cast(cohort_day AS bigint) AS cohort_day,
        |       cast(offset_days AS bigint) AS offset_days,
        |       count(*) AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin),

    // Conversion funnel (view -> click -> purchase) with ORDER enforced:
    // a step counts only when its first occurrence follows the previous
    // step's first occurrence — one conditional-min aggregation per user,
    // then one row of funnel counts. No self-joins, no window over raw
    // events; the per-user state is three timestamps.
    Query("rel_funnel_steps", (s, dir) => {
      val us = events(s, dir).groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts")))
          .as("t_purchase"))
      us.agg(
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("t_view").isNotNull && col("t_click") > col("t_view"),
          1L).otherwise(0L)).as("n_view_click"),
        sum(when(col("t_view").isNotNull && col("t_click") > col("t_view")
          && col("t_purchase") > col("t_click"), 1L).otherwise(0L))
          .as("n_full_funnel"))
    },
      // the strict > comparisons drop users whose later step never happened
      // (NULL compares unknown -> not counted) on both engines; micros
      // precision on BOTH sides — comparing raw TIMESTAMP_NS could flip
      // pairs that sit within 1 us of each other
      """WITH us AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |           AS t_view,
        |         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |           AS t_click,
        |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |           AS t_purchase
        |  FROM events GROUP BY user_id
        |)
        |SELECT sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |         AS n_view,
        |       sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
        |                THEN 1 ELSE 0 END)::BIGINT AS n_view_click,
        |       sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
        |                AND t_purchase > t_click
        |                THEN 1 ELSE 0 END)::BIGINT AS n_full_funnel
        |FROM us""".stripMargin),

    // Exact percentiles per key — distributed range-narrowing selection
    // (ops/Selection.quantileCont), NOT built-in percentile(): the
    // built-in buffers every distinct group value in one task (its
    // TypedImperativeAggregate OpenHashMap), the one remaining
    // scale-killer plan this registry had. Bounded memory everywhere;
    // same quantile_cont contract, round(6) absorbs interpolation ulp.
    Query("rel_percentiles", (s, dir) => {
      val q = graft.ops.Selection.quantileCont(events(s, dir), "value",
        Seq("event_type"), Seq(0.5, 0.9), qNames = Seq("p50", "p90"))
      q.select(col("event_type"), round(col("p50"), 6).as("p50"),
        round(col("p90"), 6).as("p90"), col("cnt"))
    },
      // cnt is the selection's own non-null count — count(value), not
      // count(*) (identical on this table, but the contract is explicit)
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.9), 6) AS p90,
        |       count(value) AS cnt
        |FROM events GROUP BY event_type""".stripMargin),

    // Exact grouped quantile ladder on the duplicate-heavy integral
    // column (l_quantity: 50 distinct values x millions of rows — the
    // tie-plateau regime where the narrowing collapses to ulp-scale
    // ranges and resolves by bounded distinct-gather)
    Query("rel_exact_quantiles", (s, dir) => {
      val q = graft.ops.Selection.quantileCont(
        tbl(s, dir, "lineitem"), "l_quantity", Seq("l_returnflag"),
        Seq(0.25, 0.5, 0.75, 0.99),
        qNames = Seq("p25", "p50", "p75", "p99"))
      q.select(col("l_returnflag"), round(col("p25"), 6).as("p25"),
        round(col("p50"), 6).as("p50"), round(col("p75"), 6).as("p75"),
        round(col("p99"), 6).as("p99"), col("cnt"))
    },
      """SELECT l_returnflag,
        |       round(quantile_cont(cast(l_quantity AS double), 0.25), 6) AS p25,
        |       round(quantile_cont(cast(l_quantity AS double), 0.5), 6) AS p50,
        |       round(quantile_cont(cast(l_quantity AS double), 0.75), 6) AS p75,
        |       round(quantile_cont(cast(l_quantity AS double), 0.99), 6) AS p99,
        |       count(l_quantity) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // WINSORIZED robust statistics — outlier-clipped mean, the standard
    // robust aggregate over a heavy-tailed metric column: exact per-key
    // [p05, p95] bounds from the bounded-memory selection operator
    // (ops/Selection.quantileCont — never a per-group value buffer),
    // broadcast back (model-sized: one row per group), clip, aggregate.
    // Bounds rounded to 6 decimals on BOTH sides before clipping (the
    // interpolation's last ulp may differ across engines); the clipped
    // mean goes through an exact decimal sum (order-insensitive) with
    // the final division in double on both sides.
    Query("rel_winsorized_stats", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val q = graft.ops.Selection.quantileCont(li, "l_extendedprice",
        Seq("l_returnflag"), Seq(0.05, 0.95), qNames = Seq("qlo", "qhi"))
        .select(col("l_returnflag").as("rf"),
          round(col("qlo"), 6).as("lo"), round(col("qhi"), 6).as("hi"))
      li.join(broadcast(q), col("l_returnflag") === col("rf"))
        .select(col("l_returnflag"), col("lo"), col("hi"),
          least(greatest(col("l_extendedprice"), col("lo")), col("hi"))
            .as("w"),
          col("l_extendedprice").as("x"))
        .groupBy(col("l_returnflag"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("x") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("x") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
          round(sum(col("w").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("w_avg"))
    },
      // bounds rounded to 6 decimals BEFORE clipping on both sides; the
      // clipped mean's sum in DECIMAL (order-insensitive), division in
      // double — same literal sequence as the Spark side
      """WITH q AS (
        |  SELECT l_returnflag AS rf,
        |         round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
        |         round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l_returnflag, lo, hi,
        |       count(*)::BIGINT AS n,
        |       sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)::BIGINT
        |         AS n_clip_lo,
        |       sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)::BIGINT
        |         AS n_clip_hi,
        |       round(CAST(sum(CAST(least(greatest(l_extendedprice, lo), hi)
        |                          AS DECIMAL(18,6))) AS DOUBLE)
        |             / count(*), 6) AS w_avg
        |FROM lineitem JOIN q ON l_returnflag = rf
        |GROUP BY 1, 2, 3""".stripMargin),

    // ROBUST OUTLIER DETECTION via MAD (median absolute deviation) —
    // the robust z-score: per key, med = median(value), mad =
    // median(|value - med|), outlier iff |value - med| > 3σ-equivalent
    // (3 × 1.4826 × mad = 4.4478 × mad). BOTH medians run through the
    // bounded-memory selection operator (two chained quantileCont calls
    // — never a per-group value buffer); deviations re-derive from the
    // 6-decimal-rounded medians identically on both sides, so the
    // threshold comparison is bit-deterministic cross-engine.
    Query("rel_outlier_mad", (s, dir) => {
      val ev = events(s, dir).select(col("event_type"), col("value"))
      val med = graft.ops.Selection.quantileCont(ev, "value",
        Seq("event_type"), Seq(0.5), qNames = Seq("med"))
        .select(col("event_type").as("t1"), round(col("med"), 6).as("med"))
      val dev = ev.join(broadcast(med), col("event_type") === col("t1"))
        .select(col("event_type"), col("med"),
          abs(col("value") - col("med")).as("ad"))
        .localCheckpoint(false)
      val mad = graft.ops.Selection.quantileCont(dev, "ad",
        Seq("event_type"), Seq(0.5), qNames = Seq("mad"))
        .select(col("event_type").as("t2"), round(col("mad"), 6).as("mad"))
      dev.join(broadcast(mad), col("event_type") === col("t2"))
        .groupBy(col("event_type"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ad") > col("mad") * lit(4.4478), 1L)
            .otherwise(0L)).as("n_outliers"))
    },
      // both medians via quantile_cont, rounded to 6 before deviations /
      // threshold on both sides; the 4.4478 literal cast to DOUBLE (a bare
      // DuckDB numeric literal is DECIMAL and would flip the comparison
      // arithmetic)
      """WITH med AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY 1
        |), dev AS (
        |  SELECT e.event_type, med, abs(value - med) AS ad
        |  FROM events e JOIN med USING (event_type)
        |), mad AS (
        |  SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad
        |  FROM dev GROUP BY 1
        |)
        |SELECT d.event_type, d.med, m.mad,
        |       count(*)::BIGINT AS n,
        |       sum(CASE WHEN ad > mad * CAST(4.4478 AS DOUBLE)
        |                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY 1, 2, 3""".stripMargin),

    // EXACT WEIGHTED QUANTILES — importance-weighted statistics
    // (quantity-weighted price percentiles; the corpus analogue is
    // token-weighted document metrics): Selection.weightedQuantile, the
    // weighted twin of the bounded-memory narrowing operator. Integer
    // weights keep every rank quantity an exact long, and the answer is
    // an actual data value — the cross-engine compare is EXACT, no
    // rounding discipline needed.
    Query("rel_weighted_quantiles", (s, dir) =>
      graft.ops.Selection.weightedQuantile(tbl(s, dir, "lineitem"),
        "l_extendedprice", "l_quantity", Seq("l_returnflag"),
        Seq(0.25, 0.5, 0.9), qNames = Seq("p25_w", "p50_w", "p90_w"))
        .select(col("l_returnflag"), col("p25_w"), col("p50_w"),
          col("p90_w"), col("total_w")),
      // weighted lower quantile: smallest v whose cumulative weight (in
      // value order) reaches k = max(1, ceil(q*W)) — k is one correctly-
      // rounded double product + ceil, bit-identical on both engines
      """WITH t AS (
        |  SELECT l_returnflag AS rf, l_extendedprice AS v,
        |         cast(l_quantity AS BIGINT) AS w
        |  FROM lineitem
        |),
        |agg AS (SELECT rf, v, sum(w) AS wv FROM t GROUP BY 1, 2),
        |c AS (
        |  SELECT rf, v, sum(wv) OVER (PARTITION BY rf ORDER BY v) AS cw
        |  FROM agg
        |),
        |tot AS (SELECT rf, sum(w) AS tw FROM t GROUP BY 1),
        |k AS (
        |  SELECT rf, tw,
        |         greatest(1, cast(ceil(0.25 * tw::DOUBLE) AS BIGINT)) AS k25,
        |         greatest(1, cast(ceil(0.5 * tw::DOUBLE) AS BIGINT)) AS k50,
        |         greatest(1, cast(ceil(0.9 * tw::DOUBLE) AS BIGINT)) AS k90
        |  FROM tot
        |)
        |SELECT k.rf AS l_returnflag,
        |       (SELECT min(v) FROM c WHERE c.rf = k.rf AND cw >= k25)
        |         AS p25_w,
        |       (SELECT min(v) FROM c WHERE c.rf = k.rf AND cw >= k50)
        |         AS p50_w,
        |       (SELECT min(v) FROM c WHERE c.rf = k.rf AND cw >= k90)
        |         AS p90_w,
        |       cast(tw AS BIGINT) AS total_w
        |FROM k""".stripMargin),

    // MULTI-TOUCH ATTRIBUTION (linear) — every purchase splits one unit
    // of credit equally across the same user's views in the prior 30
    // minutes; per-user credit rollup. The join is per-user equi +
    // bounded time residual (fan-out = a user's own view density, never
    // cross-user), credit shares come from an exact per-purchase count,
    // and only the final division is floating (on both sides).
    Query("rel_multi_touch_attrib", (s, dir) => {
      val e = events(s, dir)
      val views = e.where(col("event_type") === "view")
        .select(col("user_id").as("v_user"),
          unix_micros(col("ts")).as("v_t"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          unix_micros(col("ts")).as("p_t"))
      val pairs = purchases.join(views,
        col("p_user") === col("v_user") &&
          col("v_t") <= col("p_t") &&
          col("v_t") >= col("p_t") - lit(1800000000L))
      val k = pairs.groupBy(col("p_id")).agg(count(lit(1)).as("k"))
      pairs.join(k, "p_id")
        .groupBy(col("p_user").as("user_id"))
        .agg(count(lit(1)).as("n_touches"),
          round(sum(lit(1.0) / col("k").cast("double")), 6)
            .as("credit"))
    },
      """WITH v AS (
        |  SELECT user_id AS v_user, epoch_us(ts) AS v_t FROM events
        |  WHERE event_type = 'view'
        |), p AS (
        |  SELECT event_id AS p_id, user_id AS p_user, epoch_us(ts) AS p_t
        |  FROM events WHERE event_type = 'purchase'
        |), pairs AS (
        |  SELECT p_id, p_user FROM p JOIN v
        |    ON p_user = v_user AND v_t <= p_t
        |   AND v_t >= p_t - 1800000000
        |), k AS (SELECT p_id, count(*)::BIGINT AS k FROM pairs GROUP BY 1)
        |SELECT p_user AS user_id, count(*)::BIGINT AS n_touches,
        |       round(sum(CAST(1.0 AS DOUBLE) / k::DOUBLE), 6) AS credit
        |FROM pairs JOIN k USING (p_id)
        |GROUP BY 1""".stripMargin),

    // TIME-DECAYED COUNTERS — exp(-(age)/τ) freshness weights per key
    // (τ = 1 day), the feature-store recency signal. The "now" anchor is
    // the corpus max instant: ONE-row aggregate broadcast via the
    // sanctioned crossJoin(broadcast(...)) shape, never a driver
    // collect in the plan. Double exp-sum rounded to 6 (positive terms
    // of one magnitude; order error orders below the rounding grain).
    Query("rel_decayed_counts", (s, dir) => {
      val e = events(s, dir).select(col("event_type"),
        unix_micros(col("ts")).as("t"))
      val now = e.agg(max(col("t")).as("t_now"))
      e.crossJoin(broadcast(now))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(exp((col("t") - col("t_now")).cast("double") /
            lit(86400000000.0))), 6).as("decayed"))
    },
      """WITH e AS (SELECT event_type, epoch_us(ts) AS t FROM events),
        |n AS (SELECT max(t) AS t_now FROM e)
        |SELECT event_type, count(*)::BIGINT AS n,
        |       round(sum(exp((t - t_now)::DOUBLE
        |                     / CAST(86400000000 AS DOUBLE))), 6)
        |         AS decayed
        |FROM e CROSS JOIN n
        |GROUP BY 1""".stripMargin),

    // GROUPED LINEAR REGRESSION in closed form — per-key trend
    // (slope/intercept of value vs time) from ONE aggregation of exact
    // integer sums: x = whole seconds since the key's first event
    // (integer div — exact), y = milli-units. n, Σx, Σy fit longs, but
    // the SECOND moments do not at scale — Σx² ≤ n·span² passes
    // Long.Max at ~100 rows for a decade span (x ≈ 3e8 → x² ≈ 1e17),
    // so each long product is cast to decimal(38,0) BEFORE summing
    // (the product itself always fits a long; only the sum widens).
    // DuckDB's oracle sums in int128, so this also keeps the two
    // engines exact-equal instead of diverging on a silent non-ANSI
    // wraparound. Still ONE partial-aggregated hash aggregate.
    // The closed-form division happens once per group on
    // exact sums cast to double in the same literal order both sides.
    // No window, no per-group buffers — regression at 100 TB is one
    // hash aggregate.
    Query("rel_regression_per_key", (s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
          unix_micros(col("ts")).as("t"),
          round(col("value") * 1000).cast("long").as("y"))
        .where(col("y").isNotNull)
      val m = ev.groupBy(col("event_type").as("et"))
        .agg(min(col("t")).as("t0"))
      val d = ev.join(broadcast(m), col("event_type") === col("et"))
        .select(col("event_type"),
          // integer div, not `/` + cast: double division can round
          // x.999999 up across the integer boundary; div is exact
          expr("(t - t0) div 1000000").as("x"), col("y"))
      val a = d.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
      val nD = col("n").cast("double"); val sxD = col("sx").cast("double")
      val syD = col("sy").cast("double")
      val slope = (nD * col("sxy").cast("double") - sxD * syD) /
        (nD * col("sxx").cast("double") - sxD * sxD)
      a.select(col("event_type"), col("n"),
        round(slope, 9).as("slope"),
        round((syD - slope * sxD) / nD, 6).as("intercept"))
    },
      // exact integer sums (DuckDB bigint sums are int128 — exact), the
      // same closed-form double arithmetic in the same literal order
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS t,
        |         cast(round(value * 1000) AS BIGINT) AS y
        |  FROM events
        |  WHERE round(value * 1000) IS NOT NULL
        |), m AS (
        |  SELECT event_type AS et, min(t) AS t0 FROM e GROUP BY 1
        |), d AS (
        |  SELECT event_type, (t - t0) // 1000000 AS x, y
        |  FROM e JOIN m ON event_type = et
        |), a AS (
        |  SELECT event_type, count(*)::BIGINT AS n,
        |         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |         sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy
        |  FROM d GROUP BY 1
        |)
        |SELECT event_type, n,
        |       round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |             / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE),
        |             9) AS slope,
        |       round((sy::DOUBLE
        |              - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |                 / (n::DOUBLE * sxx::DOUBLE
        |                    - sx::DOUBLE * sx::DOUBLE)) * sx::DOUBLE)
        |             / n::DOUBLE, 6) AS intercept
        |FROM a""".stripMargin),

    // First-order Markov transition matrix over per-user event
    // sequences — the behavior-model / next-event-prediction shape.
    // The lag window is PARTITIONED by user (distributed; no global
    // sort), the pair aggregation is one partial+final hash aggregate,
    // and the per-source totals frame is |types|² rows, so the
    // normalizing join broadcasts. At 100 TB: one partitioned window +
    // one shuffle on a tiny key space.
    Query("rel_markov_transitions", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("t"), col("event_id"))
      val pairs = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("event_id"), col("event_type"))
        .withColumn("src", lag(col("event_type"), 1).over(w))
        .where(col("src").isNotNull)
        .groupBy(col("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("cnt"))
        // |types|² rows; checkpoint so the totals derivation reuses this
        // tiny frame instead of replaying the scan + window + aggregate
        .localCheckpoint(false)
      val tot = pairs.groupBy("src").agg(sum(col("cnt")).as("tot"))
      pairs.join(broadcast(tot), "src")
        .select(col("src"), col("dst"), col("cnt"),
          round(col("cnt").cast("double") / col("tot").cast("double"), 6)
            .as("prob"))
    },
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id, event_type
        |  FROM events
        |), p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY t, event_id) AS src,
        |         event_type AS dst
        |  FROM e
        |), c AS (
        |  SELECT src, dst, count(*)::BIGINT AS cnt
        |  FROM p WHERE src IS NOT NULL GROUP BY 1, 2
        |), tt AS (
        |  SELECT src, sum(cnt)::BIGINT AS tot FROM c GROUP BY 1
        |)
        |SELECT c.src, c.dst, c.cnt,
        |       round(c.cnt::DOUBLE / tt.tot::DOUBLE, 6) AS prob
        |FROM c JOIN tt USING (src)""".stripMargin),

    // Mutual information + chi-squared independence cells for
    // event_type × hour-of-day — the feature-relevance / drift screen.
    // ONE hash aggregate over the data produces the joint contingency
    // table (|types|×24 rows); marginals and N derive from that tiny
    // frame (localCheckpointed once so the events scan runs once), and
    // every cell's MI and chi² term is a pure literal double formula
    // over exact longs — no double SUMMATION anywhere, so the compare
    // is deterministic (per-cell rows, not an order-dependent total).
    Query("rel_mutual_info", (s, dir) => {
      val joint = events(s, dir)
        .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false)
      val rm = joint.groupBy(col("event_type").as("et"))
        .agg(sum(col("cnt")).as("rc"))
      val cm = joint.groupBy(col("hr").as("h"))
        .agg(sum(col("cnt")).as("cc"))
      val n = joint.agg(sum(col("cnt")).as("n"))
      val cD = col("cnt").cast("double"); val nD = col("n").cast("double")
      val rD = col("rc").cast("double"); val ccD = col("cc").cast("double")
      val e = rD * ccD / nD
      joint.join(broadcast(rm), col("event_type") === col("et"))
        .join(broadcast(cm), col("hr") === col("h"))
        .crossJoin(broadcast(n))
        .select(col("event_type"), col("hr"), col("cnt"),
          round(e, 6).as("exp_cnt"),
          round((cD - e) * (cD - e) / e, 6).as("chi2_term"),
          round((cD / nD) * log(cD * nD / (rD * ccD)), 6).as("mi_term"))
    },
      // identical literal per-cell formulas over exact longs; no double
      // summation on either side, so the rounded compare is exact
      """WITH j AS (
        |  SELECT event_type, hour(ts)::BIGINT AS hr, count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2
        |), rm AS (SELECT event_type, sum(cnt)::BIGINT AS rc FROM j GROUP BY 1),
        |cm AS (SELECT hr, sum(cnt)::BIGINT AS cc FROM j GROUP BY 1),
        |nn AS (SELECT sum(cnt)::BIGINT AS n FROM j)
        |SELECT j.event_type, j.hr, j.cnt,
        |       round(rc::DOUBLE * cc::DOUBLE / n::DOUBLE, 6) AS exp_cnt,
        |       round((j.cnt::DOUBLE - rc::DOUBLE * cc::DOUBLE / n::DOUBLE)
        |             * (j.cnt::DOUBLE - rc::DOUBLE * cc::DOUBLE / n::DOUBLE)
        |             / (rc::DOUBLE * cc::DOUBLE / n::DOUBLE), 6) AS chi2_term,
        |       round((j.cnt::DOUBLE / n::DOUBLE)
        |             * ln(j.cnt::DOUBLE * n::DOUBLE
        |                  / (rc::DOUBLE * cc::DOUBLE)), 6) AS mi_term
        |FROM j
        |JOIN rm ON j.event_type = rm.event_type
        |JOIN cm ON j.hr = cm.hr
        |CROSS JOIN nn""".stripMargin),

    // Full Pearson correlation matrix over lineitem's four measures in
    // ONE pass: every first/second moment (4 sums, 4 sum-of-squares, 6
    // cross products) accumulates in a single partial+final hash
    // aggregate — no per-pair scans, no corr() re-reads. Measures are
    // quantized to exact integer units first (cents/hundredths via the
    // portable floor(x+0.5)), per-row products fit longs (< 2^47), and
    // the SUMS widen to decimal(38,0) — Σp² passes Long.Max near 10⁵
    // rows of 7-digit cents, i.e. immediately at scale. The 6
    // correlations then unpivot from the one-row aggregate via a
    // 6-struct explode: at 100 TB this query is exactly one scan + one
    // 15-column aggregation.
    Query("rel_correlation_matrix", (s, dir) => {
      def units(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
        floor(c * scale + 0.5).cast("long")
      val li = tbl(s, dir, "lineitem").select(
        units(col("l_quantity"), 1).as("q"),
        units(col("l_extendedprice"), 100).as("p"),
        units(col("l_discount"), 100).as("d"),
        units(col("l_tax"), 100).as("t"))
      val cols = Seq("q", "p", "d", "t")
      val names = Map("q" -> "quantity", "p" -> "extendedprice",
        "d" -> "discount", "t" -> "tax")
      val sums =
        Seq(count(lit(1)).as("n")) ++
        cols.map(c => sum(col(c).cast("decimal(38,0)")).as(s"s_$c")) ++
        cols.combinations(2).map { case Seq(a, b) =>
          sum((col(a) * col(b)).cast("decimal(38,0)")).as(s"s_${a}_$b")
        } ++
        cols.map(c =>
          sum((col(c) * col(c)).cast("decimal(38,0)")).as(s"s_${c}_$c"))
      val agg = li.agg(sums.head, sums.tail: _*)
      val nD = col("n").cast("double")
      def sD(c: String) = col(s"s_$c").cast("double")
      def sqD(a: String, b: String) = col(s"s_${a}_$b").cast("double")
      def corrOf(a: String, b: String): org.apache.spark.sql.Column =
        round((nD * sqD(a, b) - sD(a) * sD(b)) /
          (sqrt(nD * sqD(a, a) - sD(a) * sD(a)) *
            sqrt(nD * sqD(b, b) - sD(b) * sD(b))), 6)
      val pairs = cols.combinations(2).toSeq.map { case Seq(a, b) =>
        struct(lit(names(a)).as("col_a"), lit(names(b)).as("col_b"),
          corrOf(a, b).as("corr"))
      }
      agg.select(col("n"), explode(array(pairs: _*)).as("pr"))
        .select(col("n"), col("pr.col_a").as("col_a"),
          col("pr.col_b").as("col_b"), col("pr.corr").as("corr"))
    },
      // exact integer moments (DuckDB sums int128 natively — matching the
      // Spark side's decimal(38,0) widening), double math in the same
      // literal order
      """WITH u AS (
        |  SELECT floor(l_quantity * 1 + 0.5)::BIGINT AS q,
        |         floor(l_extendedprice * 100 + 0.5)::BIGINT AS p,
        |         floor(l_discount * 100 + 0.5)::BIGINT AS d,
        |         floor(l_tax * 100 + 0.5)::BIGINT AS t
        |  FROM lineitem
        |), a AS (
        |  SELECT count(*)::BIGINT AS n,
        |         sum(q) AS s_q, sum(p) AS s_p, sum(d) AS s_d, sum(t) AS s_t,
        |         sum(q * q) AS s_qq, sum(p * p) AS s_pp,
        |         sum(d * d) AS s_dd, sum(t * t) AS s_tt,
        |         sum(q * p) AS s_qp, sum(q * d) AS s_qd,
        |         sum(q * t) AS s_qt, sum(p * d) AS s_pd,
        |         sum(p * t) AS s_pt, sum(d * t) AS s_dt
        |  FROM u
        |)
        |SELECT n, col_a, col_b,
        |       round((n::DOUBLE * sab - sa * sb)
        |             / (sqrt(n::DOUBLE * saa - sa * sa)
        |                * sqrt(n::DOUBLE * sbb - sb * sb)), 6) AS corr
        |FROM (
        |  SELECT n, 'quantity' AS col_a, 'extendedprice' AS col_b,
        |         s_qp::DOUBLE AS sab, s_q::DOUBLE AS sa, s_p::DOUBLE AS sb,
        |         s_qq::DOUBLE AS saa, s_pp::DOUBLE AS sbb FROM a
        |  UNION ALL
        |  SELECT n, 'quantity', 'discount', s_qd::DOUBLE, s_q::DOUBLE,
        |         s_d::DOUBLE, s_qq::DOUBLE, s_dd::DOUBLE FROM a
        |  UNION ALL
        |  SELECT n, 'quantity', 'tax', s_qt::DOUBLE, s_q::DOUBLE,
        |         s_t::DOUBLE, s_qq::DOUBLE, s_tt::DOUBLE FROM a
        |  UNION ALL
        |  SELECT n, 'extendedprice', 'discount', s_pd::DOUBLE, s_p::DOUBLE,
        |         s_d::DOUBLE, s_pp::DOUBLE, s_dd::DOUBLE FROM a
        |  UNION ALL
        |  SELECT n, 'extendedprice', 'tax', s_pt::DOUBLE, s_p::DOUBLE,
        |         s_t::DOUBLE, s_pp::DOUBLE, s_tt::DOUBLE FROM a
        |  UNION ALL
        |  SELECT n, 'discount', 'tax', s_dt::DOUBLE, s_d::DOUBLE,
        |         s_t::DOUBLE, s_dd::DOUBLE, s_tt::DOUBLE FROM a
        |)""".stripMargin),

    // Benford first-digit audit over order totals — the fraud/data-
    // quality screen: observed leading-digit shares vs the Benford
    // expectation log10(1+1/d). ONE hash aggregate to 9 rows; the total
    // derives from the checkpointed digit frame (no second scan) and
    // broadcasts back. Every per-digit stat is a literal double formula
    // over exact longs.
    Query("rel_benford_profile", (s, dir) => {
      val digits = tbl(s, dir, "orders")
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .localCheckpoint(false)
      val tot = digits.agg(sum(col("n")).as("total"))
      val obs = col("n").cast("double") / col("total").cast("double")
      val exp9 = log(10.0, lit(1.0) + lit(1.0) / col("digit")
        .cast("double"))
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          round(obs, 6).as("obs_p"),
          round(exp9, 6).as("exp_p"),
          round(obs - exp9, 6).as("dev"))
    },
      """WITH d AS (
        |  SELECT substr(floor(o_totalprice)::BIGINT::VARCHAR, 1, 1)::BIGINT
        |           AS digit,
        |         count(*)::BIGINT AS n
        |  FROM orders GROUP BY 1
        |), t AS (SELECT sum(n)::BIGINT AS total FROM d)
        |SELECT digit, n,
        |       round(n::DOUBLE / total::DOUBLE, 6) AS obs_p,
        |       round(log10(1.0::DOUBLE + 1.0::DOUBLE / digit::DOUBLE), 6)
        |         AS exp_p,
        |       round(n::DOUBLE / total::DOUBLE
        |             - log10(1.0::DOUBLE + 1.0::DOUBLE / digit::DOUBLE), 6)
        |         AS dev
        |FROM d CROSS JOIN t""".stripMargin),

    // CUSUM drift screen over the hourly event-count series: the
    // running deviation from the global mean (S_t = cumsum - t*mu),
    // the classic change-point indicator. One data-sized hash
    // aggregate shrinks the stream to O(hours); the global running
    // sum over that tiny frame is exactly the shape the session
    // extension rewrites to the distributed GlobalScan (no
    // single-partition window), and S_t stays exact-integer until the
    // one t*mu product (two exact ints divided once — deterministic).
    Query("rel_cusum_hourly", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy("hr")
      val h = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      h.crossJoin(broadcast(
          h.agg(sum(col("cnt")).as("total"), count(lit(1)).as("n"))))
        .select(col("hr"), col("cnt"),
          sum(col("cnt")).over(w.rowsBetween(Long.MinValue, 0)).as("run"),
          row_number().over(w).as("rn"),
          col("total"), col("n"))
        .select(
          date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("cnt"),
          round(col("run") -
            col("rn") * (col("total").cast("double") / col("n")), 6)
            .as("cusum"))
    },
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hr, count(*) AS cnt
        |  FROM events GROUP BY 1
        |), t AS (SELECT sum(cnt) AS total, count(*) AS n FROM h),
        |r AS (
        |  SELECT hr, cnt,
        |         sum(cnt) OVER (ORDER BY hr) AS run,
        |         row_number() OVER (ORDER BY hr) AS rn
        |  FROM h
        |)
        |SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
        |       cast(cnt AS BIGINT) AS cnt,
        |       round(run - rn * (cast(total AS DOUBLE) / n), 6) AS cusum
        |FROM r CROSS JOIN t""".stripMargin),

    // Two-sample Kolmogorov-Smirnov test (purchase vs click values) —
    // the distribution-SHAPE twin of rel_mann_whitney's location test.
    // D = max_x |F1(x) - F2(x)|, evaluated EXACTLY: the stream
    // aggregates to DISTINCT values (hash agg), TWO stacked GlobalScan
    // prefix sums over the same value order turn per-value counts into
    // both cumulative ECDFs (two-pass distributed, no single-partition
    // window; the second scan reuses the first's range partitioning),
    // and the max deviation folds out of one aggregate in EXACT
    // integer arithmetic — |n2·cumA − n1·cumB| as decimal(38,0) =
    // DuckDB's int128 — divided by n1·n2 ONCE at the end. Both ECDFs
    // step only at observed values, so the max over distinct values IS
    // the supremum.
    Query("rel_ks_test", (s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val d = events(s, dir)
        .where(col("event_type").isin("purchase", "click"))
        .select(col("value").as("v"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("ga"))
        .groupBy("v")
        .agg(sum(col("ga")).as("na"), count(lit(1)).as("n"))
        .localCheckpoint(false) // feeds the scan chain AND the totals
      val cumA = graft.plans.GlobalScan.runningSum(d, "na", "v" -> false)
        .withColumnRenamed("running", "cum_a")
      val cum = graft.plans.GlobalScan
        .runningSum(cumA, "n", "v" -> false)
        .withColumnRenamed("running", "cum_n")
      val tot = d.agg(sum(col("na")).as("n1"),
        (sum(col("n")) - sum(col("na"))).as("n2"))
      val dev = abs(d38(col("n2")) * d38(col("cum_a")) -
        d38(col("n1")) * (d38(col("cum_n")) - d38(col("cum_a"))))
      val n1d = col("n1").cast("double")
      val n2d = col("n2").cast("double")
      val ksd = col("dnum").cast("double") / (n1d * n2d)
      cum.crossJoin(broadcast(tot))
        .groupBy("n1", "n2").agg(max(dev).as("dnum"))
        .select(col("n1"), col("n2"), round(ksd, 6).as("ks_d"),
          round(sqrt(n1d * n2d / (n1d + n2d)) * ksd, 6).as("ks_stat"))
    },
      """WITH s AS (
        |  SELECT value AS v,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |           AS ga
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |), d AS (
        |  SELECT v, sum(ga) AS na, count(*) AS n FROM s GROUP BY 1
        |), t AS (
        |  SELECT sum(na) AS n1, sum(n) - sum(na) AS n2 FROM d
        |), r AS (
        |  SELECT v, sum(na) OVER (ORDER BY v) AS cum_a,
        |         sum(n) OVER (ORDER BY v) AS cum_n
        |  FROM d
        |), m AS (
        |  SELECT max(abs(CAST(n2 AS HUGEINT) * cum_a -
        |                 CAST(n1 AS HUGEINT) * (cum_n - cum_a)))
        |           AS dnum
        |  FROM r CROSS JOIN t
        |)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |       round(CAST(dnum AS DOUBLE) /
        |             (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)
        |         AS ks_d,
        |       round(sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) /
        |                  (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) *
        |             CAST(dnum AS DOUBLE) /
        |             (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)
        |         AS ks_stat
        |FROM m CROSS JOIN t""".stripMargin),

    // Kaplan-Meier survival curve: per-user time from first signup to
    // first subsequent error (death), censored at the corpus horizon.
    // Scale shape: ONE per-user aggregate shrinks the stream to a
    // users-sized frame, a second hash aggregate shrinks that to
    // O(distinct durations); the at-risk counts AND the survival
    // product both come from GlobalScan prefix sums over that tiny
    // frame (no single-partition window anywhere). The product is
    // carried as an exact-integer prefix sum of per-row log-terms
    // (round(ln(1−dᵢ/nᵢ)·1e6) as micros — each term rounds
    // IDENTICALLY on any engine, so no order-sensitive float
    // accumulation), exponentiated once per row at the end.
    Query("rel_survival_curve", (s, dir) => {
      val births = events(s, dir)
        .where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("b"))
      val firstErr = events(s, dir)
        .where(col("event_type") === "error")
        .select(col("user_id"), unix_micros(col("ts")).as("t"))
        .join(births, "user_id").where(col("t") >= col("b"))
        .groupBy("user_id").agg(min(col("t")).as("dt"))
      val mx = events(s, dir)
        .agg(max(unix_micros(col("ts"))).as("mx"))
      val u = births.join(firstErr, Seq("user_id"), "left_outer")
        .crossJoin(broadcast(mx))
        .select(
          when(col("dt").isNotNull, expr("(dt - b) div 86400000000"))
            .otherwise(expr("(mx - b) div 86400000000")).as("dur"),
          when(col("dt").isNotNull, 1L).otherwise(0L).as("evf"))
      val g = u.groupBy("dur").agg(sum(col("evf")).as("d"),
          (count(lit(1)) - sum(col("evf"))).as("c"))
        .withColumn("dc", col("d") + col("c"))
        .localCheckpoint(false) // feeds the scan chain AND the total
      val tot = g.agg(sum(col("dc")).as("total"))
      val risk = graft.plans.GlobalScan
        .runningSum(g, "dc", "dur" -> false)
        .crossJoin(broadcast(tot))
        .select(col("dur"), col("d"), col("c"),
          (col("total") - col("running") + col("dc")).as("n_risk"))
      // KM log-term in integer micros; a time where EVERYONE at risk
      // dies sends the survival to exactly 0 from there on (the -1e10
      // sentinel underflows exp to 0 regardless of later terms)
      val term = when(col("d") < col("n_risk"),
        round(log(lit(1.0) -
          col("d").cast("double") / col("n_risk").cast("double")) *
          1e6, 0).cast("long"))
        .otherwise(lit(-10000000000L))
      val r2 = graft.plans.GlobalScan
        .runningSum(risk.withColumn("term", term), "term",
          "dur" -> false)
      r2.select(col("dur").as("dur_day"), col("n_risk"),
        col("d").as("deaths"), col("c").as("censored"),
        round(exp(col("running").cast("double") / 1e6), 6).as("surv"))
    },
      """WITH b AS (
        |  SELECT user_id, min(epoch_us(ts)) AS bt FROM events
        |  WHERE event_type = 'signup' GROUP BY 1
        |), dth AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS dt
        |  FROM events e JOIN b ON e.user_id = b.user_id
        |  WHERE e.event_type = 'error' AND epoch_us(e.ts) >= b.bt
        |  GROUP BY 1
        |), mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
        |u AS (
        |  SELECT CASE WHEN dt IS NOT NULL THEN (dt - bt) // 86400000000
        |              ELSE (m - bt) // 86400000000 END AS dur,
        |         CASE WHEN dt IS NOT NULL THEN 1 ELSE 0 END AS evf
        |  FROM b LEFT JOIN dth ON b.user_id = dth.user_id CROSS JOIN mx
        |), g AS (
        |  SELECT dur, sum(evf) AS d, count(*) - sum(evf) AS c
        |  FROM u GROUP BY 1
        |), t AS (SELECT count(*) AS total FROM u),
        |r AS (
        |  SELECT dur, d, c,
        |         total - sum(d + c) OVER (ORDER BY dur) + (d + c)
        |           AS n_risk
        |  FROM g CROSS JOIN t
        |), tl AS (
        |  SELECT dur, d, c, n_risk,
        |         CASE WHEN d < n_risk THEN CAST(round(
        |                ln(1 - d / CAST(n_risk AS DOUBLE)) * 1000000,
        |                0) AS BIGINT)
        |              ELSE -10000000000 END AS term
        |  FROM r
        |)
        |SELECT dur AS dur_day, CAST(n_risk AS BIGINT) AS n_risk,
        |       CAST(d AS BIGINT) AS deaths, CAST(c AS BIGINT) AS censored,
        |       round(exp(sum(term) OVER (ORDER BY dur) / 1e6), 6)
        |         AS surv
        |FROM tl""".stripMargin),

    // RFM SEGMENTATION — the classic customer-value grid: per customer
    // recency (days since last order, against the corpus max date),
    // frequency (order count) and monetary (exact cents), each scored
    // into quintiles, reported as the (r,f,m) segment histogram.
    // Scale shape: ONE custkey hash aggregate shrinks orders to a
    // customers-sized frame; the three global ntile(5) windows are
    // exactly what the session extension rewrites to the distributed
    // GlobalTies (range-partitioned, no single-partition sort), each
    // with a custkey tiebreak so bucket boundaries are deterministic
    // cross-engine; the final segment histogram is a 125-key hash agg.
    Query("rel_rfm_segments", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val base = tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_d"),
          count(lit(1)).as("freq"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val mx = base.agg(max(col("last_d")).as("mxd"))
      base.crossJoin(broadcast(mx))
        .select(col("o_custkey"), col("freq"), col("cents"),
          datediff(col("mxd"), col("last_d")).as("rec"))
        .select(col("o_custkey"), col("cents"),
          ntile(5).over(W.orderBy(col("rec").asc, col("o_custkey").asc))
            .cast("long").as("r_score"),
          ntile(5).over(W.orderBy(col("freq").asc, col("o_custkey").asc))
            .cast("long").as("f_score"),
          ntile(5).over(W.orderBy(col("cents").asc, col("o_custkey").asc))
            .cast("long").as("m_score"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("customers"),
          round(sum(col("cents")).cast("double") / 100.0, 2)
            .as("revenue"))
    },
      """WITH base AS (
        |  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
        |         count(*) AS freq,
        |         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS cents
        |  FROM orders GROUP BY 1
        |), mx AS (SELECT max(last_d) AS mxd FROM base),
        |s AS (
        |  SELECT o_custkey, cents,
        |    ntile(5) OVER (ORDER BY date_diff('day', last_d, mxd),
        |                   o_custkey) AS r_score,
        |    ntile(5) OVER (ORDER BY freq, o_custkey) AS f_score,
        |    ntile(5) OVER (ORDER BY cents, o_custkey) AS m_score
        |  FROM base CROSS JOIN mx
        |)
        |SELECT r_score, f_score, m_score,
        |       count(*) AS customers,
        |       round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS revenue
        |FROM s GROUP BY 1, 2, 3""".stripMargin),

    // COHORT LTV — cumulative revenue per signup cohort by age-in-
    // days, divided by cohort size: the lifetime-value curve every
    // subscription dashboard draws (daily grain — the corpus spans one
    // month, so days are the natural cohort unit). Scale shape:
    // per-user signup day is one hash aggregate; purchase revenue
    // aggregates to (cohort, age) BEFORE any window (O(days²) frame);
    // the cumulative sum is a cohort-PARTITIONED window (distributed
    // by cohort day — never a global sort); cohort sizes broadcast
    // back. Cents stay exact longs until the single final division.
    Query("rel_cohort_ltv", (s, dir) => {
      val su = events(s, dir).where(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("cd"))
      val sizes = su.groupBy(col("cd")).agg(count(lit(1)).as("users"))
      val g = events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("pd"),
          round(col("value") * 100).cast("long").as("cents"))
        .join(su, "user_id")
        .groupBy(col("cd"), datediff(col("pd"), col("cd")).as("age_day"))
        .agg(sum(col("cents")).as("dcents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cd").orderBy("age_day")
        .rowsBetween(Long.MinValue, 0)
      g.select(col("cd"), col("age_day"),
          sum(col("dcents")).over(w).as("cum_cents"))
        .join(broadcast(sizes), "cd")
        .select(date_format(col("cd"), "yyyy-MM-dd").as("cohort"),
          col("age_day").cast("long").as("age_day"), col("users"),
          round(col("cum_cents").cast("double") / 100.0 /
            col("users").cast("double"), 6).as("ltv"))
    },
      """WITH su AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cd
        |  FROM events WHERE event_type = 'signup' GROUP BY 1
        |), sizes AS (SELECT cd, count(*) AS users FROM su GROUP BY 1),
        |p AS (
        |  SELECT s.cd,
        |         date_diff('day', s.cd, CAST(e.ts AS DATE)) AS age_day,
        |         sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS dcents
        |  FROM events e JOIN su s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2
        |), c AS (
        |  SELECT cd, age_day,
        |         sum(dcents) OVER (PARTITION BY cd ORDER BY age_day)
        |           AS cum_cents
        |  FROM p
        |)
        |SELECT strftime(c.cd, '%Y-%m-%d') AS cohort,
        |       CAST(age_day AS BIGINT) AS age_day,
        |       CAST(users AS BIGINT) AS users,
        |       round(CAST(cum_cents AS DOUBLE) / 100.0 / users, 6)
        |         AS ltv
        |FROM c JOIN sizes ON c.cd = sizes.cd""".stripMargin),

    // SEASONAL ANOMALY SCREEN — each hour's event count z-scored
    // against its own HOUR-OF-DAY baseline (3am traffic is judged
    // against other 3ams, not the daily mean), the standard seasonal
    // outlier detector. Scale shape: one data-sized hash aggregate
    // shrinks the stream to O(hours); the 24-row baseline (n, Σx, Σx²
    // — second moments widened to decimal(38,0) so hourly counts in
    // the billions can't overflow) broadcasts back onto the hourly
    // frame. Zero-variance hours yield NULL z, not a divide-by-zero.
    Query("rel_seasonal_anomaly", (s, dir) => {
      val h = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("hr"), col("cnt"), hour(col("hr")).as("hod"))
      val base = h.groupBy(col("hod")).agg(
        count(lit(1)).as("n"), sum(col("cnt")).as("sx"),
        sum(col("cnt").cast("decimal(38,0)") * col("cnt")).as("sxx"))
      val mean = col("sx").cast("double") / col("n").cast("double")
      val ex2 = col("sxx").cast("double") / col("n").cast("double")
      val variance = ex2 - mean * mean
      h.join(broadcast(base), "hod")
        .select(date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("hod").cast("long").as("hod"), col("cnt"),
          round(when(variance > 0,
            (col("cnt").cast("double") - mean) / sqrt(variance)), 6)
            .as("z"))
        .select(col("hour"), col("hod"), col("cnt"), col("z"),
          (abs(col("z")) >= 2.0).cast("long").as("is_anomaly"))
    },
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hr, count(*) AS cnt
        |  FROM events GROUP BY 1
        |), b AS (
        |  SELECT hour(hr) AS hod, count(*) AS n, sum(cnt) AS sx,
        |         sum(CAST(cnt AS HUGEINT) * cnt) AS sxx
        |  FROM h GROUP BY 1
        |), z AS (
        |  SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
        |         CAST(b.hod AS BIGINT) AS hod, cnt,
        |         round(CASE WHEN
        |             CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) -
        |             (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
        |             (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) > 0
        |           THEN (CAST(cnt AS DOUBLE) -
        |                 CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
        |                sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) -
        |                     (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
        |                     (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        |           END, 6) AS z
        |  FROM h JOIN b ON hour(h.hr) = b.hod
        |)
        |SELECT hour, hod, CAST(cnt AS BIGINT) AS cnt, z,
        |       CAST(abs(z) >= 2.0 AS BIGINT) AS is_anomaly
        |FROM z""".stripMargin),

    // SINGLE CHANGE-POINT — argmax_t |CUSUM_t| over the hourly count
    // series (the decision step on top of rel_cusum_hourly's screen),
    // with the pre/post means and the level shift. Scale shape: the
    // hourly hash aggregate, ONE GlobalScan-rewritten global window
    // for (rn, running sum) — no single-partition stage — then a
    // single-row argmax via max(struct(...)) in EXACT integer
    // arithmetic: the deviation numerator |run·n − rn·total| is
    // decimal(38,0) (= DuckDB's int128), ties broken to the EARLIEST
    // hour by embedding −rn in the struct; doubles appear only in the
    // final mean/shift formulas over that one row.
    Query("rel_changepoint_hourly", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy("hr")
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val h = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      val r = h.crossJoin(broadcast(
          h.agg(sum(col("cnt")).as("total"), count(lit(1)).as("n"))))
        .select(col("hr"), col("total"), col("n"),
          sum(col("cnt")).over(w.rowsBetween(Long.MinValue, 0)).as("run"),
          row_number().over(w).as("rn"))
        .select(col("total"), col("n"),
          abs(d38(col("run")) * col("n") - d38(col("rn")) * col("total"))
            .as("dev"),
          (-col("rn")).as("nrn"), col("run"), col("rn"),
          date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour"))
      val best = r.groupBy(col("total"), col("n"))
        .agg(max(struct(col("dev"), col("nrn"), col("run"),
          col("rn"), col("hour"))).as("m"))
      val before = col("m.run").cast("double") /
        col("m.rn").cast("double")
      val after = (col("total") - col("m.run")).cast("double") /
        (col("n") - col("m.rn")).cast("double")
      best.select(col("m.hour").as("hour"),
        round(col("m.dev").cast("double") / col("n").cast("double"), 6)
          .as("cusum_abs"),
        round(before, 6).as("mean_before"),
        round(when(col("n") > col("m.rn"), after), 6).as("mean_after"),
        round(when(col("n") > col("m.rn"), after - before), 6)
          .as("shift"))
    },
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hr, count(*) AS cnt
        |  FROM events GROUP BY 1
        |), t AS (SELECT sum(cnt) AS total, count(*) AS n FROM h),
        |r AS (
        |  SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
        |         sum(cnt) OVER (ORDER BY hr) AS run,
        |         row_number() OVER (ORDER BY hr) AS rn,
        |         total, n
        |  FROM h CROSS JOIN t
        |), d AS (
        |  SELECT hour, run, rn, total, n,
        |         abs(CAST(run AS HUGEINT) * n -
        |             CAST(rn AS HUGEINT) * total) AS dev
        |  FROM r
        |)
        |SELECT hour,
        |       round(CAST(dev AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |         AS cusum_abs,
        |       round(CAST(run AS DOUBLE) / CAST(rn AS DOUBLE), 6)
        |         AS mean_before,
        |       round(CASE WHEN n > rn THEN
        |           CAST(total - run AS DOUBLE) / CAST(n - rn AS DOUBLE)
        |         END, 6) AS mean_after,
        |       round(CASE WHEN n > rn THEN
        |           CAST(total - run AS DOUBLE) / CAST(n - rn AS DOUBLE) -
        |           CAST(run AS DOUBLE) / CAST(rn AS DOUBLE)
        |         END, 6) AS shift
        |FROM d ORDER BY dev DESC, rn ASC LIMIT 1""".stripMargin),

    // THEIL INDEX — customer-revenue inequality decomposed by nation
    // (T = Σ share·T_within + Σ between): the additive-decomposition
    // inequality measure a fairness audit reports per segment. Scale
    // shape: one custkey aggregate shrinks orders to customers, one
    // nationkey aggregate to 25 groups (broadcast back for the
    // per-customer terms); each (x/μ_g)ln(x/μ_g) term is computed from
    // deterministic inputs, rounded ONCE to 6, and summed as exact
    // decimal(38,6) — so the sum is order-independent and cross-engine
    // identical (the float-window discipline used by text_zipf_fit).
    Query("rel_theil_index", (s, dir) => {
      val rev = tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
        .join(tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
      val g = rev.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("ng"), sum(col("cents")).as("xg"))
      val tot = g.agg(sum(col("ng")).as("n"), sum(col("xg")).as("x"))
      val mug = col("xg").cast("double") / col("ng").cast("double")
      val within = rev.join(broadcast(g), "c_nationkey")
        .select(col("c_nationkey"),
          round((col("cents").cast("double") / mug) *
            log(col("cents").cast("double") / mug), 6)
            .cast("decimal(38,6)").as("term"))
        .groupBy("c_nationkey").agg(sum(col("term")).as("tsum"))
      val mu = col("x").cast("double") / col("n").cast("double")
      g.join(within, "c_nationkey").crossJoin(broadcast(tot))
        .join(broadcast(tbl(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("ng"),
          round(col("xg").cast("double") / col("x").cast("double"), 6)
            .as("share"),
          round(col("tsum").cast("double") / col("ng").cast("double"), 6)
            .as("theil_within"),
          round((col("ng").cast("double") / col("n").cast("double")) *
            (mug / mu) * log(mug / mu), 6).as("between_term"))
    },
      """WITH rev AS (
        |  SELECT o_custkey,
        |         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS cents,
        |         any_value(c_nationkey) AS c_nationkey
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1
        |), g AS (
        |  SELECT c_nationkey, count(*) AS ng, sum(cents) AS xg
        |  FROM rev GROUP BY 1
        |), tot AS (SELECT sum(ng) AS n, sum(xg) AS x FROM g),
        |w AS (
        |  SELECT rev.c_nationkey,
        |         sum(CAST(round(
        |           (CAST(cents AS DOUBLE) /
        |            (CAST(xg AS DOUBLE) / CAST(ng AS DOUBLE))) *
        |           ln(CAST(cents AS DOUBLE) /
        |              (CAST(xg AS DOUBLE) / CAST(ng AS DOUBLE))),
        |           6) AS DECIMAL(38,6))) AS tsum
        |  FROM rev JOIN g ON rev.c_nationkey = g.c_nationkey
        |  GROUP BY 1
        |)
        |SELECT n_name AS nation, CAST(ng AS BIGINT) AS ng,
        |       round(CAST(xg AS DOUBLE) / CAST(x AS DOUBLE), 6)
        |         AS share,
        |       round(CAST(tsum AS DOUBLE) / CAST(ng AS DOUBLE), 6)
        |         AS theil_within,
        |       round((CAST(ng AS DOUBLE) / CAST(n AS DOUBLE)) *
        |             ((CAST(xg AS DOUBLE) / CAST(ng AS DOUBLE)) /
        |              (CAST(x AS DOUBLE) / CAST(n AS DOUBLE))) *
        |             ln((CAST(xg AS DOUBLE) / CAST(ng AS DOUBLE)) /
        |                (CAST(x AS DOUBLE) / CAST(n AS DOUBLE))), 6)
        |         AS between_term
        |FROM g JOIN w ON g.c_nationkey = w.c_nationkey
        |CROSS JOIN tot
        |JOIN nation ON g.c_nationkey = n_nationkey""".stripMargin),

    // WELCH'S T-TEST — unequal-variance two-sample test (purchase vs
    // click values), the parametric member of the A/B family
    // (rel_abtest_report z, rel_mann_whitney U, rel_ks_test D). ONE
    // map-side-combined aggregate over the stream computes both
    // groups' (n, Σx, Σx²) via conditional aggregation — no join, no
    // second scan; moments stay exact (cents as long, squares as
    // decimal(38,0) = int128) until the closed-form t and
    // Welch–Satterthwaite df over the single result row.
    Query("rel_welch_ttest", (s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val isP = col("event_type") === "purchase"
      val a = events(s, dir)
        .where(col("event_type").isin("purchase", "click"))
        .select(isP.as("p"),
          round(col("value") * 100).cast("long").as("c"))
        .agg(
          sum(when(col("p"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("p"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("p"), col("c")).otherwise(0L)).as("s1"),
          sum(when(!col("p"), col("c")).otherwise(0L)).as("s2"),
          sum(when(col("p"), d38(col("c")) * col("c")).otherwise(d38(lit(0))))
            .as("q1"),
          sum(when(!col("p"), d38(col("c")) * col("c")).otherwise(d38(lit(0))))
            .as("q2"))
      val m1 = col("s1").cast("double") / 100.0 / col("n1").cast("double")
      val m2 = col("s2").cast("double") / 100.0 / col("n2").cast("double")
      def svar(q: Column, sx: Column, n: Column): Column =
        (q.cast("double") / 10000.0 -
          (sx.cast("double") / 100.0) * (sx.cast("double") / 100.0) /
            n.cast("double")) / (n.cast("double") - 1.0)
      val v1 = svar(col("q1"), col("s1"), col("n1"))
      val v2 = svar(col("q2"), col("s2"), col("n2"))
      val se1 = v1 / col("n1").cast("double")
      val se2 = v2 / col("n2").cast("double")
      a.select(col("n1"), col("n2"),
        round(m1 - m2, 6).as("mean_diff"),
        round((m1 - m2) / sqrt(se1 + se2), 6).as("t_stat"),
        round((se1 + se2) * (se1 + se2) /
          (se1 * se1 / (col("n1").cast("double") - 1.0) +
           se2 * se2 / (col("n2").cast("double") - 1.0)), 2).as("df"))
    },
      """WITH a AS (
        |  SELECT
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS n1,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS n2,
        |    sum(CASE WHEN event_type = 'purchase'
        |             THEN CAST(round(value * 100, 0) AS BIGINT)
        |             ELSE 0 END) AS s1,
        |    sum(CASE WHEN event_type = 'click'
        |             THEN CAST(round(value * 100, 0) AS BIGINT)
        |             ELSE 0 END) AS s2,
        |    sum(CASE WHEN event_type = 'purchase'
        |             THEN CAST(CAST(round(value * 100, 0) AS BIGINT)
        |                  AS HUGEINT) *
        |                  CAST(round(value * 100, 0) AS BIGINT)
        |             ELSE 0 END) AS q1,
        |    sum(CASE WHEN event_type = 'click'
        |             THEN CAST(CAST(round(value * 100, 0) AS BIGINT)
        |                  AS HUGEINT) *
        |                  CAST(round(value * 100, 0) AS BIGINT)
        |             ELSE 0 END) AS q2
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |), f AS (
        |  SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |    CAST(s1 AS DOUBLE) / 100.0 / CAST(n1 AS DOUBLE) AS m1,
        |    CAST(s2 AS DOUBLE) / 100.0 / CAST(n2 AS DOUBLE) AS m2,
        |    (CAST(q1 AS DOUBLE) / 10000.0 -
        |     (CAST(s1 AS DOUBLE) / 100.0) * (CAST(s1 AS DOUBLE) / 100.0)
        |       / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)
        |      / CAST(n1 AS DOUBLE) AS se1,
        |    (CAST(q2 AS DOUBLE) / 10000.0 -
        |     (CAST(s2 AS DOUBLE) / 100.0) * (CAST(s2 AS DOUBLE) / 100.0)
        |       / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)
        |      / CAST(n2 AS DOUBLE) AS se2
        |  FROM a
        |)
        |SELECT n1, n2, round(m1 - m2, 6) AS mean_diff,
        |       round((m1 - m2) / sqrt(se1 + se2), 6) AS t_stat,
        |       round((se1 + se2) * (se1 + se2) /
        |             (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0) +
        |              se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)), 2) AS df
        |FROM f""".stripMargin),

    // JACKKNIFE DAY INFLUENCE — leave-one-day-out means of the
    // purchase value: which day, removed, moves the corpus mean the
    // most (the deterministic resampling diagnostic — no RNG, unlike a
    // bootstrap). Scale shape: one hash aggregate shrinks the stream
    // to O(days); the global totals broadcast back, and every LOO mean
    // is a closed-form over exact integers — (S - s_d)/(N - n_d) in
    // cents — divided once.
    Query("rel_jackknife_mean", (s, dir) => {
      val d = events(s, dir).where(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("nd"),
          sum(round(col("value") * 100).cast("long")).as("sd"))
      val tot = d.agg(sum(col("nd")).as("n"), sum(col("sd")).as("s"))
      val theta = col("s").cast("double") / 100.0 / col("n").cast("double")
      val loo = (col("s") - col("sd")).cast("double") / 100.0 /
        (col("n") - col("nd")).cast("double")
      d.crossJoin(broadcast(tot))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("nd"), round(loo, 6).as("mean_loo"),
          round(theta - loo, 6).as("influence"))
    },
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS nd,
        |         sum(CAST(round(value * 100, 0) AS BIGINT)) AS sd
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |), t AS (SELECT sum(nd) AS n, sum(sd) AS s FROM d)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |       CAST(nd AS BIGINT) AS nd,
        |       round(CAST(s - sd AS DOUBLE) / 100.0 /
        |             CAST(n - nd AS DOUBLE), 6) AS mean_loo,
        |       round(CAST(s AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) -
        |             CAST(s - sd AS DOUBLE) / 100.0 /
        |             CAST(n - nd AS DOUBLE), 6) AS influence
        |FROM d CROSS JOIN t""".stripMargin),

    // SEASONAL-NAIVE FORECAST BACKTEST — forecast each hour's count
    // per event type with the same hour yesterday (lag 24), score
    // MAE/RMSE per type: the baseline every real forecaster must
    // beat, and the backtest harness shape (align by key+lag, score
    // residuals). Scale: the stream shrinks to O(types × hours) in
    // one aggregate; the lag is a type-PARTITIONED window (distributed
    // by key, never global); residual moments stay exact (|e| long,
    // e² decimal(38,0)) until the per-type division.
    Query("rel_snaive_backtest", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("hr")
      val h = events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      h.select(col("event_type"), col("cnt"),
          lag(col("cnt"), 24).over(w).as("fc"))
        .where(col("fc").isNotNull)
        .select(col("event_type"), (col("cnt") - col("fc")).as("e"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(abs(col("e"))).as("sae"),
          sum(col("e").cast("decimal(38,0)") * col("e")).as("sse"))
        .select(col("event_type"), col("n"),
          round(col("sae").cast("double") / col("n").cast("double"), 6)
            .as("mae"),
          round(sqrt(col("sse").cast("double") /
            col("n").cast("double")), 6).as("rmse"))
    },
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), l AS (
        |  SELECT event_type, cnt,
        |         lag(cnt, 24) OVER (PARTITION BY event_type
        |                            ORDER BY hr) AS fc
        |  FROM h
        |), e AS (
        |  SELECT event_type, cnt - fc AS e FROM l WHERE fc IS NOT NULL
        |)
        |SELECT event_type, count(*) AS n,
        |       round(CAST(sum(abs(e)) AS DOUBLE) /
        |             CAST(count(*) AS DOUBLE), 6) AS mae,
        |       round(sqrt(CAST(sum(CAST(e AS HUGEINT) * e) AS DOUBLE) /
        |             CAST(count(*) AS DOUBLE)), 6) AS rmse
        |FROM e GROUP BY 1""".stripMargin),

    // PSI DRIFT — Population Stability Index of the value distribution
    // per event type, first half of the corpus (by time) as reference
    // vs second half as current: the standard feature-drift gate in
    // front of a model retrain. Buckets are the deterministic
    // power-of-two bit-length bins (pure integer arithmetic — the
    // stream_quantile_sketch discipline, never a float edge);
    // Laplace-smoothed so empty cells stay finite; per-bucket terms
    // round once to 6 and sum as exact decimal(38,6), so the ≤64-term
    // sum is order-independent. One data-sized aggregate, one tiny
    // per-type totals broadcast: two shuffles total.
    Query("rel_psi_drift", (s, dir) => {
      val ts = unix_micros(col("ts"))
      val mid = events(s, dir)
        .agg(min(ts).as("mn"), max(ts).as("mx"))
        .select(expr("(mn + mx) div 2").as("mid"))
      val b = events(s, dir).crossJoin(broadcast(mid))
        .select(col("event_type"),
          length(bin(round(col("value") * 100).cast("long")))
            .as("bucket"),
          (ts < col("mid")).as("ref"))
        .groupBy("event_type", "bucket")
        .agg(sum(when(col("ref"), 1L).otherwise(0L)).as("cr"),
          sum(when(!col("ref"), 1L).otherwise(0L)).as("cc"))
      val tot = b.groupBy("event_type")
        .agg(sum(col("cr")).as("nr"), sum(col("cc")).as("nc"),
          count(lit(1)).as("nb"))
      val p = (col("cr") + 1.0).cast("double") /
        (col("nr") + col("nb")).cast("double")
      val q = (col("cc") + 1.0).cast("double") /
        (col("nc") + col("nb")).cast("double")
      b.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("nb"),
          round((p - q) * log(p / q), 6).cast("decimal(38,6)")
            .as("term"))
        .groupBy(col("event_type"), col("nb").as("n_buckets"))
        .agg(round(sum(col("term")).cast("double"), 6).as("psi"))
    },
      """WITH m AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        |  FROM events
        |), b AS (
        |  SELECT event_type,
        |         length(bin(CAST(round(value * 100, 0) AS BIGINT)))
        |           AS bucket,
        |         sum(CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END)
        |           AS cr,
        |         sum(CASE WHEN epoch_us(ts) < mid THEN 0 ELSE 1 END)
        |           AS cc
        |  FROM events CROSS JOIN m GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, sum(cr) AS nr, sum(cc) AS nc,
        |         count(*) AS nb
        |  FROM b GROUP BY 1
        |), terms AS (
        |  SELECT b.event_type, t.nb,
        |         CAST(round(
        |           (CAST(cr + 1.0 AS DOUBLE) / CAST(nr + nb AS DOUBLE) -
        |            CAST(cc + 1.0 AS DOUBLE) / CAST(nc + nb AS DOUBLE)) *
        |           ln((CAST(cr + 1.0 AS DOUBLE) / CAST(nr + nb AS DOUBLE))
        |            / (CAST(cc + 1.0 AS DOUBLE) / CAST(nc + nb AS DOUBLE))),
        |           6) AS DECIMAL(38,6)) AS term
        |  FROM b JOIN t ON b.event_type = t.event_type
        |)
        |SELECT event_type, CAST(nb AS BIGINT) AS n_buckets,
        |       round(CAST(sum(term) AS DOUBLE), 6) AS psi
        |FROM terms GROUP BY 1, 2""".stripMargin),

    // ONE-WAY ANOVA — F-test of equal mean value across ALL event
    // types at once (the k-group generalization of rel_welch_ttest).
    // One map-side-combined aggregate shrinks the stream to k=5 moment
    // rows (n, Σx, Σx² — exact cents / decimal(38,0)); the per-group
    // SSB/SSW contributions are each rounded ONCE to 6 and summed as
    // exact decimal(38,6) so the k-term fold is order-independent;
    // F is a literal formula over the single assembled row.
    Query("rel_anova_f", (s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val g = events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("ng"), sum(col("c")).as("sg"),
          sum(d38(col("c")) * col("c")).as("qg"))
        .localCheckpoint(false) // feeds the fold AND the grand totals
      val tot = g.agg(sum(col("ng")).as("n"), sum(col("sg")).as("st"),
        count(lit(1)).as("k"))
      // per-group terms in VALUE units (cents² / 1e4), rounded then
      // exact-summed: ssb_g = sg²/ng (centered later), ssw_g = qg - sg²/ng
      val sg2ng = (col("sg").cast("double") / 100.0) *
        (col("sg").cast("double") / 100.0) / col("ng").cast("double")
      val folded = g.select(
          round(sg2ng, 6).cast("decimal(38,6)").as("b"),
          round(col("qg").cast("double") / 10000.0 - sg2ng, 6)
            .cast("decimal(38,6)").as("w"))
        .agg(sum(col("b")).as("sb"), sum(col("w")).as("ssw"))
      val grand = (col("st").cast("double") / 100.0) *
        (col("st").cast("double") / 100.0) / col("n").cast("double")
      val ssb = col("sb").cast("double") - grand
      val ssw = col("ssw").cast("double")
      val kd = col("k").cast("double")
      val nd = col("n").cast("double")
      folded.crossJoin(broadcast(tot))
        .select(col("k"), col("n"),
          round(ssb, 4).as("ss_between"), round(ssw, 4).as("ss_within"),
          round((ssb / (kd - 1.0)) / (ssw / (nd - kd)), 6).as("f_stat"))
    },
      """WITH g AS (
        |  SELECT event_type, count(*) AS ng,
        |         sum(CAST(round(value * 100, 0) AS BIGINT)) AS sg,
        |         sum(CAST(CAST(round(value * 100, 0) AS BIGINT)
        |             AS HUGEINT) *
        |             CAST(round(value * 100, 0) AS BIGINT)) AS qg
        |  FROM events GROUP BY 1
        |), t AS (
        |  SELECT sum(ng) AS n, sum(sg) AS st, count(*) AS k FROM g
        |), f AS (
        |  SELECT
        |    sum(CAST(round((CAST(sg AS DOUBLE) / 100.0) *
        |        (CAST(sg AS DOUBLE) / 100.0) / CAST(ng AS DOUBLE), 6)
        |        AS DECIMAL(38,6))) AS sb,
        |    sum(CAST(round(CAST(qg AS DOUBLE) / 10000.0 -
        |        (CAST(sg AS DOUBLE) / 100.0) *
        |        (CAST(sg AS DOUBLE) / 100.0) / CAST(ng AS DOUBLE), 6)
        |        AS DECIMAL(38,6))) AS ssw
        |  FROM g
        |)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |       round(CAST(sb AS DOUBLE) -
        |             (CAST(st AS DOUBLE) / 100.0) *
        |             (CAST(st AS DOUBLE) / 100.0) / CAST(n AS DOUBLE),
        |             4) AS ss_between,
        |       round(CAST(ssw AS DOUBLE), 4) AS ss_within,
        |       round(((CAST(sb AS DOUBLE) -
        |               (CAST(st AS DOUBLE) / 100.0) *
        |               (CAST(st AS DOUBLE) / 100.0) / CAST(n AS DOUBLE))
        |              / (CAST(k AS DOUBLE) - 1.0)) /
        |             (CAST(ssw AS DOUBLE) /
        |              (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
        |         AS f_stat
        |FROM f CROSS JOIN t""".stripMargin),

    // CRAMÉR'S V — strength of association between nation and market
    // segment over the customer dimension: the contingency-table
    // effect size (chi² normalized to [0,1]) a data-quality audit
    // reports alongside rel_mutual_info's MI. One hash aggregate to
    // the r×c joint (125 cells); marginals re-aggregate the joint (no
    // second scan) and broadcast back; per-cell (o−e)²/e terms round
    // once to 6 and sum as exact decimal(38,6) — order-independent.
    Query("rel_cramers_v", (s, dir) => {
      val joint = tbl(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint(false)
      val rm = joint.groupBy(col("c_nationkey"))
        .agg(sum(col("o")).as("rt"))
      val cm = joint.groupBy(col("c_mktsegment"))
        .agg(sum(col("o")).as("ct"))
      val tot = joint.agg(sum(col("o")).as("n"),
        countDistinct(col("c_nationkey")).as("r"),
        countDistinct(col("c_mktsegment")).as("c"))
      val e = col("rt").cast("double") * col("ct").cast("double") /
        col("n").cast("double")
      val term = (col("o").cast("double") - e) *
        (col("o").cast("double") - e) / e
      joint.join(broadcast(rm), "c_nationkey")
        .join(broadcast(cm), "c_mktsegment")
        .crossJoin(broadcast(tot))
        .select(col("n"), col("r"), col("c"),
          round(term, 6).cast("decimal(38,6)").as("term"))
        .groupBy(col("n"), col("r"), col("c"))
        .agg(sum(col("term")).as("chi2"))
        .select(col("n"), col("r"), col("c"),
          round(col("chi2").cast("double"), 4).as("chi2"),
          round(sqrt(col("chi2").cast("double") /
            (col("n").cast("double") *
             least(col("r") - 1, col("c") - 1).cast("double"))), 6)
            .as("cramers_v"))
    },
      """WITH joint AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS o
        |  FROM customer GROUP BY 1, 2
        |), rm AS (
        |  SELECT c_nationkey, sum(o) AS rt FROM joint GROUP BY 1
        |), cm AS (
        |  SELECT c_mktsegment, sum(o) AS ct FROM joint GROUP BY 1
        |), t AS (
        |  SELECT sum(o) AS n, count(DISTINCT c_nationkey) AS r,
        |         count(DISTINCT c_mktsegment) AS c
        |  FROM joint
        |), s AS (
        |  SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r,
        |         CAST(c AS BIGINT) AS c,
        |    sum(CAST(round(
        |      (CAST(o AS DOUBLE) -
        |       CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) /
        |       CAST(n AS DOUBLE)) *
        |      (CAST(o AS DOUBLE) -
        |       CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) /
        |       CAST(n AS DOUBLE)) /
        |      (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) /
        |       CAST(n AS DOUBLE)), 6) AS DECIMAL(38,6))) AS chi2
        |  FROM joint
        |  JOIN rm USING (c_nationkey) JOIN cm USING (c_mktsegment)
        |  CROSS JOIN t
        |  GROUP BY 1, 2, 3
        |)
        |SELECT n, r, c, round(CAST(chi2 AS DOUBLE), 4) AS chi2,
        |       round(sqrt(CAST(chi2 AS DOUBLE) /
        |             (CAST(n AS DOUBLE) *
        |              CAST(least(r - 1, c - 1) AS DOUBLE))), 6)
        |         AS cramers_v
        |FROM s""".stripMargin),

    // SPEARMAN RANK CORRELATION — quantity vs price over lineitem,
    // the monotone-association twin of rel_regression_per_key's
    // Pearson. Ranks NEVER materialize by sorting rows: each column
    // aggregates to its DISTINCT values, a GlobalScan prefix sum turns
    // per-value counts into tie-AVERAGED ranks (carried doubled so
    // they stay integral — the rel_mann_whitney discipline), and the
    // tiny rank tables hash-join back onto the fact rows. All five
    // Pearson moments accumulate as exact decimal(38,0) = DuckDB's
    // int128; doubles appear only in the final one-row formula.
    Query("rel_spearman_corr", (s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val li = tbl(s, dir, "lineitem").select(
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
      // One row-sized shuffle instead of two: x's rank table is
      // value-domain-sized (integral quantities), so it broadcasts and
      // its per-row rank terms fold into the SAME groupBy(y) aggregate
      // that y's rank needs anyway — the row stream is shuffled once
      // (by y), where the previous shape re-joined every row against
      // the y-rank table in a second row-sized exchange. All moment
      // sums regroup by y in exact decimal(38,0) integer algebra, so
      // every aggregate equals its per-row original term for term.
      val dx = li.groupBy(col("x").as("v")).agg(count(lit(1)).as("cnt"))
      val rx = graft.plans.GlobalScan.runningSum(dx, "cnt", "v" -> false)
        .select(col("v").as("x"),
          (lit(2L) * col("running") - col("cnt") + 1L).as("r2x"))
      val byY = li.join(broadcast(rx), "x")
        .groupBy(col("y"))
        .agg(count(lit(1)).as("cnt"),
          sum(d38(col("r2x"))).as("sx_y"),
          sum(d38(col("r2x")) * col("r2x")).as("sxx_y"))
      val ry = graft.plans.GlobalScan.runningSum(byY, "cnt", "y" -> false)
        .select(col("cnt"), col("sx_y"), col("sxx_y"),
          (lit(2L) * col("running") - col("cnt") + 1L).as("r2y"))
      val m = ry.agg(sum(col("cnt")).as("n"),
        sum(col("sx_y")).as("sx"),
        sum(d38(col("cnt")) * col("r2y")).as("sy"),
        sum(col("sxx_y")).as("sxx"),
        sum(d38(col("cnt")) * col("r2y") * col("r2y")).as("syy"),
        sum(d38(col("r2y")) * col("sx_y")).as("sxy"))
      val nd = col("n").cast("double")
      val cov = nd * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      val vx = nd * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val vy = nd * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")
      m.select(col("n"), round(cov / sqrt(vx * vy), 6).as("spearman"))
    },
      """WITH li AS (
        |  SELECT CAST(round(l_quantity, 0) AS BIGINT) AS x,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        |  FROM lineitem
        |), rx AS (
        |  SELECT v AS x, 2 * sum(cnt) OVER (ORDER BY v) - cnt + 1
        |           AS r2x
        |  FROM (SELECT x AS v, count(*) AS cnt FROM li GROUP BY 1)
        |), ry AS (
        |  SELECT v AS y, 2 * sum(cnt) OVER (ORDER BY v) - cnt + 1
        |           AS r2y
        |  FROM (SELECT y AS v, count(*) AS cnt FROM li GROUP BY 1)
        |), m AS (
        |  SELECT count(*) AS n,
        |         sum(CAST(r2x AS HUGEINT)) AS sx,
        |         sum(CAST(r2y AS HUGEINT)) AS sy,
        |         sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
        |         sum(CAST(r2y AS HUGEINT) * r2y) AS syy,
        |         sum(CAST(r2x AS HUGEINT) * r2y) AS sxy
        |  FROM li JOIN rx USING (x) JOIN ry USING (y)
        |)
        |SELECT CAST(n AS BIGINT) AS n,
        |       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |              CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |             sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |                   CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |                  (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |                   CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
        |             6) AS spearman
        |FROM m""".stripMargin),

    // MANN-WHITNEY U — the nonparametric A/B test (purchase vs click
    // values), the rank-based twin of rel_abtest_report's z-test.
    // Scale-first shape: ranks never materialize per row — the stream
    // aggregates to DISTINCT values (hash agg), the custom GlobalScan
    // prefix sum turns per-value counts into "count below" (two-pass
    // distributed, no single-partition window), and the tie-averaged
    // rank sum folds out of one aggregate in EXACT integer arithmetic:
    // avg-rank of a tied value = cumBelow + (n+1)/2, carried doubled
    // (rank2 = 2*run - n + 1) so everything stays integral; sums widen
    // to decimal(38,0) = DuckDB's int128, so no overflow divergence at
    // any scale. U, mu, sigma (with the tie correction) and z are
    // literal formulas over the one aggregate row.
    Query("rel_mann_whitney", (s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val d = events(s, dir)
        .where(col("event_type").isin("purchase", "click"))
        .select(col("value").as("v"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("ga"))
        .groupBy("v")
        .agg(sum(col("ga")).as("na"), count(lit(1)).as("n"))
      val r = graft.plans.GlobalScan.runningSum(d, "n", "v" -> false)
      val a = r.agg(
        sum(col("na")).as("n1"),
        sum(col("n") - col("na")).as("n2"),
        sum(d38(col("na")) *
          d38(lit(2L) * col("running") - col("n") + lit(1L))).as("ra2"),
        sum(d38(col("n")) * d38(col("n")) * d38(col("n")) -
          d38(col("n"))).as("tsum"),
        sum(col("n")).as("nn"))
      val u1x2 = col("ra2") - d38(col("n1")) * d38(col("n1") + 1)
      val nnD = col("nn").cast("double")
      val sigma2 = col("n1").cast("double") * col("n2").cast("double") /
        12.0 * ((nnD + 1.0) -
          col("tsum").cast("double") / (nnD * (nnD - 1.0)))
      a.select(col("n1"), col("n2"),
        (u1x2.cast("double") / 2.0).as("u1"),
        round((u1x2 - d38(col("n1")) * d38(col("n2"))).cast("double") /
          (lit(2.0) * sqrt(sigma2)), 6).as("z"))
    },
      """WITH s AS (
        |  SELECT value AS v,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ga
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |), d AS (
        |  SELECT v, sum(ga)::HUGEINT AS na, count(*)::HUGEINT AS n
        |  FROM s GROUP BY v
        |), r AS (
        |  SELECT na, n, sum(n) OVER (ORDER BY v) AS run FROM d
        |), a AS (
        |  SELECT sum(na) AS n1, sum(n - na) AS n2,
        |         sum(na * (2 * run - n + 1)) AS ra2,
        |         sum(n * n * n - n) AS tsum, sum(n) AS nn
        |  FROM r
        |)
        |SELECT cast(n1 AS BIGINT) AS n1, cast(n2 AS BIGINT) AS n2,
        |       cast(ra2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
        |       round(cast(ra2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE) /
        |             (2.0 * sqrt(cast(n1 AS DOUBLE) * cast(n2 AS DOUBLE)
        |                 / 12.0 *
        |               (cast(nn AS DOUBLE) + 1.0 - cast(tsum AS DOUBLE) /
        |                 (cast(nn AS DOUBLE) *
        |                  (cast(nn AS DOUBLE) - 1.0))))), 6) AS z
        |FROM a""".stripMargin),

    // AUTOCORRELATION of the hourly event-count series at lags 1..24 —
    // the seasonality screen. The only data-sized work is ONE hash
    // aggregate (events → per-hour counts); the series is O(hours in
    // range), independent of data volume, so the lag self-join and the
    // moment algebra run on a frame thousands of rows long at ANY
    // scale. r_k is computed in EXACT integer algebra (multiply the
    // centered covariance through by N² to clear the mean: N²·Σxa·xb −
    // N·S·(Σxa+Σxb) + n_k·S² over N²·Σx² − N·S², every sum a
    // decimal(38,0) = int128), then one double division and one round —
    // no order-sensitive float accumulation anywhere. Hour gaps are
    // handled by joining on the hour INDEX (h + k), not row position:
    // a missing hour simply contributes no pair, same both engines.
    Query("rel_autocorrelation", (s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val hr = events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy("h").agg(count(lit(1)).as("x"))
        .localCheckpoint(false) // feeds stats, both join sides
      val stats = hr.agg(sum(col("x")).as("s"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        count(lit(1)).as("nh"))
      val lags = s.range(1, 25).select(col("id").as("k"))
      val pairs = hr.select(col("h"), col("x").as("xa"))
        .crossJoin(broadcast(lags))
        .select((col("h") + col("k")).as("hb"), col("k"), col("xa"))
        .join(hr.select(col("h").as("hb"), col("x").as("xb")), "hb")
      val perLag = pairs.groupBy("k").agg(
        sum(d38(col("xa")) * d38(col("xb"))).as("sab"),
        sum(col("xa")).as("sa"), sum(col("xb")).as("sb"),
        count(lit(1)).as("n_pairs"))
      val n2 = d38(col("nh")) * d38(col("nh"))
      val num = n2 * col("sab") -
        d38(col("nh")) * d38(col("s")) * d38(col("sa") + col("sb")) +
        d38(col("n_pairs")) * d38(col("s")) * d38(col("s"))
      val den = n2 * col("sxx") -
        d38(col("nh")) * d38(col("s")) * d38(col("s"))
      perLag.crossJoin(broadcast(stats))
        .select(col("k"), col("n_pairs"),
          round(num.cast("double") / den.cast("double"), 6).as("acf"))
    },
      """WITH h AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS x
        |  FROM events GROUP BY 1
        |), st AS (
        |  SELECT sum(x)::HUGEINT AS s,
        |         sum(x::HUGEINT * x::HUGEINT) AS sxx,
        |         count(*)::HUGEINT AS nh
        |  FROM h
        |), ks AS (SELECT unnest(generate_series(1, 24)) AS k),
        |p AS (
        |  SELECT ks.k AS k, a.x AS xa, b.x AS xb
        |  FROM h a CROSS JOIN ks CROSS JOIN h b
        |  WHERE b.h = a.h + ks.k
        |), pl AS (
        |  SELECT k, sum(xa::HUGEINT * xb::HUGEINT) AS sab,
        |         sum(xa)::HUGEINT AS sa, sum(xb)::HUGEINT AS sb,
        |         count(*)::HUGEINT AS np
        |  FROM p GROUP BY k
        |)
        |SELECT k, cast(np AS BIGINT) AS n_pairs,
        |       round(cast(nh * nh * sab - nh * s * (sa + sb)
        |                  + np * s * s AS DOUBLE) /
        |             cast(nh * nh * sxx - nh * s * s AS DOUBLE), 6) AS acf
        |FROM pl CROSS JOIN st""".stripMargin),

    // GINI COEFFICIENT of customer revenue concentration — the
    // inequality metric behind "top 1% of customers drive X%" claims.
    // Written in the textbook global-window form (row_number over the
    // total revenue order) and rewritten session-wide to the
    // distributed GlobalRank — ranks come from a two-pass
    // range-partitioned sort, never a single-partition WindowExec.
    // Money in cents as exact longs; Σ i·x_i widens to decimal(38,0)
    // (= DuckDB's int128), so Gini = (2Σi·x − (n+1)S) / (nS) is a
    // literal formula over one exactly-agreed aggregate row.
    Query("rel_gini_revenue", (s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val cust = tbl(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cents"), col("o_custkey"))
      cust.withColumn("i", row_number().over(w).cast("long"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("cents")).as("total_cents"),
          sum(d38(col("i")) * d38(col("cents"))).as("sic"))
        .select(col("n_customers"), col("total_cents"),
          round((lit(2).cast("decimal(38,0)") * col("sic") -
              d38(col("n_customers") + 1) * d38(col("total_cents")))
              .cast("double") /
            (d38(col("n_customers")) * d38(col("total_cents")))
              .cast("double"), 6).as("gini"))
    },
      """WITH c AS (
        |  SELECT o_custkey,
        |         sum(cast(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1
        |), r AS (
        |  SELECT cents,
        |         row_number() OVER (ORDER BY cents, o_custkey) AS i
        |  FROM c
        |), a AS (
        |  SELECT count(*)::HUGEINT AS n, sum(cents)::HUGEINT AS s,
        |         sum(i::HUGEINT * cents::HUGEINT) AS sic
        |  FROM r
        |)
        |SELECT cast(n AS BIGINT) AS n_customers,
        |       cast(s AS BIGINT) AS total_cents,
        |       round(cast(2 * sic - (n + 1) * s AS DOUBLE) /
        |             cast(n * s AS DOUBLE), 6) AS gini
        |FROM a""".stripMargin),

    // A/B EXPERIMENT REPORT — deterministic md5 arm assignment (the
    // reproducible randomization every experimentation platform uses),
    // per-arm conversion, and the pooled two-proportion z statistic in
    // closed form from EXACT counts (one user-keyed aggregate, one
    // 4-long final fold; the only floating arithmetic is the final
    // z formula, same literal order both engines, rounded).
    Query("rel_abtest_report", (s, dir) => {
      val arm = (conv(substring(md5(col("user_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long") % 2).as("arm")
      val peruser = events(s, dir).groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("cv"))
        .select(col("user_id"), col("cv"), arm)
      val a = peruser.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("cv")).otherwise(0)).cast("long")
          .as("c0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("cv")).otherwise(0)).cast("long")
          .as("c1"))
      val p0 = col("c0").cast("double") / col("n0").cast("double")
      val p1 = col("c1").cast("double") / col("n1").cast("double")
      val pp = (col("c0") + col("c1")).cast("double") /
        (col("n0") + col("n1")).cast("double")
      val se = sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n0").cast("double") +
          lit(1.0) / col("n1").cast("double")))
      // degenerate pooled variance (all users converted, or none): the
      // z statistic is undefined — NULL, not a 0/0 ANSI error
      val z = when(se > lit(0.0), (p0 - p1) / se)
      a.select(col("n0"), col("c0"), col("n1"), col("c1"),
        round(p0, 6).as("rate0"), round(p1, 6).as("rate1"),
        round(z, 6).as("z"))
    },
      // same md5 arm hash, exact counts, same literal double sequence for
      // the z statistic (all constants DOUBLE-cast)
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS cv,
        |         ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 2
        |           AS arm
        |  FROM events GROUP BY user_id
        |), a AS (
        |  SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |         sum(CASE WHEN arm = 0 THEN cv ELSE 0 END)::BIGINT AS c0,
        |         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |         sum(CASE WHEN arm = 1 THEN cv ELSE 0 END)::BIGINT AS c1
        |  FROM u
        |)
        |SELECT n0, c0, n1, c1,
        |       round(c0::DOUBLE / n0::DOUBLE, 6) AS rate0,
        |       round(c1::DOUBLE / n1::DOUBLE, 6) AS rate1,
        |       round(CASE WHEN sqrt(((c0 + c1)::DOUBLE / (n0 + n1)::DOUBLE)
        |                    * (CAST(1.0 AS DOUBLE)
        |                       - (c0 + c1)::DOUBLE / (n0 + n1)::DOUBLE)
        |                    * (CAST(1.0 AS DOUBLE) / n0::DOUBLE
        |                       + CAST(1.0 AS DOUBLE) / n1::DOUBLE))
        |                  > CAST(0.0 AS DOUBLE)
        |             THEN (c0::DOUBLE / n0::DOUBLE - c1::DOUBLE / n1::DOUBLE)
        |             / sqrt(((c0 + c1)::DOUBLE / (n0 + n1)::DOUBLE)
        |                    * (CAST(1.0 AS DOUBLE)
        |                       - (c0 + c1)::DOUBLE / (n0 + n1)::DOUBLE)
        |                    * (CAST(1.0 AS DOUBLE) / n0::DOUBLE
        |                       + CAST(1.0 AS DOUBLE) / n1::DOUBLE))
        |             END, 6) AS z
        |FROM a""".stripMargin),

    // DECILE LIFT / GAINS TABLE — the model-evaluation report: score
    // every user (here: activity), cut the population into score
    // deciles (global ntile — GlobalTies, distributed), and report
    // per-decile conversion plus the cumulative captured-purchasers
    // curve. Two global windows, both rewritten (the ntile over all
    // users; the 10-row cumulative over deciles); everything else hash
    // aggregates.
    Query("rel_decile_lift", (s, dir) => {
      val peruser = events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("score"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("purchaser"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("user_id"))
      val dec = peruser
        .withColumn("decile", ntile(10).over(w).cast("long"))
      val agg = dec.groupBy("decile")
        .agg(count(lit(1)).as("n_users"),
          sum(col("purchaser")).cast("long").as("n_purchasers"))
      val w2 = org.apache.spark.sql.expressions.Window
        .orderBy(col("decile"))
        .rowsBetween(org.apache.spark.sql.expressions
          .Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      agg.withColumn("cum_purchasers", sum(col("n_purchasers")).over(w2))
        .select(col("decile"), col("n_users"), col("n_purchasers"),
          round(col("n_purchasers").cast("double") / col("n_users"), 6)
            .as("conv_rate"),
          col("cum_purchasers"))
    },
      """WITH u AS (
        |  SELECT user_id, count(*) AS score,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS purchaser
        |  FROM events GROUP BY 1
        |), d AS (
        |  SELECT user_id, purchaser,
        |         ntile(10) OVER (ORDER BY score DESC, user_id) AS decile
        |  FROM u
        |), a AS (
        |  SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n_users,
        |         sum(purchaser)::BIGINT AS n_purchasers
        |  FROM d GROUP BY 1
        |)
        |SELECT decile, n_users, n_purchasers,
        |       round(n_purchasers::DOUBLE / n_users, 6) AS conv_rate,
        |       cast(sum(n_purchasers) OVER (ORDER BY decile
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS cum_purchasers
        |FROM a""".stripMargin),

    // AUC-ROC — the threshold-free binary-classifier metric, computed by
    // the rank-sum identity AUC = U⁺/(n₁n₀) (a purchase/non-purchase
    // label against the integer-cents score). Scale-first shape shared
    // with rel_mann_whitney: ranks NEVER materialize per row — the
    // stream aggregates to DISTINCT score values (hash agg), the
    // GlobalScan prefix sum turns per-value counts into tie-averaged
    // ranks carried DOUBLED so they stay integral, and AUC folds out of
    // one aggregate row in decimal(38,0) = int128 exact algebra (ties
    // get the canonical ½ credit automatically via average ranks). One
    // double division at the end.
    Query("rel_auc_roc", (s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val d = events(s, dir).select(
          round(col("value") * 100).cast("long").as("v"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
        .groupBy("v")
        .agg(sum(col("pos")).as("np"), count(lit(1)).as("n"))
      val r = graft.plans.GlobalScan.runningSum(d, "n", "v" -> false)
      val a = r.agg(
        sum(col("np")).as("n1"),
        sum(col("n") - col("np")).as("n0"),
        sum(d38(col("np")) *
          d38(lit(2L) * col("running") - col("n") + lit(1L))).as("ra2"))
      a.select(col("n1"), col("n0"),
        round((col("ra2") - d38(col("n1")) * d38(col("n1") + 1))
            .cast("double") /
          (lit(2.0) * col("n1").cast("double") * col("n0").cast("double")),
          6).as("auc"))
    },
      """WITH s AS (
        |  SELECT cast(round(value * 100) AS BIGINT) AS v,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events
        |), d AS (
        |  SELECT v, sum(pos)::HUGEINT AS np, count(*)::HUGEINT AS n
        |  FROM s GROUP BY v
        |), r AS (
        |  SELECT np, n, sum(n) OVER (ORDER BY v) AS run FROM d
        |), a AS (
        |  SELECT sum(np) AS n1, sum(n - np) AS n0,
        |         sum(np * (2 * run - n + 1)) AS ra2
        |  FROM r
        |)
        |SELECT cast(n1 AS BIGINT) AS n1, cast(n0 AS BIGINT) AS n0,
        |       round(cast(ra2 - n1 * (n1 + 1) AS DOUBLE) /
        |             (2.0 * cast(n1 AS DOUBLE) * cast(n0 AS DOUBLE)), 6)
        |         AS auc
        |FROM a""".stripMargin),

    // CALIBRATION / reliability bins — does the score mean what it
    // claims? Score in [0,1) derived as exact integer cents-mod-100 so
    // the equal-width binning is INTEGER arithmetic (no float-boundary
    // divergence between engines); per bin the mean score is an exact
    // integer sum divided once, and the positive rate an exact count
    // ratio. ONE hash aggregate over the stream; output is O(10) rows
    // at any scale. (sum(cents) < 100·N keeps the long sum safe past
    // 10^16 rows.)
    Query("rel_calibration_bins", (s, dir) =>
      events(s, dir).select(
          (round(col("value") * 100).cast("long") % 100L).as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
        .groupBy(expr("cents div 10").as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
          sum(col("pos")).as("sp"))
        .select(col("bin"), col("n"),
          round(col("sc").cast("double") / (lit(100.0) * col("n")), 6)
            .as("mean_score"),
          round(col("sp").cast("double") / col("n").cast("double"), 6)
            .as("pos_rate")),
      """WITH s AS (
        |  SELECT cast(round(value * 100) AS BIGINT) % 100 AS cents,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events
        |)
        |SELECT cents // 10 AS bin, count(*) AS n,
        |       round(sum(cents)::DOUBLE / (100.0 * count(*)), 6)
        |         AS mean_score,
        |       round(sum(pos)::DOUBLE / count(*)::DOUBLE, 6) AS pos_rate
        |FROM s GROUP BY 1""".stripMargin),

    // COHEN'S KAPPA — chance-corrected agreement between two binary
    // raters (order finality vs. pre-1998 vintage), the standard
    // label-quality gate for multi-annotator training data. The whole
    // statistic folds out of ONE count aggregate; po/pe/kappa are exact
    // integer algebra (products widened to decimal(38,0) = int128 — n²
    // passes Long.Max at ~3·10⁹ rows) down to one double division per
    // output column.
    Query("rel_cohens_kappa", (s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val o = tbl(s, dir, "orders").select(
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("a"),
        when(year(col("o_orderdate")) <= 1997, 1L).otherwise(0L).as("b"))
      val m = o.agg(count(lit(1)).as("n"),
        sum(when(col("a") === 1L && col("b") === 1L, 1L).otherwise(0L))
          .as("n11"),
        sum(when(col("a") === 0L && col("b") === 0L, 1L).otherwise(0L))
          .as("n00"),
        sum(col("a")).as("a1"), sum(col("b")).as("b1"))
      val agree = d38(col("n11") + col("n00"))
      val chance = d38(col("a1")) * d38(col("b1")) +
        (d38(col("n")) - d38(col("a1"))) * (d38(col("n")) - d38(col("b1")))
      m.select(col("n"),
        round((col("n11") + col("n00")).cast("double") /
          col("n").cast("double"), 6).as("po"),
        round(chance.cast("double") /
          (d38(col("n")) * d38(col("n"))).cast("double"), 6).as("pe"),
        round((d38(col("n")) * agree - chance).cast("double") /
          (d38(col("n")) * d38(col("n")) - chance).cast("double"), 6)
          .as("kappa"))
    },
      """WITH s AS (
        |  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS a,
        |         CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END AS b
        |  FROM orders
        |), m AS (
        |  SELECT count(*)::HUGEINT AS n,
        |         sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)::HUGEINT
        |           AS n11,
        |         sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)::HUGEINT
        |           AS n00,
        |         sum(a)::HUGEINT AS a1, sum(b)::HUGEINT AS b1
        |  FROM s
        |)
        |SELECT cast(n AS BIGINT) AS n,
        |       round(cast(n11 + n00 AS DOUBLE) / cast(n AS DOUBLE), 6)
        |         AS po,
        |       round(cast(a1 * b1 + (n - a1) * (n - b1) AS DOUBLE) /
        |             cast(n * n AS DOUBLE), 6) AS pe,
        |       round(cast(n * (n11 + n00) - a1 * b1 - (n - a1) * (n - b1)
        |                  AS DOUBLE) /
        |             cast(n * n - a1 * b1 - (n - a1) * (n - b1) AS DOUBLE),
        |             6) AS kappa
        |FROM m""".stripMargin),

    // NDCG@10 — ranking quality of the value-score ordering against
    // graded relevance (purchase 3 > signup 2 > click 1), per user then
    // averaged. Uses the LINEAR discount 1/rank (declared deviation
    // from log₂ — and the reason every per-user NDCG is EXACT: gains
    // are rel·(2520 div rank) with 2520 = lcm(1..10), so DCG and ideal
    // DCG are integers and their ratio one deterministic division —
    // no cross-engine libm log in a boundary-sensitive compare). Both
    // rank and ideal rank come from row_number windows PARTITIONED by
    // user (one shuffle, two sorts, fully distributed); users with no
    // relevant event are excluded (ideal DCG 0).
    Query("rel_ndcg_eval", (s, dir) => {
      val byScore = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("score").desc, col("event_id").asc)
      val byRel = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("rel").desc, col("event_id").asc)
      val e = events(s, dir).select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("score"),
        when(col("event_type") === "purchase", 3L)
          .when(col("event_type") === "signup", 2L)
          .when(col("event_type") === "click", 1L).otherwise(0L).as("rel"))
      e.select(col("user_id"), col("rel"),
          row_number().over(byScore).as("rk"),
          row_number().over(byRel).as("irk"))
        .groupBy("user_id")
        .agg(
          sum(when(col("rk") <= 10, col("rel") * expr("2520 div rk"))
            .otherwise(0L)).as("dcg"),
          sum(when(col("irk") <= 10, col("rel") * expr("2520 div irk"))
            .otherwise(0L)).as("idcg"))
        .where(col("idcg") > 0)
        // per-user NDCG in exact integer micros — half-up rounding of
        // dcg·10⁶/idcg via (2p+q) div 2q — so the corpus mean is ONE
        // exact long sum to one double division; a double avg() over
        // per-user ndcgs would be partial-merge-order dependent and
        // could flip the 6th decimal cross-engine at large user counts
        .select(expr("(dcg * 2000000 + idcg) div (idcg * 2)").as("micros"))
        .agg(count(lit(1)).as("n_users"),
          round(sum(col("micros")).cast("double") /
            (count(lit(1)) * 1000000L).cast("double"), 6).as("mean_ndcg"))
    },
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         cast(round(value * 100) AS BIGINT) AS score,
        |         CASE event_type WHEN 'purchase' THEN 3 WHEN 'signup' THEN 2
        |              WHEN 'click' THEN 1 ELSE 0 END AS rel
        |  FROM events
        |), r AS (
        |  SELECT user_id, rel,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY score DESC, event_id) AS rk,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY rel DESC, event_id) AS irk
        |  FROM e
        |), p AS (
        |  SELECT user_id,
        |         sum(CASE WHEN rk <= 10 THEN rel * (2520 // rk)
        |                  ELSE 0 END) AS dcg,
        |         sum(CASE WHEN irk <= 10 THEN rel * (2520 // irk)
        |                  ELSE 0 END) AS idcg
        |  FROM r GROUP BY user_id
        |)
        |SELECT count(*) AS n_users,
        |       round(cast(sum((dcg * 2000000 + idcg) // (idcg * 2))
        |                  AS DOUBLE) /
        |             cast(count(*) * 1000000 AS DOUBLE), 6) AS mean_ndcg
        |FROM p WHERE idcg > 0""".stripMargin),

    // ISOTONIC CALIBRATION (PAV) — the monotone fit over the
    // reliability bins, via the MINIMAX characterization of isotonic
    // regression: fit_i = max_{j<=i} min_{k>=i} wmean(rate over
    // [j..k]). One data-sized hash aggregate shrinks the stream to 10
    // bins; every interval mean is an exact integer ratio (one double
    // division each), and the minimax runs over O(bins³) tiny rows at
    // ANY scale — the sequential pool-adjacent-violators loop becomes
    // three joins over a constant-size frame, nothing sequential left.
    Query("rel_isotonic_fit", (s, dir) => {
      val bins = events(s, dir).select(
          (round(col("value") * 100).cast("long") % 100L).as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
        .groupBy(expr("cents div 10").as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("sp"))
        .localCheckpoint(false) // tiny; feeds four self-joins
      val jk = bins.select(col("bin").as("j"))
        .crossJoin(broadcast(bins.select(col("bin").as("k"))))
        .where(col("j") <= col("k"))
      val a = jk.join(broadcast(bins),
          col("bin") >= col("j") && col("bin") <= col("k"))
        .groupBy("j", "k")
        .agg((sum(col("sp")).cast("double") / sum(col("n")).cast("double"))
          .as("av"))
      val m = bins.select(col("bin").as("i"))
        .join(broadcast(a), col("j") <= col("i") && col("k") >= col("i"))
        .groupBy("i", "j").agg(min(col("av")).as("mn"))
      val fit = m.groupBy("i").agg(max(col("mn")).as("fit"))
      bins.join(broadcast(fit), col("bin") === col("i"))
        .select(col("bin"), col("n"),
          round(col("sp").cast("double") / col("n").cast("double"), 6)
            .as("raw_rate"),
          round(col("fit"), 6).as("fit_rate"))
    },
      """WITH s AS (
        |  SELECT cast(round(value * 100) AS BIGINT) % 100 AS cents,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events
        |), b AS (
        |  SELECT cents // 10 AS bin, count(*) AS n, sum(pos)::BIGINT AS sp
        |  FROM s GROUP BY 1
        |), jk AS (
        |  SELECT j.bin AS j, k.bin AS k FROM b j CROSS JOIN b k
        |  WHERE j.bin <= k.bin
        |), a AS (
        |  SELECT jk.j, jk.k,
        |         sum(b.sp)::DOUBLE / sum(b.n)::DOUBLE AS av
        |  FROM jk JOIN b ON b.bin BETWEEN jk.j AND jk.k
        |  GROUP BY jk.j, jk.k
        |), m AS (
        |  SELECT i.bin AS i, a.j, min(a.av) AS mn
        |  FROM b i JOIN a ON a.j <= i.bin AND a.k >= i.bin
        |  GROUP BY 1, 2
        |), f AS (
        |  SELECT i, max(mn) AS fit FROM m GROUP BY i
        |)
        |SELECT b.bin, b.n,
        |       round(b.sp::DOUBLE / b.n::DOUBLE, 6) AS raw_rate,
        |       round(f.fit, 6) AS fit_rate
        |FROM b JOIN f ON f.i = b.bin""".stripMargin),

    // POISSONIZED BOOTSTRAP CI — the only bootstrap that works at
    // 100 TB: instead of resampling rows (a global shuffle per
    // replica), every row draws a DETERMINISTIC Poisson(1) weight per
    // replica — ONE md5 per row seeds the draw, then each replica is a
    // cheap affine mod-(2³¹−1) remix of that seed (constants shared
    // verbatim with the oracle via [[bootMix]]) — and all 20 replicas
    // ride ONE aggregate as 2B sum COLUMNS over the un-exploded row
    // stream: zero data movement, one crypto hash per ROW (not per row
    // × replica), one partial-agg row per partition in the shuffle.
    // Replica means are exact-integer ratios; the CI is the 2nd/19th
    // order statistic of the 20 means. B rides in the column width,
    // never in the row count or the shuffle.
    Query("rel_bootstrap_ci", (s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      // Poisson(1) inverse CDF over u ∈ [0,1): identical literal
      // thresholds on both engines
      def pois(u: Column): Column =
        when(u < 0.36787944117144233, 0L)
          .when(u < 0.7357588823428847, 1L)
          .when(u < 0.9196986029286058, 2L)
          .when(u < 0.9810118431238462, 3L)
          .when(u < 0.9963401531726563, 4L)
          .when(u < 0.9994058151824183, 5L).otherwise(6L)
      val o = tbl(s, dir, "orders").select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      // replicas as COLUMNS, not exploded rows: the B-way explode
      // multiplied the stream B-fold (3M rows at sf0.1) just to regroup
      // it by replica id — instead every row carries its B weight/
      // weighted-cent terms and ONE aggregate computes all 2B sums
      // map-side (same decimal addends, exact integer sums are
      // order-independent, so every replica mean is bit-identical).
      // Measured 3.0 -> 0.9 s solo at sf0.1; B still never touches the
      // shuffle, which stays one partial-agg row per partition.
      val withW = o
        .select(col("cents"),
          (conv(substring(md5(col("o_orderkey").cast("string")), 1, 8),
            16, 10).cast("long") % BootP).as("x"))
        .select(bootMix.map { case (b, a, c) =>
          val w = pois(((lit(a) * col("x") + lit(c)) % BootP)
            .cast("double") / lit(BootP.toDouble))
          struct(d38(w * col("cents")).as("wc"), w.as("w")).as(s"r$b")
        }: _*)
      val sumCols = bootMix.map { case (b, _, _) =>
        sum(col(s"r$b").getField("wc")).as(s"swc_$b")
      } ++ bootMix.map { case (b, _, _) =>
        sum(col(s"r$b").getField("w")).as(s"sw_$b")
      }
      val means = withW.agg(sumCols.head, sumCols.tail: _*)
        .select(sort_array(array(bootMix.map { case (b, _, _) =>
          col(s"swc_$b").cast("double") / col(s"sw_$b").cast("double")
        }: _*)).as("ms"))
      val point = o.agg(
        (sum(d38(col("cents"))).cast("double") /
          count(lit(1)).cast("double")).as("mean_cents"))
      point.crossJoin(broadcast(means))
        .select(round(col("mean_cents"), 6).as("mean_cents"),
          round(element_at(col("ms"), 2), 6).as("boot_lo"),
          round(element_at(col("ms"), 19), 6).as("boot_hi"),
          size(col("ms")).cast("long").as("n_replicas"))
    },
      s"""WITH o AS (
        |  SELECT o_orderkey, cast(round(o_totalprice * 100) AS BIGINT)
        |           AS cents
        |  FROM orders
        |), seeds AS (
        |  SELECT cents,
        |         ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))
        |           ::UBIGINT::BIGINT AS x
        |  FROM o
        |), mix AS (
        |  SELECT * FROM (VALUES
        |    ${bootMix.map { case (b, a, c) => s"($b, $a, $c)" }
                 .mkString(",\n        |    ")}) AS t(b, a, c)
        |), reps AS (
        |  SELECT mix.b, seeds.cents,
        |         CASE
        |           WHEN u < 0.36787944117144233 THEN 0
        |           WHEN u < 0.7357588823428847 THEN 1
        |           WHEN u < 0.9196986029286058 THEN 2
        |           WHEN u < 0.9810118431238462 THEN 3
        |           WHEN u < 0.9963401531726563 THEN 4
        |           WHEN u < 0.9994058151824183 THEN 5
        |           ELSE 6 END AS w
        |  FROM seeds CROSS JOIN mix,
        |       LATERAL (SELECT ((mix.a * (seeds.x % $BootP) + mix.c)
        |           % $BootP)::DOUBLE / $BootP.0 AS u) h
        |), means AS (
        |  SELECT sum((w * cents)::HUGEINT)::DOUBLE /
        |         sum(w)::DOUBLE AS m
        |  FROM reps GROUP BY b
        |), ms AS (
        |  SELECT list(m ORDER BY m) AS ms FROM means
        |)
        |SELECT round((SELECT sum(cents::HUGEINT)::DOUBLE /
        |                     count(*)::DOUBLE FROM o), 6) AS mean_cents,
        |       round(ms[2], 6) AS boot_lo, round(ms[19], 6) AS boot_hi,
        |       cast(len(ms) AS BIGINT) AS n_replicas
        |FROM ms""".stripMargin),

    // SEASONAL SMOOTHING — 24 independent hour-of-day EWMA chains over
    // the daily series (the seasonal component of Holt-Winters, kept
    // exactly replayable): each slot's day sequence is bounded by the
    // CALENDAR, not the data, so the per-slot fold is a bounded
    // codegen'd array aggregate; the seasonal index normalizes by the
    // cross-slot mean (one broadcast scalar). Both engines fold the
    // same literal IEEE sequence (0.75·acc + 0.25·x from a 0 seed).
    Query("rel_seasonal_smoothing", (s, dir) => {
      val daily = events(s, dir).select(
          expr("unix_micros(ts) div 86400000000").as("day"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hod"))
        .groupBy("hod", "day").agg(count(lit(1)).cast("double").as("x"))
      val sm = daily.groupBy("hod")
        .agg(array_sort(collect_list(struct(col("day"), col("x"))))
          .as("seq"))
        .select(col("hod"),
          aggregate(col("seq"), lit(0.0),
            (acc, el) => lit(0.75) * acc + lit(0.25) * el.getField("x"))
            .as("ew"))
        .localCheckpoint(false) // 24 rows; feeds the mean and the output
      sm.crossJoin(broadcast(sm.agg(avg(col("ew")).as("mu"))))
        .select(col("hod"), round(col("ew"), 6).as("ewma"),
          round(col("ew") / col("mu"), 6).as("seasonal_idx"))
    },
      """WITH d AS (
        |  SELECT (epoch_us(ts) // 3600000000) % 24 AS hod,
        |         epoch_us(ts) // 86400000000 AS day, count(*)::DOUBLE AS x
        |  FROM events GROUP BY 1, 2
        |), sm AS (
        |  SELECT hod,
        |         list_reduce(list_prepend(0.0::DOUBLE,
        |             list(x ORDER BY day)),
        |           (acc, x) -> 0.75::DOUBLE * acc + 0.25::DOUBLE * x) AS ew
        |  FROM d GROUP BY hod
        |), mu AS (SELECT avg(ew) AS mu FROM sm)
        |SELECT hod, round(ew, 6) AS ewma,
        |       round(ew / mu, 6) AS seasonal_idx
        |FROM sm CROSS JOIN mu""".stripMargin),

    // WOE / INFORMATION VALUE — the credit-scoring feature evaluator:
    // decile-bin the feature (event value), then per bin
    // WOE = ln((pos_i/P)/(neg_i/N)) and IV = Σ (pos_i/P − neg_i/N)·WOE.
    // Labels: purchase vs view. ONE pass bins (GlobalTies ntile under
    // the extension rewrite — no single-partition stage), one hash
    // aggregate per bin; counts are exact integers, the ln happens once
    // per BIN (10 rows) and rounds to 6 like the BM25 precedent.
    // Laplace-smoothed ((x+0.5)/(T+0.5), identically in the oracle) so
    // a pure bin (zero positives or negatives) yields a finite WOE
    // instead of engine-dependent ln(0) behavior.
    Query("rel_woe_iv", (s, dir) => {
      val base = events(s, dir)
        .where(col("event_type").isin("purchase", "view"))
        .select(col("event_id"), col("value"),
          (col("event_type") === "purchase").cast("long").as("pos"))
        .withColumn("bin", ntile(10).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("value"), col("event_id"))).cast("long"))
      val bins = base.groupBy("bin")
        .agg(sum(col("pos")).as("p_i"),
          (count(lit(1)) - sum(col("pos"))).as("n_i"))
      val tot = base.agg(sum(col("pos")).as("p_tot"),
        (count(lit(1)) - sum(col("pos"))).as("n_tot"))
      val pr = (col("p_i").cast("double") + lit(0.5)) /
        (col("p_tot").cast("double") + lit(0.5))
      val nr = (col("n_i").cast("double") + lit(0.5)) /
        (col("n_tot").cast("double") + lit(0.5))
      bins.crossJoin(broadcast(tot))
        .select(col("bin"), col("p_i"), col("n_i"),
          round(log(pr / nr), 6).as("woe"),
          round((pr - nr) * log(pr / nr), 6).as("iv_i"))
    },
      """WITH e AS (
        |  SELECT event_id, value,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |           AS pos
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |), b AS (
        |  SELECT pos, ntile(10) OVER (ORDER BY value, event_id) AS bin
        |  FROM e
        |), g AS (
        |  SELECT bin, cast(sum(pos) AS bigint) AS p_i,
        |         cast(count(*) - sum(pos) AS bigint) AS n_i
        |  FROM b GROUP BY 1
        |), t AS (
        |  SELECT cast(sum(pos) AS bigint) AS p_tot,
        |         cast(count(*) - sum(pos) AS bigint) AS n_tot
        |  FROM e
        |)
        |SELECT cast(bin AS bigint) AS bin, p_i, n_i,
        |       round(ln(((p_i + 0.5) / (p_tot + 0.5)) /
        |                ((n_i + 0.5) / (n_tot + 0.5))), 6) AS woe,
        |       round(((p_i + 0.5) / (p_tot + 0.5) -
        |              (n_i + 0.5) / (n_tot + 0.5)) *
        |             ln(((p_i + 0.5) / (p_tot + 0.5)) /
        |                ((n_i + 0.5) / (n_tot + 0.5))), 6) AS iv_i
        |FROM g, t""".stripMargin),

    // PRECISION-RECALL CURVE — the threshold sweep that AUC integrates
    // away: predict positive at score ≥ each decile threshold, report
    // precision/recall per threshold. The stream shrinks to 10 bins in
    // ONE hash aggregate; suffix sums over the bins (predicted-positive
    // and true-positive counts above each threshold) run on a
    // constant-size frame, so the sweep is free at any scale and every
    // ratio is one exact-integer division.
    Query("rel_pr_curve", (s, dir) => {
      val bins = events(s, dir).select(
          (round(col("value") * 100).cast("long") % 100L).as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
        .groupBy(expr("cents div 10").as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("sp"))
        .localCheckpoint(false) // 10 rows; feeds thresholds + totals
      val byTh = bins.select(col("bin").as("t"))
        .join(broadcast(bins), col("bin") >= col("t"))
        .groupBy("t").agg(sum(col("n")).as("pp"), sum(col("sp")).as("tp"))
      byTh.crossJoin(broadcast(bins.agg(sum(col("sp")).as("p"))))
        .select(col("t"), col("pp"), col("tp"),
          round(col("tp").cast("double") / col("pp").cast("double"), 6)
            .as("precision"),
          round(col("tp").cast("double") / col("p").cast("double"), 6)
            .as("recall"))
    },
      """WITH s AS (
        |  SELECT cast(round(value * 100) AS BIGINT) % 100 AS cents,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events
        |), b AS (
        |  SELECT cents // 10 AS bin, count(*) AS n, sum(pos)::BIGINT AS sp
        |  FROM s GROUP BY 1
        |), byth AS (
        |  SELECT t.bin AS t, sum(b.n)::BIGINT AS pp, sum(b.sp)::BIGINT AS tp
        |  FROM b t JOIN b ON b.bin >= t.bin
        |  GROUP BY t.bin
        |), tot AS (SELECT sum(sp)::BIGINT AS p FROM b)
        |SELECT t, pp, tp,
        |       round(tp::DOUBLE / pp::DOUBLE, 6) AS precision,
        |       round(tp::DOUBLE / p::DOUBLE, 6) AS recall
        |FROM byth CROSS JOIN tot""".stripMargin),

    // HOLT-WINTERS-STYLE FORECAST — the trend family's capstone: the
    // next 24 hours as (level + k·trend)·seasonal_idx, composing the
    // double-EWMA chain (level/trend at the last observed hour, via two
    // stacked GlobalRecur scans) with the hour-of-day seasonal indices.
    // Every input is O(hours)/O(24)-sized after one hash aggregate
    // each; the hourly frame repartitions to ONE partition before the
    // scans (see rel_double_ewma_trend — the affine splice is only
    // ulp-exact on one partition, and the frame is time-span-bounded);
    // the last-hour cut is TakeOrderedAndProject (never a global
    // sort), and the 24-step horizon joins against the broadcast
    // seasonal table.
    Query("rel_holt_winters_forecast", (s, dir) => {
      val hr = events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy("h").agg(count(lit(1)).cast("double").as("x"))
        .select(col("h"), col("x"),
          lit(0.75).as("m"), (lit(0.25) * col("x")).as("c"))
        .repartition(1)
      val p1 = graft.plans.Recurrence.scan(hr, "m", "c", 0.0, ("h", false))
        .select(col("h"), col("y").as("s1"), lit(0.75).as("m2"))
      val p2 = graft.plans.Recurrence
        .scan(p1.withColumn("c2", lit(0.25) * col("s1")),
          "m2", "c2", 0.0, ("h", false))
      val last = p2.orderBy(col("h").desc).limit(1)
        .select(col("h").as("h0"),
          (lit(2.0) * col("s1") - col("y")).as("level"),
          ((col("s1") - col("y")) / lit(3.0)).as("trend"))
      val daily = events(s, dir).select(
          expr("unix_micros(ts) div 86400000000").as("day"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hod"))
        .groupBy("hod", "day").agg(count(lit(1)).cast("double").as("x"))
      val sm = daily.groupBy("hod")
        .agg(array_sort(collect_list(struct(col("day"), col("x"))))
          .as("seq"))
        .select(col("hod"),
          aggregate(col("seq"), lit(0.0),
            (acc, el) => lit(0.75) * acc + lit(0.25) * el.getField("x"))
            .as("ew"))
        .localCheckpoint(false) // 24 rows; feeds the mean and the join
      val si = sm.crossJoin(broadcast(sm.agg(avg(col("ew")).as("mu"))))
        .select(col("hod"), (col("ew") / col("mu")).as("sidx"))
      last.crossJoin(broadcast(
          s.range(1, 25).select(col("id").as("k"))))
        .select(col("k"), ((col("h0") + col("k")) % 24).as("hod"),
          col("level"), col("trend"))
        .join(broadcast(si), "hod")
        .select(col("k"), col("hod"),
          round((col("level") + col("k") * col("trend")) * col("sidx"), 6)
            .as("forecast"))
    },
      """WITH RECURSIVE hrs AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h, count(*)::DOUBLE AS x
        |  FROM events GROUP BY 1
        |), idx AS (
        |  SELECT h, x, row_number() OVER (ORDER BY h) AS i FROM hrs
        |), rec AS (
        |  SELECT 0::BIGINT AS i, NULL::BIGINT AS h,
        |         0.0::DOUBLE AS s1v, 0.0::DOUBLE AS s2v
        |  UNION ALL
        |  SELECT idx.i, idx.h,
        |         0.75 * rec.s1v + 0.25 * idx.x,
        |         0.75 * rec.s2v + 0.25 * (0.75 * rec.s1v + 0.25 * idx.x)
        |  FROM rec JOIN idx ON idx.i = rec.i + 1
        |), lastrow AS (
        |  SELECT h AS h0, 2.0 * s1v - s2v AS level,
        |         (s1v - s2v) / 3.0 AS trend
        |  FROM rec WHERE i = (SELECT max(i) FROM rec)
        |), dd AS (
        |  SELECT (epoch_us(ts) // 3600000000) % 24 AS hod,
        |         epoch_us(ts) // 86400000000 AS day, count(*)::DOUBLE AS x
        |  FROM events GROUP BY 1, 2
        |), sm AS (
        |  SELECT hod,
        |         list_reduce(list_prepend(0.0::DOUBLE,
        |             list(x ORDER BY day)),
        |           (acc, x) -> 0.75::DOUBLE * acc + 0.25::DOUBLE * x) AS ew
        |  FROM dd GROUP BY hod
        |), mu AS (SELECT avg(ew) AS mu FROM sm),
        |si AS (
        |  SELECT hod, ew / mu AS sidx FROM sm CROSS JOIN mu
        |), ks AS (SELECT unnest(generate_series(1, 24)) AS k)
        |SELECT ks.k, (lastrow.h0 + ks.k) % 24 AS hod,
        |       round((lastrow.level + ks.k * lastrow.trend) * si.sidx, 6)
        |         AS forecast
        |FROM lastrow CROSS JOIN ks
        |     JOIN si ON si.hod = (lastrow.h0 + ks.k) % 24""".stripMargin),

    // BROWN'S DOUBLE EXPONENTIAL SMOOTHING — level + trend of the
    // hourly event-count series by chaining the GlobalRecur affine
    // operator TWICE: s1 smooths the series, s2 smooths s1, and
    // (level, trend) = (2s1−s2, α/(1−α)·(s1−s2)) — the trend-aware
    // upgrade of rel_ewma_per_user's flat EWMA, and the operator-
    // composition showcase: an unbounded recurrence feeding a second
    // unbounded recurrence, both running as two-pass scans. The series
    // is O(hours) after the hash aggregate (bounded by the time span,
    // not the corpus), so it REPARTITIONS TO ONE partition before the
    // scans: GlobalRecur's partition splice composes affine transforms
    // (cm·y+cb), whose float rounding differs from a sequential fold
    // in the last ulps — on one partition the splice is the identity
    // and the chain IS the same literal IEEE sequence (0.75·s + 0.25·x)
    // DuckDB's recursive CTE folds, hence bit-exact cross-engine. (The
    // data-sized aggregate stays fully parallel; only the tiny hourly
    // frame is single-partition. On an unbounded-cardinality series
    // the distributed splice with a tolerance compare is the shape.)
    Query("rel_double_ewma_trend", (s, dir) => {
      val hr = events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy("h").agg(count(lit(1)).cast("double").as("x"))
        .select(col("h"), col("x"),
          lit(0.75).as("m"), (lit(0.25) * col("x")).as("c"))
        .repartition(1)
      val p1 = graft.plans.Recurrence.scan(hr, "m", "c", 0.0, ("h", false))
        .select(col("h"), col("y").as("s1"),
          lit(0.75).as("m2"))
      val p2 = graft.plans.Recurrence
        .scan(p1.withColumn("c2", lit(0.25) * col("s1")),
          "m2", "c2", 0.0, ("h", false))
      p2.select(col("h"),
        round(col("s1"), 6).as("s1"), round(col("y"), 6).as("s2"),
        round(lit(2.0) * col("s1") - col("y"), 6).as("level"),
        round((col("s1") - col("y")) / lit(3.0), 6).as("trend"))
    },
      """WITH RECURSIVE hrs AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h, count(*)::DOUBLE AS x
        |  FROM events GROUP BY 1
        |), idx AS (
        |  SELECT h, x, row_number() OVER (ORDER BY h) AS i FROM hrs
        |), rec AS (
        |  SELECT 0::BIGINT AS i, NULL::BIGINT AS h,
        |         0.0::DOUBLE AS s1v, 0.0::DOUBLE AS s2v
        |  UNION ALL
        |  SELECT idx.i, idx.h,
        |         0.75 * rec.s1v + 0.25 * idx.x,
        |         0.75 * rec.s2v + 0.25 * (0.75 * rec.s1v + 0.25 * idx.x)
        |  FROM rec JOIN idx ON idx.i = rec.i + 1
        |)
        |SELECT h, round(s1v, 6) AS s1, round(s2v, 6) AS s2,
        |       round(2.0 * s1v - s2v, 6) AS level,
        |       round((s1v - s2v) / 3.0, 6) AS trend
        |FROM rec WHERE i > 0""".stripMargin),
  )
}
