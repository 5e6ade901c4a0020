package graft
package registry

import SparkEntry.{tbl, events}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Window functions and frames: global ranks, running aggregates,
  * bounded ROWS / RANGE frames, navigation and sessionization. */
private[graft] object RelWindowQueries {

  /** Shared input shape for the `rel_running_*` prefix-frame family:
    * event stream under the (t, event_id) total order, value in
    * milli-units as an exact long, NULL for 'error' events (so the SQL
    * null semantics of each running aggregate are actually exercised). */
  private def valuedEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      unix_micros(col("ts")).as("t"), col("event_id"),
      when(col("event_type") =!= "error",
        round(col("value") * 1000).cast("long")).as("v"))

  /** Same value shape but keeping the raw TIMESTAMP key — for the
    * interval-RANGE frames that order by the instant directly. */
  private def valuedEventsTs(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      col("ts"), col("event_id"),
      when(col("event_type") =!= "error",
        round(col("value") * 1000).cast("long")).as("v"))

  /** `ROWS UNBOUNDED PRECEDING .. CURRENT ROW` over the (t, event_id)
    * total order. GlobalWindowRule rewrites this explicit-ROWS frame and
    * the default RANGE frame alike (RANGE emits tie groups their group
    * total — see `rel_running_range_total`). */
  private def prefixWindow: org.apache.spark.sql.expressions.WindowSpec =
    org.apache.spark.sql.expressions.Window
      .orderBy(col("t"), col("event_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)

  /** `ROWS k PRECEDING .. CURRENT ROW` over the same (t, event_id) total
    * order — the bounded sliding frame GlobalWindowRule rewrites into the
    * boundary-seeded GlobalFrame operator. */
  private def slidingWindow(k: Int)
  : org.apache.spark.sql.expressions.WindowSpec = slidingBetween(-k, 0)

  /** General bounded `ROWS lo .. hi` frame over the (t, event_id) total
    * order (negative = preceding, positive = following). */
  private def slidingBetween(lo: Int, hi: Int)
  : org.apache.spark.sql.expressions.WindowSpec =
    org.apache.spark.sql.expressions.Window
      .orderBy(col("t"), col("event_id")).rowsBetween(lo, hi)

  /** DuckDB oracle for `rel_hash_chain_global`, in CLOSED FORM: the
    * recurrence h_i = M*h_{i-1} + tok_i (mod 2^32) expands to
    * h_i = m^i * sum_{j<=i} tok_j * inv^j (inv = M^-1 mod 2^32, which
    * exists because M is odd) — a windowed prefix sum plus per-row
    * modular powers via 24-bit binary decomposition (constants
    * generated here with BigInt modPow). A naive recursive-CTE oracle
    * is O(n) sequential iterations (measured ~80 s at sf0.01); this is
    * one vectorized pass (~0.3 s). Every product stays below 2^64, so
    * HUGEINT (int128) arithmetic is exact throughout. */
  private val hashChainOracleSql: String = {
    val M = 16777619L
    val MOD = BigInt(1) << 32
    val inv = BigInt(M).modInverse(MOD)
    val mp = (0 until 24).map(k => BigInt(M).modPow(BigInt(1) << k, MOD))
    val ip = (0 until 24).map(k => inv.modPow(BigInt(1) << k, MOD))
    def powExpr(bits: Seq[BigInt], v: String): String =
      bits.zipWithIndex.foldLeft("1::HUGEINT") { case (acc, (p, k)) =>
        s"(($acc * (CASE WHEN ($v >> $k) & 1 = 1 THEN $p::HUGEINT " +
          s"ELSE 1::HUGEINT END)) % 4294967296)"
      }
    s"""WITH e AS (
       |  SELECT event_id,
       |         ('0x' || substr(md5(coalesce(event_type, '~') || ':' ||
       |            coalesce(cast(round(value * 1000) AS bigint), -1)::VARCHAR),
       |            1, 8))::UBIGINT::HUGEINT AS tok,
       |         row_number() OVER (ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events
       |), u AS (
       |  SELECT event_id, rn,
       |         (tok * ${powExpr(ip, "rn")}) % 4294967296 AS uj
       |  FROM e
       |), s AS (
       |  SELECT event_id, rn,
       |         (sum(uj) OVER (ORDER BY rn)) % 4294967296 AS si
       |  FROM u
       |)
       |SELECT event_id,
       |       cast((si::HUGEINT * ${powExpr(mp, "rn")}) % 4294967296
       |            AS bigint) AS chain
       |FROM s""".stripMargin
  }

  val queries: Seq[Query] = Seq(

    // Partitioned window: top-3 orders per customer (no global bottleneck)
    Query("rel_window_topn_per_group", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      tbl(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3""".stripMargin),

    // Sessionization: gaps-and-islands via lag + running sum (30-min gap)
    Query("rel_sessionize", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("new_sess",
          when(col("ts_us") - lag("ts_us", 1).over(w) > 1800L * 1000000L
            || lag("ts_us", 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("sess_id", sum("new_sess").over(
          w.rowsBetween(Long.MinValue, 0)))
        .groupBy("user_id")
        .agg(max("sess_id").as("n_sessions"), count(lit(1)).as("n_events"))
    },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |), m AS (
        |  SELECT user_id, ts_us, event_id,
        |         CASE WHEN lag(ts_us) OVER w IS NULL
        |                OR ts_us - lag(ts_us) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), s AS (
        |  SELECT user_id,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM m
        |)
        |SELECT user_id, cast(max(sess_id) AS bigint) AS n_sessions,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id""".stripMargin),

    // Global rank via the custom GlobalRankPlan/GlobalRankExec operator
    // (range-partitioned sort + per-partition offsets — no single-partition
    // window stage at any input size)
    Query("rel_global_rank_plan", (s, dir) =>
      graft.plans.GlobalRank.ranked(
        events(s, dir).select(col("event_id"), col("value")),
        "value" -> true, "event_id" -> false),
      """SELECT event_id, value,
        |       row_number() OVER (ORDER BY value DESC, event_id) AS rank
        |FROM events""".stripMargin),

    // Global rank() WITH TIES, written as the textbook un-partitioned
    // window — rewritten by GlobalWindowRule into the boundary-chained
    // GlobalTies operator (tie groups span range partitions; the driver
    // chains first/last boundary rows), so the plan has no
    // single-partition stage. Date-granular order guarantees dense tie
    // groups (~6 orders/day at sf0.01). Census-pinned in PlanAuditSpec.
    Query("rel_global_rank_ties", (s, dir) =>
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
        .withColumn("rnk", rank().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("d")))),
      """SELECT o_orderkey, cast(o_orderdate AS date) AS d,
        |       cast(rank() OVER (ORDER BY cast(o_orderdate AS date))
        |            AS integer) AS rnk
        |FROM orders""".stripMargin),

    // dense_rank() variant of the same shape: gap-free group numbering —
    // equivalently the "day index" of each order date.
    Query("rel_global_dense_rank", (s, dir) =>
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
        .withColumn("day_idx", dense_rank().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("d")))),
      """SELECT o_orderkey, cast(o_orderdate AS date) AS d,
        |       cast(dense_rank() OVER (ORDER BY cast(o_orderdate AS date))
        |            AS integer) AS day_idx
        |FROM orders""".stripMargin),

    // percent_rank() — the relative standing of every order by price.
    // A function of the tie rank and the global count, so it rides the
    // same GlobalTies partials (rounded for cross-engine double compare).
    Query("rel_percent_rank", (s, dir) =>
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .withColumn("pr", round(percent_rank().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("o_totalprice"))), 9)),
      """SELECT o_orderkey, o_totalprice,
        |       round(percent_rank() OVER (ORDER BY o_totalprice), 9) AS pr
        |FROM orders""".stripMargin),

    // cume_dist() — the empirical CDF of order prices. Tie-invariant
    // like percent_rank; internally the rewrite plans GlobalTies over
    // the REVERSED order (a forward scan can't see its tie group's end;
    // the reverse rank's complement is #{rows <= current}).
    Query("rel_cume_dist", (s, dir) =>
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .withColumn("cd", round(cume_dist().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("o_totalprice"))), 9)),
      """SELECT o_orderkey, o_totalprice,
        |       round(cume_dist() OVER (ORDER BY o_totalprice), 9) AS cd
        |FROM orders""".stripMargin),

    // ntile(10) — global decile assignment over the event stream. Needs
    // a TOTAL order: ntile splits tie groups at bucket boundaries, so an
    // ambiguous order would be engine-dependent row-by-row.
    Query("rel_ntile_buckets", (s, dir) =>
      valuedEvents(s, dir)
        .select(col("t"), col("event_id"))
        .withColumn("decile", ntile(10).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("t"), col("event_id")))),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id FROM events
        |)
        |SELECT t, event_id,
        |       cast(ntile(10) OVER (ORDER BY t, event_id)
        |            AS integer) AS decile
        |FROM e""".stripMargin),

    // first_value() — the globally first order's price attached to every
    // row. GlobalWindowRule plans this as GlobalEdge: the value is spliced
    // from per-partition head partials on the driver (one single-column
    // row), never a single-partition window. Unique (date, key) order
    // keeps the oracle deterministic. Census-pinned.
    Query("rel_first_value", (s, dir) =>
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .withColumn("first_price", first(col("o_totalprice")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("o_orderdate"), col("o_orderkey"))))
        .select("o_orderkey", "o_totalprice", "first_price"),
      """SELECT o_orderkey, o_totalprice,
        |       first_value(o_totalprice)
        |         OVER (ORDER BY o_orderdate, o_orderkey) AS first_price
        |FROM orders""".stripMargin),

    // last_value(... IGNORE NULLS) — "last known good": each event
    // carries the latest non-null value at or before it in the total
    // order (error events are null in valuedEvents). GlobalEdge's
    // running latest-non-null, seeded per partition from the
    // driver-spliced carry — the LOCF / gap-fill shape, distributed.
    Query("rel_last_known_value", (s, dir) =>
      valuedEvents(s, dir)
        .withColumn("last_good",
          last(col("v"), ignoreNulls = true).over(prefixWindow))
        .select(col("event_id"), col("v"), col("last_good")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id, v,
        |       last_value(v IGNORE NULLS) OVER (ORDER BY t, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS last_good
        |FROM e""".stripMargin),

    // nth_value(100) — the 100th event's value, NULL for the 99 rows
    // before it: GlobalEdge's spliced-threshold shape (emit the value
    // once the frame end reaches global row 100).
    Query("rel_nth_value", (s, dir) =>
      valuedEvents(s, dir)
        .withColumn("v100", nth_value(col("v"), 100).over(prefixWindow))
        .select(col("event_id"), col("v100")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       nth_value(v, 100) OVER (ORDER BY t, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS v100
        |FROM e""".stripMargin),

    // last_value(IGNORE NULLS) over the DEFAULT RANGE frame: peer groups
    // are hours; null-hours inherit the latest non-null hour code at or
    // before their group END — GlobalEdge's peer-group buffering plus the
    // trailing-group chain (hour groups span range partitions). The value
    // is a function of the hour key, so the result is deterministic even
    // though RANGE last_value sees ties.
    Query("rel_last_good_hour", (s, dir) =>
      events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("hs"),
          col("event_id"))
        .withColumn("hv",
          when(col("hs") % 5 === 0, lit(null).cast("long"))
            .otherwise(col("hs") % 997))
        .withColumn("last_good",
          last(col("hv"), ignoreNulls = true).over(
            org.apache.spark.sql.expressions.Window.orderBy(col("hs")))),
      """WITH e AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hs, event_id FROM events
        |), e2 AS (
        |  SELECT hs, event_id,
        |         CASE WHEN hs % 5 <> 0 THEN hs % 997 END AS hv
        |  FROM e
        |)
        |SELECT hs, event_id, hv,
        |       last_value(hv IGNORE NULLS) OVER (ORDER BY hs) AS last_good
        |FROM e2""".stripMargin),

    // Window distribution functions: quartile + percent_rank per key
    Query("rel_window_distribution", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("value"), col("event_id"))
      events(s, dir).select(col("event_type"), col("event_id"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pr"))
    },
      """SELECT event_type, event_id,
        |       cast(ntile(4) OVER w AS bigint) AS quartile,
        |       round(percent_rank() OVER w, 6) AS pr
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin),

    // Native session windows (Spark's session_window, batch mode): events
    // merge while the gap is < 30 min — same islands the streaming session
    // operator produces; start kept as epoch micros for oracle parity
    Query("rel_session_window", (s, dir) =>
      events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("sess_start_us"),
          col("n_events")),
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |), m AS (
        |  SELECT user_id, ts_us,
        |         CASE WHEN lag(ts_us) OVER w IS NULL
        |                OR ts_us - lag(ts_us) OVER w >= 1800000000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), s AS (
        |  SELECT user_id, ts_us,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
        |                             ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM m
        |)
        |SELECT user_id, min(ts_us) AS sess_start_us, count(*) AS n_events
        |FROM s GROUP BY user_id, sess_id""".stripMargin),

    // Exact per-user trailing median (5-row frame) over event time —
    // the robust-smoothing twin of rel_moving_avg. No built-in exact
    // median window exists: the frame's values collect into a sorted
    // 5-element array (bounded — never grows with data) and the median
    // reads out positionally, interpolating even frames exactly like
    // the oracle's quantile_cont(0.5). Partitioned window — fully
    // distributed, no global sort. The frame array materializes in its
    // OWN projection before the median math: the physical Window node
    // evaluates each windowexpression reference separately, so folding
    // the whole formula over `.over(w)` directly would run SEVEN
    // identical collect_list buffers per row (observed in the plan);
    // split this way it runs one.
    Query("rel_rolling_median", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-4, 0)
      val win = col("win")
      val n = size(win)
      val mid = element_at(win, ((n + 1) / 2).cast("int"))
      val midHi = element_at(win, (n / 2).cast("int") + 1)
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .select(col("user_id"), col("event_id"),
          sort_array(collect_list(col("value")).over(w)).as("win"))
        .select(col("user_id"), col("event_id"),
          round(when(n % 2 === 1, mid)
            .otherwise((mid + midHi) / 2.0), 6).as("rmed"))
    },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        |  FROM events
        |)
        |SELECT user_id, event_id,
        |       round(median(value) OVER (PARTITION BY user_id
        |                  ORDER BY ts_us, event_id
        |                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        |             6) AS rmed
        |FROM e""".stripMargin),

    // Peak concurrency by sweep line: each event opens a 5-minute
    // interval; +1/-1 deltas sorted by time run through the custom
    // GlobalScan operator (distributed prefix sum — range-partitioned
    // two-pass, per-partition subtotals to the driver, NO
    // single-partition WindowExec like the textbook
    // `sum() OVER (ORDER BY ...)` would plan) and the peak + its first
    // timestamp fall out of one aggregate. Ends sort before starts at
    // the same instant (delta asc), so intervals are half-open [s, e).
    Query("rel_peak_concurrency", (s, dir) => {
      val ev = events(s, dir).select(unix_micros(col("ts")).as("t"))
      val deltas = ev.select(col("t"), lit(1L).as("delta"))
        .unionAll(ev.select((col("t") + lit(300000000L)).as("t"),
          lit(-1L).as("delta")))
      val run = graft.plans.GlobalScan.runningSum(deltas, "delta",
        "t" -> false, "delta" -> false)
        .localCheckpoint(false) // feeds the peak agg + the join back
      val peak = run.agg(max(col("running")).as("peak"))
      // groupBy (not a global agg): on an empty/filtered-out input this
      // yields ZERO rows, matching the oracle's GROUP BY — a global agg
      // would emit one all-NULL row the SQL side doesn't
      run.join(broadcast(peak), col("running") === col("peak"))
        .groupBy(col("peak"))
        .agg(min(col("t")).as("first_t_us"))
        .select(col("peak"), col("first_t_us"))
    },
      // the same sweep as a single-partition SQL window; running values
      // within an identical (t, delta) tie block differ per row but form
      // the same multiset, and only aggregates of them are compared
      """WITH e AS (SELECT epoch_us(ts) AS t FROM events),
        |d AS (
        |  SELECT t, 1 AS delta FROM e
        |  UNION ALL
        |  SELECT t + 300000000, -1 FROM e
        |),
        |r AS (
        |  SELECT t, sum(delta) OVER (ORDER BY t, delta
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS running
        |  FROM d
        |),
        |m AS (SELECT max(running) AS peak FROM r)
        |SELECT cast(m.peak AS bigint) AS peak,
        |       cast(min(r.t) AS bigint) AS first_t_us
        |FROM r JOIN m ON r.running = m.peak
        |GROUP BY m.peak""".stripMargin),

    // Cumulative distinct users over time — the growth-analytics
    // "cumulative uniques" curve, composed scale-first: a PARTITIONED
    // (hence distributed) first-occurrence window marks each user's
    // earliest event with delta=1, and the GlobalScan prefix sum turns
    // the deltas into the running distinct count under the (t, event_id)
    // total order. Running COUNT DISTINCT has no shuffle-free window
    // form; this two-stage shape is how it scales.
    Query("rel_cumulative_users", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      val firsts = ev.withColumn("rn", row_number().over(w))
        .select(col("t"), col("event_id"),
          when(col("rn") === 1, 1L).otherwise(0L).as("delta"))
      graft.plans.GlobalScan.runningSum(firsts, "delta",
        "t" -> false, "event_id" -> false)
        .select(col("event_id"), col("running").as("cum_users"))
    },
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id FROM events
        |),
        |f AS (
        |  SELECT t, event_id,
        |         CASE WHEN row_number() OVER (PARTITION BY user_id
        |                                      ORDER BY t, event_id) = 1
        |              THEN 1 ELSE 0 END AS delta
        |  FROM e
        |)
        |SELECT event_id,
        |       cast(sum(delta) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS cum_users
        |FROM f""".stripMargin),

    // Running revenue, written in the TEXTBOOK single-partition window
    // form — and rewritten to the distributed GlobalScan by
    // GlobalWindowRule (injected by GraftExtensions.inject, which builds
    // every Bench/Verify/Explain/test session), so the rule's value parity
    // is proven by the oracle gate itself, not just specs. On a session
    // without the extensions the query still runs correctly as a plain
    // window. Cents as long: exact prefix sums, no float
    // order-sensitivity. PlanAuditSpec pins that the executed plan
    // contains GlobalScan and no Window.
    Query("rel_running_revenue", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      tbl(s, dir, "orders")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("running_cents", sum(col("cents")).over(w))
    },
      """WITH o AS (
        |  SELECT o_orderkey,
        |         cast(round(o_totalprice * 100) AS bigint) AS cents
        |  FROM orders
        |)
        |SELECT o_orderkey, cents,
        |       cast(sum(cents) OVER (ORDER BY o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS running_cents
        |FROM o""".stripMargin),

    // The remaining prefix-aggregate frames over a global order — each in
    // the textbook single-partition window form, each rewritten by
    // GlobalWindowRule into the two-pass distributed scan (PlanAuditSpec's
    // census pins it). Value in milli-units as long (exact integers end
    // to end); non-'error' gate injects real NULLs so the SQL null
    // semantics (counts never null, min/max/avg null until the first
    // non-null) are exercised, not just typed.

    // Running non-null count: how many valued (non-error) events so far.
    Query("rel_running_count", (s, dir) =>
      valuedEvents(s, dir)
        .withColumn("n_valued", count(col("v")).over(prefixWindow))
        .select(col("event_id"), col("n_valued")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(count(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS n_valued
        |FROM e""".stripMargin),

    // Running row count — count(*), the event's 1-based stream position.
    Query("rel_running_row_count", (s, dir) =>
      valuedEvents(s, dir)
        .withColumn("n_events", count(lit(1)).over(prefixWindow))
        .select(col("event_id"), col("n_events")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id FROM events
        |)
        |SELECT event_id,
        |       cast(count(*) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS n_events
        |FROM e""".stripMargin),

    // Running maximum — the high-water mark of the value stream.
    Query("rel_running_high_water", (s, dir) =>
      valuedEvents(s, dir)
        .withColumn("high_water", max(col("v")).over(prefixWindow))
        .select(col("event_id"), col("high_water")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(max(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS high_water
        |FROM e""".stripMargin),

    // Running minimum — the low-water mark.
    Query("rel_running_low_water", (s, dir) =>
      valuedEvents(s, dir)
        .withColumn("low_water", min(col("v")).over(prefixWindow))
        .select(col("event_id"), col("low_water")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(min(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS low_water
        |FROM e""".stripMargin),

    // Running mean of the valued events. The scan divides the EXACT long
    // sum by the exact count at emit, so the double is a function of the
    // prefix content, not of evaluation order. Rounded to 6 decimals for
    // the cross-engine compare only: DuckDB's avg(bigint) sums in
    // hugeint and divides at a different precision — last-ulp noise.
    Query("rel_running_avg", (s, dir) =>
      valuedEvents(s, dir)
        .withColumn("avg_v",
          round(avg(col("v")).over(prefixWindow), 6))
        .select(col("event_id"), col("avg_v")),
      // round(x, 6) both sides: DuckDB's avg(bigint) sums in hugeint and
      // divides at a different precision than the exact-long-over-long
      // division the scan does — last-ulp noise, not a semantic difference
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       round(avg(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |             6) AS avg_v
        |FROM e""".stripMargin),

    // SEVERAL running aggregates in ONE window — the everyday dashboard
    // shape, written as one select so the analyzer places all three in a
    // single multi-expression Window node. GlobalWindowRule fuses that
    // node into ONE GlobalScan computing every aggregate in a single
    // pair of passes over one persisted input (census-pinned: one
    // GlobalScan, one exchange, no Window).
    Query("rel_running_dashboard", (s, dir) =>
      valuedEvents(s, dir)
        .select(col("event_id"),
          sum(col("v")).over(prefixWindow).as("run_total"),
          count(col("v")).over(prefixWindow).as("run_n"),
          max(col("v")).over(prefixWindow).as("run_max")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS run_total,
        |       cast(count(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS run_n,
        |       cast(max(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS run_max
        |FROM e""".stripMargin),

    // Running sum over an INTEGER column — the common analyzed shape
    // `Sum(Cast(int -> long))`. GlobalWindowRule widens p_size below the
    // scan, so the everyday `sum(int_col) OVER (ORDER BY ...)` plans as
    // the distributed two-pass scan too, not a single-partition window
    // (census-pinned). Result type stays the native window's long.
    Query("rel_running_size", (s, dir) =>
      tbl(s, dir, "part")
        .select(col("p_partkey"), col("p_size"))
        .withColumn("running_size", sum(col("p_size")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("p_partkey"))
            .rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow))),
      """SELECT p_partkey, p_size,
        |       cast(sum(p_size) OVER (ORDER BY p_partkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS running_size
        |FROM part""".stripMargin),

    // Running minimum over the same INTEGER column — exercises the scan's
    // result-narrowing path: min(int) is int, so the rewrite casts the
    // scan's long back down and the output schema is identical to the
    // native window's.
    Query("rel_running_size_floor", (s, dir) =>
      tbl(s, dir, "part")
        .select(col("p_partkey"), col("p_size"))
        .withColumn("floor_size", min(col("p_size")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("p_partkey"))
            .rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow))),
      """SELECT p_partkey, p_size,
        |       cast(min(p_size) OVER (ORDER BY p_partkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS integer) AS floor_size
        |FROM part""".stripMargin),

    // The DEFAULT window frame — `agg(v) OVER (ORDER BY sec)` with no
    // frame clause, which the analyzer resolves to RANGE UNBOUNDED
    // PRECEDING .. CURRENT ROW: every peer (order tie — here, all events
    // in one second) carries the tie GROUP's total. GlobalWindowRule
    // rewrites this shape too (peer-group emission + driver boundary
    // chain for groups spanning partitions); both aggregates fuse into
    // one scan over one range sort. Census-pinned: one GlobalScan, no
    // Window.
    Query("rel_running_range_total", (s, dir) =>
      valuedEvents(s, dir)
        .withColumn("sec", floor(col("t") / 1000000L).cast("long"))
        .select(col("event_id"), col("sec"),
          sum(col("v")).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("sec"))).as("cum_total"),
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("sec"))).as("n_thru_sec")),
      // no frame clause on either side: both engines resolve it to the
      // default RANGE UNBOUNDED PRECEDING .. CURRENT ROW (peer-inclusive)
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |), s AS (
        |  SELECT event_id, cast(floor(t / 1000000) AS bigint) AS sec, v
        |  FROM e
        |)
        |SELECT event_id, sec,
        |       cast(sum(v) OVER (ORDER BY sec) AS bigint) AS cum_total,
        |       cast(count(*) OVER (ORDER BY sec) AS bigint) AS n_thru_sec
        |FROM s""".stripMargin),

    // Event-time WATERMARK by arrival order: running max over the raw
    // TIMESTAMP column (events arrive out of event-time order; event_id
    // is the arrival proxy). GlobalScan's generic-extrema path — boxed
    // values under the type's interpreted ordering, no long arithmetic —
    // so the shape every streaming engine tracks per-partition plans
    // distributed here too. The max is taken over the timestamp itself;
    // only the OUTPUT is converted to micros for cross-engine compare
    // (ns->us truncation is monotone, so max commutes with it).
    Query("rel_running_watermark", (s, dir) =>
      events(s, dir)
        .select(col("event_id"), col("ts"))
        .withColumn("hwm", max(col("ts")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("event_id"))
            .rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
        .select(col("event_id"), unix_micros(col("hwm")).as("hwm_us")),
      """SELECT event_id,
        |       epoch_us(max(ts) OVER (ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |         AS hwm_us
        |FROM events""".stripMargin),

    // Running peak price over the raw DOUBLE column — the high-water
    // mark a ledger keeps. Same generic path (a double prefix-MAX only
    // compares, so unlike a double prefix-sum it is order-insensitive
    // and exactly reproducible cross-engine).
    Query("rel_running_peak_price", (s, dir) =>
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .withColumn("peak_price", max(col("o_totalprice")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("o_orderdate"), col("o_orderkey"))
            .rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("peak_price")),
      """SELECT o_orderkey, o_totalprice,
        |       max(o_totalprice) OVER (ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS peak_price
        |FROM orders""".stripMargin),

    // Row-to-row delta over the global event order — the textbook
    // un-partitioned lag(1), rewritten by GlobalWindowRule into the
    // boundary-row GlobalShift operator (each partition receives the |n|
    // values adjacent to its range boundary; no single-partition stage).
    // Census-pinned in PlanAuditSpec.
    Query("rel_running_delta", (s, dir) =>
      valuedEvents(s, dir)
        .withColumn("prev_v", lag(col("v"), 1).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("t"), col("event_id"))))
        .select(col("event_id"), col("prev_v"),
          (col("v") - col("prev_v")).as("delta")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       lag(v, 1) OVER (ORDER BY t, event_id) AS prev_v,
        |       v - lag(v, 1) OVER (ORDER BY t, event_id) AS delta
        |FROM e""".stripMargin),

    // Time to the NEXT event — global lead(1), same operator family
    // (boundary values flow backward instead of forward).
    Query("rel_next_event_gap", (s, dir) =>
      valuedEvents(s, dir)
        .withColumn("next_t", lead(col("t"), 1).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("t"), col("event_id"))))
        .select(col("event_id"),
          (col("next_t") - col("t")).as("gap_us")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id FROM events
        |)
        |SELECT event_id,
        |       lead(t, 1) OVER (ORDER BY t, event_id) - t AS gap_us
        |FROM e""".stripMargin),

    // Previous VALID reading — `lag(v, 1) IGNORE NULLS`: the most recent
    // non-null value strictly before each event (error events carry null
    // v). GlobalWindowRule plans it distributed: the boundary ships each
    // partition's last NON-NULL value and the ring advances only on
    // non-nulls, so arbitrarily long error runs cost nothing.
    Query("rel_prev_valid_value", (s, dir) =>
      valuedEvents(s, dir)
        .withColumn("prev_valid", lag(col("v"), 1, null, true).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("t"), col("event_id"))))
        .select(col("event_id"), col("prev_valid")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       lag(v, 1 IGNORE NULLS) OVER (ORDER BY t, event_id)
        |         AS prev_valid
        |FROM e""".stripMargin),

    // Next VALID reading — `lead(v, 1) IGNORE NULLS`. A forward scan
    // would queue an unbounded run of null-valued rows, so the rule
    // plans this as ignore-nulls LAG over the REVERSED order ("next
    // non-null in the user's order" = "previous non-null in the reversed
    // order") — same O(n) ring, opposite direction. Census-pinned.
    Query("rel_next_valid_value", (s, dir) =>
      valuedEvents(s, dir)
        .withColumn("next_valid", lead(col("v"), 1, null, true).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("t"), col("event_id"))))
        .select(col("event_id"), col("next_valid")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       lead(v, 1 IGNORE NULLS) OVER (ORDER BY t, event_id)
        |         AS next_valid
        |FROM e""".stripMargin),

    // Trailing 100-event moving sum + count over the global event order —
    // `ROWS BETWEEN 99 PRECEDING AND CURRENT ROW` with no PARTITION BY,
    // the bounded-frame window Spark plans as a single-partition
    // WindowExec. GlobalWindowRule rewrites it into the boundary-seeded
    // GlobalFrame operator: each partition receives the 99 value rows
    // adjacent to its range boundary and slides a ring buffer — both
    // aggregates O(1)/row (enter/exit deltas), both fused into ONE node.
    // Census-pinned in PlanAuditSpec.
    Query("rel_frame_moving_sum", (s, dir) =>
      valuedEvents(s, dir)
        .select(col("event_id"),
          sum(col("v")).over(slidingWindow(99)).as("mov_sum"),
          count(col("v")).over(slidingWindow(99)).as("mov_n")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
        |            AS bigint) AS mov_sum,
        |       cast(count(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
        |            AS bigint) AS mov_n
        |FROM e""".stripMargin),

    // Trailing 50-event min/max/avg in one window — the fused sliding
    // dashboard. Extrema ride monotonic deques (amortized O(1)/row);
    // avg re-folds the 50-row frame in order for native Double parity.
    // Rounded to 6 decimals for the cross-engine compare only: DuckDB
    // averages bigints through exact hugeint division, Spark through
    // Double accumulation — last-ulp noise.
    Query("rel_frame_trailing_stats", (s, dir) =>
      valuedEvents(s, dir)
        .select(col("event_id"),
          min(col("v")).over(slidingWindow(49)).as("mov_min"),
          max(col("v")).over(slidingWindow(49)).as("mov_max"),
          round(avg(col("v")).over(slidingWindow(49)), 6).as("mov_avg")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(min(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
        |            AS bigint) AS mov_min,
        |       cast(max(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
        |            AS bigint) AS mov_max,
        |       round(avg(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
        |             6) AS mov_avg
        |FROM e""".stripMargin),

    // Running total AND trailing peak in ONE window — the everyday mixed
    // dashboard (prefix aggregate + bounded frame over the same order).
    // The analyzer groups both into one Window node (same partition/order
    // spec, different frames); GlobalWindowRule splits it into GlobalFrame
    // stacked on GlobalScan over ONE shared range sort (both operators
    // are 1:1 and partitioning/order-preserving, so EnsureRequirements
    // inserts nothing between them). Census-pinned: one exchange, one
    // sort, no Window.
    Query("rel_frame_mixed_dashboard", (s, dir) =>
      valuedEvents(s, dir)
        .select(col("event_id"),
          sum(col("v")).over(prefixWindow).as("run_total"),
          max(col("v")).over(slidingWindow(99)).as("mov_peak")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS run_total,
        |       cast(max(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
        |            AS bigint) AS mov_peak
        |FROM e""".stripMargin),

    // Bounded VALUE-RANGE frame over the global event timeline —
    // trailing 5-second totals (`RANGE BETWEEN 5s PRECEDING AND CURRENT
    // ROW` over unix micros). Frame membership is decided by KEY
    // DISTANCE, not row position (ties share their frame, sparse regions
    // shrink it), which is exactly what GlobalFrame's row splice cannot
    // express: GlobalWindowRule plans the key-spliced GlobalRange
    // operator instead — boundary rows within 5 s of each partition's
    // edge key, spliced on the driver, no single-partition stage.
    // Census-pinned. Results depend only on t, so ties keep the output
    // deterministic.
    Query("rel_range_trailing_global", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
        .rangeBetween(-5000000L, 0L)
      valuedEvents(s, dir)
        .select(col("event_id"),
          sum(col("v")).over(w).as("rev_5s"),
          count(col("v")).over(w).as("n_5s"),
          max(col("v")).over(w).as("peak_5s"))
    },
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum(v) OVER r AS bigint) AS rev_5s,
        |       cast(count(v) OVER r AS bigint) AS n_5s,
        |       cast(max(v) OVER r AS bigint) AS peak_5s
        |FROM e
        |WINDOW r AS (ORDER BY t
        |             RANGE BETWEEN 5000000 PRECEDING AND CURRENT ROW)"""
        .stripMargin),

    // Interval value-RANGE frame DIRECTLY over the timestamp ORDER BY —
    // `RANGE BETWEEN INTERVAL '5' SECOND PRECEDING AND CURRENT ROW`
    // with no manual epoch conversion: GlobalWindowRule normalizes the
    // day-time interval bound to micros and keeps the timestamp key in
    // its physical long-micros form (a seconds cast would destroy
    // sub-second precision). Same key-spliced plan as
    // rel_range_trailing_global; frames keyed by instant distance.
    Query("rel_range_interval_global", (s, dir) =>
      valuedEventsTs(s, dir).selectExpr("event_id",
        "sum(v) OVER (ORDER BY ts RANGE BETWEEN INTERVAL '5' SECOND " +
          "PRECEDING AND CURRENT ROW) AS rev_5s",
        "count(v) OVER (ORDER BY ts RANGE BETWEEN INTERVAL '5' SECOND " +
          "PRECEDING AND CURRENT ROW) AS n_5s"),
      """WITH e AS (
        |  SELECT ts, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum(v) OVER r AS bigint) AS rev_5s,
        |       cast(count(v) OVER r AS bigint) AS n_5s
        |FROM e
        |WINDOW r AS (ORDER BY ts RANGE BETWEEN INTERVAL 5 SECOND
        |             PRECEDING AND CURRENT ROW)""".stripMargin),

    // Mixed window WITH a value-range member: rank + running tie-group
    // total + trailing 5-second window over ONE single-key ORDER BY.
    // GlobalWindowRule stacks GlobalTies + GlobalScan + GlobalRange on
    // one shared range sort. Every function depends only on t, so ties
    // keep the output deterministic. Census-pinned.
    Query("rel_window_mixed_range", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
      valuedEvents(s, dir)
        .select(col("event_id"),
          rank().over(w).cast("long").as("rnk"),
          sum(col("v")).over(w).as("run_total"),
          sum(col("v")).over(w.rangeBetween(-5000000L, 0L)).as("rev_5s"),
          count(col("v")).over(w.rangeBetween(-5000000L, 0L)).as("n_5s"))
    },
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(rank() OVER (ORDER BY t) AS bigint) AS rnk,
        |       cast(sum(v) OVER (ORDER BY t) AS bigint) AS run_total,
        |       cast(sum(v) OVER r AS bigint) AS rev_5s,
        |       cast(count(v) OVER r AS bigint) AS n_5s
        |FROM e
        |WINDOW r AS (ORDER BY t
        |             RANGE BETWEEN 5000000 PRECEDING AND CURRENT ROW)"""
        .stripMargin),

    // MIXED-FAMILY global window — SIX window-function families in ONE
    // un-partitioned ORDER BY: row_number (rank family), rank (ties),
    // running sum (scan), lag (shift), first_value (edge) and a moving
    // average (frame). The analyzer puts all six expressions in one
    // Window node; GlobalWindowRule composes the family operators onto
    // ONE shared range sort — each member is a 1:1 partitioning/order-
    // preserving node, so EnsureRequirements plans exactly one exchange
    // + sort under the whole stack and NO single-partition stage exists.
    // Census-pinned.
    Query("rel_window_mixed_global", (s, dir) => {
      val base = org.apache.spark.sql.expressions.Window
        .orderBy(col("t"), col("event_id"))
      valuedEvents(s, dir)
        .select(col("event_id"),
          row_number().over(base).cast("long").as("rn"),
          rank().over(base).cast("long").as("rnk"),
          sum(col("v")).over(prefixWindow).as("run_total"),
          lag(col("v"), 1).over(base).as("prev_v"),
          first(col("v")).over(prefixWindow).as("first_v"),
          round(avg(col("v")).over(slidingWindow(3)), 6).as("mov_avg"))
    },
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(row_number() OVER o AS bigint) AS rn,
        |       cast(rank() OVER o AS bigint) AS rnk,
        |       cast(sum(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS run_total,
        |       lag(v, 1) OVER o AS prev_v,
        |       first_value(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS first_v,
        |       round(avg(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
        |             6) AS mov_avg
        |FROM e
        |WINDOW o AS (ORDER BY t, event_id)""".stripMargin),

    // The COMPLETE mixed stack — all eight families in ONE un-partitioned
    // window, including the two REVERSED-order members (cume_dist and
    // ignore-nulls lead), which need a reversed scan.
    // GlobalWindowRule stacks them over their own shared reversed sort
    // ABOVE the forward
    // stack: two exchanges + two sorts total, full parallelism in every
    // stage, no WindowExec anywhere (census-pinned in PlanAuditSpec).
    Query("rel_window_mixed_full", (s, dir) => {
      val base = org.apache.spark.sql.expressions.Window
        .orderBy(col("t"), col("event_id"))
      valuedEvents(s, dir)
        .select(col("event_id"),
          row_number().over(base).cast("long").as("rn"),
          rank().over(base).cast("long").as("rnk"),
          round(cume_dist().over(base), 9).as("cd"),
          sum(col("v")).over(prefixWindow).as("run_total"),
          lag(col("v"), 1).over(base).as("prev_v"),
          lead(col("v"), 1, null, true).over(base).as("next_valid"),
          first(col("v")).over(prefixWindow).as("first_v"),
          round(avg(col("v")).over(slidingWindow(3)), 6).as("mov_avg"))
    },
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(row_number() OVER o AS bigint) AS rn,
        |       cast(rank() OVER o AS bigint) AS rnk,
        |       round(cume_dist() OVER o, 9) AS cd,
        |       cast(sum(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS run_total,
        |       lag(v, 1) OVER o AS prev_v,
        |       lead(v, 1 IGNORE NULLS) OVER o AS next_valid,
        |       first_value(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS first_v,
        |       round(avg(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
        |             6) AS mov_avg
        |FROM e
        |WINDOW o AS (ORDER BY t, event_id)""".stripMargin),

    // WATERMARK-LAGGED TOTALS — `sum/count OVER (ORDER BY t RANGE
    // BETWEEN UNBOUNDED PRECEDING AND 5s PRECEDING)`: the "all data at
    // least 5 seconds settled" accounting a late-data-tolerant ingest
    // reads. The half-bounded value-RANGE frame has no direct family
    // operator; GlobalHalfRangeRule decomposes it algebraically into
    // the running RANGE prefix minus the bounded [-5s+1, 0] gap frame
    // (null-faithful via count guards, null order keys via the IsNull
    // branch), and GlobalWindowRule fuses all four helper members onto
    // ONE shared range sort — no single-partition stage, no new
    // physical operator (plans/GlobalHalfRange.scala).
    Query("rel_range_lagged_total", (s, dir) => {
      val w5 = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
        .rangeBetween(Long.MinValue, -5000000L)
      valuedEvents(s, dir)
        .select(col("event_id"), col("t"),
          sum(col("v")).over(w5).as("lag_total"),
          count(col("v")).over(w5).as("lag_n"))
    },
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id, t,
        |       cast(sum(v) OVER (ORDER BY t RANGE BETWEEN UNBOUNDED
        |              PRECEDING AND 5000000 PRECEDING) AS bigint)
        |         AS lag_total,
        |       count(v) OVER (ORDER BY t RANGE BETWEEN UNBOUNDED
        |              PRECEDING AND 5000000 PRECEDING) AS lag_n
        |FROM e""".stripMargin),

    // CHAINED CORPUS FINGERPRINT — h_i = FNV32 * h_{i-1} + token_i over
    // the global event order: every row carries the polynomial hash of
    // its ENTIRE prefix, the incremental checksum a 100 TB ingest keeps
    // per offset (content-addressed checkpoints, replay validation). NO
    // window function can express it — each value depends on all
    // previous rows through a non-commutative fold — so Spark has no
    // distributed plan for it at all; GlobalRecurrence (plans/
    // GlobalRecur.scala) distributes it by associative affine
    // composition: pass 1 folds each partition to ONE (M, B) transform,
    // the driver prefix-composes P scalars, pass 2 threads each
    // partition locally. Wrapping-Long algebra is exact, and masking to
    // 32 bits commutes with the recurrence ((m*h+c) mod 2^64 mod 2^32 =
    // the mod-2^32 chain), which is what makes the value DuckDB-provable:
    // the oracle re-derives every prefix hash in closed form
    // (h_i = m^i * sum tok_j*inv^j, binary-decomposition modular powers).
    Query("rel_hash_chain_global", (s, dir) => {
      val base = events(s, dir).select(
        unix_micros(col("ts")).as("t"), col("event_id"),
        lit(16777619L).as("m"),
        conv(substring(md5(concat(coalesce(col("event_type"), lit("~")),
          lit(":"),
          coalesce(round(col("value") * 1000).cast("long"), lit(-1L))
            .cast("string")).cast("binary")), 1, 8), 16, 10)
          .cast("long").as("tok"))
      graft.plans.Recurrence.scan(base, "m", "tok", 0L,
        ("t", false), ("event_id", false))
        .select(col("event_id"),
          col("y").bitwiseAND(lit(4294967295L)).as("chain"))
    },
      hashChainOracleSql),

    // Per-user EWMA — y = 0.875*y + 0.125*x seeded with each user's
    // first observation. No built-in window function can express an
    // EWMA even PARTITIONED (it is a recurrence, not a frame
    // aggregate); here it runs as a bit-exact left fold inside one
    // codegen'd projection: sort the user's observations into an array
    // and fold with `aggregate()`. Both engines execute the SAME
    // literal fp operation sequence over the same sorted list, so the
    // rounded compare is exact. Per-user sequences are bounded by a
    // user's event count (the per-key skew caveat of any collect);
    // the GLOBAL unbounded recurrence is rel_hash_chain_global's
    // operator instead.
    Query("rel_ewma_per_user", (s, dir) => {
      val e = events(s, dir).select(col("user_id"),
          unix_micros(col("ts")).as("t"), col("event_id"),
          when(col("event_type") =!= "error",
            round(col("value") * 1000).cast("long")).as("v"))
        .where(col("v").isNotNull)
      e.groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("t"), col("event_id"),
          col("v").cast("double").as("x")))).as("seq"))
        .select(col("user_id"),
          round(aggregate(
            expr("slice(seq, 2, greatest(size(seq) - 1, 0))"),
            element_at(col("seq"), 1).getField("x"),
            (acc, el) => lit(0.875) * acc + lit(0.125) * el.getField("x")),
            6).as("ewma"),
          size(col("seq")).cast("long").as("n_obs"))
    },
      // same sorted per-user list, same literal fold operations — the two
      // engines run identical fp sequences, so the rounded compare is exact
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |), g AS (
        |  SELECT user_id,
        |         list(cast(v AS double) ORDER BY t, event_id) AS xs
        |  FROM e WHERE v IS NOT NULL GROUP BY user_id
        |)
        |SELECT user_id,
        |       round(list_reduce(xs,
        |             (acc, x) -> 0.875::DOUBLE * acc + 0.125::DOUBLE * x),
        |             6) AS ewma,
        |       cast(len(xs) AS bigint) AS n_obs
        |FROM g""".stripMargin),

    // CENTERED ±50-event smoothing — `ROWS BETWEEN 50 PRECEDING AND 50
    // FOLLOWING`, the classic symmetric moving average. The frame reaches
    // FORWARD, so GlobalFrame additionally splices each partition's
    // following-boundary rows and delays emission behind a 50-row pending
    // queue; frames truncate at both corpus edges (count tracks the
    // actual neighborhood size). Rounded for cross-engine avg compare.
    Query("rel_frame_centered_avg", (s, dir) =>
      valuedEvents(s, dir)
        .select(col("event_id"),
          round(avg(col("v")).over(slidingBetween(-50, 50)), 6)
            .as("smooth_v"),
          count(col("v")).over(slidingBetween(-50, 50)).as("n_ctx")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       round(avg(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 50 PRECEDING AND 50 FOLLOWING),
        |             6) AS smooth_v,
        |       cast(count(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 50 PRECEDING AND 50 FOLLOWING)
        |            AS bigint) AS n_ctx
        |FROM e""".stripMargin),

    // Pure-LOOKAHEAD frame — the NEXT-10-events peak (`ROWS BETWEEN 1
    // FOLLOWING AND 10 FOLLOWING`): the frame excludes the current row,
    // so it is EMPTY for the corpus tail (peak NULL, count 0) — native
    // window edge semantics, encoded in GlobalFrame's output nullability.
    Query("rel_frame_lookahead_peak", (s, dir) =>
      valuedEvents(s, dir)
        .select(col("event_id"),
          max(col("v")).over(slidingBetween(1, 10)).as("next_peak"),
          count(col("v")).over(slidingBetween(1, 10)).as("next_n")),
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(max(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 1 FOLLOWING AND 10 FOLLOWING)
        |            AS bigint) AS next_peak,
        |       cast(count(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 1 FOLLOWING AND 10 FOLLOWING)
        |            AS bigint) AS next_n
        |FROM e""".stripMargin),

    // Trailing 20-order price band over the raw DOUBLE column — the
    // sliding band a ledger draws. GlobalFrame's generic-extrema path:
    // boxed values under the type's interpreted ordering in monotonic
    // deques (double extrema only compare, so unlike a double sum they
    // are order-insensitive and exactly reproducible cross-engine).
    Query("rel_frame_price_band", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("o_orderdate"), col("o_orderkey")).rowsBetween(-19, 0)
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          min(col("o_totalprice")).over(w).as("band_low"),
          max(col("o_totalprice")).over(w).as("band_high"))
    },
      """SELECT o_orderkey, o_totalprice,
        |       min(o_totalprice) OVER (ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS band_low,
        |       max(o_totalprice) OVER (ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS band_high
        |FROM orders""".stripMargin),

    // Window navigation battery: lag/lead/first over a per-user timeline
    // (prev/next event type, session-start anchor, gap to next event) —
    // the navigation functions the frame-based window queries don't touch
    Query("rel_window_navigation", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .select(col("user_id"), col("event_id"),
          lag("event_type", 1).over(w).as("prev_type"),
          lead("event_type", 1).over(w).as("next_type"),
          first(col("ts_us")).over(w).as("first_ts_us"),
          (lead("ts_us", 1).over(w) - col("ts_us")).as("us_to_next"))
    },
      """SELECT user_id, event_id,
        |       lag(event_type, 1) OVER w AS prev_type,
        |       lead(event_type, 1) OVER w AS next_type,
        |       first_value(epoch_us(ts)) OVER w AS first_ts_us,
        |       lead(epoch_us(ts), 1) OVER w - epoch_us(ts) AS us_to_next
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin),

    // Event-time RANGE frame: per event, how many same-user events landed
    // in the trailing hour — the value-based window (peers by range, not
    // row count) that rel_moving_avg's ROWS frame doesn't exercise
    Query("rel_trailing_window", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0)
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          count(lit(1)).over(w).as("n_trailing_1h"))
    },
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |       count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |                      RANGE BETWEEN 3600000000 PRECEDING
        |                            AND CURRENT ROW) AS n_trailing_1h
        |FROM events""".stripMargin),

    // Time-series gap fill: a complete hourly spine (global min..max hour
    // x event_type, built from a 1-row aggregate — no correlated
    // generation) left-joined with the hourly counts, gaps carried
    // forward with last-non-null and zero before first observation
    Query("rel_gap_fill", (s, dir) => {
      val hourUs = 3600000000L
      val ev = events(s, dir).select(col("event_type"),
        (unix_micros(col("ts")) - (unix_micros(col("ts")) % hourUs))
          .as("hr"))
      val hourly = ev.groupBy("event_type", "hr")
        .agg(count(lit(1)).as("cnt"))
      val bounds = ev.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      val spine = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), lit(hourUs))).as("hr"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("hr"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      spine.join(hourly, Seq("event_type", "hr"), "left_outer")
        .select(col("event_type"), col("hr"),
          coalesce(last(col("cnt"), ignoreNulls = true).over(w), lit(0L))
            .as("filled_cnt"),
          (col("cnt").isNotNull).as("observed"))
    },
      """WITH e AS (
        |  SELECT event_type,
        |         epoch_us(ts) - (epoch_us(ts) % 3600000000) AS hr
        |  FROM events
        |), hourly AS (
        |  SELECT event_type, hr, count(*) AS cnt FROM e GROUP BY 1, 2
        |), bounds AS (
        |  SELECT min(hr) AS lo, max(hr) AS hi FROM e
        |), spine AS (
        |  SELECT t.event_type, s.hr
        |  FROM (SELECT DISTINCT event_type FROM e) t
        |  CROSS JOIN (SELECT unnest(generate_series(lo, hi, 3600000000))
        |              AS hr FROM bounds) s
        |)
        |SELECT spine.event_type, spine.hr,
        |       coalesce(last_value(hourly.cnt IGNORE NULLS) OVER (
        |         PARTITION BY spine.event_type ORDER BY spine.hr
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
        |         AS filled_cnt,
        |       hourly.cnt IS NOT NULL AS observed
        |FROM spine
        |LEFT JOIN hourly ON spine.event_type = hourly.event_type
        |                AND spine.hr = hourly.hr""".stripMargin),

    // Moving average (3-row frame) per user over event time
    Query("rel_moving_avg", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-2, 0)
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .select(col("user_id"), col("event_id"),
          round(avg(col("value")).over(w), 6).as("mavg"))
    },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
        |)
        |SELECT user_id, event_id,
        |       round(avg(value) OVER (PARTITION BY user_id
        |                              ORDER BY ts_us, event_id
        |                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |             6) AS mavg
        |FROM e""".stripMargin),

    // ROLLING 7-DAY ACTIVE USERS — the WAU curve: distinct users active
    // in [d-6, d] per day. COUNT DISTINCT has no window form; the
    // distributed shape is the bounded fan-out: each (user, active-day)
    // contributes to exactly 7 observation days (explode factor = the
    // window length, constant), then ONE day-keyed distinct aggregate.
    // Never a per-day self-join, never corpus² — at 100 TB this is
    // 7× the (user,day) DISTINCT frame, not 7× the events.
    Query("rel_rolling_active_users", (s, dir) => {
      val userDays = events(s, dir)
        .select(col("user_id"),
          unix_date(to_date(col("ts"))).cast("long").as("day"))
        .distinct()
      val span = userDays.agg(min(col("day")).as("d0"),
        max(col("day")).as("d1"))
      userDays
        .select(col("user_id"),
          explode(expr("sequence(day, day + 6)")).as("obs_day"))
        .crossJoin(broadcast(span))
        .where(col("obs_day") <= col("d1")) // no post-horizon days
        .groupBy("obs_day")
        .agg(countDistinct(col("user_id")).as("wau"))
        .select(col("obs_day"), col("wau"))
    },
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |         (ts::DATE - DATE '1970-01-01') AS day
        |  FROM events
        |), sp AS (
        |  SELECT max(day) AS d1 FROM ud
        |), x AS (
        |  SELECT user_id, day + r.range AS obs_day FROM ud, range(7) r
        |)
        |SELECT cast(obs_day AS bigint) AS obs_day,
        |       count(DISTINCT user_id) AS wau
        |FROM x, sp WHERE obs_day <= sp.d1
        |GROUP BY 1""".stripMargin),
  )
}
