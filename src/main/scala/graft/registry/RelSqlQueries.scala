package graft
package registry

import SparkEntry.{tbl, events}
import Shared.{cleanToksSql, embUnnestCte, kmvEstimateSql,
  qsketchFromScratchSql, thetaHash}
import graft.ops.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational SQL surface: set operations, grouping sets, pivots,
  * subqueries, profiling, data-quality checks and the SQL-string twins of
  * the session-extension rewrites and native aggregates. */
private[graft] object RelSqlQueries {

  /** Two-pass EXACT global heavy hitters — report every token whose count
    * exceeds N/k of the whole corpus stream, without ever shuffling the
    * full key cardinality.
    *
    * Pass 1 runs a Misra-Gries candidate sketch ([[graft.functions
    * .MisraGriesAgg]]) as ONE global ObjectHashAggregate: partial bounded
    * maps per partition, one merged map (<= capacity entries) on the
    * driver, plus the stream total N in the same aggregate. The MG
    * invariant — undercount <= N/(capacity+1) — makes the surviving keys
    * a guaranteed SUPERSET of every key with count > N/k whenever
    * capacity >= k-1, so pass 2 (exact counting restricted to the
    * candidates, then the exact HAVING threshold) returns exactly the
    * naive groupBy/HAVING answer, which is what the oracle re-derives.
    *
    * The scale point: a plain groupBy/HAVING over an open 100 TB
    * vocabulary shuffles EVERY distinct key; this plan's only key-shuffle
    * carries rows for <= `cap` candidate keys (the InSet filter sits
    * below the exchange), and the sketch pass shuffles one bounded map
    * per partition. Driver state is O(cap). At the test corpus the
    * 31-token vocabulary fits the sketch exactly; the shrink path and the
    * superset bound under real Zipfian skew are exercised in
    * HeavyHittersSpec. */
  private def heavyHittersDf(s: SparkSession, dir: String): DataFrame =
    graft.ops.FrequentItems.exactHeavyHitters(
      tbl(s, dir, "documents")
        .select(explode(Dedup.cleanTokens(col("text"))).as("token")),
      col("token"),
      k = 50L,   // report tokens with count > N/50 (2% of the stream)
      cap = 64)  // MG capacity; superset guarantee needs cap >= k-1
      .select(col("token"), col("cnt"))

  val queries: Seq[Query] = Seq(

    // Distinct aggregation (expand-based multi-distinct)
    Query("rel_distinct_agg", (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("d_part"),
          countDistinct(col("l_suppkey")).as("d_supp"),
          count(lit(1)).as("cnt")),
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS d_part,
        |       count(DISTINCT l_suppkey) AS d_supp,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // Rollup: subtotals + grand total over region/nation hierarchy
    Query("rel_rollup", (s, dir) =>
      tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        // re-alias to fresh attrs: the joined lineage trips Spark's
        // ambiguous-self-join detector when rollup re-resolves by name
        .select(col("r_name").as("rn_"), col("n_name").as("nn_"))
        .rollup(col("rn_"), col("nn_"))
        .agg(count(lit(1)).as("n_supp"))
        .select(col("rn_").as("r_name"), col("nn_").as("n_name"),
          col("n_supp")),
      """SELECT r_name, n_name, count(*) AS n_supp
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin),

    // Cube over two low-cardinality dims
    Query("rel_cube", (s, dir) =>
      tbl(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt")),
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin),

    // Set ops: EXCEPT / INTERSECT / UNION-distinct over event user sets
    Query("rel_except", (s, dir) => {
      val e = events(s, dir)
      e.where(col("event_type") === "view").select("user_id")
        .except(e.where(col("event_type") === "purchase").select("user_id"))
    },
      """SELECT user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin),

    Query("rel_intersect", (s, dir) => {
      val e = events(s, dir)
      e.where(col("event_type") === "view").select("user_id")
        .intersect(e.where(col("event_type") === "purchase").select("user_id"))
    },
      """SELECT user_id FROM events WHERE event_type = 'view'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin),

    Query("rel_union_distinct", (s, dir) => {
      val e = events(s, dir)
      e.where(col("event_type") === "signup").select("user_id")
        .union(e.where(col("event_type") === "error").select("user_id"))
        .distinct()
    },
      """SELECT DISTINCT user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'signup'
        |  UNION ALL
        |  SELECT user_id FROM events WHERE event_type = 'error')""".stripMargin),

    // Hourly tumbling aggregation over event time (string-formatted bucket)
    Query("rel_time_hourly_agg", (s, dir) =>
      events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_value")),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS cnt,
        |       cast(cast(sum(cast(value AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // EXACT distinct-count rollup via ROARING-STYLE BITMAPS — the
    // mergeable-and-exact alternative to count(DISTINCT): each
    // (key, 2^15-value-bucket) group folds its members into ONE fixed
    // 4 KB bitmap (bitmap_construct_agg — partial-aggregated map-side),
    // and the final count is a sum of per-bucket popcounts. Where
    // count(DISTINCT) shuffles every distinct (key, value) pair and an
    // HLL surrenders exactness, per-segment bitmaps shuffle O(buckets)
    // fixed bytes, union losslessly across segments/days (the
    // incremental-rollup shape of rel_cms_merge/rel_hll_union, but
    // EXACT), and difference/intersect for audience algebra.
    Query("rel_bitmap_distinct", (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id)").as("bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
          .as("bm"))
        .groupBy(col("event_type"))
        .agg(sum(expr("bitmap_count(bm)")).as("n_users")),
      // the bitmap rollup must equal plain exact distinct
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1""".stripMargin),

    // K-ANONYMITY SUPPRESSION — the privacy gate before releasing rows
    // keyed by quasi-identifiers: only rows whose full QID group reaches
    // size k survive (every released row is identical on its QIDs to at
    // least k-1 others). Two-phase: the QID group-size table (bounded by
    // the QID domain, broadcast) joins back row-level — one scan + one
    // bounded broadcast at any data size, the released set carries its
    // group size for auditing.
    Query("rel_k_anonymity", (s, dir) => {
      val k = 8
      val g = tbl(s, dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("grp_n"))
      tbl(s, dir, "customer")
        .join(broadcast(g.where(col("grp_n") >= k)),
          Seq("c_nationkey", "c_mktsegment"))
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          col("grp_n"))
    },
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS grp_n
        |  FROM customer GROUP BY 1, 2
        |)
        |SELECT c_custkey, c.c_nationkey, c.c_mktsegment, grp_n
        |FROM customer c
        |JOIN g USING (c_nationkey, c_mktsegment)
        |WHERE grp_n >= 8""".stripMargin),

    // DIFFERENTIAL-PRIVACY histogram release — the governance gate's
    // noisy sibling (rel_k_anonymity suppresses, this perturbs): per
    // (event_type, day) counts + Laplace(1/ε) noise, ε = 1, sensitivity
    // 1 (one cell per event), non-negativity post-processing, and the
    // TRUE counts never leave the query. Scale shape: one hash
    // aggregate; the noise is O(cells) post-aggregation arithmetic. The
    // noise is md5-SEEDED per cell (deterministic uniform → inverse-CDF
    // Laplace) so the release is reproducible and oracle-checkable; a
    // production release would draw fresh randomness — the mechanism,
    // sensitivity accounting, and post-processing are the engine parts.
    Query("rel_dp_histogram", (s, dir) => {
      val eps = 1.0
      val cell = concat_ws("|", col("event_type"), col("day"))
      val u = (conv(substring(md5(cell.cast("binary")), 1, 13), 16, 10)
        .cast("double") + lit(0.5)) / lit(4503599627370496.0)
      val lap = signum(u - lit(0.5)) * lit(-1.0 / eps) *
        log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
      events(s, dir)
        .select(col("event_type"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("true_cnt"))
        .select(col("event_type"), col("day"),
          round(greatest(lit(0.0), col("true_cnt") + lap), 6)
            .as("released"))
    },
      // the same md5-seeded uniform -> inverse-CDF Laplace per cell
      """WITH h AS (
        |  SELECT event_type,
        |         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |         count(*) AS c
        |  FROM events GROUP BY 1, 2
        |), n AS (
        |  SELECT event_type, day, c,
        |         (('0x' || substr(md5(event_type || '|' || day), 1, 13))
        |            ::BIGINT::DOUBLE + CAST(0.5 AS DOUBLE))
        |           / CAST(4503599627370496 AS DOUBLE) AS u
        |  FROM h
        |)
        |SELECT event_type, day,
        |       round(greatest(CAST(0.0 AS DOUBLE),
        |             c + sign(u - 0.5) * CAST(-1.0 AS DOUBLE)
        |                 * ln(1.0 - 2.0 * abs(u - 0.5))), 6) AS released
        |FROM n""".stripMargin),

    // EQUI-DEPTH HISTOGRAM — optimizer/table statistics: decile
    // boundaries from the bounded-memory exact selection operator (third
    // Selection.quantileCont call site; never a per-group value buffer),
    // then one scan assigns buckets against the 9 broadcast-as-literals
    // boundaries and aggregates per-bucket count + min/max (the zone-map
    // row). Boundaries rounded HALF_UP to 6 decimals on BOTH sides (the
    // driver mirrors the SQL round()); bucket = boundaries strictly
    // below the value, so edge values land identically in both engines.
    Query("rel_equi_depth_hist", (s, dir) => {
      val ord = tbl(s, dir, "orders")
      val q = graft.ops.Selection.quantileCont(ord, "o_totalprice", Nil,
        (1 to 9).map(_ / 10.0), qNames = (1 to 9).map(i => s"b$i"))
      val row = q.collect().head // model-sized: 9 doubles + count
      val bs = (1 to 9).map(i => BigDecimal(row.getAs[Double](s"b$i"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val bucket = bs.map(b =>
        when(col("o_totalprice") > lit(b), 1).otherwise(0))
        .reduce(_ + _)
      ord.groupBy(bucket.cast("long").as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          round(min(col("o_totalprice")), 6).as("lo"),
          round(max(col("o_totalprice")), 6).as("hi"))
    },
      // decile boundaries rounded HALF_UP to 6 decimals before bucketing on
      // both sides; bucket = boundaries strictly below the value
      """WITH b AS (
        |  SELECT round(quantile_cont(o_totalprice, 0.1), 6) AS b1,
        |         round(quantile_cont(o_totalprice, 0.2), 6) AS b2,
        |         round(quantile_cont(o_totalprice, 0.3), 6) AS b3,
        |         round(quantile_cont(o_totalprice, 0.4), 6) AS b4,
        |         round(quantile_cont(o_totalprice, 0.5), 6) AS b5,
        |         round(quantile_cont(o_totalprice, 0.6), 6) AS b6,
        |         round(quantile_cont(o_totalprice, 0.7), 6) AS b7,
        |         round(quantile_cont(o_totalprice, 0.8), 6) AS b8,
        |         round(quantile_cont(o_totalprice, 0.9), 6) AS b9
        |  FROM orders
        |)
        |SELECT (CASE WHEN o_totalprice > b1 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b2 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b3 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b4 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b5 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b6 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b7 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b8 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b9 THEN 1 ELSE 0 END)::BIGINT
        |         AS bucket,
        |       count(*)::BIGINT AS cnt,
        |       round(min(o_totalprice), 6) AS lo,
        |       round(max(o_totalprice), 6) AS hi
        |FROM orders, b
        |GROUP BY 1""".stripMargin),

    // Pivot: one column per event type (explicit value list keeps the
    // schema deterministic — no extra distinct-values job)
    Query("rel_pivot_events", (s, dir) =>
      events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L),
      """SELECT user_id,
        |       count(*) FILTER (event_type = 'click') AS click,
        |       count(*) FILTER (event_type = 'error') AS error,
        |       count(*) FILTER (event_type = 'purchase') AS purchase,
        |       count(*) FILTER (event_type = 'signup') AS signup,
        |       count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin),

    // Unpivot (stack): wide lineitem measures to long form, aggregated
    Query("rel_unpivot_measures", (s, dir) =>
      tbl(s, dir, "lineitem")
        .select(col("l_returnflag"), expr(
          "stack(2, 'quantity', cast(l_quantity as decimal(18,2)), " +
            "'extendedprice', cast(l_extendedprice as decimal(18,2))) " +
            "AS (measure, val)"))
        .groupBy("l_returnflag", "measure")
        .agg(sum(col("val")).cast("decimal(18,2)").cast("double")
          .as("total")),
      """SELECT l_returnflag, 'quantity' AS measure,
        |       cast(cast(sum(cast(l_quantity AS decimal(18,2))) AS decimal(18,2)) AS double) AS total
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT l_returnflag, 'extendedprice' AS measure,
        |       cast(cast(sum(cast(l_extendedprice AS decimal(18,2))) AS decimal(18,2)) AS double) AS total
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // Multiset set operations (EXCEPT ALL / INTERSECT ALL)
    Query("rel_except_all", (s, dir) => {
      val e = events(s, dir)
      e.where(col("event_type") === "view").select("user_id")
        .exceptAll(e.where(col("event_type") === "purchase").select("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    },
      """SELECT user_id, count(*) AS cnt FROM (
        |  SELECT user_id FROM events WHERE event_type = 'view'
        |  EXCEPT ALL
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |GROUP BY user_id""".stripMargin),

    Query("rel_intersect_all", (s, dir) => {
      val e = events(s, dir)
      e.where(col("event_type") === "view").select("user_id")
        .intersectAll(e.where(col("event_type") === "purchase")
          .select("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    },
      """SELECT user_id, count(*) AS cnt FROM (
        |  SELECT user_id FROM events WHERE event_type = 'view'
        |  INTERSECT ALL
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |GROUP BY user_id""".stripMargin),

    // JSON scalar extraction over the events.props column
    Query("rel_json_extract", (s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(sum(get_json_object(col("props"), "$.k").cast("long"))
          .as("sum_k"), count(lit(1)).as("cnt")),
      """SELECT event_type,
        |       cast(sum(cast(json_extract_string(props, '$.k') AS bigint))
        |            AS bigint) AS sum_k,
        |       count(*) AS cnt
        |FROM events GROUP BY event_type""".stripMargin),

    // Date-part functions over order dates
    Query("rel_date_parts", (s, dir) =>
      tbl(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
          quarter(col("o_orderdate")).cast("long").as("qtr"))
        .agg(count(lit(1)).as("n_orders")),
      """SELECT cast(year(o_orderdate) AS bigint) AS yr,
        |       cast(quarter(o_orderdate) AS bigint) AS qtr,
        |       count(*) AS n_orders
        |FROM orders GROUP BY 1, 2""".stripMargin),

    // DATA-QUALITY CHECK SUITE (Deequ-style) — the validation gate a
    // pipeline runs before promoting a batch: referential integrity
    // (orders -> customer orphans, anti-join), domain-range violations,
    // key-uniqueness violations, and null-rate, each ONE scan or one
    // broadcast anti-join, unioned into a (check, n_violations,
    // n_checked) report. At 100 TB each check is a single pass with a
    // scalar result — the report is O(checks) rows.
    Query("rel_dq_checks", (s, dir) => {
      val orders = tbl(s, dir, "orders")
      val cust = tbl(s, dir, "customer")
      val li = tbl(s, dir, "lineitem")
      val ev = events(s, dir)
      val orphans = orders.join(cust,
          orders("o_custkey") === cust("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("orders_custkey_fk").as("check"), col("n_violations"))
        .crossJoin(broadcast(orders.agg(count(lit(1)).as("n_checked"))))
      val range = li.agg(
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("n_violations"),
          count(lit(1)).as("n_checked"))
        .select(lit("lineitem_qty_range").as("check"),
          col("n_violations"), col("n_checked"))
      val uniq = cust.groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > 1, col("c") - 1).otherwise(0L))
            .as("n_violations"),
          sum(col("c")).as("n_checked"))
        .select(lit("customer_key_unique").as("check"),
          col("n_violations"), col("n_checked"))
      val nulls = ev.agg(
          sum(when(col("value").isNull, 1L).otherwise(0L))
            .as("n_violations"),
          count(lit(1)).as("n_checked"))
        .select(lit("events_value_nonnull").as("check"),
          col("n_violations"), col("n_checked"))
      orphans.unionByName(range).unionByName(uniq).unionByName(nulls)
    },
      """SELECT 'orders_custkey_fk' AS check,
        |       (SELECT count(*) FROM orders o
        |        WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                          WHERE c.c_custkey = o.o_custkey))::BIGINT
        |         AS n_violations,
        |       (SELECT count(*) FROM orders)::BIGINT AS n_checked
        |UNION ALL
        |SELECT 'lineitem_qty_range',
        |       sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |                THEN 1 ELSE 0 END)::BIGINT,
        |       count(*)::BIGINT
        |FROM lineitem
        |UNION ALL
        |SELECT 'customer_key_unique',
        |       sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END)::BIGINT,
        |       sum(c)::BIGINT
        |FROM (SELECT count(*) AS c FROM customer GROUP BY c_custkey)
        |UNION ALL
        |SELECT 'events_value_nonnull',
        |       sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |       count(*)::BIGINT
        |FROM events""".stripMargin),

    // Skew-resistant two-stage aggregation (salt on a derived key, then
    // re-aggregate) — identical results to the direct groupBy, so the same
    // oracle applies; at scale this spreads a hot key over 16 reducers
    Query("rel_salted_agg", (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"), pmod(col("event_id"), lit(16)).as("_salt"))
        .agg(count(lit(1)).as("c"), sum(col("value").cast("decimal(18,2)"))
          .as("v"))
        .groupBy("event_type")
        .agg(sum(col("c")).as("cnt"),
          sum(col("v")).cast("decimal(18,2)").cast("double")
            .as("sum_value")),
      """SELECT event_type, count(*) AS cnt,
        |       cast(cast(sum(cast(value AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin),

    // Z-order layout value: Morton-interleave two key dimensions so a
    // range partitioning by the value clusters rows close in BOTH columns
    // (min/max file stats then prune on either predicate; a lexicographic
    // sort only serves the leading column). Pure bit math — the oracle
    // re-derives every value; the clustering property itself is pinned in
    // NativeFunctionsSpec on range-partitioned bounding boxes.
    Query("rel_zorder_value", (s, dir) =>
      events(s, dir).select(col("event_id"),
        graft.functions.GraftFunctions.zorder(
          pmod(col("user_id"), lit(65536)),
          pmod(col("event_id"), lit(65536))).as("zval")),
      // bit-exact Morton interleave of the low 16 bits of each dimension
      """WITH b AS (
        |  SELECT event_id,
        |         user_id % 65536 AS x, event_id % 65536 AS y
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum((((x >> i) & 1) << (2 * i)) +
        |                (((y >> i) & 1) << (2 * i + 1))) AS bigint) AS zval
        |FROM b CROSS JOIN (SELECT range AS i FROM range(16)) t
        |GROUP BY event_id""".stripMargin),

    // SQL surface: correlated scalar subquery (Catalyst decorrelates it
    // into an aggregate + join — the plan a user would otherwise hand-write)
    Query("rel_subquery_min_price", (s, dir) => {
      tbl(s, dir, "part").createOrReplaceTempView("graft_part")
      s.sql("""SELECT p_brand, p_partkey,
               |       cast(cast(p_retailprice AS decimal(18,2)) AS double)
               |         AS p_retailprice
               |FROM graft_part p
               |WHERE p_retailprice = (SELECT min(p2.p_retailprice)
               |                       FROM graft_part p2
               |                       WHERE p2.p_brand = p.p_brand)"""
        .stripMargin)
    },
      """SELECT p_brand, p_partkey,
        |       cast(cast(p_retailprice AS decimal(18,2)) AS double)
        |         AS p_retailprice
        |FROM part p
        |WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
        |                       WHERE p2.p_brand = p.p_brand)""".stripMargin),

    // SQL surface: EXISTS subquery (planned as a left-semi join)
    Query("rel_subquery_exists", (s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("graft_orders")
      tbl(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
      s.sql("""SELECT o_orderkey, o_orderstatus
               |FROM graft_orders o
               |WHERE EXISTS (SELECT 1 FROM graft_lineitem l
               |              WHERE l.l_orderkey = o.o_orderkey
               |                AND l.l_quantity >= 45)""".stripMargin)
    },
      """SELECT o_orderkey, o_orderstatus
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_quantity >= 45)""".stripMargin),

    // Two-pass exact heavy hitters: Misra-Gries candidate sketch (one
    // bounded ObjectHashAggregate, no per-key shuffle) -> exact count of
    // the <= 64 candidates only -> exact N/k threshold. See heavyHittersDf.
    Query("rel_heavy_hitters", (s, dir) => heavyHittersDf(s, dir),
      // the naive single-pass answer the two-pass MG plan must equal:
      // every token above N/50 of the whole stream, counted exactly
      s"""WITH tk AS (
         |  SELECT unnest(${cleanToksSql("text")}) AS token FROM documents
         |), tot AS (SELECT count(*) AS n FROM tk)
         |SELECT token, count(*) AS cnt
         |FROM tk, tot GROUP BY token, n
         |HAVING count(*) * 50 > n""".stripMargin),

    // Merkle-style two-phase replica diff (ops/TableDiff): per-bucket
    // XOR-of-rowhash + count checksums reduce each side to 256 rows;
    // only differing buckets get the row-level full-outer classify.
    // The new version is a deterministic mutation of orders: keys %101
    // deleted, %97 repriced, %103 re-inserted under shifted keys — the
    // oracle computes the same symmetric difference naively.
    Query("rel_merkle_diff", (s, dir) => {
      val old = tbl(s, dir, "orders").select(
        col("o_orderkey").as("key"),
        round(col("o_totalprice") * 100).cast("long").as("val"))
      val survived = old.where(col("key") % 101 =!= 0)
        .select(col("key"),
          when(col("key") % 97 === 0, round(col("val") * 1.1).cast("long"))
            .otherwise(col("val")).as("val"))
      val inserted = old.where(col("key") % 103 === 0)
        .select((col("key") + 1000000000L).as("key"), col("val"))
      graft.ops.TableDiff.merkleDiff(old, survived.unionByName(inserted))
    },
      // the naive symmetric difference the two-phase merkle diff must
      // equal; 1.1 cast to DOUBLE so the reprice arithmetic matches
      // Spark's double path (bare literals are DECIMAL in DuckDB)
      """WITH old AS (
        |  SELECT o_orderkey AS key,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS val
        |  FROM orders
        |), nw AS (
        |  SELECT key,
        |         CASE WHEN key % 97 = 0
        |              THEN CAST(round(val * 1.1::DOUBLE) AS BIGINT)
        |              ELSE val END AS val
        |  FROM old WHERE key % 101 <> 0
        |  UNION ALL
        |  SELECT key + 1000000000, val FROM old WHERE key % 103 = 0
        |)
        |SELECT key, change FROM (
        |  SELECT coalesce(o.key, n.key) AS key,
        |         CASE WHEN o.key IS NULL THEN 'inserted'
        |              WHEN n.key IS NULL THEN 'deleted'
        |              WHEN o.val <> n.val THEN 'modified' END AS change
        |  FROM old o FULL OUTER JOIN nw n ON o.key = n.key
        |) WHERE change IS NOT NULL""".stripMargin),

    // EXACT MODE per key — argmax of the (key, value) count table with a
    // deterministic smallest-value tiebreak, as TWO ordinary hash
    // aggregations: count per pair, then a struct-ordered max per key
    // ((cnt, -user) lexicographic = highest count, then lowest user).
    // No per-group value buffer, no window: post-pair-count state per
    // group is ONE (count, value) pair, partial-aggregated map-side —
    // the only mode shape that survives a 100 TB categorical column.
    Query("rel_mode_per_group", (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("event_type"))
        .agg(max(struct(col("cnt"), (-col("user_id")).as("nu"))).as("m"))
        .select(col("event_type"), col("m.cnt").as("mode_cnt"),
          (-col("m.nu")).as("mode_user")),
      // independent row_number-over-counts derivation of the same argmax
      """WITH c AS (
        |  SELECT event_type, user_id, count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT event_type, user_id, cnt,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY cnt DESC, user_id ASC) AS rn
        |  FROM c
        |)
        |SELECT event_type, cnt AS mode_cnt, user_id AS mode_user
        |FROM r WHERE rn = 1""".stripMargin),

    // Key-skew diagnostic: per event type, the per-user count distribution
    // (max/mean ratio = the hot-key factor that decides whether an agg or
    // join on this key needs salting — the measurement side of
    // rel_skew_salted_join). Two-level aggregate: the inner groupBy
    // partial-aggregates map-side, so the shuffle carries one row per
    // (type, user), never the raw events twice.
    Query("rel_key_skew_profile", (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(sum(col("c")).as("n_events"),
          count(lit(1)).as("n_users"),
          max(col("c")).as("max_per_user"),
          round(avg(col("c")), 6).as("avg_per_user"),
          round(max(col("c")) / avg(col("c")), 6).as("skew_factor")),
      """WITH pu AS (
        |  SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, cast(sum(c) AS bigint) AS n_events,
        |       count(*) AS n_users, max(c) AS max_per_user,
        |       round(avg(c), 6) AS avg_per_user,
        |       round(max(c) / avg(c), 6) AS skew_factor
        |FROM pu GROUP BY 1""".stripMargin),

    // Column profiling (count/nulls/distinct/min/max) — the data-quality
    // sweep run before any training job; one pass, partial-aggregated
    Query("rel_profile", (s, dir) =>
      tbl(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_returnflag").isNull, 1L).otherwise(0L))
          .as("null_flags"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_returnflag")).as("n_flags"),
        min(col("l_quantity")).cast("double").as("min_qty"),
        max(col("l_quantity")).cast("double").as("max_qty"),
        min(col("l_shipdate").cast("timestamp")).cast("long")
          .as("min_ship_s")),
      """SELECT count(*) AS n_rows,
        |       cast(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
        |            AS bigint) AS null_flags,
        |       count(DISTINCT l_orderkey) AS n_orders,
        |       count(DISTINCT l_returnflag) AS n_flags,
        |       cast(min(l_quantity) AS double) AS min_qty,
        |       cast(max(l_quantity) AS double) AS max_qty,
        |       cast(epoch_us(min(l_shipdate)) // 1000000 AS bigint)
        |         AS min_ship_s
        |FROM lineitem""".stripMargin),

    // Explicit GROUPING SETS with grouping() markers (rollup/cube's
    // general form): per-status totals, per-priority totals, grand total
    Query("rel_grouping_sets", (s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("graft_orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
               |       cast(grouping(o_orderstatus) AS bigint) AS g_status,
               |       cast(grouping(o_orderpriority) AS bigint) AS g_prio
               |FROM graft_orders_gs
               |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
               |                        ())""".stripMargin)
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |       cast(grouping(o_orderstatus) AS bigint) AS g_status,
        |       cast(grouping(o_orderpriority) AS bigint) AS g_prio
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin),

    // Fixed-width histogram over event values
    Query("rel_value_histogram", (s, dir) =>
      events(s, dir)
        .groupBy(floor(col("value") / 20).cast("long").as("bucket"))
        .agg(count(lit(1)).as("cnt")),
      """SELECT cast(floor(value / 20) AS bigint) AS bucket, count(*) AS cnt
        |FROM events GROUP BY 1""".stripMargin),

    // SQL-INTERFACE PARITY — the library's full ANSI SQL surface comes
    // free from Spark: register the table as a view and run the Q1
    // pricing-summary shape as a SQL STRING through spark.sql. Same
    // partial+final hash-aggregate plan as the DataFrame twin
    // (Catalyst compiles both to one plan space); money sums exact
    // decimal to one presentational cast. avg_disc follows the repo's
    // exact-sum-to-one-division convention: a raw double avg() is
    // summation-order dependent (partial-merge order differs run to
    // run and engine to engine), so the discount sums as an exact
    // decimal and divides by the count ONCE in double.
    Query("rel_sql_interface", (s, dir) => {
      tbl(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               cast(count(*) AS bigint) AS n,
               cast(sum(cast(l_quantity AS decimal(18,2))) AS double)
                 AS sum_qty,
               round(cast(cast(sum(cast(l_discount AS decimal(18,4)))
                               AS decimal(18,4)) AS double) / count(*), 6)
                 AS avg_disc
        FROM graft_lineitem
        WHERE l_shipdate < timestamp'1998-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus""")
    },
      """SELECT l_returnflag, l_linestatus,
        |       count(*) AS n,
        |       sum(cast(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty,
        |       round(sum(cast(l_discount AS DECIMAL(18,4)))::DOUBLE
        |             / count(*), 6) AS avg_disc
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // SQL-STRING TWINS OF THE Global* REWRITE FAMILIES — the session
    // extensions (GraftExtensions.inject, the one registration path)
    // inject optimizer rules, so the distributed-window rewrites must
    // fire on ANY logical plan, however it was built. rel_sql_interface proved the hash-aggregate
    // shape reaches SQL users; these six prove the custom-operator
    // surface does too: each is the textbook un-partitioned window
    // written as an ANSI SQL STRING through spark.sql, one per rewrite
    // family, and PlanAuditSpec pins that the PARSED plan executes as
    // the distributed Global* operator (GlobalScan / GlobalRank /
    // GlobalShift / GlobalEdge / GlobalFrame / GlobalRange) with no
    // single-partition WindowExec stage — a SQL user gets the same
    // 100 TB plan as a DataFrame user, with zero extra API.

    // Prefix sum from SQL → GlobalScan (twin of rel_running_revenue).
    Query("rel_sql_running_sum", (s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("graft_sql_orders")
      s.sql("""
        SELECT o_orderkey, cents,
               sum(cents) OVER (ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS running_cents
        FROM (SELECT o_orderkey,
                     cast(round(o_totalprice * 100) AS bigint) AS cents
              FROM graft_sql_orders)""")
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

    // Global row_number from SQL → GlobalRank (twin of
    // rel_global_rank_plan, which builds the operator directly).
    Query("rel_sql_global_rank", (s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_sql_events")
      s.sql("""
        SELECT event_id, value,
               row_number() OVER (ORDER BY value DESC, event_id) AS rank
        FROM graft_sql_events""")
    },
      """SELECT event_id, value,
        |       cast(row_number() OVER (ORDER BY value DESC, event_id)
        |            AS integer) AS rank
        |FROM events""".stripMargin),

    // Global lag from SQL → GlobalShift (twin of rel_running_delta).
    Query("rel_sql_shift_delta", (s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_sql_events")
      s.sql("""
        SELECT event_id,
               lag(v, 1) OVER (ORDER BY t, event_id) AS prev_v
        FROM (SELECT unix_micros(ts) AS t, event_id,
                     CASE WHEN event_type <> 'error'
                          THEN cast(round(value * 1000) AS bigint) END AS v
              FROM graft_sql_events)""")
    },
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       lag(v, 1) OVER (ORDER BY t, event_id) AS prev_v
        |FROM e""".stripMargin),

    // Global first_value from SQL → GlobalEdge (twin of rel_first_value).
    Query("rel_sql_edge_first", (s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("graft_sql_orders")
      s.sql("""
        SELECT o_orderkey, o_totalprice,
               first_value(o_totalprice)
                 OVER (ORDER BY o_orderdate, o_orderkey) AS first_price
        FROM graft_sql_orders""")
    },
      """SELECT o_orderkey, o_totalprice,
        |       first_value(o_totalprice)
        |         OVER (ORDER BY o_orderdate, o_orderkey) AS first_price
        |FROM orders""".stripMargin),

    // Bounded ROWS frame from SQL → GlobalFrame (twin of
    // rel_frame_moving_sum).
    Query("rel_sql_frame_sum", (s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_sql_events")
      s.sql("""
        SELECT event_id,
               sum(v) OVER w AS mov_sum,
               count(v) OVER w AS mov_n
        FROM (SELECT unix_micros(ts) AS t, event_id,
                     CASE WHEN event_type <> 'error'
                          THEN cast(round(value * 1000) AS bigint) END AS v
              FROM graft_sql_events)
        WINDOW w AS (ORDER BY t, event_id
                     ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)""")
    },
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum(v) OVER w AS bigint) AS mov_sum,
        |       cast(count(v) OVER w AS bigint) AS mov_n
        |FROM e
        |WINDOW w AS (ORDER BY t, event_id
        |             ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)"""
        .stripMargin),

    // Bounded value-RANGE frame from SQL → GlobalRange (twin of
    // rel_range_trailing_global). Tie groups over t are included whole
    // by RANGE semantics, so sum/count are deterministic without an
    // event_id tiebreak.
    Query("rel_sql_range_trailing", (s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_sql_events")
      s.sql("""
        SELECT event_id,
               sum(v) OVER r AS rev_5s,
               count(v) OVER r AS n_5s
        FROM (SELECT unix_micros(ts) AS t, event_id,
                     CASE WHEN event_type <> 'error'
                          THEN cast(round(value * 1000) AS bigint) END AS v
              FROM graft_sql_events)
        WINDOW r AS (ORDER BY t
                     RANGE BETWEEN 5000000 PRECEDING AND CURRENT ROW)""")
    },
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum(v) OVER r AS bigint) AS rev_5s,
        |       cast(count(v) OVER r AS bigint) AS n_5s
        |FROM e
        |WINDOW r AS (ORDER BY t
        |             RANGE BETWEEN 5000000 PRECEDING AND CURRENT ROW)"""
        .stripMargin),

    // Native TYPED AGGREGATE from a SQL string — the injected function
    // surface: GraftExtensions.inject puts graft_kmv_sketch (and the
    // other natives) into the function registry as the session is
    // built, so a SQL
    // user builds the bounded sketch with no DataFrame API at all; the
    // estimator is plain SQL over the returned array. Oracle = the
    // k-smallest construction in DuckDB, value-exact.
    Query("rel_sql_sketch_agg", (s, dir) => {
      events(s, dir).select(col("event_type"),
        thetaHash((col("user_id") * 100000L +
          unix_date(to_date(col("ts")))).cast("long")).as("h"))
        .createOrReplaceTempView("graft_sql_hashes")
      s.sql("""
        SELECT event_type,
               cast(size(ks) AS bigint) AS n_kept,
               round(CASE WHEN size(ks) < 128
                          THEN cast(size(ks) AS double)
                          ELSE 127.0 * 1152921504606846976
                               / cast(element_at(ks, 128) AS double) END,
                     4) AS est
        FROM (SELECT event_type, graft_kmv_sketch(h, 128) AS ks
              FROM graft_sql_hashes GROUP BY event_type)""")
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
        |)
        |SELECT event_type, n_kept,
        |       ${kmvEstimateSql("n_kept", "theta")} AS est
        |FROM s""".stripMargin),

    // O(k) SKETCH-COLUMN MERGE from a SQL string — the reachability
    // twin of graft_kmv_merge: daily graft_kmv_sketch partials merged
    // per segment by graft_kmv_merge, both stages raw SQL. Lossless
    // merge ⇒ the same from-scratch oracle as rel_sql_sketch_agg.
    Query("rel_sql_kmv_merge", (s, dir) => {
      events(s, dir).select(col("event_type"),
        to_date(col("ts")).as("day"),
        thetaHash((col("user_id") * 100000L +
          unix_date(to_date(col("ts")))).cast("long")).as("h"))
        .createOrReplaceTempView("graft_sql_day_hashes")
      s.sql("""
        SELECT event_type,
               cast(size(ks) AS bigint) AS n_kept,
               round(CASE WHEN size(ks) < 128
                          THEN cast(size(ks) AS double)
                          ELSE 127.0 * 1152921504606846976
                               / cast(element_at(ks, 128) AS double) END,
                     4) AS est
        FROM (SELECT event_type, graft_kmv_merge(ks, 128) AS ks
              FROM (SELECT event_type, day,
                           graft_kmv_sketch(h, 128) AS ks
                    FROM graft_sql_day_hashes GROUP BY event_type, day)
              GROUP BY event_type)""")
    },
      // daily partials merged in O(k) must equal the from-scratch
      // k-smallest construction — KMV merge is lossless
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

    // QUANTILE SKETCH from a SQL string — reachability twin covering
    // BOTH new aggregates: daily graft_qsketch partials merged per
    // segment by graft_qsketch_merge, readout (quantile ranks +
    // contents string) in plain SQL over the wire-format array.
    // Lossless merge ⇒ the same from-scratch oracle as
    // rel_quantile_sketch.
    Query("rel_sql_qsketch", (s, dir) => {
      events(s, dir).select(col("event_type"),
        unix_date(to_date(col("ts"))).cast("long").as("day"),
        thetaHash(col("event_id")).as("h"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
        .createOrReplaceTempView("graft_sql_qs_rows")
      s.sql("""
        SELECT event_type,
               element_at(qs, 1) AS lvl,
               cast(size(vals) AS bigint) AS n_kept,
               element_at(vals, cast(ceil(size(vals) * 0.5) AS int))
                 AS p50_cents,
               element_at(vals, cast(ceil(size(vals) * 0.95) AS int))
                 AS p95_cents,
               concat_ws(';', cast(qs AS array<string>)) AS contents
        FROM (
          SELECT event_type, qs,
                 array_sort(filter(qs, (x, i) -> i >= 2 AND i % 2 = 0))
                   AS vals
          FROM (SELECT event_type, graft_qsketch_merge(qs, 256) AS qs
                FROM (SELECT event_type, day,
                             graft_qsketch(h, cents, 256) AS qs
                      FROM graft_sql_qs_rows GROUP BY event_type, day)
                GROUP BY event_type))""")
    },
      // SQL build+merge path: lossless merge ⇒ same from-scratch oracle
      qsketchFromScratchSql),

    // rank() WITH TIES from SQL → GlobalTies (twin of
    // rel_global_rank_ties).
    Query("rel_sql_rank_ties", (s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("graft_sql_orders")
      s.sql("""
        SELECT o_orderkey, cast(o_orderdate AS date) AS d,
               rank() OVER (ORDER BY cast(o_orderdate AS date)) AS rnk
        FROM graft_sql_orders""")
    },
      """SELECT o_orderkey, cast(o_orderdate AS date) AS d,
        |       cast(rank() OVER (ORDER BY cast(o_orderdate AS date))
        |            AS integer) AS rnk
        |FROM orders""".stripMargin),

    // The MIXED-family single window from SQL → GlobalWindowRule stacks
    // rank/ties/shift/edge/prefix/sliding onto one shared sort (twin of
    // rel_window_mixed_global). The analyzer groups the same-spec
    // functions into one Window node regardless of plan source.
    Query("rel_sql_window_mixed", (s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_sql_events")
      s.sql("""
        SELECT event_id,
               cast(row_number() OVER (ORDER BY t, event_id) AS bigint)
                 AS rn,
               cast(rank() OVER (ORDER BY t, event_id) AS bigint) AS rnk,
               sum(v) OVER (ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS run_total,
               lag(v, 1) OVER (ORDER BY t, event_id) AS prev_v,
               first_value(v) OVER (ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS first_v,
               round(avg(v) OVER (ORDER BY t, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS mov_avg
        FROM (SELECT unix_micros(ts) AS t, event_id,
                     CASE WHEN event_type <> 'error'
                          THEN cast(round(value * 1000) AS bigint) END AS v
              FROM graft_sql_events)""")
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

    // SQL-STRING TWINS OF THE REMAINING NATIVE AGGREGATES — the
    // injected-function surface beyond graft_kmv_sketch: Misra-Gries,
    // CMS merge+estimate, bitmap exact distinct, and the vector mean
    // each reachable from a raw ANSI SQL string with no DataFrame API,
    // value-checked by the same oracles as their DataFrame twins.

    // Misra-Gries candidates -> exact two-pass heavy hitters, all from
    // SQL (twin of rel_heavy_hitters). The MG map's keys are a
    // guaranteed superset of every token with count > N/50 (cap 64 >=
    // k-1), so the exact join + HAVING returns the naive groupBy/HAVING
    // answer; the candidate frame is <= 64 rows, which AQE broadcasts
    // by stats — the only key-shuffle carries candidate tokens only.
    Query("rel_sql_misra_gries", (s, dir) => {
      tbl(s, dir, "documents")
        .select(explode(Dedup.cleanTokens(col("text"))).as("token"))
        .createOrReplaceTempView("graft_sql_tokens")
      s.sql("""
        WITH cand AS (
          SELECT graft_misra_gries(token, 64) AS m,
                 cast(count(*) AS bigint) AS n
          FROM graft_sql_tokens
        ),
        k AS (SELECT explode(map_keys(m)) AS token, n FROM cand)
        SELECT t.token, cast(count(*) AS bigint) AS cnt
        FROM graft_sql_tokens t JOIN k ON t.token = k.token
        GROUP BY t.token, k.n
        HAVING count(*) * 50 > k.n""")
    },
      // SQL-reachability twins of the native aggregates: same answers as
      // their DataFrame siblings' oracles
      s"""WITH tk AS (
         |  SELECT unnest(${cleanToksSql("text")}) AS token FROM documents
         |), tot AS (SELECT count(*) AS n FROM tk)
         |SELECT token, count(*) AS cnt
         |FROM tk, tot GROUP BY token, n
         |HAVING count(*) * 50 > n""".stripMargin),

    // Daily CMS partials merged by graft_cms_merge, probed by
    // graft_cms_estimate — the rel_cms_merge_bounded sandwich
    // (exact <= est <= exact + eps*N), entirely from SQL.
    // SEED/DATA COUPLING (same caveat as rel_cms_merge_bounded): the
    // within_eps=1 oracle relies on this CMS (eps=0.001, delta=0.001,
    // seed=42) never overshooting eps*N for any event_type on the
    // CURRENT testdata. The eps bound itself holds only with
    // probability 1-delta per probe — deterministic here because the
    // seed and data are fixed, but REGENERATING the test datasets could
    // legitimately flip a probe to 0; that would be a data-vs-sketch
    // coincidence expiring, not an engine bug. If it fires, widen the
    // upper bound to the delta-exempt `exact + 2*eps*N` on both engines.
    Query("rel_sql_cms_merge", (s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_sql_events")
      s.sql("""
        WITH daily AS (
          SELECT to_date(ts) AS day,
                 count_min_sketch(event_type, 0.001d, 0.999d, 42) AS cms,
                 cast(count(*) AS bigint) AS n
          FROM graft_sql_events GROUP BY to_date(ts)
        ),
        exact AS (
          SELECT event_type, cast(count(*) AS bigint) AS exact
          FROM graft_sql_events GROUP BY event_type
        )
        SELECT /*+ BROADCAST(m) */ e.event_type,
               cast(graft_cms_estimate(m.cms, e.event_type)
                    BETWEEN e.exact
                        AND e.exact + cast(ceil(m.n * 0.001) AS bigint)
                    AS bigint) AS within_eps
        FROM exact e CROSS JOIN (
          SELECT graft_cms_merge(cms) AS cms, sum(n) AS n FROM daily) m""")
    },
      """SELECT event_type, cast(1 AS bigint) AS within_eps
        |FROM events GROUP BY event_type""".stripMargin),

    // Exact segmented distinct via the bitmap aggregate family from SQL
    // (twin of rel_bitmap_distinct): per-bucket fixed-size bitmaps,
    // lossless popcount rollup — O(buckets) shuffle bytes, exact.
    Query("rel_sql_bitmap_distinct", (s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_sql_events")
      s.sql("""
        SELECT event_type, cast(sum(bitmap_count(bm)) AS bigint) AS n_users
        FROM (SELECT event_type,
                     bitmap_construct_agg(bitmap_bit_position(user_id))
                       AS bm
              FROM graft_sql_events
              GROUP BY event_type, bitmap_bucket_number(user_id))
        GROUP BY event_type""")
    },
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1""".stripMargin),

    // Per-label embedding centroid via the native graft_vec_mean
    // aggregate from SQL (one ~17 KB-buffer hash aggregate, partial +
    // final); posexplode to (label, pos, m) rows — 1-based pos to match
    // the oracle's generate_subscripts — rounded to 6 like the
    // emb_centroid_shift precedent.
    Query("rel_sql_vec_mean", (s, dir) => {
      tbl(s, dir, "embeddings")
        .createOrReplaceTempView("graft_sql_embeddings")
      s.sql("""
        SELECT label, cast(pos + 1 AS bigint) AS pos, round(x, 6) AS m
        FROM (SELECT label, graft_vec_mean(embedding) AS c
              FROM graft_sql_embeddings GROUP BY label)
        LATERAL VIEW posexplode(c) p AS pos, x""")
    },
      s"""WITH $embUnnestCte
         |SELECT label, cast(pos AS bigint) AS pos,
         |       round(avg(cast(vx AS double)), 6) AS m
         |FROM v GROUP BY 1, 2""".stripMargin),

    // ORDER-INDEPENDENT TABLE CHECKSUM — the 100 TB table-equality
    // primitive: one scan folds every row into a commutative decimal
    // sum of 60-bit row hashes (md5 over the canonical column
    // concatenation), so two tables compare by exchanging ONE row no
    // matter how they are partitioned or ordered. decimal(38,0) sums
    // exactly (no wraparound ambiguity, no ANSI overflow) up to ~10^19
    // rows; the count rides along to reject padding collisions.
    // Complements rel_merkle_diff (which localizes WHERE tables differ)
    // with the cheap equality gate a pipeline runs first. NULL fields
    // are encoded as an explicit '\N' sentinel (concat_ws would drop
    // them silently, making rows differing only in WHICH column is
    // NULL hash-equal).
    Query("rel_table_checksum", (s, dir) => {
      def c(x: Column): Column = coalesce(x.cast("string"), lit("\\N"))
      val rowHash = conv(substring(md5(concat_ws("|",
        c(col("l_orderkey")),
        c(col("l_partkey")),
        c(col("l_suppkey")),
        c(col("l_quantity").cast("decimal(18,2)")),
        c(col("l_returnflag"))).cast("binary")), 1, 15), 16, 10)
        .cast("decimal(38,0)")
      tbl(s, dir, "lineitem")
        .select(rowHash.as("h"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h")).cast("decimal(38,0)").cast("string")
            .as("checksum"))
    },
      """SELECT count(*) AS n_rows,
        |       cast(sum(('0x' || substr(md5(
        |         coalesce(l_orderkey::VARCHAR, '\N') || '|'
        |         || coalesce(l_partkey::VARCHAR, '\N') || '|'
        |         || coalesce(l_suppkey::VARCHAR, '\N') || '|'
        |         || coalesce(cast(l_quantity AS DECIMAL(18,2))::VARCHAR,
        |                     '\N') || '|'
        |         || coalesce(l_returnflag, '\N')), 1, 15))::BIGINT)
        |            AS VARCHAR) AS checksum
        |FROM lineitem""".stripMargin),
  )
}
