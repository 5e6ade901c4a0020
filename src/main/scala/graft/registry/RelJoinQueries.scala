package graft
package registry

import SparkEntry.{tbl, events, staged}
import Shared.scd2Dim
import graft.ops.Joins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TPC-H query shapes and join strategies: broadcast, semi/anti, skew,
  * range, as-of, spatial, SCD2 and incremental view maintenance. */
private[graft] object RelJoinQueries {

  val queries: Seq[Query] = Seq(

    // TPC-H Q1-style multi-aggregate: decimal sums (exact, order-independent)
    Query("rel_q1_lineitem_agg", (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_price"),
          sum(col("l_discount").cast("decimal(18,4)"))
            .cast("decimal(18,4)").cast("double").as("sum_disc"),
          count(lit(1)).as("cnt")),
      """SELECT l_returnflag, l_linestatus,
        |       cast(cast(sum(cast(l_quantity AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_qty,
        |       cast(cast(sum(cast(l_extendedprice AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_price,
        |       cast(cast(sum(cast(l_discount AS decimal(18,4))) AS decimal(18,4)) AS double) AS sum_disc,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // Broadcast hash join: small dim (customer) explicitly broadcast
    Query("rel_join_broadcast", (s, dir) =>
      tbl(s, dir, "orders")
        .join(broadcast(tbl(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_price")),
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       cast(cast(sum(cast(o_totalprice AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),

    // FACT-FACT INTERVAL COVER COUNT by SWEEP LINE — for every event,
    // how many OTHER users' daily activity spans cover its instant. A
    // chunked interval equi-join (hour-bucket key + range residual) is
    // the right plan when the OUTPUT is pair-shaped, but with 10× events
    // in the SAME time span per-chunk density grows 10× on both sides
    // and the join enumerates 100× the pairs (the scale ladder measured
    // 2.2 s → 149 s for a 10× rung). The output here is a COUNT, so the
    // pairs never need to exist: merge span boundaries (±1 deltas) with
    // the probe events into one total (t, ord) order and take a running
    // sum — the GlobalScan distributed prefix sum, the same sweep as
    // rel_peak_concurrency. O((n+m) log) always, linear in DENSITY where
    // the chunk join is quadratic (1.7 s at the rung that broke the
    // join). Boundary semantics preserved
    // exactly by the ord column (+1 at st sorts before probes at the
    // same instant, -1 at en sorts after), and a user's own span always
    // covers their event, so n_concurrent = active - 1.
    Query("rel_interval_cover_count", (s, dir) => {
      val e = events(s, dir)
      val spans = e.groupBy(col("user_id"),
          date_trunc("day", col("ts")).as("d"))
        .agg(unix_micros(min(col("ts"))).as("st"),
          unix_micros(max(col("ts"))).as("en"))
      val deltas = spans
        .select(col("st").as("t"), lit(0).as("ord"), lit(1L).as("delta"),
          lit(null).cast("long").as("event_id"))
        .unionByName(spans.select(col("en").as("t"), lit(2).as("ord"),
          lit(-1L).as("delta"), lit(null).cast("long").as("event_id")))
      val probes = e.select(unix_micros(col("ts")).as("t"),
        lit(1).as("ord"), lit(0L).as("delta"), col("event_id"))
      deltas.unionByName(probes)
        .withColumn("active", sum(col("delta")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("t"), col("ord"), col("event_id"))
            .rowsBetween(org.apache.spark.sql.expressions
              .Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
        .where(col("event_id").isNotNull && col("active") > 1)
        .select(col("event_id"), (col("active") - 1).as("n_concurrent"))
    },
      // chunking is an optimization detail — the answer is the plain
      // overlap join
      """WITH spans AS (
        |  SELECT user_id, min(ts) AS st, max(ts) AS en
        |  FROM events GROUP BY user_id, date_trunc('day', ts)
        |)
        |SELECT e.event_id, count(*) AS n_concurrent
        |FROM events e JOIN spans s
        |  ON s.st <= e.ts AND e.ts <= s.en AND s.user_id <> e.user_id
        |GROUP BY e.event_id""".stripMargin),

    // DYNAMIC partition pruning: the fact side is laid out partitioned by
    // event_type (the staged write below stands in for how a 100 TB event
    // log is stored); the dim side keeps only "high-traffic" types — the
    // types carrying > 20.05% of all events (exact integer cross-multiply,
    // no float threshold). That predicate depends on corpus COUNTS, not on
    // the key value itself, so constraint propagation cannot turn it into
    // a static partition filter on the fact scan — only RUNTIME pruning
    // can skip fact partitions. Spark plans a DynamicPruningExpression
    // (reusing the dim broadcast) inside the fact scan's PartitionFilters;
    // at 100 TB that is the difference between scanning every partition
    // and scanning the few the dim filter selects. Pinned in PlanAuditSpec
    // together with the post-run partitions-read metric.
    Query("rel_dpp_prune", (s, dir) => {
      val out = staged("dpp_events")
      events(s, dir).select(col("event_id"), col("user_id"),
          round(col("value") * 1000).cast("long").as("v"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      // the corpus total collapses to ONE driver scalar (bounded model
      // state, same class as the k-means seed collects) — folding it in
      // as a literal keeps the threshold a Filter NODE over the dim
      // aggregate. Expressed as a cross join instead, the optimizer
      // rewrites the predicate into the join condition, and the
      // PartitionPruning rule (which looks for a selective Filter on the
      // dim side) does not fire.
      val total = events(s, dir).count()
      val dim = events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_type"))
        .where(col("n_type") * lit(10000L) > lit(total * 2005L))
        .select(col("event_type"), col("n_type"))
      s.read.parquet(out)
        .join(broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum(col("v")).as("v_total"))
    },
      // the partitioned layout is an optimization detail — the answer is the
      // plain join + count-threshold filter over the raw events
      """WITH f AS (
        |  SELECT event_type, cast(round(value * 1000) AS bigint) AS v
        |  FROM events
        |), d AS (
        |  SELECT event_type, count(*) AS n_type FROM events GROUP BY 1
        |), t AS (SELECT count(*) AS n_total FROM events)
        |SELECT f.event_type, count(*) AS n_events,
        |       cast(sum(f.v) AS bigint) AS v_total
        |FROM f JOIN d USING (event_type) CROSS JOIN t
        |WHERE d.n_type * 10000 > t.n_total * 2005
        |GROUP BY f.event_type""".stripMargin),

    // 3-way dimension join chain
    Query("rel_join_3way", (s, dir) =>
      tbl(s, dir, "customer")
        .join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_bal")),
      """SELECT r_name, count(*) AS n_cust,
        |       cast(cast(sum(cast(c_acctbal AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),

    // Left outer join preserving unmatched dimension rows
    Query("rel_join_left_outer", (s, dir) =>
      tbl(s, dir, "nation")
        .join(tbl(s, dir, "supplier"),
          col("s_nationkey") === col("n_nationkey"), "left_outer")
        .groupBy("n_name")
        .agg(count(col("s_suppkey")).as("n_supp")),
      """SELECT n_name, count(s_suppkey) AS n_supp
        |FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin),

    // Full outer join: per-nation supplier counts vs customer counts over
    // DISJOINTLY-FILTERED key ranges, so all three match classes appear
    // (left-only, both, right-only) and the null-padding on each side is
    // actually exercised. Aggregate-then-join: both inputs shrink to key
    // cardinality before the join, so at scale the join is over tiny
    // relations regardless of fact-table size.
    Query("rel_join_full_outer", (s, dir) => {
      val sup = tbl(s, dir, "supplier").where(col("s_nationkey") < 15)
        .groupBy(col("s_nationkey").as("snk"))
        .agg(count(lit(1)).as("n_supp"))
      val cus = tbl(s, dir, "customer").where(col("c_nationkey") >= 10)
        .groupBy(col("c_nationkey").as("cnk"))
        .agg(count(lit(1)).as("n_cust"))
      sup.join(cus, col("snk") === col("cnk"), "full_outer")
        .select(coalesce(col("snk"), col("cnk")).as("nationkey"),
          col("n_supp"), col("n_cust"))
    },
      """WITH sup AS (
        |  SELECT s_nationkey AS snk, count(*) AS n_supp FROM supplier
        |  WHERE s_nationkey < 15 GROUP BY s_nationkey
        |), cus AS (
        |  SELECT c_nationkey AS cnk, count(*) AS n_cust FROM customer
        |  WHERE c_nationkey >= 10 GROUP BY c_nationkey
        |)
        |SELECT coalesce(snk, cnk) AS nationkey, n_supp, n_cust
        |FROM sup FULL OUTER JOIN cus ON snk = cnk""".stripMargin),

    // CDC changelog compaction: apply an ordered upsert/delete log to
    // produce the current snapshot — last writer per key wins, keys whose
    // final op is a delete vanish (the compact-a-Debezium-stream op; the
    // SCD2 rel_merge_upsert keeps history, this collapses it). One
    // partitioned window, no global ordering anywhere; event_id breaks
    // timestamp ties so the winner is total-order deterministic.
    Query("rel_cdc_apply", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1 && col("op") =!= "delete")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"))
    },
      """WITH lg AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
        |         CASE WHEN event_type = 'error' THEN 'delete'
        |              ELSE 'upsert' END AS op
        |  FROM events
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY ts_us DESC, event_id DESC)
        |            AS rn
        |  FROM lg
        |)
        |SELECT user_id, ts_us, value FROM r
        |WHERE rn = 1 AND op <> 'delete'""".stripMargin),

    // Bloom-filter semi-join pruning: build a bloom over the filtered
    // dimension's join keys (key-cardinality bytes, broadcastable),
    // pre-filter the fact table BEFORE its join shuffle, then run the
    // real join — false positives die there, so the result is exactly
    // the plain join's (which is what the oracle computes, making the
    // no-false-negative guarantee the thing under test). At 100 TB this
    // is the difference between shuffling every fact row and shuffling
    // the ~selectivity fraction that can possibly match.
    Query("rel_bloom_join_prune", (s, dir) => {
      val cust = tbl(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
      // Size the filter from the DATA, never a constant: a fixed 20k
      // capacity saturated at the 10x ladder rung (29,430 BUILDING
      // keys), silently degrading the prune to a pass-through (FP-rate
      // → ~100%; the downstream inner join kept the ANSWER right, but
      // the operator stopped pruning — the scale ladder caught it).
      // One extra dim-side count is the price of a sketch that holds
      // its FP bound at any scale; driver state stays one long.
      val nKeys = math.max(20000L, (cust.count() * 13L) / 10L)
      val bloom = cust.agg(graft.functions.GraftFunctions
        .bloomAgg(xxhash64(col("c_custkey")), nKeys).as("bf"))
      tbl(s, dir, "orders")
        .crossJoin(broadcast(bloom))
        .where(graft.functions.GraftFunctions.bloomMightContain(
          col("bf"), xxhash64(col("o_custkey"))))
        .join(broadcast(cust.select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_price"))
    },
      // the bloom pre-filter is a transparent accelerator: the real join
      // removes its false positives, so the oracle is the PLAIN join — a
      // false negative anywhere would drop rows and fail the hash compare
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       cast(cast(sum(cast(o_totalprice AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderstatus""".stripMargin),

    // Left semi join: customers having at least one order
    Query("rel_semi_join", (s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt")),
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin),

    // Left anti join: customers with no orders
    Query("rel_anti_join", (s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt")),
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin),

    // As-of join (time-series): for each purchase, the most recent strictly-
    // prior view by the same user — merge-window formulation (one shuffle by
    // user, no range-join explosion)
    Query("rel_asof_last_view", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("last_view_us",
          max(when(col("event_type") === "view", col("ts_us"))).over(w))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("last_view_us"))
    },
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events
        |), m AS (
        |  SELECT user_id, event_id, event_type,
        |         max(CASE WHEN event_type = 'view' THEN ts_us END)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS last_view_us
        |  FROM e
        |)
        |SELECT event_id, user_id, last_view_us
        |FROM m WHERE event_type = 'purchase'""".stripMargin),

    // TPC-H Q3-shaped: filtered fact-fact join + distinct-count + revenue
    Query("rel_q3_shipping", (s, dir) =>
      tbl(s, dir, "orders")
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(tbl(s, dir, "lineitem")
            .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(18,4)").cast("double").as("revenue")),
      """SELECT o_orderpriority,
        |       count(DISTINCT o_orderkey) AS n_orders,
        |       cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |                (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2))))
        |            AS decimal(18,4)) AS double) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderpriority""".stripMargin),

    // TPC-H Q5-shaped: 6-table join, local-supplier condition, per-nation
    // revenue; dimensions broadcast, facts shuffle on join keys
    Query("rel_q5_region_revenue", (s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(tbl(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,4)").cast("double").as("revenue")),
      """SELECT n_name,
        |       cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |                (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2))))
        |            AS decimal(18,4)) AS double) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY n_name""".stripMargin),

    // TPC-H Q2 shape: min-cost supplier per part via a CORRELATED scalar
    // subquery over a join (the one relational shape rel_subquery_min_price
    // doesn't cover — its correlation is single-table). The dataset has no
    // partsupp table, so the (part, supplier, cost) relation is derived
    // from lineitem: cost = min(l_extendedprice) per (partkey, suppkey) —
    // a bare min, no arithmetic, so cross-engine comparison is exact.
    // Catalyst rewrites the correlated scalar into an aggregate + join;
    // dims broadcast (asserted in PlanAuditSpec). Known plan property:
    // the inlined ps CTE is evaluated on BOTH sides of the decorrelation
    // (two lineitem aggregates — the same plan vanilla Spark produces
    // for TPC-H Q2); when the double scan matters more than the subquery
    // shape, compute ps once and take the per-part min via the window
    // formulation instead (rel_window_topn_per_group's pattern).
    Query("rel_q2_min_cost", (s, dir) => {
      tbl(s, dir, "part").createOrReplaceTempView("graft_part")
      tbl(s, dir, "supplier").createOrReplaceTempView("graft_supplier")
      tbl(s, dir, "nation").createOrReplaceTempView("graft_nation")
      tbl(s, dir, "region").createOrReplaceTempView("graft_region")
      tbl(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
      s.sql("""WITH ps AS (SELECT l_partkey AS ps_partkey,
               |                  l_suppkey AS ps_suppkey,
               |                  min(l_extendedprice) AS ps_supplycost
               |           FROM graft_lineitem GROUP BY 1, 2)
               |SELECT p_partkey, p_brand, s_name, n_name,
               |       cast(cast(ps_supplycost AS decimal(18,2)) AS double)
               |         AS min_cost
               |FROM graft_part, ps, graft_supplier, graft_nation, graft_region
               |WHERE p_partkey = ps_partkey AND ps_suppkey = s_suppkey
               |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
               |  AND r_name = 'EUROPE' AND p_size <= 10
               |  AND ps_supplycost =
               |      (SELECT min(ps2.ps_supplycost)
               |       FROM ps ps2, graft_supplier s2, graft_nation n2,
               |            graft_region r2
               |       WHERE ps2.ps_partkey = p_partkey
               |         AND ps2.ps_suppkey = s2.s_suppkey
               |         AND s2.s_nationkey = n2.n_nationkey
               |         AND n2.n_regionkey = r2.r_regionkey
               |         AND r2.r_name = 'EUROPE')""".stripMargin)
    },
      """WITH ps AS (SELECT l_partkey AS ps_partkey,
        |                  l_suppkey AS ps_suppkey,
        |                  min(l_extendedprice) AS ps_supplycost
        |           FROM lineitem GROUP BY 1, 2)
        |SELECT p_partkey, p_brand, s_name, n_name,
        |       cast(cast(ps_supplycost AS decimal(18,2)) AS double)
        |         AS min_cost
        |FROM part, ps, supplier, nation, region
        |WHERE p_partkey = ps_partkey AND ps_suppkey = s_suppkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE' AND p_size <= 10
        |  AND ps_supplycost =
        |      (SELECT min(ps2.ps_supplycost)
        |       FROM ps ps2, supplier s2, nation n2, region r2
        |       WHERE ps2.ps_partkey = p_partkey
        |         AND ps2.ps_suppkey = s2.s_suppkey
        |         AND s2.s_nationkey = n2.n_nationkey
        |         AND n2.n_regionkey = r2.r_regionkey
        |         AND r2.r_name = 'EUROPE')""".stripMargin),

    // TPC-H Q7 shape: bilateral trade volume between two nations by ship
    // year — the multi-way join-order exercise (lineitem at the center,
    // orders shuffled in, supplier/customer/nation dims broadcast). The
    // nation pair is pre-filtered INTO both broadcast sides so only the
    // cross-pair filter remains post-join.
    Query("rel_q7_volume", (s, dir) => {
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = tbl(s, dir, "nation").where(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("n1_key"),
          col("n_name").as("supp_nation"))
      val n2 = tbl(s, dir, "nation").where(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("n2_key"),
          col("n_name").as("cust_nation"))
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,4)").cast("double").as("revenue"))
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       cast(year(l_shipdate) AS bigint) AS l_year,
        |       cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |                (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2))))
        |            AS decimal(18,4)) AS double) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3""".stripMargin),

    // Batch MERGE/upsert with SCD2 semantics, expressed as one outer join
    // + explode: customers are the keyed "current" dimension, the updates
    // batch is each customer's max order total. Matched keys produce TWO
    // rows — the old version closed (is_current=false) and the new one
    // opened — unmatched keys pass through open. A single scan feeds one
    // conditional-array explode (not a self-union, which would re-run the
    // join per branch); at scale this is one shuffle on the merge key.
    // TIME-SERIES DOWNSAMPLING to OHLC BARS — the TSDB rollup: per
    // (key, 5-minute bucket) open/high/low/close/volume. Open and close
    // are arg-extrema, done WITHOUT a window: lexicographic min/max of
    // (t, event_id, v) structs fold inside the ordinary hash aggregate
    // (partial-aggregated map-side; one shuffle keyed by (key, bar) at
    // any scale, no per-bar buffers, no sort).
    Query("rel_ohlc_bars", (s, dir) => {
      val e = events(s, dir).select(col("event_type"),
          unix_micros(col("ts")).as("t"), col("event_id"),
          round(col("value") * 1000).cast("long").as("v"))
        .where(col("v").isNotNull)
        .withColumn("bar", expr("t div 300000000") * lit(300000000L))
      e.groupBy(col("event_type"), col("bar"))
        .agg(
          min(struct(col("t"), col("event_id"), col("v")))
            .getField("v").as("open"),
          max(col("v")).as("high"), min(col("v")).as("low"),
          max(struct(col("t"), col("event_id"), col("v")))
            .getField("v").as("close"),
          count(lit(1)).as("n"))
    },
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS t, event_id,
        |         cast(round(value * 1000) AS BIGINT) AS v,
        |         (epoch_us(ts) // 300000000) * 300000000 AS bar
        |  FROM events
        |  WHERE round(value * 1000) IS NOT NULL
        |), r AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY event_type, bar
        |                            ORDER BY t, event_id) AS rn_a,
        |         row_number() OVER (PARTITION BY event_type, bar
        |                            ORDER BY t DESC, event_id DESC) AS rn_d
        |  FROM e
        |)
        |SELECT event_type, bar,
        |       max(CASE WHEN rn_a = 1 THEN v END) AS open,
        |       max(v) AS high, min(v) AS low,
        |       max(CASE WHEN rn_d = 1 THEN v END) AS close,
        |       count(*)::BIGINT AS n
        |FROM r GROUP BY 1, 2""".stripMargin),

    // INCREMENTAL VIEW MAINTENANCE of an AGGREGATE — the warehouse
    // pattern that makes 100 TB dashboards affordable: a stored per-key
    // aggregate (count + exact decimal sum — both self-decomposable
    // algebra) absorbs a delta batch by MERGING, never by rescanning
    // history. Here the "stored" view is orders before the cutover and
    // the delta is the rest; maintained = full-outer merge of the two
    // partial aggregates with coalesced algebra. The oracle recomputes
    // from scratch — IVM's correctness contract is exactly "merge equals
    // recompute". Cost: O(delta + affected keys), not O(history).
    Query("rel_ivm_agg", (s, dir) => {
      val cut = lit("1997-01-01").cast("timestamp")
      def agg(df: DataFrame) = df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("tot"))
      val base = agg(tbl(s, dir, "orders").where(col("o_orderdate") < cut))
        .select(col("o_custkey").as("k0"), col("n").as("n0"),
          col("tot").as("t0"))
      val delta = agg(tbl(s, dir, "orders")
        .where(col("o_orderdate") >= cut))
        .select(col("o_custkey").as("k1"), col("n").as("n1"),
          col("tot").as("t1"))
      base.join(delta, col("k0") === col("k1"), "full_outer")
        .select(coalesce(col("k0"), col("k1")).as("o_custkey"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("n1"), lit(0L)))
            .as("n"),
          (coalesce(col("t0"), lit(0).cast("decimal(18,2)")) +
            coalesce(col("t1"), lit(0).cast("decimal(18,2)")))
            .cast("double").as("tot"))
    },
      // IVM contract: merge-of-partials equals recompute-from-scratch
      """SELECT o_custkey, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders GROUP BY 1""".stripMargin),

    // SCD TYPE-2 DIMENSION BUILD — the warehouse changelog-to-versions
    // transform: each user's signup events become versioned dimension
    // rows with [valid_from, valid_to) effectivity (valid_to = next
    // change's instant, NULL while current). One hash-partitioned
    // window per user — lead + row_number share the per-user sort, no
    // global stage, scales with users not history length.
    Query("rel_scd2_build", (s, dir) => scd2Dim(s, dir),
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS vf, event_id,
        |         cast(json_extract_string(props, '$.k') AS bigint) AS k
        |  FROM events WHERE event_type = 'signup'
        |)
        |SELECT user_id, vf, k,
        |       lead(vf) OVER w AS vt,
        |       cast(row_number() OVER w AS bigint) AS version,
        |       (lead(vf) OVER w IS NULL) AS is_current
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY vf, event_id)""".stripMargin),

    // POINT-IN-TIME (as-of) ENRICHMENT against the SCD2 dimension:
    // each purchase joins the dimension version effective AT ITS
    // instant — the train-serve-skew-free feature lookup. Planned as a
    // hash equi-join on user_id with the validity interval as residual
    // predicate: per-user fan-out is bounded by that user's version
    // count, never a range/nested-loop join. Purchases before the
    // user's first version keep NULLs (left join — the accounting must
    // show them, not drop them).
    Query("rel_scd2_pit", (s, dir) => {
      val dim = scd2Dim(s, dir)
        .select(col("user_id").as("d_user"), col("k"),
          col("vf"), col("vt"), col("version"))
      events(s, dir).where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t"))
        .join(dim, col("user_id") === col("d_user") &&
          col("t") >= col("vf") &&
          (col("vt").isNull || col("t") < col("vt")), "left_outer")
        .select(col("event_id"), col("user_id"),
          col("k").as("k_at_purchase"), col("version"))
    },
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS vf, event_id,
        |         cast(json_extract_string(props, '$.k') AS bigint) AS k
        |  FROM events WHERE event_type = 'signup'
        |), dim AS (
        |  SELECT user_id AS d_user, k, vf,
        |         lead(vf) OVER (PARTITION BY user_id
        |                        ORDER BY vf, event_id) AS vt,
        |         cast(row_number() OVER (PARTITION BY user_id
        |                        ORDER BY vf, event_id) AS bigint) AS version
        |  FROM c
        |)
        |SELECT e.event_id, e.user_id, dim.k AS k_at_purchase, dim.version
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS t
        |      FROM events WHERE event_type = 'purchase') e
        |LEFT JOIN dim ON e.user_id = dim.d_user
        |  AND e.t >= dim.vf AND (dim.vt IS NULL OR e.t < dim.vt)""".stripMargin),

    Query("rel_merge_upsert", (s, dir) => {
      val bal = (c: org.apache.spark.sql.Column) =>
        c.cast("decimal(18,2)").cast("double")
      val upd = tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_totalprice")).as("new_bal"))
      tbl(s, dir, "customer")
        .join(upd, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("c_name"),
          explode(when(col("new_bal").isNotNull,
            array(struct(bal(col("c_acctbal")).as("bal"),
                    lit(false).as("is_current")),
                  struct(bal(col("new_bal")).as("bal"),
                    lit(true).as("is_current"))))
            .otherwise(array(struct(bal(col("c_acctbal")).as("bal"),
              lit(true).as("is_current"))))).as("v"))
        .select(col("c_custkey"), col("c_name"),
          col("v.bal").as("bal"), col("v.is_current").as("is_current"))
    },
      """WITH upd AS (SELECT o_custkey, max(o_totalprice) AS new_bal
        |             FROM orders GROUP BY 1)
        |SELECT c_custkey, c_name,
        |       cast(cast(c_acctbal AS decimal(18,2)) AS double) AS bal,
        |       false AS is_current
        |FROM customer JOIN upd ON c_custkey = o_custkey
        |UNION ALL
        |SELECT c_custkey, c_name,
        |       cast(cast(new_bal AS decimal(18,2)) AS double) AS bal,
        |       true AS is_current
        |FROM customer JOIN upd ON c_custkey = o_custkey
        |UNION ALL
        |SELECT c_custkey, c_name,
        |       cast(cast(c_acctbal AS decimal(18,2)) AS double) AS bal,
        |       true AS is_current
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM upd u
        |                  WHERE u.o_custkey = c.c_custkey)""".stripMargin),

    // Skew-proof salted equi-join (operator form of AQE's skew handling;
    // Joins.saltedEquiJoin): row-identical to the plain join — the oracle
    // is the unsalted SQL join — aggregated to brand level for compact,
    // deterministic output
    Query("rel_skew_salted_join", (s, dir) => {
      val partDim = tbl(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      Joins.saltedEquiJoin(tbl(s, dir, "lineitem"), partDim,
        Seq("l_partkey"), saltN = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_qty"))
    },
      """SELECT p_brand, count(*) AS cnt,
        |       cast(cast(sum(cast(l_quantity AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin),

    // The UNSALTED twin of rel_skew_salted_join — the straight join a
    // user writes, same oracle. Exists for the skew-rung A/B: on a
    // Zipf-keyed fact table in the cannot-broadcast regime (a 100 TB
    // vocabulary dim exceeds any broadcast budget; simulated on the
    // rung via SPARK_GRAFT_BENCH_CONF autoBroadcastJoinThreshold=-1)
    // this plan concentrates the hot key on one reducer unless AQE's
    // OptimizeSkewedJoin splits it, while the salted twin spreads it
    // structurally — SCALE_LADDER.md records the measured pair.
    Query("rel_skew_unsalted_join", (s, dir) => {
      val partDim = tbl(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      tbl(s, dir, "lineitem").join(partDim, Seq("l_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_qty"))
    },
      // identical results to the salted form by construction — the A/B
      // twin shares the one unsalted definition
      """SELECT p_brand, count(*) AS cnt,
        |       cast(cast(sum(cast(l_quantity AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin),

    // Broadcast range join: fact value against a [lo, hi) band dimension
    // (BroadcastNestedLoopJoin — the fact side streams, never shuffles)
    Query("rel_range_join", (s, dir) => {
      import s.implicits._
      val ranges = Seq((-1.0e18, 100.0, "low"), (100.0, 250.0, "mid"),
        (250.0, 1.0e18, "high")).toDF("lo", "hi", "band")
      Joins.rangeJoin(events(s, dir), ranges, col("value"),
        col("lo"), col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
            .cast("double").as("sum_value"))
    },
      """SELECT band, count(*) AS cnt,
        |       cast(cast(sum(cast(value AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_value
        |FROM events
        |JOIN (VALUES (-1e18, 100.0, 'low'), (100.0, 250.0, 'mid'),
        |             (250.0, 1e18, 'high')) r(lo, hi, band)
        |  ON value >= lo AND value < hi
        |GROUP BY band""".stripMargin),

    // TPC-H Q6 shape: single-scan predicate aggregation — the filters reach
    // the parquet scan (PushedFilters), factors go through exact decimal
    Query("rel_q6_revenue", (s, dir) =>
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1997-01-01")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")
            * col("l_discount").cast("decimal(4,2)"))
          .cast("decimal(18,4)").cast("double").as("revenue")),
      """SELECT cast(cast(sum(cast(l_extendedprice AS decimal(18,2))
        |                     * cast(l_discount AS decimal(4,2)))
        |                 AS decimal(18,4)) AS double) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),

    // TPC-H Q18 shape: large-order detection — aggregate-then-join (the
    // HAVING output is key-space-sized, so the orders join is cheap) with
    // the dimension side broadcast
    Query("rel_q18_big_orders", (s, dir) => {
      val big = tbl(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qsum"))
        .where(col("qsum") > 300)
      tbl(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(tbl(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC so the cast is
          // wall-clock-preserving and matches DuckDB's epoch_us
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_date_us"),
          col("o_totalprice").cast("decimal(18,2)").cast("double")
            .as("o_totalprice"),
          col("qsum").cast("decimal(18,2)").cast("double").as("sum_qty"))
    },
      """WITH big AS (
        |  SELECT l_orderkey, sum(cast(l_quantity AS decimal(18,2))) AS qsum
        |  FROM lineitem GROUP BY l_orderkey HAVING qsum > 300
        |)
        |SELECT c_name, o_orderkey, epoch_us(o_orderdate) AS o_date_us,
        |       cast(cast(o_totalprice AS decimal(18,2)) AS double) AS o_totalprice,
        |       cast(cast(qsum AS decimal(18,2)) AS double) AS sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin),

    // TPC-H Q4 shape: per-priority count of orders with at least one
    // LATE line (shipped > 60 days after the order date). The EXISTS
    // becomes a LEFT SEMI join whose condition mixes the equi-key with
    // the non-equi date predicate — Catalyst keeps the equi part as the
    // hash-join key and evaluates the date comparison as a join filter,
    // so the fact-fact semi join still shuffles on orderkey (never a
    // nested loop). The dataset has no l_commitdate/l_receiptdate
    // (TESTDATA.md), so lateness is DEFINED against o_orderdate — a
    // declared adaptation, not canonical Q4.
    Query("rel_q4_late_orders", (s, dir) =>
      tbl(s, dir, "orders")
        .join(tbl(s, dir, "lineitem").select("l_orderkey", "l_shipdate"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") >
              col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_late_orders")),
      """SELECT o_orderpriority, count(*) AS n_late_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1""".stripMargin),

    // TPC-H Q9 shape: profit per (nation, order year). The dataset has
    // no partsupp, so supplycost derives as min(l_extendedprice) per
    // (partkey, suppkey) — the same value rel_q2_min_cost derives,
    // attached via a window over one exchange on the derivation key
    // instead of an aggregate + self-join (which scanned and shuffled
    // lineitem twice). All money math in decimal end to end (price,
    // discount, cost, quantity each cast to decimal(18,2) before any
    // product), summed exactly, surfaced as double once. Dims
    // (supplier, nation) broadcast; the orders fact join shuffles on
    // orderkey.
    Query("rel_q9_profit", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      // supplycost = min(price) per (partkey, suppkey) attached as a
      // WINDOW over the fact stream: one exchange on the derivation key
      // computes and attaches the value in place, where the previous
      // aggregate-then-self-join scanned lineitem twice and shuffled it
      // twice on the same key (identical per-row value — the inner join
      // against an aggregate of the same table kept every row)
      val psW = org.apache.spark.sql.expressions.Window
        .partitionBy("l_partkey", "l_suppkey")
      val liPs = li.withColumn("ps_supplycost",
        min(col("l_extendedprice")).over(psW))
      val d2 = (c: Column) => c.cast("decimal(18,2)")
      liPs.join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(d2(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,2)") - d2(col("l_discount"))) -
            d2(col("ps_supplycost")) * d2(col("l_quantity")))
          .cast("decimal(18,4)").cast("double").as("profit"))
    },
      """WITH ps AS (SELECT l_partkey AS ps_partkey,
        |                   l_suppkey AS ps_suppkey,
        |                   min(l_extendedprice) AS ps_supplycost
        |            FROM lineitem GROUP BY 1, 2)
        |SELECT n_name, year(o_orderdate) AS o_year,
        |       cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |                 (cast(1 AS decimal(18,2)) -
        |                  cast(l_discount AS decimal(18,2))) -
        |                 cast(ps_supplycost AS decimal(18,2)) *
        |                 cast(l_quantity AS decimal(18,2)))
        |            AS decimal(18,4)) AS double) AS profit
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN ps       ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin),

    // TPC-H Q10 shape: top-20 customers by revenue lost to returns in
    // one year. Two fact joins shuffle on their keys, nation
    // broadcasts, and the top-20 runs as TakeOrderedAndProject (never a
    // global sort): revenue is an exact decimal, and the custkey
    // tiebreak makes the cut deterministic under the driver's
    // hash-compare even if two customers tie to the cent.
    Query("rel_q10_returned", (s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders")
            .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
              && col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(tbl(s, dir, "lineitem")
            .where(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,4)").cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20),
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |                (cast(1 AS decimal(18,2)) -
        |                 cast(l_discount AS decimal(18,2))))
        |            AS decimal(18,4)) AS double) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // TPC-H Q14 shape: promo revenue share per ship month. Part is the
    // dimension side — broadcast; one hash aggregate keyed by month.
    // Both revenue sums stay exact decimals; the percentage is the only
    // double op (a single division of two exactly-agreed doubles, then
    // one round — deterministic cross-engine).
    Query("rel_q14_promo", (s, dir) => {
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))
      tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast("decimal(18,2)")))
            .cast("decimal(18,4)").cast("double").as("promo_rev"),
          sum(rev).cast("decimal(18,4)").cast("double").as("total_rev"),
          count(lit(1)).as("n_lines"))
        .select(col("month"),
          round(lit(100.0) * col("promo_rev") / col("total_rev"), 6)
            .as("promo_pct"),
          col("promo_rev"), col("total_rev"), col("n_lines"))
    },
      """WITH m AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS month,
        |         cast(cast(sum(CASE WHEN p_type = 'PROMO'
        |                 THEN cast(l_extendedprice AS decimal(18,2)) *
        |                      (cast(1 AS decimal(18,2)) -
        |                       cast(l_discount AS decimal(18,2)))
        |                 ELSE cast(0 AS decimal(18,2)) END)
        |              AS decimal(18,4)) AS double) AS promo_rev,
        |         cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |                  (cast(1 AS decimal(18,2)) -
        |                   cast(l_discount AS decimal(18,2))))
        |              AS decimal(18,4)) AS double) AS total_rev,
        |         count(*) AS n_lines
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1
        |)
        |SELECT month,
        |       round(100.0 * promo_rev / total_rev, 6) AS promo_pct,
        |       promo_rev, total_rev, n_lines
        |FROM m""".stripMargin),

    // TPC-H Q8 shape: a nation's market share of STANDARD-part revenue
    // sold into one customer region, per order year. The two fact joins
    // (orders on orderkey, customer on custkey) shuffle on their keys;
    // part, supplier, nation (twice — customer side and supplier side)
    // and region all broadcast. Revenue stays exact decimal until the
    // one share division at the end (deterministic cross-engine on
    // exactly-agreed operands).
    Query("rel_q8_market_share", (s, dir) => {
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))
      val custNation = tbl(s, dir, "nation")
        .select(col("n_nationkey").as("cn_nationkey"),
          col("n_regionkey").as("cn_regionkey"))
      val suppNation = tbl(s, dir, "nation")
        .select(col("n_nationkey").as("sn_nationkey"),
          col("n_name").as("supp_nation"))
      tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
            .where(col("p_type") === "STANDARD").select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(custNation),
          col("c_nationkey") === col("cn_nationkey"))
        .join(broadcast(tbl(s, dir, "region")
            .where(col("r_name") === "ASIA")),
          col("cn_regionkey") === col("r_regionkey"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNation),
          col("s_nationkey") === col("sn_nationkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_7", rev)
            .otherwise(lit(0).cast("decimal(18,2)")))
            .cast("decimal(18,4)").cast("double").as("nation_rev"),
          sum(rev).cast("decimal(18,4)").cast("double").as("total_rev"),
          count(lit(1)).as("n_lines"))
        .select(col("o_year"),
          round(col("nation_rev") / col("total_rev"), 6).as("mkt_share"),
          col("total_rev"), col("n_lines"))
    },
      """WITH v AS (
        |  SELECT year(o_orderdate) AS o_year,
        |         cast(l_extendedprice AS decimal(18,2)) *
        |         (cast(1 AS decimal(18,2)) -
        |          cast(l_discount AS decimal(18,2))) AS rev,
        |         sn.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN part     ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |)
        |SELECT o_year,
        |       round(cast(cast(sum(CASE WHEN supp_nation = 'NATION_7'
        |                   THEN rev ELSE cast(0 AS decimal(18,2)) END)
        |              AS decimal(18,4)) AS double) /
        |             cast(cast(sum(rev) AS decimal(18,4)) AS double), 6)
        |         AS mkt_share,
        |       cast(cast(sum(rev) AS decimal(18,4)) AS double)
        |         AS total_rev,
        |       count(*) AS n_lines
        |FROM v GROUP BY 1""".stripMargin),

    // TPC-H Q11 shape: parts whose inventory value (priced from
    // lineitem — the dataset has no partsupp, declared adaptation)
    // through one region's suppliers exceeds 0.1% of the region total.
    // One hash aggregate keyed by partkey does all data work; the
    // global total is a 1-row broadcast cross join, and the threshold
    // compare stays EXACT decimal (value*1000 > total — never a
    // float fraction), so the cut is deterministic on any engine.
    Query("rel_q11_important_parts", (s, dir) => {
      val pv = tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")
            .where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("l_partkey").as("partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .as("value_d"))
      pv.crossJoin(broadcast(pv.agg(sum(col("value_d")).as("total"))))
        .where(col("value_d") * lit(1000) > col("total"))
        .select(col("partkey"),
          col("value_d").cast("decimal(18,4)").cast("double").as("value"))
    },
      """WITH pv AS (
        |  SELECT l_partkey AS partkey,
        |         sum(cast(l_extendedprice AS decimal(18,2))) AS value
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation   ON s_nationkey = n_nationkey
        |  JOIN region   ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  GROUP BY 1
        |), t AS (SELECT sum(value) AS total FROM pv)
        |SELECT partkey,
        |       cast(cast(value AS decimal(18,4)) AS double) AS value
        |FROM pv CROSS JOIN t
        |WHERE value * 1000 > total""".stripMargin),

    // TPC-H Q12 shape: high- vs low-priority order counts per line
    // status (the dataset has no l_shipmode — l_linestatus stands in,
    // declared adaptation) among lines shipped >30 days after the
    // order date in one ship year. The CASE-sum pivot folds both
    // counters out of ONE fact-fact hash join (shuffle on orderkey)
    // and one tiny aggregate; the date filters sit on the scan side.
    Query("rel_q12_priority_class", (s, dir) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      tbl(s, dir, "orders")
        .join(tbl(s, dir, "lineitem")
            .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
              && col("l_shipdate") < lit("1998-01-01").cast("timestamp")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") >
              col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(hi, 1L).otherwise(0L)).cast("long")
            .as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).cast("long")
            .as("low_line_count"))
    },
      """SELECT l_linestatus,
        |       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT)
        |         AS high_line_count,
        |       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT)
        |         AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin),

    // TPC-H Q13 shape: distribution of per-customer order counts over
    // one year (priority-filtered), INCLUDING the zero bucket — the
    // filters ride inside the LEFT OUTER join condition so unmatched
    // customers survive with count 0. Two hash aggregates on shrinking
    // keys (custkey, then the tiny count domain); the outer join
    // shuffles on custkey.
    Query("rel_q13_order_dist", (s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders")
            .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp")
              && col("o_orderdate") < lit("2000-01-01").cast("timestamp")
              && col("o_orderpriority") =!= "4-NOT SPECIFIED"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist")),
      """WITH per_cust AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderdate >= TIMESTAMP '1999-01-01'
        |    AND o_orderdate <  TIMESTAMP '2000-01-01'
        |    AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY 1
        |)
        |SELECT c_count, count(*) AS custdist
        |FROM per_cust GROUP BY 1""".stripMargin),

    // TPC-H Q16 shape: distinct supplier count per (brand, type, size)
    // bucket, excluding flagged suppliers (s_acctbal < 0 stands in for
    // the complaints predicate — no comment column, declared
    // adaptation). The NOT IN becomes a broadcast LEFT ANTI join
    // (supplier is the dim side; s_suppkey is never null, so anti-join
    // and NOT IN agree); countDistinct plans as the standard two-phase
    // expand — both shuffles keyed on the tiny group domain.
    Query("rel_q16_supplier_cnt", (s, dir) =>
      tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
            .where(col("p_brand") =!= "Brand#13"
              && col("p_type") =!= "PROMO"
              && col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(tbl(s, dir, "supplier")
            .where(col("s_acctbal") < 0).select("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).cast("long")
          .as("supplier_cnt")),
      """SELECT p_brand, p_type, p_size,
        |       cast(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13'
        |  AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin),

    // TPC-H Q17 shape: yearly revenue lost to small-quantity lines of
    // one brand — the correlated scalar subquery (0.2 x per-part avg
    // quantity) becomes a per-part aggregate joined back on partkey.
    // Quantities are integral doubles, so per-part sums are exact and
    // the avg (sum/count, one division) agrees bit-for-bit across
    // engines — the 0.2x threshold compare is deterministic. Revenue
    // sums exact decimal; one division by 7.0 at the end.
    Query("rel_q17_small_qty", (s, dir) => {
      val pl = tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
            .where(col("p_brand") === "Brand#23").select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val pa = pl.groupBy(col("l_partkey").as("a_partkey"))
        .agg((lit(0.2) * avg(col("l_quantity"))).as("qty_thresh"))
      pl.join(pa, col("l_partkey") === col("a_partkey"))
        .where(col("l_quantity") < col("qty_thresh"))
        .agg(
          round(sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,4)").cast("double") / lit(7.0), 6)
            .as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    },
      """WITH pl AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23'
        |), pa AS (
        |  SELECT l_partkey AS a_partkey,
        |         cast(0.2 AS DOUBLE) * avg(l_quantity) AS qty_thresh
        |  FROM pl GROUP BY 1
        |)
        |SELECT round(cast(cast(sum(cast(l_extendedprice
        |                  AS decimal(18,2))) AS decimal(18,4)) AS double)
        |             / cast(7.0 AS DOUBLE), 6) AS avg_yearly,
        |       count(*) AS n_lines
        |FROM pl JOIN pa ON l_partkey = a_partkey
        |WHERE l_quantity < qty_thresh""".stripMargin),

    // TPC-H Q19 shape: revenue under a disjunction of three
    // (brand, size-range, quantity-range) branches. The partkey
    // equi-condition stays the hash-join key; the OR-of-ANDs rides as
    // a join filter — one broadcast hash join, never a nested loop,
    // and the quantity half of each branch pushes to the lineitem scan
    // as (q BETWEEN 1 AND 11 OR q BETWEEN 10 AND 20 OR ...).
    Query("rel_q19_disjunctive", (s, dir) => {
      val branch = (brand: String, szLo: Int, szHi: Int,
          qLo: Int, qHi: Int) =>
        col("p_brand") === brand &&
          col("p_size").between(szLo, szHi) &&
          col("l_quantity").between(qLo, qHi)
      tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")),
          col("p_partkey") === col("l_partkey") &&
            (branch("Brand#12", 1, 5, 1, 11) ||
              branch("Brand#23", 1, 10, 10, 20) ||
              branch("Brand#3", 1, 15, 20, 30)))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(18,4)").cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |            (cast(1 AS decimal(18,2)) -
        |             cast(l_discount AS decimal(18,2))))
        |        AS decimal(18,4)) AS double) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // TPC-H Q21 shape: suppliers who single-handedly held up a
    // finished multi-supplier order (their line shipped >75 days after
    // the order date — no receipt/commit dates, declared adaptation).
    // The canonical EXISTS + NOT EXISTS pair collapses into ONE hash
    // aggregate per orderkey — distinct suppliers, distinct LATE
    // suppliers, and (via max over the when-projection, well-defined
    // because the filter pins exactly one) the late supplier's key —
    // then a tiny broadcast join to names. Two shuffles total
    // (orderkey, then s_name), no correlated re-scans.
    Query("rel_q21_waiting_supplier", (s, dir) => {
      val late = col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 75 DAYS")
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders").where(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
          countDistinct(col("l_suppkey")).as("ns"),
          countDistinct(when(late, col("l_suppkey"))).as("nls"),
          max(when(late, col("l_suppkey"))).as("late_supp"))
        .where(col("ns") > 1 && col("nls") === 1)
        .join(broadcast(tbl(s, dir, "supplier")),
          col("late_supp") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
    },
      """WITH lf AS (
        |  SELECT l_orderkey, l_suppkey,
        |         CASE WHEN l_shipdate > o_orderdate + INTERVAL 75 DAY
        |              THEN 1 ELSE 0 END AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |), po AS (
        |  SELECT l_orderkey,
        |         count(DISTINCT l_suppkey) AS ns,
        |         count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END)
        |           AS nls,
        |         max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
        |  FROM lf GROUP BY 1
        |)
        |SELECT s_name, count(*) AS numwait
        |FROM po JOIN supplier ON late_supp = s_suppkey
        |WHERE ns > 1 AND nls = 1
        |GROUP BY 1""".stripMargin),

    // TPC-H Q22 shape: well-funded customers of a nation set with no
    // recent orders. The scalar threshold (mean positive balance) is a
    // 1-row broadcast cross join compared in EXACT decimal
    // (bal*count > total — never a float mean), so the cut can't
    // diverge across engines; the "no recent orders" NOT EXISTS is a
    // LEFT ANTI join shuffling on custkey with the date filter pushed
    // to the orders scan.
    Query("rel_q22_idle_rich", (s, dir) => {
      val pool = tbl(s, dir, "customer")
        .where(col("c_nationkey").isin(3, 8, 13, 18, 23))
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_acctbal").cast("decimal(18,2)").as("bal"))
      val thresh = pool.where(col("bal") > 0)
        .agg(sum(col("bal")).as("pos_total"),
          count(lit(1)).as("pos_n"))
      pool.crossJoin(broadcast(thresh))
        .where(col("bal") * col("pos_n") > col("pos_total"))
        .join(tbl(s, dir, "orders")
            .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          sum(col("bal")).cast("double").as("totacctbal"))
    },
      """WITH pool AS (
        |  SELECT c_custkey, c_nationkey,
        |         cast(c_acctbal AS decimal(18,2)) AS bal
        |  FROM customer WHERE c_nationkey IN (3, 8, 13, 18, 23)
        |), thresh AS (
        |  SELECT sum(bal) AS pos_total, count(*) AS pos_n
        |  FROM pool WHERE bal > 0
        |)
        |SELECT c_nationkey, count(*) AS numcust,
        |       cast(sum(bal) AS double) AS totacctbal
        |FROM pool CROSS JOIN thresh
        |WHERE bal * pos_n > pos_total
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY 1""".stripMargin),

    // TPC-H Q15 shape: the top supplier(s) by revenue in one quarter —
    // the canonical CREATE VIEW + scalar max becomes one hash
    // aggregate keyed by suppkey, its 1-row max broadcast back via a
    // cross join, and an EXACT decimal equality keeps the tie
    // semantics (every supplier AT the max survives, as the spec
    // demands — never a top-1 cut that drops ties).
    Query("rel_q15_top_supplier", (s, dir) => {
      val rev = tbl(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)")))
          .as("rev_d"))
      rev.crossJoin(broadcast(rev.agg(max(col("rev_d")).as("max_rev"))))
        .where(col("rev_d") === col("max_rev"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("supplier_no") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_d").cast("decimal(18,4)").cast("double")
            .as("total_revenue"))
    },
      """WITH rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |         sum(cast(l_extendedprice AS decimal(18,2)) *
        |             (cast(1 AS decimal(18,2)) -
        |              cast(l_discount AS decimal(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01'
        |  GROUP BY 1
        |), m AS (SELECT max(total_rev) AS max_rev FROM rev)
        |SELECT s_suppkey, s_name,
        |       cast(cast(total_rev AS decimal(18,4)) AS double)
        |         AS total_revenue
        |FROM rev JOIN supplier ON supplier_no = s_suppkey
        |CROSS JOIN m
        |WHERE total_rev = max_rev""".stripMargin),

    // TPC-H Q20 shape: suppliers who shipped the majority (>50%) of a
    // PROMO part's volume in one year — the nested available-quantity
    // EXISTS becomes two stacked aggregates on SHRINKING keys
    // ((part, supp), then part) and a join back on partkey; the
    // majority compare is exact (quantities are integral doubles, so
    // every sum is exact and *2 never rounds). distinct() collapses a
    // supplier holding several majorities; supplier names broadcast.
    Query("rel_q20_excess_suppliers", (s, dir) => {
      val sq = tbl(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .join(broadcast(tbl(s, dir, "part")
            .where(col("p_type") === "PROMO").select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity")).as("supp_qty"))
      val pt = sq.groupBy(col("l_partkey").as("t_partkey"))
        .agg(sum(col("supp_qty")).as("part_qty"))
      sq.join(pt, col("l_partkey") === col("t_partkey"))
        .where(col("supp_qty") * 2 > col("part_qty"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name").distinct()
    },
      """WITH sq AS (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |    AND l_shipdate <  TIMESTAMP '1999-01-01'
        |  GROUP BY 1, 2
        |), pt AS (
        |  SELECT l_partkey AS t_partkey, sum(supp_qty) AS part_qty
        |  FROM sq GROUP BY 1
        |)
        |SELECT DISTINCT s_suppkey, s_name
        |FROM sq
        |JOIN pt ON l_partkey = t_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE supp_qty * 2 > part_qty""".stripMargin),

    // Null-safe equality end to end: derive a nullable key (errors map to
    // NULL), aggregate it — null is a real group — and join rows back on
    // `<=>` (IS NOT DISTINCT FROM), so the null-keyed rows find their
    // null group instead of silently dropping as an equi-join would
    Query("rel_null_safe_join", (s, dir) => {
      val e = events(s, dir).select(col("event_id"),
        when(col("event_type") === "error", lit(null))
          .otherwise(col("event_type")).as("k"))
      val g = e.groupBy(col("k").as("gk"))
        .agg(count(lit(1)).as("group_cnt"))
      e.join(g, col("k") <=> col("gk"))
        .select(col("event_id"), col("k"), col("group_cnt"))
    },
      """WITH e AS (
        |  SELECT event_id, nullif(event_type, 'error') AS k FROM events
        |), g AS (
        |  SELECT k AS gk, count(*) AS group_cnt FROM e GROUP BY k
        |)
        |SELECT event_id, k, group_cnt
        |FROM e JOIN g ON e.k IS NOT DISTINCT FROM g.gk""".stripMargin),

    // GRID-BUCKETED RADIUS JOIN — the canonical spatial join at scale:
    // points land in cells of side R, and a pair within distance R can
    // only meet in the 3×3 cell neighborhood, so the candidate join is
    // an EQUI-join on cell id with one side exploded ×9 — NEVER a cross
    // join; per-cell density (not corpus size) bounds the verify work.
    // Coordinates derive from keys by integer congruences and the
    // radius check is exact integer dx²+dy² ≤ R², so both engines agree
    // bit-for-bit with no trig/float boundary. Output aggregates pin
    // the full pair set (count + exact distance-square sum).
    Query("rel_geo_radius_join", (s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val R = 5000L
      val cust = tbl(s, dir, "customer").select(
        col("c_custkey").as("ck"),
        ((col("c_custkey") * 48271L) % 100000L).as("cx"),
        ((col("c_custkey") * 69621L) % 100000L).as("cy"))
      val supp = tbl(s, dir, "supplier").select(
        col("s_suppkey").as("sk"),
        ((col("s_suppkey") * 48271L + 12345L) % 100000L).as("sx"),
        ((col("s_suppkey") * 69621L + 54321L) % 100000L).as("sy"))
      val offs = for { dx <- Seq(-1L, 0L, 1L); dy <- Seq(-1L, 0L, 1L) }
        yield struct(lit(dx).as("dx"), lit(dy).as("dy"))
      val custCells = cust
        .withColumn("off", explode(array(offs: _*)))
        .select(col("ck"), col("cx"), col("cy"),
          (expr(s"cx div $R") + col("off.dx")).as("gx"),
          (expr(s"cy div $R") + col("off.dy")).as("gy"))
      val suppCells = supp.select(col("sk"), col("sx"), col("sy"),
        expr(s"sx div $R").as("gx"), expr(s"sy div $R").as("gy"))
      val d2 = (col("cx") - col("sx")) * (col("cx") - col("sx")) +
        (col("cy") - col("sy")) * (col("cy") - col("sy"))
      custCells.join(suppCells, Seq("gx", "gy"))
        .where(d2 <= lit(R * R))
        .select(col("ck"), col("sk"), d2.as("d2"))
        .agg(count(lit(1)).as("n_pairs"),
          // exact int128 sum cast once: both engines round the SAME
          // exact integer to double, so the compare is deterministic
          sum(d38(col("d2"))).cast("double").as("sum_d2"),
          min(col("d2")).as("min_d2"))
    },
      """WITH c AS (
        |  SELECT c_custkey AS ck,
        |         (c_custkey * 48271) % 100000 AS cx,
        |         (c_custkey * 69621) % 100000 AS cy
        |  FROM customer
        |), sp AS (
        |  SELECT s_suppkey AS sk,
        |         (s_suppkey * 48271 + 12345) % 100000 AS sx,
        |         (s_suppkey * 69621 + 54321) % 100000 AS sy
        |  FROM supplier
        |), p AS (
        |  SELECT (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS d2
        |  FROM c CROSS JOIN sp
        |  WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= 25000000
        |)
        |SELECT count(*) AS n_pairs,
        |       cast(sum(d2::HUGEINT) AS DOUBLE) AS sum_d2,
        |       cast(min(d2) AS BIGINT) AS min_d2
        |FROM p""".stripMargin),

    // IVM of a JOIN view — rel_ivm_agg's big sibling: the maintained
    // view is an AGGREGATE OVER A JOIN (revenue per customer nation),
    // and the delta batch only ever joins the DELTA side against the
    // dimension — O(delta), never a history rescan (the join-view
    // distributivity that makes materialized marts affordable at
    // 100 TB). Merge = full-outer coalesced algebra over the two
    // partial aggregates; the oracle recomputes the view from scratch —
    // IVM's contract is exactly "merge equals recompute". Money rides
    // as exact decimal cents to one presentational cast.
    Query("rel_ivm_join", (s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val cut = lit("2001-01-01").cast("timestamp")
      val cust = tbl(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val ord = tbl(s, dir, "orders").select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderdate"))
      def view(df: DataFrame) =
        df.join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey").agg(sum(d38(col("cents"))).as("rev"))
      val base = view(ord.where(col("o_orderdate") < cut))
        .select(col("c_nationkey").as("k0"), col("rev").as("r0"))
      val delta = view(ord.where(col("o_orderdate") >= cut))
        .select(col("c_nationkey").as("k1"), col("rev").as("r1"))
      base.join(delta, col("k0") === col("k1"), "full_outer")
        .select(coalesce(col("k0"), col("k1")).as("c_nationkey"),
          (coalesce(col("r0"), lit(0).cast("decimal(38,0)")) +
            coalesce(col("r1"), lit(0).cast("decimal(38,0)")))
            .cast("double").as("rev_cents"))
    },
      """SELECT c_nationkey,
        |       cast(sum(cast(round(o_totalprice * 100) AS BIGINT)::HUGEINT)
        |            AS DOUBLE) AS rev_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin),

    // NEAREST-DIRECTION AS-OF JOIN WITH TOLERANCE — the
    // merge_asof(direction='nearest', tolerance=15min) shape: each
    // purchase pairs with the CLOSER of the last prior / first
    // following view by the same user, ties to the earlier, both
    // candidates gated by the tolerance. Two edge-value windows over
    // ONE user-partitioned sort — never a range join.
    Query("rel_asof_nearest", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
      val tol = 900L * 1000000L
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("pv",
          max(when(col("event_type") === "view", col("ts_us")))
            .over(w.rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              -1)))
        .withColumn("nv",
          min(when(col("event_type") === "view", col("ts_us")))
            .over(w.rowsBetween(1,
              org.apache.spark.sql.expressions.Window.unboundedFollowing)))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          when((col("ts_us") - col("pv")) <= tol &&
            (col("nv").isNull ||
              (col("ts_us") - col("pv")) <= (col("nv") - col("ts_us")) ||
              (col("nv") - col("ts_us")) > tol), col("pv"))
            .when((col("nv") - col("ts_us")) <= tol, col("nv"))
            .otherwise(lit(null).cast("long")).as("nearest_view_us"))
    },
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events
        |), m AS (
        |  SELECT user_id, event_id, event_type, ts_us,
        |         max(CASE WHEN event_type = 'view' THEN ts_us END)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS pv,
        |         min(CASE WHEN event_type = 'view' THEN ts_us END)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |           AS nv
        |  FROM e
        |)
        |SELECT event_id, user_id,
        |       CASE WHEN ts_us - pv <= 900000000 AND
        |                 (nv IS NULL OR ts_us - pv <= nv - ts_us
        |                  OR nv - ts_us > 900000000)
        |            THEN pv
        |            WHEN nv - ts_us <= 900000000 THEN nv
        |            END AS nearest_view_us
        |FROM m WHERE event_type = 'purchase'""".stripMargin),
  )
}
