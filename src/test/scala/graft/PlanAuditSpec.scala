package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audit: the properties that decide 100 TB behavior —
  * predicate pushdown, column pruning, broadcast vs shuffle joins,
  * whole-stage codegen, no cartesian products — asserted on the real
  * query plans so a regression fails CI, not a cluster run. */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Post-execution plan: AQE only materializes (and prints) the final
    * stages — codegen markers included — after the query has run. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("s1 scan: filter pushed to parquet, columns pruned") {
    val p = plan("s1_scan_project_filter")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]].*"),
      s"expected non-empty PushedFilters:\n$p")
    assert(p.contains("n_chars"), p)
    // projection pruning: the wide text column must not be read
    assert(!p.contains("ReadSchema: struct<doc_id:bigint,text"),
      s"text column should be pruned from the scan:\n$p")
  }

  test("rel_q6: all three predicates reach the parquet scan") {
    val p = plan("rel_q6_revenue")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]].*"), p)
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(p.contains(c), s"expected pushed filter on $c:\n$p"))
  }

  test("rel_q5: star joins broadcast the dimensions, no cartesian") {
    val p = plan("rel_q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rel_q18: customer dimension broadcast") {
    val p = plan("rel_q18_big_orders")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rel_q2: correlated min-cost rewrites to joins, dims broadcast") {
    val p = plan("rel_q2_min_cost")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the correlated scalar subquery must decorrelate into an aggregate +
    // join, not a per-row subquery execution
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("rel_q7: two-nation volume join broadcasts all dimensions") {
    val p = plan("rel_q7_volume")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // only lineitem and orders are big enough to shuffle: at most ONE
    // shuffle-side equi-join (lineitem-orders); customer/supplier/nation
    // all ride broadcasts
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size <= 1,
      s"expected at most one shuffled join:\n$p")
  }

  test("rel_range_join: broadcast nested-loop, fact side never shuffles " +
    "before the join") {
    val p = plan("rel_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("rel_interval_cover_count: density-linear sweep — GlobalScan " +
    "prefix sum, no join at all") {
    // the chunked interval equi-join this replaced enumerated every
    // covering pair: quadratic in stream density (66x at the 10x ladder
    // rung). The count must come from the boundary-delta sweep — one
    // union, one range sort, the distributed prefix sum — with no join
    // node anywhere and no single-partition stage.
    val p = plan("rel_interval_cover_count")
    assert(p.contains("GlobalScan"), p)
    assert(!p.contains("Join"),
      s"the cover count must never enumerate pairs:\n$p")
    assert(!p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("rel_skew_salted_join: salt must not defeat column pruning") {
    val p = plan("rel_skew_salted_join")
    // only l_partkey + l_quantity are needed; a salt computed from data
    // columns would drag the rest into the scan
    Seq("l_extendedprice", "l_shipdate", "l_comment").foreach(c =>
      assert(!p.contains(c), s"unpruned column $c in:\n$p"))
  }

  test("text_doc_cosine: query vectors broadcast, corpus side streams") {
    val p = plan("text_doc_cosine")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("aggregation pipelines: partial+final hash aggregate inside codegen") {
    val p = finalPlan("stock_count_x100")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation:\n$p")
    assert(p.contains("*("), s"expected whole-stage codegen stages:\n$p")
  }

  test("emb_centroids: native vector-mean agg, no generator below the " +
    "aggregate") {
    val p = plan("emb_centroids")
    assert(p.contains("graft_vec_mean"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final vector-mean aggregation:\n$p")
    // the only Generate is the tiny post-agg explode that shapes the
    // per-label centroid rows for output — the INPUT must reach the
    // aggregate unexploded (plans print top-down, so the generator has
    // to appear before the first aggregate)
    val gen = p.indexOf("Generate")
    assert(gen >= 0 && gen < p.indexOf("ObjectHashAggregate"),
      s"posexplode must sit above the aggregate, not feed it:\n$p")
  }

  test("emb_knn_cosine: scoring project stays inside whole-stage codegen") {
    // DotProductExpr implements doGenCode — a CodegenFallback here would
    // drop the scan -> score -> top-k pipeline out of codegen and eval
    // the hot-path expression interpreted per row
    val p = finalPlan("emb_knn_cosine")
    // anchor on the line that actually evaluates graft_dot: ANY codegen'd
    // Project in the plan would satisfy an unanchored match even if the
    // scoring expression itself fell back to interpreted eval
    val scoring = p.linesIterator.filter(_.contains("graft_dot")).toSeq
    assert(scoring.nonEmpty, s"expected a graft_dot scoring operator:\n$p")
    assert(scoring.exists(_.matches(".*\\*\\(\\d+\\) Project.*")),
      s"the graft_dot scoring Project must carry the WholeStageCodegen " +
        s"*(n) marker, got:\n${scoring.mkString("\n")}\nfull plan:\n$p")
  }

  test("bloom prune sits below the join; contamination broadcasts the " +
    "benchmark side") {
    val p1 = plan("rel_bloom_join_prune")
    assert(p1.contains("graft_bloom_might_contain"), p1)
    // plans print top-down: the probe Filter must appear BELOW the join
    // that removes false positives — pre-filtering the fact rows before
    // the join, not post-filtering its output
    val join = p1.indexOf("BroadcastHashJoin")
    assert(join >= 0, p1)
    assert(p1.indexOf("graft_bloom_might_contain") > join,
      s"bloom probe must pre-filter below the join:\n$p1")
    val p2 = plan("text_contamination")
    assert(p2.contains("BroadcastHashJoin"),
      s"benchmark shingles must broadcast:\n$p2")
  }

  test("hash natives: simhash/minhash operators carry the codegen marker") {
    // SimHash64Expr / MinHashSigExpr implement doGenCode — without it the
    // planner wraps their whole stage in interpreted fallback and every
    // dedup scan pays per-row interpreted eval. Anchor on the line that
    // evaluates the function (as the graft_dot test does): any codegen'd
    // operator elsewhere in the plan would satisfy an unanchored match.
    Seq("dedup_simhash" -> "graft_simhash64",
        "dedup_minhash_sig" -> "graft_minhash_sig").foreach { case (q, fn) =>
      val p = finalPlan(q)
      val lines = p.linesIterator.filter(_.contains(fn)).toSeq
      assert(lines.nonEmpty, s"$q: expected a $fn operator:\n$p")
      assert(lines.exists(_.matches(".*\\*\\(\\d+\\).*")),
        s"$q: the $fn operator must carry the WholeStageCodegen *(n) " +
          s"marker, got:\n${lines.mkString("\n")}\nfull plan:\n$p")
    }
  }

  test("centroid assignment: argmax folds inside the scan — no Generate, " +
    "no Window") {
    // the assign step must not posexplode k scored rows per vector and
    // must not shuffle the vector table into a per-vector window: at a
    // realistic IVF book (k in the thousands) either one dominates the
    // whole job. array_max over scored structs keeps assignment inside
    // one codegen'd projection.
    Seq("emb_ivf_assign", "emb_kmeans", "emb_ivf_search").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Generate"),
        s"$q: centroid scoring must not explode rows:\n$p")
      assert(!p.contains("Window"),
        s"$q: centroid argmax must not plan a window:\n$p")
    }
  }

  test("rel_global_rank_plan: planned GlobalRank operator, no window") {
    val p = plan("rel_global_rank_plan")
    assert(p.contains("GlobalRank"), p)
    assert(!p.contains("Window"), s"global rank must not fall back to a " +
      s"single-partition window:\n$p")
  }

  test("rel_dpp_prune: runtime pruning reaches the fact scan and prunes " +
    "partitions at execution") {
    // AQE wraps query stages in leaf nodes that hide the scans from
    // collect(); the pruning mechanics are identical without it, so the
    // plan + metric are pinned on the non-adaptive plan.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("rel_dpp_prune")(spark, sf)
      val p = df.queryExecution.executedPlan
      val ps = p.toString
      // the dim-side count threshold is not inferable through join
      // constraints, so the fact partitions can only fall at RUNTIME:
      // the scan must carry a DynamicPruningExpression partition filter
      assert(ps.contains("dynamicpruning"),
        s"expected a DynamicPruningExpression in the fact scan's " +
          s"PartitionFilters:\n$ps")
      df.collect()
      val scans = p.collectWithSubqueries {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains("dpp_events")) =>
          f
      }
      assert(scans.nonEmpty, s"no fact scan over the staged layout:\n$ps")
      // sf0.001 type shares: click 21.0%, purchase 20.2%, error 20.1%
      // pass the >20.05% gate; signup 19.9% and view 18.8% do not — the
      // scan must have read exactly the 3 surviving partitions of 5
      val read = scans.head.metrics("numPartitions").value
      assert(read == 3,
        s"expected 3 of 5 fact partitions read after dynamic pruning, " +
          s"got $read")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("src_bucketed_join: co-located bucket scan joins with no exchange " +
    "below the join") {
    val p = plan("src_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"expected a merge join:\n$p")
    assert("Bucketed: true".r.findAllIn(p).size == 2,
      s"both sides must scan their bucketed layout:\n$p")
    // the bucketed layout pre-hashes both sides: the ONLY exchange in the
    // whole plan is the final 3-row aggregation's — the join itself moves
    // no data
    assert("Exchange".r.findAllIn(p).size == 1,
      s"expected exactly one exchange (the final aggregation):\n$p")
  }

  test("src_partitioned_roundtrip: lang predicate prunes partitions") {
    val p = plan("src_partitioned_roundtrip")
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]].*"),
      s"expected a non-empty PartitionFilters on the partitioned read:\n$p")
    // the partition column never reaches the data scan
    assert(!p.contains("ReadSchema: struct<doc_id:bigint,source:string," +
      "n_chars:bigint,lang"), p)
  }

  test("rel_running_revenue: the rule rewrote the window to GlobalScan") {
    val p = plan("rel_running_revenue")
    assert(p.contains("GlobalScan"), p)
    assert(!p.contains("Window"),
      s"running sum fell back to a single-partition window:\n$p")
  }

  test("rel_cumulative_users: prefix sum rewritten, first-occurrence " +
    "window stays hash-partitioned") {
    val p = plan("rel_cumulative_users")
    // the global running sum must be the two-pass scan, not a
    // single-partition window (the oracle can't catch this regression:
    // WindowExec computes the same values, just on one task)
    assert(p.contains("GlobalScan"), p)
    // the surviving Window is the per-user row_number, hash-partitioned
    // by user_id and therefore parallel
    assert(p.contains("hashpartitioning(user_id"),
      s"expected the per-user first-occurrence window over a user_id " +
        s"hash partitioning:\n$p")
    // an un-rewritten global running sum would demand SinglePartition
    assert(!p.contains("SinglePartition"),
      s"no stage may collapse to a single partition:\n$p")
  }

  test("rel_sample_per_key: partial WindowGroupLimit below the exchange") {
    val p = plan("rel_sample_per_key")
    // map-side top-k per key: a Partial WindowGroupLimit BEFORE the
    // shuffle, so the exchange carries <= k rows per key per partition
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"),
      s"expected the map-side (Partial) WindowGroupLimit:\n$p")
  }

  test("global-window census: every registry query with an un-partitioned " +
    "window gets the plan it should") {
    // The session registers GraftExtensions (GlobalRankRule/GlobalScanRule)
    // like the Bench/Verify sessions do; this pins, for EVERY registered
    // query that ranks or prefix-sums over a global order, which plan it
    // gets and why. The oracle can't catch these regressions — WindowExec
    // computes the same values, just on one task.
    //
    // Rewritten to the distributed two-pass operators (unbounded input):
    val rank = Seq("o1_o2_rank_events", "stock_count_pipeline",
      "stock_count_formatted", "stock_count_x100", "rel_global_rank_plan")
    rank.foreach { q =>
      val p = plan(q)
      assert(p.contains("GlobalRank"), s"$q lost its GlobalRank rewrite:\n$p")
      assert(!p.contains("Window"), s"$q fell back to a window:\n$p")
    }
    val ties = Seq("rel_global_rank_ties", "rel_global_dense_rank",
      "rel_percent_rank", "rel_ntile_buckets", "rel_cume_dist",
      "rel_woe_iv")
    ties.foreach { q =>
      val p = plan(q)
      assert(p.contains("GlobalTies"), s"$q lost its GlobalTies rewrite:\n$p")
      assert(!p.contains("Window"), s"$q fell back to a window:\n$p")
    }
    val shift = Seq("rel_running_delta", "rel_next_event_gap",
      "rel_prev_valid_value", "rel_next_valid_value")
    shift.foreach { q =>
      val p = plan(q)
      assert(p.contains("GlobalShift"),
        s"$q lost its GlobalShift rewrite:\n$p")
      assert(!p.contains("Window"), s"$q fell back to a window:\n$p")
    }
    val frame = Seq("rel_frame_moving_sum", "rel_frame_trailing_stats",
      "rel_frame_mixed_dashboard", "rel_frame_price_band",
      "rel_frame_centered_avg", "rel_frame_lookahead_peak")
    frame.foreach { q =>
      val p = plan(q)
      assert(p.contains("GlobalFrame"),
        s"$q lost its GlobalFrame rewrite:\n$p")
      assert(!p.contains("Window"), s"$q fell back to a window:\n$p")
      // every frame query fuses its aggregates into ONE node over one
      // exchange + sort
      assert("GlobalFrame".r.findAllIn(p).size == 1,
        s"$q: expected one fused sliding-frame node:\n$p")
      assert("ENSURE_REQUIREMENTS".r.findAllIn(p).size == 1 &&
        "Sort ".r.findAllIn(p).size == 1,
        s"$q: the frame must use one exchange + sort:\n$p")
    }
    // the mixed dashboard splits across the two operators but still
    // shares the single sort (GlobalScan below, GlobalFrame above)
    assert(plan("rel_frame_mixed_dashboard").contains("GlobalScan"),
      s"mixed dashboard lost its prefix-aggregate stack:\n" +
        plan("rel_frame_mixed_dashboard"))
    // bounded value-RANGE frames plan the key-spliced GlobalRange
    // operator — frame membership by key distance, no single-partition
    // stage
    val ranges = Seq("rel_range_trailing_global",
      "rel_range_interval_global")
    ranges.foreach { q =>
      val p = plan(q)
      assert(p.contains("GlobalRange"),
        s"$q lost its GlobalRange rewrite:\n$p")
      assert(!p.contains("Window"), s"$q fell back to a window:\n$p")
      assert("GlobalRange".r.findAllIn(p).size == 1,
        s"$q: expected one fused value-range node:\n$p")
      assert(!p.contains("SinglePartition"), p)
    }
    // the six-family mixed window composes ALL the family operators onto
    // one shared sort (GlobalWindowRule) — one exchange, one sort, no
    // WindowExec, no single-partition stage
    val mixedStack = Seq("rel_window_mixed_global")
    // range-bearing mixed stack: ties + scan + range over one sort
    val mixedRange = Seq("rel_window_mixed_range")
    mixedRange.foreach { q =>
      val p = plan(q)
      Seq("GlobalTies", "GlobalScan", "GlobalRange").foreach(n =>
        assert(p.contains(n), s"$q lost its $n stack member:\n$p"))
      assert(!p.contains("Window"), s"$q fell back to a window:\n$p")
      assert(!p.contains("SinglePartition"), p)
      assert("ENSURE_REQUIREMENTS".r.findAllIn(p).size == 1 &&
        "Sort ".r.findAllIn(p).size == 1,
        s"$q: the stack must share one exchange + sort:\n$p")
    }
    mixedStack.foreach { q =>
      val p = plan(q)
      // row_number rides the fused multi-kind ties node and the
      // null-default lag rides the fused frame node — the six function
      // families plan as FOUR stacked operators over one sort
      Seq("GlobalScan", "GlobalFrame", "GlobalTies",
        "GlobalEdge").foreach(n =>
        assert(p.contains(n), s"$q lost its $n stack member:\n$p"))
      assert("GlobalTies".r.findAllIn(p).size == 1,
        s"$q: the rank family must fuse into one ties node:\n$p")
      assert("GlobalFrame".r.findAllIn(p).size == 1 &&
        !p.contains("GlobalShift"),
        s"$q: null-default offsets must fuse into the frame node:\n$p")
      assert(!p.contains("Window"), s"$q fell back to a window:\n$p")
      assert(!p.contains("SinglePartition"),
        s"$q planned a single-partition stage:\n$p")
      assert("ENSURE_REQUIREMENTS".r.findAllIn(p).size == 1 &&
        "Sort ".r.findAllIn(p).size == 1,
        s"$q: the mixed stack must share one exchange + sort:\n$p")
    }
    // the COMPLETE stack adds the two REVERSED-order members: cume_dist
    // (its own ties node) and ignore-nulls lead (a reversed-lag shift
    // node) share ONE reversed sort above the whole forward stack — two
    // exchanges + two sorts total, and still no WindowExec and no
    // single-partition stage anywhere
    val mixedFull = Seq("rel_window_mixed_full")
    mixedFull.foreach { q =>
      val p = plan(q)
      Seq("GlobalScan", "GlobalFrame", "GlobalEdge",
        "GlobalShift").foreach(n =>
        assert(p.contains(n), s"$q lost its $n stack member:\n$p"))
      assert("GlobalTies".r.findAllIn(p).size == 2,
        s"$q: expected the forward multi-kind ties node AND the reversed " +
          s"cume_dist ties node:\n$p")
      assert("GlobalShift".r.findAllIn(p).size == 1,
        s"$q: the ignore-nulls lead must be the only shift node " +
          s"(reversed-order lag):\n$p")
      assert(!p.contains("Window"), s"$q fell back to a window:\n$p")
      assert(!p.contains("SinglePartition"),
        s"$q planned a single-partition stage:\n$p")
      assert("ENSURE_REQUIREMENTS".r.findAllIn(p).size == 2 &&
        "Sort ".r.findAllIn(p).size == 2,
        s"$q: expected exactly the forward sort + the one shared " +
          s"reversed sort:\n$p")
    }
    val edge = Seq("rel_first_value", "rel_last_known_value",
      "rel_nth_value", "rel_last_good_hour")
    edge.foreach { q =>
      val p = plan(q)
      assert(p.contains("GlobalEdge"),
        s"$q lost its GlobalEdge rewrite:\n$p")
      assert(!p.contains("Window"), s"$q fell back to a window:\n$p")
    }
    val scan = Seq("rel_running_revenue", "rel_running_count",
      "rel_running_row_count", "rel_running_high_water",
      "rel_running_low_water", "rel_running_avg",
      "rel_running_size", "rel_running_size_floor",
      "rel_running_dashboard", "rel_running_range_total",
      "rel_running_watermark", "rel_running_peak_price")
    scan.foreach { q =>
      val p = plan(q)
      assert(p.contains("GlobalScan"), s"$q lost its GlobalScan rewrite:\n$p")
      assert(!p.contains("Window"), s"$q fell back to a window:\n$p")
    }
    // a multi-aggregate window fuses into ONE scan node over one
    // exchange + sort — one persisted input, one pair of passes
    Seq("rel_running_dashboard", "rel_running_range_total").foreach { q =>
      val p = plan(q)
      assert("GlobalScan".r.findAllIn(p).size == 1,
        s"$q: expected one fused multi-aggregate scan:\n$p")
      assert("ENSURE_REQUIREMENTS".r.findAllIn(p).size == 1 &&
        "Sort ".r.findAllIn(p).size == 1,
        s"$q: the fused scan must use one exchange + sort:\n$p")
    }
    // rel_cumulative_users: GlobalScan + a hash-partitioned per-user
    // window — pinned by its own test above. rel_peak_concurrency runs
    // its GlobalScan behind a localCheckpoint (the visible plan starts at
    // Scan ExistingRDD), so the operator is covered by GlobalScanSpec,
    // not a plan pin here.
    //
    // Deliberately KEPT on WindowExec — the rank runs over a LIMIT-bounded
    // input (top-100 cut via TakeOrderedAndProject), provably <= k rows at
    // any data scale; the two-pass rank would be pure overhead there:
    // emb_hybrid_rrf: LimitPushDownThroughWindow turns `row_number <= 50`
    // into a TakeOrderedAndProject(50) BELOW the rank — the window then
    // runs over a provably <= 50-row input, the optimal shape
    val bounded = Seq("word_count_pipeline", "word_count_formatted",
      "word_count_x100", "emb_hybrid_rrf")
    bounded.foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q lost its distributed top-k cut:\n$p")
      assert(p.contains("Window") && !p.contains("GlobalRank"),
        s"$q: a limit-bounded rank should stay on WindowExec:\n$p")
    }
    // census completeness: no OTHER registry query may plan an
    // un-partitioned WindowExec (single-partition sort) — any new global
    // window must either be rewritten or join the bounded list here
    // census completeness now spans the WHOLE window family: the regex
    // below catches any un-partitioned windowspecdefinition regardless of
    // function (row_number, rank, dense_rank, lag, lead, aggregates), so
    // a new global window of any kind must be rewritten or pinned here
    val known = (rank ++ ties ++ shift ++ edge ++ scan ++ frame ++
      bounded ++ ranges ++ mixedStack ++ mixedRange ++ mixedFull).toSet +
      "rel_cumulative_users" + "rel_peak_concurrency"
    // construction-cost exclusions: one shared justified set
    SparkEntry.queries.keys
      .filterNot(known).filterNot(EagerQueries.names)
      .filterNot(_.startsWith("stream_"))
      .foreach { name =>
        val p = plan(name)
        assert(!p.matches("(?s).*Window \\[[^\\]]*windowspecdefinition\\(" +
          "[^,\\)]*(ASC|DESC).*"),
          s"$name plans an un-audited global window — add it to the " +
            s"census:\n$p")
      }
  }

  test("rel_skyline: dominance sweep = GlobalScan + GlobalShift on one sort") {
    // the O(n²) NOT EXISTS dominance join must plan as the sorted sweep:
    // distinct-pair aggregate, ONE range sort, the running max (scan) and
    // its lag (shift) stacked order-preserving on that sort — no
    // WindowExec, no single-partition stage, no join at all
    val p = plan("rel_skyline")
    Seq("GlobalScan", "GlobalShift").foreach(n =>
      assert(p.contains(n), s"rel_skyline lost its $n sweep member:\n$p"))
    assert(!p.contains("Window"), s"rel_skyline fell back to a window:\n$p")
    assert(!p.contains("Join"), s"rel_skyline planned a dominance join:\n$p")
    assert(!p.contains("SinglePartition"),
      s"rel_skyline planned a single-partition stage:\n$p")
    assert("Sort ".r.findAllIn(p).size == 1,
      s"rel_skyline: scan and shift must share the one range sort:\n$p")
  }

  test("dedup_sorted_neighborhood: the w lags fuse into ONE GlobalFrame " +
    "on one sort") {
    // the SNM candidate generator's three lags are null-default offsets —
    // they convert to 1-row detached frames and fuse into a single frame
    // node over the single blocking-key range sort; candidate fan-out is
    // the explode above, never a wider window
    val p = plan("dedup_sorted_neighborhood")
    assert(p.contains("GlobalFrame"), p)
    assert(!p.contains("Window") && !p.contains("GlobalShift"),
      s"offsets must fuse into the frame node:\n$p")
    assert("GlobalFrame".r.findAllIn(p).size == 1, p)
    assert("Sort ".r.findAllIn(p).size == 1,
      s"expected exactly the one blocking-key sort:\n$p")
  }

  test("no cartesian product in any registered query plan") {
    // skip queries whose *plan construction* itself runs jobs — the
    // shared justified set (see EagerQueries)
    SparkEntry.queries.keys
      .filterNot(EagerQueries.names)
      .filterNot(_.startsWith("stream_")) // replay gate executes eagerly
      .foreach { name =>
        val p = plan(name)
        // crossJoin against a 1-row aggregate is the one sanctioned shape
        assert(!p.contains("CartesianProduct"),
          s"$name plans a cartesian product:\n$p")
      }
  }

  test("every crossJoin in the registry carries an explicit broadcast " +
    "hint") {
    // source-shape audit: the sanctioned cross-join shape is
    // `crossJoin(broadcast(...))` — an unhinted call happens to plan as
    // BroadcastNestedLoopJoin only because the 1-row-aggregate side's
    // STATISTICS are tiny, which a casual refactor (e.g. joining a
    // non-aggregated small frame) can silently break into a
    // CartesianProduct. The hint makes the intent load-bearing.
    import java.nio.file.{Files, Path, Paths}
    val registry = Paths.get("src/main/scala/graft/registry")
    val files = Paths.get("src/main/scala/graft/SparkEntry.scala") +:
      Files.list(registry).toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
    assert(files.size > 1, s"no registry sources under $registry")
    val calls = files.flatMap { f =>
      val src = new String(Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)
      "crossJoin\\(".r.findAllMatchIn(src).map(m => (f, src, m)).toSeq
    }
    assert(calls.nonEmpty)
    val unhinted = calls.filterNot { case (_, src, m) =>
      src.regionMatches(m.end, "broadcast(", 0, "broadcast(".length)
    }
    assert(unhinted.isEmpty,
      s"${unhinted.size} crossJoin call(s) without an immediate " +
        "broadcast(...) hint at " +
        unhinted.map { case (f, _, m) => s"${f.getFileName}@${m.start}" })
  }

  test("broadcast census: every explicit broadcast() hint sources a " +
    "bounded frame") {
    // An explicit broadcast() hint FORCES the build side to the driver
    // and every executor, overriding AQE's size estimate — so a hint on
    // a frame that grows with the corpus (one row per document, per
    // distinct part, ...) is correct at test SF and an OOM at 100 TB.
    // This census walks the ANALYZED plan of every registry query,
    // collects each broadcast-hinted subtree, and requires a structural
    // boundedness witness:
    //   - a Limit in the subtree (top-k frames, 1-row cuts), or
    //   - an ungrouped Aggregate (global totals/thresholds — 1 row), or
    //   - every leaf is a literal (LocalRelation/Range: query panels,
    //     horizon frames, probe tables) or a declared dimension table
    //     (TPC-H region/nation/supplier/customer/part — the canonical
    //     broadcast side of a star join, sub-linear in the fact data).
    // A hinted subtree with none of these witnesses — e.g. a grouped
    // aggregate over a fact table, or a projection of `documents` — is
    // exactly the 100 TB-killer class this census exists to block, and
    // fails here with the offending plan.
    import org.apache.spark.sql.catalyst.plans.logical._
    // a dimension-table leaf is recognized by its primary-key column
    // (the Relation node's toString does NOT print the parquet path, so
    // path matching silently never fires)
    val dimKeys = Set("r_regionkey", "n_nationkey", "s_suppkey",
      "c_custkey", "p_partkey")
    def isDimLeaf(leaf: LogicalPlan): Boolean = {
      val names = leaf.output.map(_.name).toSet
      dimKeys.exists(names.contains)
    }
    def boundedLeaf(leaf: LogicalPlan): Boolean = leaf match {
      case _: LocalRelation | _: OneRowRelation | _: Range => true
      case l => isDimLeaf(l)
    }
    def bounded(p: LogicalPlan): Boolean = {
      val hasLimit =
        p.collectFirst { case l @ (_: GlobalLimit | _: LocalLimit) => l }
          .isDefined
      val hasScalarAgg =
        p.collectFirst {
          case a: Aggregate if a.groupingExpressions.isEmpty => a
        }.isDefined
      val leaves = p.collectLeaves()
      hasLimit || hasScalarAgg ||
        (leaves.nonEmpty && leaves.forall(boundedLeaf))
    }
    // same construction-cost exclusions as the cartesian census: the
    // shared justified set (see EagerQueries) runs driver-side
    // iterations at construction, stream_* executes the replay gate
    // eagerly
    val heavy = EagerQueries.names
    // hinted-but-not-structurally-obvious frames, each with its
    // boundedness argument; additions here need a justification, which
    // is the point — an unconsidered hint can't slip through
    val declared: Map[String, String] = Map(
      // fixed query panels: a literal filter on the dense unique key
      // column bounds the frame at the literal regardless of corpus
      // size (vec_id / doc_id are primary keys)
      "emb_hamming_recall" -> "query panel vec_id < 20: <= 20 rows",
      "emb_mrl_recall" -> "query panel vec_id < 20: <= 20 rows",
      "emb_knn_accuracy" -> "query panel vec_id < 50: <= 50 rows",
      "emb_hybrid_rrf" -> "single query vector vec_id = 0: 1 row",
      "text_doc_cosine" -> "query panel doc_id < 5: <= 5 docs' postings",
      // grouped aggregates over provably bounded key domains — the
      // census can't see domain bounds structurally, so each is argued
      // here: event_type has 5 values, nationkey 25, mktsegment 5,
      // hour-of-day 24, the isotonic/PR frames are 10 calibration bins,
      // and signup-cohort days are time-span-bounded (calendar days,
      // not data volume)
      "rel_dpp_prune" -> "filter over per-event_type counts: <= 5 rows",
      "rel_weighted_quantile_sample" -> ("tau and exact totals are " +
        "per-o_orderpriority aggregates: <= 5 rows each"),
      "rel_regression_per_key" -> "per-event_type t0: <= 5 rows",
      "rel_markov_transitions" -> "per-src totals, src = event_type: 5",
      "rel_mutual_info" -> "marginals by event_type (5) / hour (24)",
      "rel_cramers_v" -> "contingency marginals: nation 25 / segment 5",
      "rel_theil_index" -> "per-nation group sums: 25 rows",
      "rel_spearman_corr" -> ("x-rank table keyed by round(l_quantity): " +
        "integral value domain (~50 distinct quantities), bounded by " +
        "the attribute domain, not row count"),
      "rel_seasonal_anomaly" -> "hour-of-day profile: 24 rows",
      "rel_theta_jaccard_matrix" -> ("per-event_type sketch frame: 5 " +
        "rows of <= 128 longs"),
      "rel_qsketch_cap_curve" -> ("3-cap union of per-event_type " +
        "estimate rows: <= 15 rows"),
      "rel_cohort_ltv" -> ("per signup-DAY cohort sizes: time-span-" +
        "bounded (days), independent of data volume"),
      "rel_isotonic_fit" -> ("10-bin calibration frame and its pooled " +
        "interval aggregates: O(bins^2) = 100"),
      "rel_pr_curve" -> "10-bin score frame",
      // the contamination scan broadcasts the BENCHMARK side by design:
      // an eval suite is externally fixed-size (it does not grow with
      // the training corpus), which is the standing premise of
      // decontamination pipelines; the corpus side streams
      "text_contamination" -> ("benchmark (src0) shingle set: eval " +
        "suites are fixed-size, only the corpus side scales"))
    val bad = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(heavy)
      .filterNot(_.startsWith("stream_"))
      .flatMap { name =>
        val analyzed = SparkEntry.queries(name)(spark, sf)
          .queryExecution.analyzed
        val hinted = analyzed.collect {
          case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
            h.child
        }
        hinted.collect {
          case sub if !bounded(sub) && !declared.contains(name) =>
            s"$name broadcasts a frame with no boundedness witness:\n$sub"
        }
      }
    assert(bad.isEmpty, bad.mkString("\n\n"))
  }

  test("SQL-string twins: the Global* rewrites fire on SQL-parsed plans") {
    // GraftExtensions registers the rewrites as optimizer rules, so they
    // must be plan-source-agnostic — a window written as an ANSI SQL
    // string has to get the same distributed operator as its DataFrame
    // twin, or SQL users silently fall back to the single-partition
    // WindowExec the whole Global* family exists to kill. One twin per
    // rewrite family, each pinned to its operator and to the absence of
    // any window stage.
    val twins = Seq(
      "rel_sql_running_sum" -> "GlobalScan",
      "rel_sql_global_rank" -> "GlobalRank",
      "rel_sql_rank_ties" -> "GlobalTies",
      "rel_sql_shift_delta" -> "GlobalShift",
      "rel_sql_edge_first" -> "GlobalEdge",
      "rel_sql_frame_sum" -> "GlobalFrame",
      "rel_sql_range_trailing" -> "GlobalRange")
    twins.foreach { case (q, op) =>
      val p = plan(q)
      assert(p.contains(op),
        s"$q: the SQL-parsed plan did not rewrite to $op:\n$p")
      assert(!p.contains("Window"),
        s"$q: SQL-parsed plan fell back to a window stage:\n$p")
    }
    // the mixed-family single window from SQL: GlobalWindowRule stacks
    // the function families onto one shared sort — and the lag() offset
    // FUSES into the bounded GlobalFrame (same four-operator stack the
    // DF twin rel_window_mixed_global pins above: no separate
    // GlobalShift), no WindowExec, one exchange + one sort
    val p = plan("rel_sql_window_mixed")
    Seq("GlobalScan", "GlobalFrame", "GlobalTies", "GlobalEdge")
      .foreach(n =>
        assert(p.contains(n), s"rel_sql_window_mixed lost $n:\n$p"))
    assert(!p.contains("GlobalShift"),
      s"lag must fuse into the frame operator, not plan standalone:\n$p")
    assert(!p.contains("Window"),
      s"rel_sql_window_mixed fell back to a window stage:\n$p")
    assert("ENSURE_REQUIREMENTS".r.findAllIn(p).size == 1 &&
      "Sort ".r.findAllIn(p).size == 1,
      s"the SQL mixed stack must share one exchange + sort:\n$p")
  }
}
