package graft

import org.apache.spark.sql.SparkSession

/** Decision core of the bench outlier guard and its circuit breakers —
  * extracted from the sweep loop so BenchGuardSpec can pin the artifact-
  * always-parses property (the breakers firing) without a second Spark
  * session. One instance per sweep; mutable by design (the guard IS
  * sweep state).
  *
  * Per-query rule: a reading > K× its committed reference AND > 1 s over
  * it is an outlier — re-run (at most twice) and keep the min. K is 3 for
  * a reference of 1 s or more and 5 below that, where ratios jitter more.
  * Breakers, both disclosed in the JSON:
  *  - global re-run budget: total extra seconds ≤ 10% of the committed
  *    reference total (floor 30 s) — scattered transients get weathered,
  *    the sweep never doubles;
  *  - host-stall mode: 3 CONSECUTIVE guarded queries still reading as
  *    outliers AFTER their re-runs means the HOST is stalled, not the
  *    queries — stop re-running entirely, so the artifact always exists
  *    and always parses. The streak feeds on the POST-rerun status: a
  *    query that tripped but was fully recovered by its re-runs is a
  *    weathered transient, the exact signature of scattered noise, and
  *    RESETS the streak (feeding the PRE-rerun flag declared stalls on
  *    recovered transients and silently disarmed the guard for the rest
  *    of the sweep). Un-guarded (new this round) queries are blind. */
final class BenchGuard(refTimes: Map[String, Double]) {
  val rerunBudgetSec: Double = math.max(30.0, 0.10 * refTimes.values.sum)
  var rerunSpentSec: Double = 0.0
  private var consecutiveStuck = 0
  var hostStall: Boolean = false

  def isOutlier(name: String, best: Double): Boolean =
    best > 0 && refTimes.get(name).exists(r =>
      best > BenchGuard.outlierK(r) * r && best - r > 1.0)

  /** May the sweep spend another re-run on this query right now? */
  def mayRerun(name: String, best: Double, reranSoFar: Int): Boolean =
    isOutlier(name, best) && reranSoFar < 2 && !hostStall &&
      rerunSpentSec < rerunBudgetSec

  def chargeRerun(sec: Double): Unit = rerunSpentSec += sec

  /** Called once per query AFTER its re-runs settle, with the POST-rerun
    * outlier status (still an outlier after the re-runs) — drives the
    * stall detector. A guarded query reading normal — including one
    * whose re-runs recovered it — breaks the streak. */
  def queryDone(name: String, stillOutlier: Boolean, ok: Boolean): Unit =
    if (stillOutlier) {
      consecutiveStuck += 1
      if (consecutiveStuck >= 3) hostStall = true
    } else if (ok && refTimes.contains(name)) consecutiveStuck = 0

  /** Artifact field that lists the queries still past the outlier bar
    * when the sweep ends. It names a stall only when the host-stall
    * detector fired; on a healthy host an unrecovered outlier is a
    * real slowdown and must not read as a stall. */
  def publishedLabel: String =
    if (hostStall) "stall_published" else "outlier_published"
}

object BenchGuard {
  /** The outlier ratio for a committed reference of `ref` seconds. */
  def outlierK(ref: Double): Double = if (ref >= 1.0) 3.0 else 5.0

  /** Both tiers, as the artifact's `outlier_k` field reports them. */
  val outlierKJson: String =
    s"""{"ref_ge_1s":${outlierK(1.0)},"ref_lt_1s":${outlierK(0.0)}}"""
}

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * persists the full per-query JSON to SPARK_GRAFT_BENCH_OUT, prints the
  * full JSON line, and prints a compact (<1 KB) summary line LAST.
  *
  * The sweep is DEADLINE-AWARE (SPARK_GRAFT_BENCH_DEADLINE_SEC, default
  * 360, clocked from main() entry): pass 1 runs every query once FIRST;
  * second passes (repeat) and outlier-guard re-runs spend only whatever
  * budget remains. Two driver rounds in a row timed out (rc 124) because
  * the fixed repeat=2 sweep's wall time grew O(registry) past the
  * driver's clock and the single end-of-run println left no artifact at
  * all — so now (a) the process finishes and exits 0 under ANY wall
  * clock by construction, (b) the artifact file is re-flushed every 25
  * queries with a "truncated":true marker so even a hard kill leaves a
  * complete parseable record of everything measured so far, and (c) the
  * final compact line fits a bounded stdout tail, which the ~15 KB
  * per-query line has overflowed since the registry passed ~60 queries.
  *
  * A warmup action first absorbs session/JIT/codegen init so per-query
  * numbers measure the queries, not the JVM. The session differs from
  * Verify's and perfbench's only in core count, and the streaming
  * queries replay the same 3-file staged shape they check. */
object Bench {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - t0) / 1e9
    val deadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "360").toDouble
    def remainingSec: Double = deadlineSec - elapsedSec

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_BENCH_CONF: semicolon-separated key=value Spark confs
    // applied on top of the defaults — the scale-ladder A/B protocol's
    // regime switch (e.g. autoBroadcastJoinThreshold=-1 to measure the
    // cannot-broadcast regime a 100 TB dimension forces, or lowered AQE
    // skew thresholds so OptimizeSkewedJoin engages at rung scale).
    // Unset in driver runs: official numbers always use the defaults.
    val extraConf = sys.env.get("SPARK_GRAFT_BENCH_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        (k, v)
      }
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder
      // session-wide graft surface: native functions + the GlobalRank/
      // GlobalScan rewrites, so textbook global windows plan distributed
      // without per-query registration
      .withExtensions(graft.functions.GraftExtensions.inject)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch every table + JIT the hot stacks once (flagship
    // pipeline, relational agg, and the text-hash/minhash pipeline — the
    // alphabetically-early dedup queries would otherwise absorb the
    // one-time compile cost of the whole hashing stack into their number)
    try {
      SparkEntry.queries("stock_count_pipeline")(spark, sfDir).count()
      SparkEntry.queries("rel_q1_lineitem_agg")(spark, sfDir).count()
      // covers shingles, from-shingles minhash, LSH banding, and the
      // candidate joins — the whole stack the dedup_* queries share
      SparkEntry.queries("dedup_jaccard_pairs")(spark, sfDir).count()
      // the *_x100 flagship queries run the typed TokenCountsAgg paths
      // (ticker AND word modes) that nothing above touches — without this
      // the alphabetically-first of them absorbs that stack's one-time
      // JIT/codegen cost into the baseline-comparable number (measured as
      // an 8x swing on stock_count_x100 in round 4)
      SparkEntry.queries("stock_count_x100")(spark, sfDir).count()
      SparkEntry.queries("word_count_x100")(spark, sfDir).count()
      // one cheap streaming replay: the micro-batch engine's one-time
      // init (state-store machinery, incremental-planning stacks,
      // streaming codegen) otherwise lands on whichever stream query
      // the sweep order happens to run first — measured ~2 s of pass-1
      // inflation on that query under seed randomization
      SparkEntry.queries("stream_topk_types")(spark, sfDir).count()
    } catch { case _: Throwable => () }

    // dev knobs (unset in driver runs): SPARK_GRAFT_BENCH_ONLY narrows the
    // sweep to a comma-separated query list, SPARK_GRAFT_BENCH_REPEAT times
    // each query N times (min reported — isolates steady-state cost from
    // run-to-run variance). Default is 2: with a single run, a GC pause or
    // page-cache eviction reads as a phantom multi-x regression (seen twice
    // in official runs; every one vanished under repeats) — but passes
    // past the first are BUDGETED, never owed: pass 1 coverage comes
    // first, extra passes fill the remaining deadline.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "2").toInt

    // Host-stall guard: two official runs have carried 50x+ phantom
    // readings from a single sustained host transient (one survived
    // min-of-2 because the stall spanned both repeats). Against the last
    // COMMITTED reference at the SAME sf dir (BENCH_FULL.json by
    // default, overridable via SPARK_GRAFT_BENCH_REF), any query reading
    // > K× its committed time (K = 3 from a 1 s reference, 5 below it)
    // and > 1 s over it is automatically re-run in-session, min kept;
    // the JSON flags every such query in "reruns" so a reader can
    // distinguish a measured regression from a weathered transient. A
    // missing/mismatched-sf reference disables the guard (rung sweeps at
    // ×10/×30 pass their own reference via the env).
    val refPath = sys.env.get("SPARK_GRAFT_BENCH_REF").orElse {
      val p = java.nio.file.Paths.get("BENCH_FULL.json")
      if (java.nio.file.Files.exists(p)) Some(p.toString) else None
    }
    val refTimes: Map[String, Double] = refPath.flatMap { p =>
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), java.nio.charset.StandardCharsets.UTF_8)
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(txt)
        if (node.path("sf").asText() != sfDir) None
        else {
          import scala.jdk.CollectionConverters._
          Some(node.path("queries").fields().asScala
            .map(e => e.getKey -> e.getValue.asDouble())
            .filter(_._2 > 0).toMap)
        }
      } catch { case _: Throwable => None }
    }.getOrElse(Map.empty)
    val guard = new BenchGuard(refTimes)
    // SPARK_GRAFT_BENCH_EXPLAIN=1 dumps each selected query's formatted
    // physical plan to stderr before timing — used by the scale-ladder
    // adjudication protocol to check e.g. broadcast-vs-shuffle flips
    // across rungs without a separate driver program.
    // SPARK_GRAFT_BENCH_EXPLAIN=final EXECUTES the query once first and
    // dumps the ADAPTIVE final plan — the only place AQE's runtime
    // decisions (OptimizeSkewedJoin's skew=true markers, coalesced
    // partition counts) are visible; the static plan only shows
    // isFinalPlan=false. Used by the skew-rung A/B protocol.
    val explainEnv = sys.env.get("SPARK_GRAFT_BENCH_EXPLAIN")
    val explainFinal = explainEnv.contains("final")
    val explain = explainEnv.contains("1") || explainFinal

    // SPARK_GRAFT_BENCH_SPILL=1 (unset in driver runs): register a
    // task-metrics listener and report per-query shuffle/sort/agg SPILL
    // bytes as an extra "spill_bytes" JSON field — the memory-pressure
    // ladder's evidence that a heavy query under a deliberately small
    // heap COMPLETES by spilling (the 100 TB behavior: executors never
    // size to the data) rather than OOMing. Listener delivery is
    // asynchronous, so per-query attribution is exact only when the
    // process runs ONE query (SPARK_GRAFT_BENCH_ONLY solo protocol);
    // in a full sweep adjacent queries can trade a task's attribution.
    // SPARK_GRAFT_BENCH_JOBLOG=1 (dev knob, unset in driver runs): print
    // every Spark job's duration + call site to stderr — the per-job
    // attribution used to find WHERE inside a multi-action query (the
    // iterative graph peels, the selection operator's passes) the time
    // goes, since the UI is disabled in bench runs. Purely additive: the
    // listener only prints; the timed path is unchanged.
    if (sys.env.get("SPARK_GRAFT_BENCH_JOBLOG").contains("1")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[
        Int, (Long, String)]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(e.jobId, (System.nanoTime(),
              e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
                .getOrElse("?") +
                s" [stages=${e.stageInfos.size}]"))
          override def onJobEnd(
              e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val st = starts.remove(e.jobId)
            if (st != null) System.err.println(
              f"[joblog] job ${e.jobId}%4d ${(System.nanoTime() - st._1) / 1e9}%7.3fs  ${st._2}")
          }
        })
    }

    val spillOn = sys.env.get("SPARK_GRAFT_BENCH_SPILL").contains("1")
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    if (spillOn) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
          }
        }
      })
    val spillByQuery =
      scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]

    // sweep-order randomization: the one residual class the per-query
    // guard cannot adjudicate is adjacent-query context (page cache, GC
    // debt) — a query can read slow in a sweep and fast solo without
    // either number being wrong. A per-sweep seeded shuffle decorrelates
    // neighbor effects across rounds, so a residual that persists across
    // orders is attributable to the query, not its neighbors. The seed
    // is recorded in the JSON; SPARK_GRAFT_BENCH_ORDER_SEED pins it
    // (0 = legacy alphabetical, for explicit order A/B comparisons).
    val orderSeed = sys.env.get("SPARK_GRAFT_BENCH_ORDER_SEED")
      .map(_.toLong).getOrElse(System.currentTimeMillis())
    val alphabetical = SparkEntry.queries.toSeq.sortBy(_._1)
    val swept =
      if (orderSeed == 0L) alphabetical
      else new scala.util.Random(orderSeed).shuffle(alphabetical)
    val selected = swept.filter { case (name, _) => only.forall(_.contains(name)) }

    // per-query sweep state, in sweep order
    final class QState(val name: String,
        val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame) {
      var pass1: Double = Double.NaN // first reading (also the time model
                                     // for later deadline checks)
      var best: Double = Double.NaN  // min over all completed runs
      var runs: Int = 0              // completed timed runs (repeat passes)
      var reruns: Int = 0            // guard re-runs
      var rawBeforeGuard: Double = Double.NaN
      def failed: Boolean = best == -1.0
      def ran: Boolean = runs > 0
    }
    val states = selected.map { case (n, f) => new QState(n, f) }

    // one timed run through the noop sink: forces full evaluation of
    // every output column (a count() would let Catalyst prune
    // projection-only work and under-measure); failed queries report -1,
    // never their time-to-failure (a crash after 0.1 s must not read as
    // a 0.1 s result)
    val jobLogOn = sys.env.get("SPARK_GRAFT_BENCH_JOBLOG").contains("1")
    def runOnce(st: QState): Double = {
      if (jobLogOn) System.err.println(s"[joblog] >>> ${st.name}")
      val t = System.nanoTime()
      val ok =
        try {
          st.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] ${st.name} failed: ${e.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t) / 1e9
      // storage hygiene between queries: localCheckpoint blocks from
      // iterative queries persist until GC — across a 360+-query sweep
      // in one JVM they accumulate into heap pressure (the ×30 rung
      // OOM'd mid-sweep at 8 GiB without this). Each query is measured
      // against a clean storage pool, as it would run alone.
      // HAZARD: unpersisting a localCheckpointed RDD truncates its
      // lineage permanently — safe only because every registry query
      // builds its frames per invocation (see the round-14 note).
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      if (jobLogOn) System.err.println(f"[joblog] <<< ${st.name}%s $sec%.3fs")
      if (ok) sec else -1.0
    }

    // ----- artifact rendering + incremental flush ------------------------
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    def renderFull(truncated: Boolean): String = {
      val done = states.filter(_.ran)
      // the JSON stays alphabetical regardless of sweep order — diffs
      // between round artifacts line up key-by-key
      val qs = done.sortBy(_.name)
        .map(st => "\"" + st.name + "\":" + st.best)
        .mkString("{", ",", "}")
      val total = done.map(_.best).sum
      val rm = done.map(st => st.name -> st.best).toMap
      // baseline_comparable: the *_x100 queries run the full reference
      // pipelines on 100x-replicated document lines; at sf0.1 that is
      // ~500k rows — the scale of BASELINE.md's 486,634-row input
      val cmp =
        s"""{"stock_count_x100_sec":${rm.getOrElse("stock_count_x100", -1.0)},""" +
          s""""word_count_x100_sec":${rm.getOrElse("word_count_x100", -1.0)}}"""
      val spillField =
        if (spillByQuery.isEmpty) ""
        else spillByQuery.map { case (k, (m, d)) =>
          "\"" + k + "\":{\"mem\":" + m + ",\"disk\":" + d + "}"
        }.mkString(""","spill_bytes":{""", ",", "}")
      // measurement provenance: repeats per query, which queries tripped
      // the outlier guard (and how many extra runs, plus the raw reading
      // that was weathered), and the reference the guard compared
      // against — so a reader of the round artifact can tell a weathered
      // host stall from a real regression
      val rr = states.filter(_.reruns > 0)
      val rerunField =
        if (rr.isEmpty) ""
        else rr.map(st =>
          "\"" + st.name + "\":{\"n\":" + st.reruns +
            ",\"raw\":" + st.rawBeforeGuard + "}")
          .mkString(""","reruns":{""", ",", "}")
      val refField = refTimes.headOption.map(_ =>
        s""","outlier_ref":"${refPath.get}"""" +
          s""","outlier_k":${BenchGuard.outlierKJson}""" +
          s""","rerun_budget_sec":${guard.rerunBudgetSec}""")
        .getOrElse("")
      val stallField = if (guard.hostStall) ""","host_stall":true""" else ""
      // any reading still past the outlier bar after every re-run chance
      // is published as-measured but MARKED — as a stall reading only if
      // the stall detector fired (r18: a 6.9 s query shipped as 29.2 s
      // because the stall disabled its re-runs), else as an outlier
      val unrecovered = states.filter(st => st.ran && !st.failed &&
        guard.isOutlier(st.name, st.best)).map(_.name).sorted
      val unrecoveredField =
        if (unrecovered.isEmpty) ""
        else unrecovered.map("\"" + _ + "\"")
          .mkString(s""","${guard.publishedLabel}":[""", ",", "]")
      val truncField = if (truncated) ""","truncated":true""" else ""
      val skipped = states.count(!_.ran)
      val skipField = if (skipped > 0) s""","n_skipped":$skipped""" else ""
      s"""{"metric":"total","value":$total,"unit":"sec","repeat":$repeat,""" +
        s""""deadline_sec":$deadlineSec,"order_seed":$orderSeed,""" +
        s""""queries":$qs,"baseline_comparable":$cmp""" +
        spillField + rerunField + refField + stallField + unrecoveredField +
        truncField + skipField + s""","sf":"$sfDir"}"""
    }
    def flush(truncated: Boolean): Unit =
      try {
        Option(outPath.getParent)
          .foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(outPath,
          (renderFull(truncated) + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] artifact flush failed: ${e.getMessage}")
      }

    // ----- phase 1: one pass over EVERY query — coverage before repeats --
    var sinceFlush = 0
    states.foreach { st =>
      if (remainingSec > 0) {
        if (explain) {
          try {
            val df = st.fn(spark, sfDir)
            // a `write` would execute a SEPARATE QueryExecution and
            // leave this one unfinalized (isFinalPlan=false); running
            // the df's own toRdd is what finalizes ITS adaptive plan
            if (explainFinal)
              df.queryExecution.toRdd.foreachPartition(_ => ())
            System.err.println(s"=== explain ${st.name} ===\n" +
              df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode))
          } catch { case e: Throwable =>
            System.err.println(
              s"[bench] explain ${st.name} failed: ${e.getMessage}")
          }
        }
        val (m0, d0) = (spillMem.get(), spillDisk.get())
        val sec = runOnce(st)
        if (spillOn)
          spillByQuery(st.name) = (spillMem.get() - m0, spillDisk.get() - d0)
        st.pass1 = sec; st.best = sec; st.runs = 1
        sinceFlush += 1
        if (sinceFlush >= 25) { flush(truncated = true); sinceFlush = 0 }
      }
    }
    val pass1Cut = states.exists(!_.ran)
    if (pass1Cut) System.err.println(
      s"[bench] deadline ${deadlineSec}s cut pass 1 after " +
        s"${states.count(_.ran)}/${states.size} queries")
    flush(truncated = pass1Cut)

    // ----- phase 2: extra passes, budgeted — min over passes -------------
    // A query gets another pass only when the deadline comfortably fits
    // its pass-1 reading (1.3x + 0.5 s headroom); failed queries are not
    // re-run (a crash is not variance). Passes stop wholesale when the
    // budget is gone, so repeat=N is an upper bound, never a debt.
    var pass = 1
    while (pass < repeat && remainingSec > 0) {
      pass += 1
      states.foreach { st =>
        if (st.ran && !st.failed &&
            remainingSec > 1.3 * st.pass1 + 0.5) {
          val sec = runOnce(st)
          if (sec > 0) st.best = math.min(st.best, sec)
          st.runs += 1
          sinceFlush += 1
          if (sinceFlush >= 25) { flush(truncated = true); sinceFlush = 0 }
        }
      }
      flush(truncated = pass1Cut)
    }

    // ----- phase 3: outlier-guard re-runs, budgeted ----------------------
    // In sweep order, so the stall detector's CONSECUTIVE semantics mean
    // "neighboring in time". Each guarded query settles (re-runs, then
    // queryDone with its POST-rerun status) before the next is judged.
    states.filter(st => st.ran && !st.failed).foreach { st =>
      st.rawBeforeGuard = st.best
      while (guard.mayRerun(st.name, st.best, st.reruns) &&
          remainingSec > 1.3 * st.pass1 + 0.5) {
        st.reruns += 1
        System.err.println(f"[bench] ${st.name}%s read ${st.best}%.2fs vs " +
          f"committed ${refTimes(st.name)}%.2fs — outlier re-run ${st.reruns}")
        val t = System.nanoTime()
        val sec = runOnce(st)
        if (sec > 0) st.best = math.min(st.best, sec)
        guard.chargeRerun((System.nanoTime() - t) / 1e9)
      }
      val wasStalled = guard.hostStall
      guard.queryDone(st.name,
        stillOutlier = guard.isOutlier(st.name, st.best), ok = !st.failed)
      if (guard.hostStall && !wasStalled)
        System.err.println("[bench] 3 consecutive unrecovered outliers — " +
          "host stall: disabling re-runs, publishing as measured")
    }

    // ----- phase 3b: end-of-sweep stall recheck ---------------------------
    // Host-stall mode stops re-running the moment 3 consecutive guarded
    // queries stay outliers — correct mid-stall (the artifact must exist),
    // but a transient that ENDS mid-sweep used to ship every reading it
    // inflated (r18: 29.2 s published for a 6.9 s query). With deadline
    // budget left, each still-outlier query gets one more chance, most
    // expensive reference first (they distort totals most); two
    // consecutive failed recoveries mean the host is STILL stalled and
    // the recheck stops. Whatever stays an outlier is published under an
    // explicit marker (BenchGuard.publishedLabel) rather than posing as
    // a plain measurement.
    var failedRecover = 0
    states.filter(st => st.ran && !st.failed &&
        guard.isOutlier(st.name, st.best))
      .sortBy(st => -refTimes.getOrElse(st.name, 0.0))
      .foreach { st =>
        if (failedRecover < 2 && remainingSec > 1.3 * st.pass1 + 0.5) {
          st.reruns += 1
          System.err.println(f"[bench] ${st.name}%s still ${st.best}%.2fs " +
            f"vs committed ${refTimes(st.name)}%.2fs — end-of-sweep recheck")
          val sec = runOnce(st)
          if (sec > 0) st.best = math.min(st.best, sec)
          if (guard.isOutlier(st.name, st.best)) failedRecover += 1
          else failedRecover = 0
        }
      }

    // ----- final artifact ------------------------------------------------
    val truncated = pass1Cut
    flush(truncated)
    val line = renderFull(truncated)
    println(line)
    // The compact summary is printed LAST and fits a bounded stdout
    // tail: the driver's BENCH_r0N.json keeps only ~2000 chars of tail,
    // which the full per-query line has overflowed since the registry
    // passed ~60 queries — every driver artifact since then parsed
    // null. The full record lives in the flushed file (committed per
    // round as BENCH_FULL.json); this line carries the graded totals.
    val done = states.filter(_.ran)
    val rm = done.map(st => st.name -> st.best).toMap
    val summary =
      s"""{"metric":"total","value":${done.map(_.best).sum},""" +
        s""""unit":"sec","n_queries":${states.size},""" +
        s""""n_green":${done.count(_.best > 0)},""" +
        s""""n_skipped":${states.count(!_.ran)},""" +
        s""""baseline_comparable":{"stock_count_x100_sec":${
          rm.getOrElse("stock_count_x100", -1.0)},""" +
        s""""word_count_x100_sec":${rm.getOrElse("word_count_x100", -1.0)}},""" +
        s""""host_stall":${guard.hostStall},"truncated":$truncated,""" +
        s""""elapsed_sec":${math.round(elapsedSec)},""" +
        s""""order_seed":$orderSeed,"sf":"$sfDir","queries_file":"$outPath"}"""
    println(summary)
    spark.stop()
  }
}
