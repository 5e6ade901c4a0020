package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM process: builds a session the way a library user
  * would and sets it up once from JVM start, then again several times in
  * the warm JVM, runs the untimed correctness pass and any warm passes,
  * then a closed loop of operations for a fixed time, and writes a JSON
  * record of raw samples. `run.py` turns the record into metrics.
  *
  * Usage: Main <key> <value> ... with keys workload, conf (a JSON object
  * of Spark settings), data, csv, work, out, seconds, seed, ops, warm,
  * warm-passes and trace (0|1);
  * or `dump-sql <names> <out>` to write the DuckDB oracle SQL of the named
  * registry queries. */
object Main {

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("dump-sql")) return dumpSql(argv(1).split(","), argv(2))
    val a = argv.grouped(2).map { case Array(k, v) => k -> v }.toMap
    new Run(a).run()
  }

  private def dumpSql(names: Seq[String], out: String): Unit = {
    val sql = new JMap[String, String]()
    names.foreach(n => sql.put(n, graft.SparkEntry.oracleSql(n)))
    Json.write(out, sql)
  }
}

private final class Run(a: Map[String, String]) {
  private val workload = a("workload")
  private val headlines = workload == "headlines"
  private val dataDir = a("data")
  private val work = a("work")
  private val seconds = a("seconds").toDouble
  private val seed = a("seed").toLong
  private val ops = a("ops").split(",").toVector
  private val warm = a("warm").split(",").toVector
  private val resetups = 3 // setup_s is their median
  private val warmPasses = a("warm-passes").toInt
  private val traced = a("trace") == "1"

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var outSeq = 0

  /** Every Spark setting the benchmark makes, from `spark_conf` in
    * `workloads.json`. Nothing else is set: no harness helper, property
    * or environment knob of the program is used. */
  private val conf: Seq[(String, String)] = Json.readPairs(a("conf"))

  private def session(): SparkSession = {
    val b = SparkSession.builder()
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.withExtensions(graft.functions.GraftExtensions.inject).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One operation, timed in two parts: the public entry call that builds
    * the result, and the action that evaluates it. Returns
    * (construct end, end) in epoch ms and the wall time in seconds.
    * Timed headlines jobs write to `out/<name>-<n>`, n counting timed
    * calls from 1, and run.py checks every one; untimed ones to `warm/`. */
  private def runOp(name: String, timed: Boolean): (Long, Long, Double) = {
    val t0 = System.nanoTime()
    val constructEnd =
      if (headlines) {
        if (timed) outSeq += 1
        val out = if (timed) s"$work/out/$name-$outSeq" else s"$work/warm/$name"
        if (name == "stockcount") graft.pipelines.StockCount.run(spark, a("csv"), out)
        else graft.pipelines.WordCount.run(spark, a("csv"), out)
        System.currentTimeMillis()
      } else {
        val df: DataFrame = graft.SparkEntry.queries(name)(spark, dataDir)
        val c = System.currentTimeMillis()
        df.write.format("noop").mode("overwrite").save()
        c
      }
    (constructEnd, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
  }

  /** Cached blocks of iterative queries are dropped between operations,
    * so each one runs against a clean storage pool. */
  private def hygiene(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** (steal, total) CPU ticks of the host so far, from the first line of
    * /proc/stat; zeros where that file does not exist. */
  private def cpuTicks: (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val t = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (t.length > 7) t(7) else 0L, t.sum)
      } finally f.close()
    } catch { case _: Exception => (0L, 0L) }

  private def jitSec: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  /** CPU seconds used by every thread of this process so far. */
  private def cpuSec: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  private def gcSec: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def run(): Unit = {
    val rec = new JMap[String, Any]()
    val failed = ArrayBuffer.empty[String]
    val errors = new JMap[String, String]()
    def fail(name: String, e: Throwable): Unit = {
      failed += name
      errors.putIfAbsent(name, String.valueOf(e.getMessage).take(400))
      System.err.println(s"[perfbench] $name failed: $e")
    }

    // ---- set-up: session + one untimed call of each kind. The first is
    // timed from JVM start; the re-setups from `spark.stop()` in the warm
    // JVM, in wall and in CPU time, and setup_s is their median CPU time
    val setupSec = ArrayBuffer.empty[Double]
    val setupCpuSec = ArrayBuffer.empty[Double]
    val cold = new JMap[String, Double]()
    var coldSetupSec = 0.0
    var compileSec = 0.0
    for (i <- 0 to resetups) {
      val t0 = System.nanoTime()
      val sc0 = cpuSec
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session()
      warm.foreach { w =>
        try {
          val (_, _, sec) = runOp(w, timed = false)
          if (i == 0) cold.put(w, sec)
        } catch { case e: Throwable => fail(w, e) }
        hygiene()
      }
      if (i == 0) {
        coldSetupSec = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
        compileSec = jitSec
      } else {
        setupSec += (System.nanoTime() - t0) / 1e9
        setupCpuSec += cpuSec - sc0
      }
    }

    // ---- untimed correctness pass: every operation once, results kept
    // for run.py to check. It also warms every operation's code paths, so
    // the timed loop measures warm calls. Headlines outputs are checked
    // from the timed runs themselves.
    val c0 = System.nanoTime()
    if (!headlines) ops.foreach { name =>
      try graft.SparkEntry.queries(name)(spark, dataDir)
        .write.mode("overwrite").parquet(s"$work/check/$name")
      catch { case e: Throwable => fail(name, e) }
      hygiene()
    }
    val checkSec = (System.nanoTime() - c0) / 1e9

    // ---- untimed warm passes: short operations called many times keep
    // getting faster for about ten calls while the JIT compiles them; a
    // loop timed during that drift reads differently on every run
    val w0 = System.nanoTime()
    for (_ <- 0 until warmPasses; name <- ops) {
      try runOp(name, timed = false) catch { case e: Throwable => fail(name, e) }
      hygiene()
    }
    val warmSec = (System.nanoTime() - w0) / 1e9

    if (traced) {
      tracer = new Tracer(spark)
      tracer.attach()
      tracer.reset()
    }

    // ---- timed closed loop: one client, passes in a seeded order, for
    // `seconds` and at least two passes, so that pass_s is a median of
    // passes also when a pass takes longer than `seconds`
    val minPasses = 2
    val passes = new java.util.ArrayList[Any]()
    val traces = ArrayBuffer.empty[Tracer.OpTrace]
    var lastPassTraces = Vector.empty[Tracer.OpTrace]
    val gc0 = gcSec
    val ticks0 = cpuTicks
    val loopStart = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
      val samples = new JMap[String, Any]()
      val cpuSamples = new JMap[String, Any]()
      val thisPass = ArrayBuffer.empty[Tracer.OpTrace]
      // wall and CPU time of every call and pass, and the JIT compiler's
      // share of the pass
      val p0 = System.nanoTime()
      val pc0 = cpuSec
      val pj0 = jitSec
      order.foreach { name =>
        try {
          val s0 = System.currentTimeMillis()
          val c0 = cpuSec
          val (cEnd, end, sec) = runOp(name, timed = true)
          samples.put(name, sec)
          cpuSamples.put(name, cpuSec - c0)
          if (traced) thisPass += tracer.take(name, s0, cEnd, end)
        } catch { case e: Throwable =>
          fail(name, e); samples.put(name, -1.0)
          if (traced) tracer.reset()
        }
        hygiene()
      }
      val rp = new JMap[String, Any]()
      rp.put("wall_s", (System.nanoTime() - p0) / 1e9)
      rp.put("cpu_s", cpuSec - pc0)
      rp.put("ops", samples)
      rp.put("ops_cpu_s", cpuSamples)
      rp.put("jit_s", jitSec - pj0)
      passes.add(rp)
      traces ++= thisPass
      lastPassTraces = thisPass.toVector
      pass += 1
    }
    val loopSec = (System.nanoTime() - loopStart) / 1e9
    val ticks1 = cpuTicks
    // share of the host's CPU time taken by the hypervisor during the loop
    val stealFrac = (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
    val gcLoop = gcSec - gc0
    // after the loop, so the collection does not reshape the timed heap
    System.gc()
    val liveHeapMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    rec.put("workload", workload)
    rec.put("seed", seed)
    rec.put("jvm", System.getProperty("java.vm.name") + " " +
      System.getProperty("java.runtime.version"))
    rec.put("spark", spark.version)
    rec.put("cold_setup_s", coldSetupSec)
    rec.put("setup_s", setupSec.asJava)
    rec.put("setup_cpu_s", setupCpuSec.asJava)
    rec.put("cold_first_call_s", cold)
    rec.put("check_pass_s", checkSec)
    rec.put("warm_passes_s", warmSec)
    rec.put("loop_s", loopSec)
    rec.put("loop_cpu_steal_frac", stealFrac)
    rec.put("passes", passes)
    rec.put("live_heap_mb", liveHeapMb)
    rec.put("jvm_compile_setup_s", compileSec)
    rec.put("jvm_gc_loop_s", gcLoop)
    rec.put("failed", failed.distinct.asJava)
    rec.put("errors", errors)
    // the settings as the live session reports them
    val applied = new JMap[String, String]()
    conf.foreach { case (k, _) => applied.put(k, spark.conf.get(k)) }
    rec.put("spark_conf", applied)
    if (traced) rec.put("trace", TraceReport(traces.toVector, lastPassTraces, pass))
    Json.write(a("out"), rec)
    spark.stop()
  }
}

private object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def write(path: String, v: AnyRef): Unit = {
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), v)
  }
  /** The string pairs of a JSON object file, in file order. */
  def readPairs(path: String): Seq[(String, String)] =
    mapper.readValue(new java.io.File(path), classOf[JMap[String, String]]).asScala.toSeq
}
