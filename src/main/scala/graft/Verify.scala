package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // session-wide graft surface: native functions + the GlobalRank/
      // GlobalScan rewrites, so textbook global windows plan distributed
      // without per-query registration
      .withExtensions(graft.functions.GraftExtensions.inject)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir, parseOnly(sys.env.get("SPARK_GRAFT_VERIFY_ONLY")))
    spark.stop()
  }

  // dev knob (unset in driver runs): narrow the dump to a comma-separated
  // query list while chasing a single query's parity
  // a blank value means "no filter", not "match nothing" — an empty
  // env export must not trigger the skipped-query output deletion below
  private[graft] def parseOnly(raw: Option[String]): Option[Set[String]] =
    raw.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)

  /** The dump itself, separated from main's session lifecycle so the
    * stale-output guarantees are spec-testable: a query that is SKIPPED
    * (dev filter) or FAILED must leave no parquet behind — downstream it
    * must compare as MISSING, never as PASS against results from a
    * previous build. */
  private[graft] def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]],
      queries: Map[String, (SparkSession, String) => DataFrame] =
        SparkEntry.queries,
      oracleSql: Map[String, String] = SparkEntry.oracleSql): Unit = {
    new java.io.File(outDir).mkdirs()
    def rmTree(name: String): Unit = {
      val stale = Paths.get(s"$outDir/$name")
      if (Files.exists(stale)) {
        import scala.jdk.CollectionConverters._
        Files.walk(stale).iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
      }
    }
    // If the dev filter is active, delete the outputs of every SKIPPED
    // query too: should the knob ever leak into a driver run, a filtered
    // query must compare as MISSING, never as PASS against results from a
    // previous build.
    only.foreach { names =>
      queries.keys.filterNot(names.contains).foreach(rmTree)
    }
    queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale output from a previous run: a failed query
        // must read as MISSING downstream, not PASS against old results
        rmTree(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
