package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Gate-integrity pins for the Verify dump: a stale parquet from a
  * previous build can NEVER be compared as PASS. Skipped queries (dev
  * filter active) and failed queries must both leave the output slot
  * empty — the driver's DuckDB compare then reads them as MISSING. */
class VerifyStaleOutputSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val ok: (SparkSession, String) => DataFrame = (s, _) => {
    import s.implicits._
    Seq(1L, 2L).toDF("v")
  }
  private def boom(s: SparkSession, dir: String): DataFrame =
    throw new RuntimeException("synthetic failure")

  private def plantStale(outDir: String, name: String): Unit = {
    // a realistic stale output: an actual tiny parquet from "last build"
    Seq(99L).toDF("v").coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/$name")
    assert(Files.exists(Paths.get(s"$outDir/$name")))
  }

  test("VERIFY_ONLY deletes skipped queries' stale outputs") {
    val out = TestSpark.scratchDir("graft-verify-stale").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "kept" -> ok, "skipped" -> ok)
    plantStale(out, "skipped")
    Verify.run(spark, "/nonexistent", out, only = Some(Set("kept")),
      queries = queries, oracleSql = Map("kept" -> "SELECT 1"))
    assert(Files.exists(Paths.get(s"$out/kept")), "kept query written")
    assert(!Files.exists(Paths.get(s"$out/skipped")),
      "skipped query's stale parquet must be deleted, not left to PASS")
  }

  test("a failed query deletes its own stale output") {
    val out = TestSpark.scratchDir("graft-verify-fail").toString
    plantStale(out, "failing")
    Verify.run(spark, "/nonexistent", out, only = None,
      queries = Map("failing" -> boom _), oracleSql = Map.empty)
    assert(!Files.exists(Paths.get(s"$out/failing")),
      "failed query's stale parquet must be deleted, not left to PASS")
  }

  test("a blank filter means no filter: nothing is deleted or skipped") {
    assert(Verify.parseOnly(None).isEmpty)
    assert(Verify.parseOnly(Some("")).isEmpty)
    assert(Verify.parseOnly(Some(" , ,")).isEmpty)
    assert(Verify.parseOnly(Some("a, b")) == Some(Set("a", "b")))
    val out = TestSpark.scratchDir("graft-verify-blank").toString
    val queries = Map[String, (SparkSession, String) => DataFrame]("q" -> ok)
    plantStale(out, "other_query")
    Verify.run(spark, "/nonexistent", out, only = Verify.parseOnly(Some("")),
      queries = queries, oracleSql = Map.empty)
    assert(Files.exists(Paths.get(s"$out/q")), "unfiltered query written")
    assert(Files.exists(Paths.get(s"$out/other_query")),
      "a blank filter must not trigger the skipped-query deletion")
  }
}
