package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stages an N-times replica of a testdata scale factor for the scale
  * ladder (default: sf0.1 x10 ≈ sf1), so the 100x-survivability claims
  * (connected-component round counts, LSH bucket caps, streaming state)
  * can be MEASURED instead of argued from plans. `graft.Bench` then runs
  * against the staged directory unchanged.
  *
  * Replication preserves the shape that matters at scale, not just the
  * row count:
  *   - fact tables shift every join key per replica (`+ r * 1e8`, beyond
  *     any source key), so distinct users/orders/customers grow 10x with
  *     per-key group sizes unchanged — the realistic axis; 10 identical
  *     copies would instead multiply per-key density and quadratic
  *     candidate work by design rather than by data;
  *   - `documents` additionally suffixes a replica letter onto every
  *     word, so replicas are textually unrelated: the near-dup pair
  *     structure repeats per replica (pairs x10) instead of every
  *     document gaining 9 exact twins (pairs x100);
  *   - `embeddings` rescales vectors per replica (cosine structure
  *     within a replica unchanged) and shifts vec_id;
  *   - dimensions (`region`, `nation`) copy once, as at any real SF;
  *   - `events.ts` stays in its original span: 10x the events in the
  *     same window = a denser stream, which is what grows streaming
  *     state and window fan-out.
  *
  * Idempotent: a table whose output `_SUCCESS` marker exists is skipped,
  * so a partial stage resumes where it stopped.
  */
object ScaleLadder {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val OFF = 100000000L

    def stage(name: String, perReplica: (DataFrame, Int) => DataFrame,
              once: Boolean = false): Unit = {
      val out = s"$dst/$name.parquet"
      if (new java.io.File(s"$out/_SUCCESS").exists()) {
        println(s"[scale] $name: already staged, skipping")
        return
      }
      val base = spark.read.parquet(s"$src/$name.parquet")
      val n = if (once) 1 else copies
      val union = (0 until n).map(r => perReplica(base, r))
        .reduce(_ unionAll _)
      union.write.mode("overwrite").parquet(out)
      println(s"[scale] $name: staged ${n}x")
    }

    def shifted(keys: String*)(df: DataFrame, r: Int): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(r * OFF)))

    stage("region", (df, _) => df, once = true)
    stage("nation", (df, _) => df, once = true)
    stage("customer", shifted("c_custkey"))
    stage("supplier", shifted("s_suppkey"))
    stage("part", shifted("p_partkey"))
    stage("orders", shifted("o_orderkey", "o_custkey"))
    stage("lineitem", shifted("l_orderkey", "l_partkey", "l_suppkey"))
    stage("events", shifted("event_id", "user_id"))

    stage("documents", { (df, r) =>
      // replica suffix in base-26 letters (identical to the historical
      // single letter for r <= 25): a bare ('a'+r) turns non-letter at
      // r >= 26, and word-regex tokenizers would strip it — making high
      // replicas textually collide and corrupting the near-dup pair
      // structure at the x30 rung
      val letter = {
        var n = r; val sb = new StringBuilder
        while (n > 0) { sb.append(('a' + (n % 26)).toChar); n /= 26 }
        sb.toString
      }
      val text =
        if (r == 0) col("text")
        else regexp_replace(col("text"), "([A-Za-z]+)", "$1" + letter)
      df.withColumn("doc_id", col("doc_id") + lit(r * OFF))
        .withColumn("text", text)
        .withColumn("n_chars", length(col("text")).cast("long"))
    })

    stage("embeddings", { (df, r) =>
      val scale = lit((1.0 + 0.01 * r).toFloat)
      df.withColumn("vec_id", col("vec_id") + lit(r * OFF))
        .withColumn("embedding",
          transform(col("embedding"), x => (x * scale).cast("float")))
    })

    spark.stop()
  }
}
