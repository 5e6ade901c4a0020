package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stages the ZIPF-SKEWED scale rung — the axis the uniform
  * [[ScaleLadder]] replicas cannot exercise. ScaleLadder grows VOLUME
  * with per-key group sizes unchanged (every replica shifts its keys
  * into fresh ranges), so per-key load never concentrates and the
  * heavy shuffle joins are only ever measured against benign key
  * distributions. Real corpora are not benign: item popularity, token
  * frequency, and user activity are Zipf-distributed, and at 100 TB
  * the hottest key of a shuffle join lands orders-of-magnitude more
  * rows on one reducer than the median key. This stager makes that
  * measurable at rung scale.
  *
  * Only the tables the skew-sensitive queries read are staged
  * (`lineitem`, `part`, `documents`) — the rung exists for solo
  * measurements of `rel_basket_pairs`, `rel_item_cooccur_sim`,
  * `dedup_ssjoin_exact`, and the `rel_skew_{salted,unsalted}_join`
  * A/B, not for full sweeps.
  *
  *  - `part` copies ONCE, unshifted: the dimension is the vocabulary,
  *    and skew means MORE fact rows per dim key, not more dim keys.
  *  - `lineitem` replicates x copies with `l_orderkey` shifted (order
  *    count grows, basket sizes stay natural) but `l_partkey` REMAPPED
  *    to a Zipf(s=1) draw over the base part key space [0, K): rank =
  *    floor(K^u) - 1 with u uniform per row from xxhash64(l_orderkey,
  *    l_linenumber, replica) — P(rank = r) ∝ 1/(r+1), the classic
  *    popularity law. At x10 (6M rows, K = 20k) the hottest part key
  *    receives ~ln(2)/ln(K) ≈ 7% of ALL rows (~420k), a genuine hot
  *    reducer; supports and co-occurrence counts concentrate the same
  *    way. `l_suppkey` shifts as in the uniform rung.
  *  - `documents` replicates x copies with `doc_id` shifted and the
  *    replica letter suffixed onto only ~3/4 of the VOCABULARY (words
  *    with MurmurHash3 % 4 != 0): the remaining quarter is shared
  *    across every replica, so those tokens' posting lists grow
  *    linearly with the rung — the hot-token axis of the set-
  *    similarity join (its prefix filter must keep candidates bounded
  *    by picking RARE prefix tokens; shared-vocabulary docs stay below
  *    the 0.6 Jaccard threshold, so the RESULT structure still repeats
  *    per replica while the candidate-pruning machinery is stressed).
  *
  * Idempotent per table via the `_SUCCESS` marker, like ScaleLadder.
  */
object SkewLadder {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_skew1"
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
        println(s"[skew] $name: already staged, skipping")
        return
      }
      val base = spark.read.parquet(s"$src/$name.parquet")
      val n = if (once) 1 else copies
      val union = (0 until n).map(r => perReplica(base, r))
        .reduce(_ unionAll _)
      union.write.mode("overwrite").parquet(out)
      println(s"[skew] $name: staged ${n}x")
    }

    stage("part", (df, _) => df, once = true)

    val k = spark.read.parquet(s"$src/part.parquet").count()
    val lnK = math.log(k.toDouble)
    stage("lineitem", { (df, r) =>
      // u ~ U[0,1) per row; Zipf(1) rank over [0, K): floor(K^u) - 1
      val u = (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
        lit(r)), lit(1000000L)).cast("double") + 0.5) / 1000000.0
      val zipf = least(greatest(
        floor(exp(u * lit(lnK))).cast("long") - 1L, lit(0L)),
        lit(k - 1))
      df.withColumn("l_orderkey", col("l_orderkey") + lit(r * OFF))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * OFF))
        .withColumn("l_partkey", zipf)
    })

    // suffix a word iff its vocabulary hash says so — a stager-side
    // Scala map (not engine code; the engine never runs this path)
    val wordRe = "([A-Za-z]+)".r
    val suffixText = udf { (text: String, letter: String) =>
      if (letter.isEmpty || text == null) text
      else wordRe.replaceAllIn(text, m =>
        if (scala.util.hashing.MurmurHash3
          .stringHash(m.group(1).toLowerCase) % 4 == 0) m.group(1)
        else m.group(1) + letter)
    }
    stage("documents", { (df, r) =>
      val letter = {
        var n = r; val sb = new StringBuilder
        while (n > 0) { sb.append(('a' + (n % 26)).toChar); n /= 26 }
        sb.toString
      }
      df.withColumn("doc_id", col("doc_id") + lit(r * OFF))
        .withColumn("text", suffixText(col("text"), lit(letter)))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })

    spark.stop()
  }
}
