package graft

import graft.streaming.{EventStream, StreamGate}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamHeavyHitterSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Zipf-ish key stream: key i appears ~ scale/(i+1) times, shuffled. */
  private def zipfKeys(keys: Int, scale: Int): Seq[Long] = {
    val rows = (0 until keys).flatMap(i =>
      Seq.fill(math.max(1, scale / (i + 1)))(i.toLong))
    new scala.util.Random(13).shuffle(rows)
  }

  test("sharded streaming MG across multiple micro-batches: bounded " +
    "state, strictly growing versions, superset of heavy keys") {
    val data = zipfKeys(keys = 300, scale = 4000) // ~30k rows, 300 keys
    val shards = 4
    val cap = 24 // << 300/shards: the decrement path engages
    // several csv files -> several micro-batches -> state carries over
    val sink = StreamGate.stageCsvAndReplay(data.toDF("k"), "hh_spec")(
      StreamGate.replayCsvMultiBatch(spark, _, _, "hh_spec", "update")(
        df => EventStream.heavyHitterCandidates(df, "k", shards, cap)))
    val rows = sink.select("shard", "seen", "keys")
      .as[(Int, Long, Seq[Long])].collect()
    // at least one shard emitted more than once (true multi-batch replay)
    assert(rows.groupBy(_._1).exists(_._2.length > 1),
      s"replay collapsed to one batch: ${rows.toSeq}")
    // bounded candidate sets at every emission
    rows.foreach { case (sh, _, ks) =>
      assert(ks.size <= cap, s"shard $sh emitted ${ks.size} > cap $cap")
    }
    val fin = rows.groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }
    // per-shard totals reconcile with the input
    assert(fin.map(_._2).sum == data.size.toLong)
    // every key above its shard's seen/(cap+1) must be in its candidates
    val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    fin.foreach { case (sh, seen, ks) =>
      val mustSurvive = exact.filter { case (key, c) =>
        (((key.hashCode % shards) + shards) % shards) == sh &&
          c > seen / (cap + 1)
      }.keySet
      assert(mustSurvive.nonEmpty, s"degenerate shard $sh")
      assert(mustSurvive.subsetOf(ks.toSet),
        s"shard $sh lost heavy keys: ${mustSurvive -- ks.toSet}")
    }
  }

  test("candidates + exact batch pass reproduce the naive heavy-hitter " +
    "answer end to end") {
    val data = zipfKeys(keys = 200, scale = 3000)
    val k = 40L
    val sink = StreamGate.stageCsvAndReplay(data.toDF("k"), "hh_e2e")(
      StreamGate.replayCsvMultiBatch(spark, _, _, "hh_e2e", "update")(
        df => EventStream.heavyHitterCandidates(df, "k", 4, 64)))
    val fin = sink.select("shard", "seen", "keys")
      .as[(Int, Long, Seq[Long])].collect()
      .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }
    val n = fin.map(_._2).sum
    val cands = fin.flatMap(_._3).toSet
    val got = data.toDF("k").where(col("k").isin(cands.toSeq: _*))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * k > n)
      .as[(Long, Long)].collect().toMap
    val naive = data.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 * k > data.size).toMap
    assert(naive.nonEmpty)
    assert(got == naive)
  }
}
