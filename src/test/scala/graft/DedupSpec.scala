package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Reference SimHash in plain Scala (same spec: first 16 hex chars of
    * md5(token), bit j -> ±1, sum, sign). */
  private def simhashRef(text: String): Long = {
    val toks = text.toLowerCase.replaceAll("[^a-z ]", " ")
      .split("\\s+").filter(_.nonEmpty)
    val sums = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    toks.foreach { t =>
      val hex = md.digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      for (j <- 0 until 64) {
        val nib = Integer.parseInt(hex((j / 4)).toString, 16)
        val bit = (nib >> (3 - j % 4)) & 1
        sums(j) += (if (bit == 1) 1 else -1)
      }
    }
    (0 until 64).foldLeft(0L) { (acc, j) =>
      if (sums(j) > 0) acc | (1L << (63 - j)) else acc
    }
  }

  test("simhash64 matches the reference implementation") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "Hello, World! 123", "a", "", "same same same words",
      "spark native analytics engine at scale")
    val got = texts.toDF("t").select(Dedup.simhash64(col("t")))
      .as[Long].collect().toSeq
    assert(got == texts.map(simhashRef))
  }

  test("simhash of near-identical docs differs in few bits") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = a + " extra"
    val Seq(ha, hb) = Seq(a, b).toDF("t")
      .select(Dedup.simhash64(col("t"))).as[Long].collect().toSeq
    assert(java.lang.Long.bitCount(ha ^ hb) < 20)
  }

  test("fingerprint is whitespace/case-insensitive") {
    val fps = Seq("Hello   World", "hello world", "HELLO\tWORLD ", "other")
      .toDF("t").select(Dedup.fingerprint(col("t"))).as[String].collect()
    assert(fps(0) == fps(1) && fps(1) == fps(2) && fps(0) != fps(3))
  }

  test("exactGroups finds duplicate groups with min id and count") {
    val df = Seq((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "aa"))
      .toDF("id", "t")
    val g = Dedup.exactGroups(df, col("t"), col("id"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(g == Set((1L, 3L), (2L, 1L)))
  }

  test("identical docs share full minhash signatures; disjoint docs don't") {
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignature(df, col("text"), col("doc_id"), 8)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("lshCandidatePairs surfaces identical docs exactly once") {
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignature(df, col("text"), col("doc_id"), 8)
    val pairs = Dedup.lshCandidatePairs(sigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("lshCandidatePairs maxBucket salts oversized buckets: bounded " +
    "join, random (not wholesale) loss") {
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignature(df, col("text"), col("doc_id"), 8)
    assert(Dedup.lshCandidatePairs(sigs, "doc_id").count() == 3) // all pairs
    // cap 2 on a 3-doc bucket -> s = 2 md5-salted sub-buckets:
    // salt(1) = 0, salt(2) = 1, salt(3) = 0 (deterministic md5 buckets),
    // so {1,3} pair up and 2 is isolated — pairs survive WITHIN
    // sub-buckets where the old wholesale drop returned none
    val capped = Dedup.lshCandidatePairs(sigs, "doc_id", maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(capped == Seq((1L, 3L)))
  }

  test("connectedComponents: chains merge, singletons keep their own id") {
    // components: {1,2,3,4} via a chain (diameter 3 — needs multiple
    // propagation rounds), {10,11}, and isolated {99}
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id1", "id2")
    val got = Dedup.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
    // no edges: every node is its own component
    val lone = Dedup.connectedComponents(nodes,
      Seq.empty[(Long, Long)].toDF("id1", "id2"))
      .as[(Long, Long)].collect().toMap
    assert(lone == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      10L -> 10L, 11L -> 11L, 99L -> 99L))
  }

  test("connectedComponents: throws on non-convergence instead of " +
    "silently splitting a wide component") {
    // a path graph of diameter 6: min-label propagation moves the minimum
    // one hop per round, so maxIter = 2 cannot converge
    val n = 7
    val nodes = (1L to n).toDF("doc_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("id1", "id2")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, edges, maxIter = 2)
    }
    assert(ex.getMessage.contains("did not converge"))
    // with budget for the full diameter it converges to one component
    val got = Dedup.connectedComponents(nodes, edges, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to n).map(_ -> 1L).toMap)
  }

  test("connectedComponents: checkpoint storage stays bounded across " +
    "many propagation rounds") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // diameter-8 path: >= 8 rounds, each localCheckpointing a new label
    // snapshot — the loop must release prior rounds as it goes
    val n = 9
    val nodes = (1L to n).toDF("doc_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("id1", "id2")
    val labels = Dedup.connectedComponents(nodes, edges, maxIter = 15)
    assert(labels.as[(Long, Long)].collect().toMap ==
      (1L to n).map(_ -> 1L).toMap)
    val leaked = sc.getPersistentRDDs.keySet.diff(before)
    // only the FINAL label snapshot may still hold blocks (the caller's
    // result); every per-round intermediate must have been unpersisted.
    // unpersist is async (blocking=false), so allow a small constant —
    // the point is it does not grow with the number of rounds (~9 here).
    assert(leaked.size <= 3,
      s"expected bounded checkpoint storage, leaked RDD ids: $leaked")
  }

  test("shingles: n-grams for long docs, whole text for short ones") {
    val got = Seq("a b c d", "a b").toDF("t")
      .select(Dedup.shingles(col("t"), 3)).as[Seq[String]].collect().toSeq
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("a b"))
  }

  test("dropCollidingWithIndex: a row survives only if EVERY key probe " +
    "misses the index") {
    val rows = Seq(
      (1L, "x1", "y1"), // both novel -> kept
      (2L, "x2", "hit"), // second key collides -> dropped
      (3L, "hit", "y3"), // first key collides -> dropped
      (4L, "x4", "y4")   // kept
    ).toDF("id", "k0", "k1")
    val index = Seq("hit", "other").toDF("band")
    val got = graft.streaming.EventStream
      .dropCollidingWithIndex(rows, index, Seq("k0", "k1"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 4L))
    // the anti-join chain is stateless probes — with the default
    // broadcast, every probe plans as a broadcast anti join
    val p = graft.streaming.EventStream
      .dropCollidingWithIndex(rows, index, Seq("k0", "k1"))
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin .*LeftAnti".r.findAllIn(p).size == 2 ||
      "LeftAnti, BuildRight".r.findAllIn(p).size == 2,
      s"expected two broadcast anti probes:\n$p")
  }

  test("exactSimilarityPairs equals brute-force Jaccard on random sets " +
    "(prefix filtering loses no pair)") {
    // random universes small enough that many pairs straddle the 0.6
    // boundary and set sizes differ (the size band + ceil boundary cases
    // get exercised), spread over partitions
    val rnd = new scala.util.Random(11)
    val univ = (0 until 40).map(i => f"e$i%02d")
    val sets = (0L until 120L).map { id =>
      val n = 3 + rnd.nextInt(12)
      (id, rnd.shuffle(univ).take(n).toSeq)
    }
    val df = sets.toDF("doc_id", "sh").repartition(5)
    val t = 0.6
    val got = Dedup.exactSimilarityPairs(df, t)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val bySet = sets.toMap.view.mapValues(_.toSet).toMap
    val want = (for {
      a <- sets.map(_._1); b <- sets.map(_._1) if a < b
      inter = (bySet(a) & bySet(b)).size.toDouble
      if inter / (bySet(a).size + bySet(b).size - inter) >= t
    } yield (a, b)).toSet
    assert(want.nonEmpty, "degenerate test: no similar pairs generated")
    assert(got == want)
  }

  test("exactSimilarityPairs finds identical and boundary-ratio sets") {
    // hand-built edge cases around ceil(t*n): identical sets (jaccard 1),
    // an 3-of-4 overlap (0.6 exactly at inter=3, union=5), a just-below
    // pair, and size-band extremes
    val rows = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "d")),      // identical -> 1.0
      (3L, Seq("a", "b", "c", "e")),      // inter 3, union 5 -> 0.6 kept
      (4L, Seq("a", "b", "x", "y")),      // inter 2, union 6 -> 0.333 out
      (5L, Seq("a")),                     // tiny set, band prunes vs 4-sets
      (6L, Seq("a"))                      // identical singletons -> 1.0
    )
    val got = Dedup.exactSimilarityPairs(rows.toDF("doc_id", "sh"), 0.6)
      .select("id1", "id2", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 1.0), (1L, 3L, 0.6), (2L, 3L, 0.6),
      (5L, 6L, 1.0)))
  }
}
