package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frequency-threshold and fuzzy-match primitives whose whole point is
  * avoiding the quadratic / full-cardinality plans a naive formulation
  * shuffles at 100 TB. Shared by the registry queries and their specs
  * (the specs run THESE functions on adversarial synthetic data — no
  * drift between what is tested and what ships). */
object FrequentItems {

  /** Two-pass EXACT heavy hitters: every key of `key` whose count
    * exceeds N/k, computed without shuffling the full key cardinality.
    *
    * Pass 1 — ONE global ObjectHashAggregate running the Misra-Gries
    * summary ([[graft.functions.MisraGriesAgg]], capacity `cap`) plus
    * the stream total N. The MG undercount bound (<= N/(cap+1)) makes
    * the surviving keys a SUPERSET of every key with count > N/k
    * whenever cap >= k-1 (enforced here). Driver state: <= cap entries.
    *
    * Pass 2 — exact counting restricted to the candidates: the IN-set
    * filter sits BELOW the exchange, so the only key-shuffle carries
    * rows of <= cap keys, then the exact `cnt * k > N` threshold.
    * Result == the naive groupBy/HAVING answer, bit for bit.
    *
    * Returns (key, cnt) with `cnt` the exact count. */
  def exactHeavyHitters(df: DataFrame, key: Column, k: Long, cap: Int)
  : DataFrame = {
    require(cap >= k - 1,
      s"capacity $cap < k-1 = ${k - 1}: the Misra-Gries superset " +
        "guarantee (keys above N/(cap+1) survive) would not cover the " +
        "report threshold N/k")
    val toks = df.select(key.as("token"))
    val sk = toks.agg(
      graft.functions.GraftFunctions.misraGries(col("token"), cap)
        .as("mg"),
      count(lit(1)).as("n")).collect()(0)
    val candidates = sk.getMap[String, Long](0).keys.toSeq.sorted
    val n = sk.getLong(1)
    toks.where(col("token").isin(candidates: _*))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * k > n)
  }

  /** Edit-distance-1 similarity self-join via deletion-neighborhood
    * blocking (the SymSpell/FastSS signature scheme): every string emits
    * itself plus each single-character deletion as signatures; two
    * strings within Levenshtein distance 1 ALWAYS share a signature
    * (substitution: delete the differing position from both;
    * insert/delete: the shorter IS a deletion of the longer), so an
    * EQUI-join on the signature finds every true pair.
    *
    * The verify is POSITIONAL, not a per-candidate Levenshtein (the DP
    * was the measured hot phase — ~1M thresholded evaluations at sf0.1
    * cost 3.6 s where the join itself cost 1.3 s): each signature row
    * carries the SET of deletion positions that produce it (one run of
    * repeated characters yields one signature from several positions),
    * and a candidate pair is at distance <= 1 IFF its names differ in
    * length (the shorter IS a deletion of the longer — distance exactly
    * 1) OR some shared signature has a COMMON deletion position i (the
    * names then agree everywhere outside i and differ at i — a
    * substitution, distance exactly 1). Completeness: a substitution
    * pair differing at k shares the signature delete-at-k with k in
    * both position sets; a dist-2 pair has no such position (a common
    * position would itself witness dist <= 1). So the filtered,
    * deduplicated candidate set IS the exact distance-1 pair set, and
    * `dist` is identically 1: distinct inputs rule out 0, the witness
    * rules in 1. Both sides of the disjunction are O(1)-ish integer
    * work per candidate versus the DP's O(len) with per-call buffers.
    *
    * Input must be distinct non-null strings in column `name`. A
    * signature bucket only holds strings one insertion away from the
    * signature — bounded by alphabet x length, never corpus-sized — so
    * the join is linear-ish in rows where the exact formulation is
    * quadratic. Returns (name_a, name_b, dist) with name_a < name_b
    * and dist <= 1. */
  def editDistance1Pairs(names: DataFrame): DataFrame = {
    // lazy-checkpointed: the self-join would otherwise re-plan (and
    // re-execute) the per-name deletion-neighborhood explode on BOTH
    // sides — the string-transform scan is the expensive half of
    // candidate generation, and at any scale you materialize the
    // signature table once. `ds` is materialized first so the
    // distinct-signature position sets are built by 19x19 string
    // EQUALITY over precomputed deletions, not by recomputing the
    // deletion strings per (signature, position) probe.
    val sigs = names
      .select(col("name"),
        expr("""transform(sequence(1, length(name)),
               |  i -> concat(substr(name, 1, i-1), substr(name, i+1)))
               |""".stripMargin).as("ds"))
      .select(col("name"), explode(concat(
        array(struct(col("name").as("sig"), array(lit(0)).as("ps"))),
        expr("""transform(array_distinct(ds),
               |  s -> struct(s AS sig,
               |    filter(sequence(1, size(ds)),
               |           i -> element_at(ds, i) = s) AS ps))
               |""".stripMargin))).as("e"))
      .select(col("name"), col("e.sig").as("sig"), col("e.ps").as("ps"))
      .localCheckpoint(false)
    sigs.as("a")
      .join(sigs.as("b"),
        col("a.sig") === col("b.sig") && col("a.name") < col("b.name") &&
          (length(col("a.name")) =!= length(col("b.name")) ||
            arrays_overlap(col("a.ps"), col("b.ps"))))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        lit(1L).as("dist"))
      .distinct()
  }
}
