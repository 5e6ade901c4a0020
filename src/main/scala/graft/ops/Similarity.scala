package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector-similarity operators over an embedding column (`array<float>`).
  *
  * All math is done in double after casting, with *sequential* array-order
  * accumulation (`aggregate` over `zip_with`) — bit-deterministic and
  * reproducible across engines, unlike a shuffled SQL `sum` of exploded
  * elements. No UDFs; the fold stays inside Catalyst.
  *
  * Scale design: brute-force top-k is a map-side score + `TakeOrderedAndProject`
  * (distributed top-k, no global sort). The blocked/near-dup variants join
  * only within buckets. For 100 TB-scale ANN, [[cosineToCentroids]] is the
  * IVF building block: assign each vector to its nearest centroid, then
  * search only the probed cells.
  */
object Similarity {

  private def asDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential-order dot product of two equal-length vectors — native
    * [[graft.functions.DotProductExpr]] (tight JVM loop, bit-identical to
    * the declarative fold, ~4x faster; equality asserted in
    * NativeFunctionsSpec). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.DotProductExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(asDouble(a)),
        org.apache.spark.sql.graftbridge.Bridge.expression(asDouble(b))))

  /** The pure higher-order-function fold (kept for cross-checking). */
  def dotDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Brute-force exact top-k by cosine against one query vector (passed as
    * a literal array — the "parameter" of the query). Deterministic
    * tiebreak on id. Plans as scan -> project(score) -> TakeOrderedAndProject:
    * no shuffle of the full table, scales linearly. */
  def knn(df: DataFrame, emb: Column, id: Column, queryVec: Seq[Double],
          k: Int): DataFrame = {
    val q = array(queryVec.map(lit): _*)
    // order by the ROUNDED score (then id): sub-ulp accumulation
    // differences can't flip the ordering, so results are reproducible
    // across engines/partitionings
    df.select(id.as("vec_id"), round(cosine(emb, q), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Exact near-duplicate pairs within a blocking key (e.g. label, LSH
    * bucket, IVF cell): per-block self-join keeps the quadratic term local
    * to the block.
    *
    * `maxBlock` bounds degenerate blocks with a two-level, data-adaptive
    * split (the embedding analogue of [[Dedup.lshCandidatePairs]]'s
    * over-cap salting — without it a FIXED-cardinality blocking key, 10
    * labels or 256 sign-projection buckets, grows N per block at N× data
    * and the pair join goes N² quadratic):
    *
    *  1. '''LSH refinement''' (recall-preserving): an over-cap block of b
    *     vectors splits into 2^e sub-buckets, e = min(⌈log2 ⌈b/maxBlock⌉⌉,
    *     `refinePlanes`), keyed by the low e bits of an EXTENDED
    *     sign-projection signature (planes `8 until 8+refinePlanes` of the
    *     same LCG hyperplane family as [[lshBucket]] — disjoint from the
    *     blocking planes, so the refinement is independent of the block
    *     key). Unlike a random salt, near-identical vectors agree on each
    *     extra plane with probability 1 − θ/π (exact duplicates with
    *     probability 1), so true near-dup pairs stay co-bucketed while the
    *     block's population spreads across 2^e ≥ ⌈b/maxBlock⌉ keys.
    *  2. '''md5 salt''' (hard worst-case bound): a sub-bucket still over
    *     TWICE the cap — possible only when the data is degenerate, e.g.
    *     one colinear cluster hyperplanes cannot separate — splits by a
    *     deterministic md5 salt on the id, exactly [[Dedup]]'s scheme.
    *     The factor-2 slack keeps the lossy salt from engaging on
    *     sub-buckets the refinement already brought near the cap (level
    *     1 targets `maxBlock` in EXPECTATION; binomial spread puts some
    *     sub-buckets modestly over). Per-row join work stays ≤ 2·maxBlock
    *     — same asymptotics, and the random 1 − 1/s pair loss is confined
    *     to colinear mass, which is exact-dup territory where
    *     [[Dedup.exactGroups]] is the right tool anyway.
    *
    * Both levels are md5/LCG-deterministic, so re-runs, repartitions, and
    * the DuckDB oracle reproduce the identical pair set. The default cap
    * is `Int.MaxValue` = never split (exact within-block pairs).
    * `dims` is required when a finite cap is set (the refinement planes
    * need the vector width). */
  def nearDupPairsBlocked(df: DataFrame, emb: Column, id: Column,
                          block: Column, minCos: Double,
                          maxBlock: Int = Int.MaxValue, dims: Int = 0,
                          refinePlanes: Int = 16): DataFrame = {
    // norms computed once per vector BEFORE the join (the per-pair cost is
    // then a single dot-product fold, not three)
    if (maxBlock == Int.MaxValue) {
      val v = df.select(block.as("blk"), id.as("vid"), emb.as("e"),
        l2Norm(emb).as("nrm"))
      val l = v.as("l"); val r = v.as("r")
      l.join(r, col("l.blk") === col("r.blk") && col("l.vid") < col("r.vid"))
        .select(col("l.vid").as("id1"), col("r.vid").as("id2"),
          (dot(col("l.e"), col("r.e")) / (col("l.nrm") * col("r.nrm")))
            .as("cos"))
        .where(col("cos") >= minCos)
    } else {
      require(dims > 0, "dims is required when maxBlock is finite")
      require(refinePlanes >= 1 && refinePlanes <= 32,
        s"refinePlanes must be in [1, 32], got $refinePlanes")
      // materialized once (localCheckpoint): consumed by the block-size
      // aggregate AND both self-join sides — without it the upstream scan
      // (plus 8 + refinePlanes plane dots per row) runs three times. The
      // size joins are block-cardinality-sized, so AQE broadcasts them.
      val v = df.select(block.as("blk"), id.as("vid"), emb.as("e"),
          l2Norm(emb).as("nrm"),
          lshBucket(emb, dims, refinePlanes, firstPlane = 8).as("_xsig"))
        .localCheckpoint(false)
      // e extra planes for a block of b: s = ceil(b/maxBlock) target
      // sub-buckets, e = bit-length of (s-1) — integer-exact (length of
      // the binary rendering, no float log2), capped at refinePlanes
      val sized = v.groupBy("blk").agg(count(lit(1)).as("_bsz"))
      val sM1 = floor((col("_bsz") - 1) / maxBlock) // = s - 1
      val eBits = least(when(sM1 === 0, lit(0))
        .otherwise(length(bin(sM1))), lit(refinePlanes))
      val refined = v.join(sized, "blk")
        .select(col("vid"), col("e"), col("nrm"), col("blk"),
          col("_xsig").bitwiseAND(
            pow(lit(2.0), eBits).cast("long") - 1).as("_sub"))
      // level 2: md5-salt any sub-bucket still over TWICE the cap
      // (degenerate colinear mass the hyperplanes cannot separate) —
      // hard 2·maxBlock bound, see the Scaladoc for the slack rationale
      val sized2 = refined.groupBy("blk", "_sub")
        .agg(count(lit(1)).as("_bsz2"))
      val salted = refined.join(sized2, Seq("blk", "_sub"))
        .select(col("vid"), col("e"), col("nrm"), col("blk"), col("_sub"),
          (conv(substring(md5(col("vid").cast("string").cast("binary")),
            1, 8), 16, 10).cast("long") %
            (floor((col("_bsz2") - 1) / (2L * maxBlock)) + 1)).as("_salt"))
      val l = salted.as("l"); val r = salted.as("r")
      l.join(r, col("l.blk") === col("r.blk") &&
          col("l._sub") === col("r._sub") &&
          col("l._salt") === col("r._salt") &&
          col("l.vid") < col("r.vid"))
        .select(col("l.vid").as("id1"), col("r.vid").as("id2"),
          (dot(col("l.e"), col("r.e")) / (col("l.nrm") * col("r.nrm")))
            .as("cos"))
        .where(col("cos") >= minCos)
    }
  }

  /** Sign-random-projection LSH bucket (the ANN scale path alongside IVF):
    * `planes` pseudo-random hyperplanes with weights from a linear
    * congruential generator over (plane, dim) — pure integer arithmetic
    * then one exact division, so any engine reproduces the same weights
    * bit-for-bit. Bucket = little-endian bits of sign(v . h_p). Vectors in
    * the same bucket are near-duplicate candidates; at scale, candidate
    * generation is a groupBy on the bucket.
    *
    * `firstPlane` selects a window of the same infinite LCG plane family:
    * planes `firstPlane until firstPlane + planes`, with bit i of the
    * bucket taken from plane `firstPlane + i`. The capped near-dup join
    * uses planes 8+ as a refinement signature independent of the 0-7
    * blocking bucket. */
  /** The (plane, dim) LCG hyperplane weight — pure integer arithmetic
    * then one exact division, bit-identical on any engine. Shared by the
    * column-side bucket/signature builders and driver-side probe-set
    * derivation ([[lshPlaneDots]]). */
  def lshWeight(p: Int, dims: Int, d: Int): Double =
    ((1103515245L * (p * dims + d) + 12345L) % 2147483648L).toDouble /
      2147483648.0 - 0.5

  /** Driver-side plane dots of one vector against planes
    * `firstPlane until firstPlane + planes` — sequential accumulation,
    * the same order as [[DotProductExpr]]'s fold. */
  def lshPlaneDots(v: Seq[Double], dims: Int, planes: Int,
                   firstPlane: Int = 0): IndexedSeq[Double] = {
    require(v.length == dims, s"vector length ${v.length} != dims $dims")
    (firstPlane until firstPlane + planes).map { p =>
      var acc = 0.0
      var d = 0
      while (d < dims) { acc += v(d) * lshWeight(p, dims, d); d += 1 }
      acc
    }
  }

  def lshBucket(emb: Column, dims: Int, planes: Int = 8,
                firstPlane: Int = 0): Column = {
    // weights are compile-time constants: materialize them as literal
    // arrays (identical values to the SQL-side arithmetic) instead of
    // re-deriving 512 LCG chains per row inside the lambda
    def weight(p: Int, d: Int): Double = lshWeight(p, dims, d)
    val v = asDouble(emb)
    (firstPlane until firstPlane + planes).map { p =>
      val w = array((0 until dims).map(d => lit(weight(p, d))): _*)
      // native sequential-order dot (identical accumulation order to the
      // zip_with/aggregate fold, asserted in NativeFunctionsSpec) — 8
      // interpreted 64-element lambda folds per row would dominate the
      // scan otherwise. DotProductExpr throws on a length mismatch, so a
      // short vector fails loudly instead of hashing to bucket 0.
      val dotP = dot(v, w)
      // NOTE cross-engine caveat: the weights are bit-exact everywhere,
      // but the SIGN test compares a float sum whose accumulation order
      // differs between engines — a plane-dot within ~1e-13 of zero could
      // bucket differently (never observed on the fixtures; min |dot|
      // measured 8.8e-5)
      when(dotP > 0, lit(1L << (p - firstPlane))).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Multi-probe LSH search (the Lv et al., VLDB 2007 shape over
    * sign-projection buckets): for one query vector, probe its own
    * bucket PLUS the buckets reached by flipping the `flips`
    * lowest-|margin| planes — the hyperplanes the query sits closest
    * to, hence the buckets most likely to hold near neighbors that
    * landed a hair across a boundary. The probe set is pure driver math
    * on the query literal (the same LCG weights as [[lshBucket]],
    * [[lshPlaneDots]]); candidates come from ONE scan filtered to the
    * probe set — at scale, with the bucket materialized as a
    * partition/cluster key, that prunes I/O to `flips + 1` buckets —
    * then exact cosine re-ranks and `TakeOrderedAndProject` takes the
    * distributed top-k. Versus single-bucket probing this trades a
    * bounded, data-independent number of extra buckets for most of the
    * boundary-miss recall loss; versus more planes it needs no index
    * rebuild. Margin ties break on the lower plane index (deterministic
    * cross-engine, same caveat class as the bucket sign note). */
  def multiProbeSearch(df: DataFrame, emb: Column, id: Column,
                       queryVec: Seq[Double], dims: Int, k: Int,
                       planes: Int = 8, flips: Int = 3): DataFrame = {
    require(flips >= 0 && flips <= planes)
    val dots = lshPlaneDots(queryVec, dims, planes)
    val base = dots.zipWithIndex
      .map { case (d, p) => if (d > 0) 1L << p else 0L }.sum
    val flipPlanes = dots.zipWithIndex
      .sortBy { case (d, p) => (math.abs(d), p) }.take(flips).map(_._2)
    val probes = base +: flipPlanes.map(p => base ^ (1L << p))
    val q = array(queryVec.map(lit): _*)
    df.select(id.as("vec_id"), emb.as("e"),
        lshBucket(emb, dims, planes).as("bucket"))
      .where(col("bucket").isin(probes: _*))
      .select(col("vec_id"), round(cosine(col("e"), q), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Assign every vector to its nearest centroid by ROUNDED cosine
    * (deterministic across engines; on a cosine tie the centroid listed
    * EARLIEST in `cents` wins — pass the model sorted by label ascending
    * for the conventional min-label tiebreak). The centroid "model"
    * arrives as driver-side literals — at scale the vectors stream
    * through one scan with a native dot per (vector, centroid); only the
    * model sits on the driver. Shared by the IVF assign step and the
    * k-means Lloyd iterations.
    *
    * The argmax is a shuffle-free fold: `array_max` over
    * `struct(cos, -position, label)` literals-plus-scores, which compares
    * field-by-field (max cos, then max negated position = earliest
    * centroid). Assignment never leaves the scan's whole-stage-codegen
    * projection — no k-times row amplification (posexplode) and no
    * full-table shuffle (window argmax), which at a realistic IVF book
    * (k in the thousands) would otherwise dominate the job. */
  def assignToCentroids(df: DataFrame, emb: Column, id: Column,
                        cents: Seq[(Any, Seq[Double])]): DataFrame = {
    require(cents.nonEmpty, "assignToCentroids needs at least one centroid")
    if (cents.forall(_._1.isInstanceOf[Long])) {
      // model as constructor data on ONE native expression instead of
      // ~70 literal nodes per centroid (the PqEncodeExpr discipline);
      // bit-identical to the literal form below — asserted in
      // NativeFunctionsSpec
      val v = df.select(id.as("vec_id"), asDouble(emb).as("e"))
      val best = org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.CentroidAssignExpr(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("e")),
          cents.map { case (l, m) => (l.asInstanceOf[Long], m) }))
      v.select(col("vec_id"), best.getField("assigned").as("assigned"),
        best.getField("cos").as("cos"))
    } else assignToCentroidsLiteral(df, emb, id, cents)
  }

  /** The literal-expression assignment [[assignToCentroids]] replaced
    * for long-labeled centroid tables — kept as the cross-check twin
    * and as the fallback for non-long labels. */
  def assignToCentroidsLiteral(df: DataFrame, emb: Column, id: Column,
                               cents: Seq[(Any, Seq[Double])]): DataFrame = {
    val v = df.select(id.as("vec_id"), asDouble(emb).as("e"))
    val scoredStructs = cents.zipWithIndex.map { case ((lbl, m), i) =>
      val mArr = array(m.map(lit): _*)
      val bb = math.sqrt(m.map(x => x * x).sum)
      // sqrt(dot(e,e)) appears once per centroid, but runtime
      // subexpression elimination inside the codegen'd Project computes
      // it once per row
      struct(
        round(dot(col("e"), mArr) /
          (sqrt(dot(col("e"), col("e"))) * lit(bb)), 6).as("cos"),
        lit(-i).as("tb"),
        lit(lbl).as("clabel"))
    }
    val best = array_max(array(scoredStructs.toIndexedSeq: _*))
    v.select(col("vec_id"), best.getField("clabel").as("assigned"),
      best.getField("cos").as("cos"))
  }

  /** Element-wise mean vector per group (the IVF "train" step): one
    * partial+final aggregate over the ORIGINAL rows via the native
    * [[graft.functions.VectorMeanAgg]] — the shuffle carries one
    * (dims+1)-value buffer per (partition, group), not `rows * dims`
    * exploded rows (the earlier posexplode formulation amplified every
    * 64-dim vector 64x into the exchange). Fully distributed, no driver
    * collection, no generator in the plan. */
  def centroids(df: DataFrame, emb: Column, group: Column): DataFrame =
    df.groupBy(group.as("grp"))
      .agg(graft.functions.GraftFunctions
        .vecMean(emb).as("centroid"))

  /** Product-quantization encode (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): split each vector into
    * `codebook.size` contiguous subvectors of `subDim` dims and replace
    * each with the label of its nearest codebook entry by ROUNDED squared
    * L2 distance (min-position tiebreak — pass each subspace's entries
    * sorted by label). A 64-dim float vector compresses to
    * `codebook.size` small ints — the memory step that makes
    * billion-vector ANN fit a cluster.
    *
    * Same scale shape as [[assignToCentroids]]: the codebook is MODEL
    * data carried by one native expression ([[graft.functions.
    * PqEncodeExpr]] — constructor field, not ~1000 inlined literal
    * nodes), the whole encode is one tight loop inside the scan's
    * codegen'd projection — one pass, no explode, no shuffle, no state
    * beyond the row. Bit-identical to the literal form (kept below as
    * [[pqCodesLiteral]]; equality asserted in NativeFunctionsSpec). */
  def pqCodes(df: DataFrame, emb: Column, id: Column,
              codebook: Seq[Seq[(Long, Seq[Double])]], subDim: Int)
  : DataFrame = {
    require(codebook.nonEmpty && codebook.forall(_.nonEmpty),
      "pqCodes needs at least one subspace and one centroid per subspace")
    val v = df.select(id.as("vec_id"), asDouble(emb).as("e"))
    val codes = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.PqEncodeExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("e")),
        codebook, subDim))
    val codeCols = codebook.indices.map(j =>
      element_at(codes, j + 1).as(s"code_$j"))
    v.select(col("vec_id") +: codeCols: _*)
  }

  /** The literal-expression PQ encode pqCodes replaced — each subspace's
    * argmin as an `array_min` fold over `struct(d2, position, label)`
    * built from inlined codebook literals. Kept as the cross-check twin:
    * NativeFunctionsSpec asserts row-for-row equality with [[pqCodes]]
    * on the real embeddings distribution. */
  def pqCodesLiteral(df: DataFrame, emb: Column, id: Column,
                     codebook: Seq[Seq[(Long, Seq[Double])]], subDim: Int)
  : DataFrame = {
    val v = df.select(id.as("vec_id"), asDouble(emb).as("e"))
    val codeCols = codebook.zipWithIndex.map { case (cents, j) =>
      val sub = slice(col("e"), j * subDim + 1, subDim)
      val structs = cents.zipWithIndex.map { case ((lbl, m), i) =>
        val mArr = array(m.map(lit): _*)
        val bb = m.map(x => x * x).sum
        // ||s - m||^2 = s.s - 2 s.m + m.m; s.s repeats across the k
        // entries but runtime subexpression elimination computes it once
        struct(
          round(dot(sub, sub) - lit(2.0) * dot(sub, mArr) + lit(bb), 6)
            .as("d2"),
          lit(i).as("tb"),
          lit(lbl).as("clabel"))
      }
      // array_min on structs = lexicographic (min d2, then min position)
      array_min(array(structs.toIndexedSeq: _*))
        .getField("clabel").as(s"code_$j")
    }
    v.select(col("vec_id") +: codeCols: _*)
  }
}
