package graft
package registry

import SparkEntry.{tbl, staged, stagePartitionedObjects}
import Shared.{cleanToksSql, bm25ScoresDf, pcaCovCtes, embUnnestCte}
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding operators: similarity search (brute force, LSH, IVF, PQ),
  * clustering, PCA and centroid statistics. */
private[graft] object EmbQueries {

  /** DuckDB CTEs assigning each vector its LCG sign-projection bucket
    * (matches [[Similarity.lshBucket]](dims=64, planes=8)); expects the
    * `v` unnest CTE in scope, defines `lcg` and `buckets`. */
  private val lcgBucketCtes: String =
    """lcg AS (
      |  SELECT vec_id, p.p,
      |         sum(cast(vx AS double) *
      |             (cast((1103515245 * (p.p * 64 + (pos - 1)) + 12345)
      |                   % 2147483648 AS double) / 2147483648.0 - 0.5))
      |           AS dot
      |  FROM v CROSS JOIN (SELECT range AS p FROM range(8)) p
      |  GROUP BY vec_id, p.p
      |),
      |buckets AS (
      |  SELECT vec_id,
      |         cast(sum(CASE WHEN dot > 0 THEN power(2, p) ELSE 0 END)
      |              AS bigint) AS bucket
      |  FROM lcg GROUP BY vec_id
      |)""".stripMargin

  /** [[lcgBucketCtes]] widened to 24 planes: `buckets` from planes 0-7
    * (identical values) plus `xsigs(vec_id, xsig)` — the 16-bit extended
    * signature from planes 8-23 that the capped near-dup join's
    * refinement level keys on ([[Similarity.nearDupPairsBlocked]] with
    * `firstPlane = 8`). */
  private val lcgBucketXsigCtes: String =
    """lcg AS (
      |  SELECT vec_id, p.p,
      |         sum(cast(vx AS double) *
      |             (cast((1103515245 * (p.p * 64 + (pos - 1)) + 12345)
      |                   % 2147483648 AS double) / 2147483648.0 - 0.5))
      |           AS dot
      |  FROM v CROSS JOIN (SELECT range AS p FROM range(24)) p
      |  GROUP BY vec_id, p.p
      |),
      |buckets AS (
      |  SELECT vec_id,
      |         cast(sum(CASE WHEN dot > 0 THEN power(2, p) ELSE 0 END)
      |              FILTER (WHERE p < 8) AS bigint) AS bucket
      |  FROM lcg GROUP BY vec_id
      |),
      |xsigs AS (
      |  SELECT vec_id,
      |         cast(sum(CASE WHEN dot > 0 THEN power(2, p - 8) ELSE 0 END)
      |              FILTER (WHERE p >= 8) AS bigint) AS xsig
      |  FROM lcg GROUP BY vec_id
      |)""".stripMargin

  /** DuckDB twin of the capped within-block self-join
    * ([[Similarity.nearDupPairsBlocked]] with a finite `maxBlock`):
    * expects `blocks(vec_id, blk)` and `xsigs(vec_id, xsig)` in scope,
    * defines `pairs(id1, id2)`. Level 1 splits an over-cap block into
    * 2^e sub-buckets keyed by the low e xsig bits (e = bit-length of
    * ceil(b/cap) - 1, capped at 16); level 2 md5-salts any sub-bucket
    * still over TWICE the cap — both levels integer/md5-exact, so they
    * reproduce the engine's pair set at every data scale, not only where
    * no block happens to overflow. */
  private def embSaltedPairsCtes(cap: Int): String =
    s"""bsz AS (SELECT blk, count(*) AS b FROM blocks GROUP BY 1),
       |esz AS (
       |  SELECT blk,
       |         least(CASE WHEN (b - 1) // $cap = 0 THEN 0
       |                    ELSE length(bin((b - 1) // $cap)) END, 16) AS e
       |  FROM bsz
       |),
       |refined AS (
       |  SELECT vec_id, blk, xsig & ((1::BIGINT << e) - 1) AS sub
       |  FROM blocks JOIN esz USING (blk) JOIN xsigs USING (vec_id)
       |),
       |bsz2 AS (SELECT blk, sub, count(*) AS b2 FROM refined GROUP BY 1, 2),
       |salted AS (
       |  SELECT vec_id, blk, sub,
       |         ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT
       |           % ((b2 - 1) // ${2 * cap} + 1) AS salt
       |  FROM refined JOIN bsz2 USING (blk, sub)
       |),
       |pairs AS (
       |  SELECT a.vec_id AS id1, bb.vec_id AS id2
       |  FROM salted a JOIN salted bb
       |    ON a.blk = bb.blk AND a.sub = bb.sub AND a.salt = bb.salt
       |   AND a.vec_id < bb.vec_id
       |)""".stripMargin

  /** DuckDB twin of [[graft.ops.Pca.powerIteration]]: `iters` chained
    * matvec+normalize CTE pairs from the all-equal unit start (replaying
    * the engine's EXACT fixed-step arithmetic — parity does not rest on
    * convergence), then the same largest-|loading| sign normalization.
    * Expects `cov` in scope, defines `fin(pos, vv)`. */
  private def pcaPowerCtes(iters: Int, dims: Int): String = {
    // every link in the chain is MATERIALIZED: DuckDB otherwise INLINES
    // multiply-referenced CTEs, and a 24-deep chain of w_k/it_k pairs
    // (each referencing the previous twice) expands exponentially —
    // observed as "too many open files" from the repeated parquet scans
    val steps = (1 to iters).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT cov.i AS pos, sum(cov.c * it${k - 1}.vv) AS wv
         |  FROM cov JOIN it${k - 1} ON cov.j = it${k - 1}.pos GROUP BY 1
         |),
         |it$k AS MATERIALIZED (
         |  SELECT pos, wv / (SELECT sqrt(sum(wv * wv)) FROM w$k) AS vv
         |  FROM w$k
         |)""".stripMargin
    }.mkString(",\n")
    s"""it0 AS MATERIALIZED (
       |  SELECT DISTINCT pos, 1.0 / sqrt($dims.0) AS vv FROM v
       |),
       |$steps,
       |pick AS (
       |  SELECT min(pos) AS p0 FROM it$iters
       |  WHERE abs(vv) = (SELECT max(abs(vv)) FROM it$iters)
       |),
       |fin AS MATERIALIZED (
       |  SELECT pos,
       |         vv * (SELECT CASE WHEN t.vv >= 0 THEN 1.0 ELSE -1.0 END
       |               FROM it$iters t, pick WHERE t.pos = pick.p0) AS vv
       |  FROM it$iters
       |)""".stripMargin
  }

  /** PQ codebook: per subspace j, the per-label mean subvectors (sorted by
    * label — position therefore equals label, which the ADC lookup relies
    * on). The mean of a slice equals the slice of the mean, so one
    * vector-mean aggregate (the emb_centroids plan) trains every subspace;
    * entries are rounded to 6 decimals before any distance math so both
    * engines quantize against bit-identical model values. Driver state is
    * the model only (k x dims doubles). */
  private def pqCodebook(s: SparkSession, dir: String, m: Int = 4,
                         subDim: Int = 16): Seq[Seq[(Long, Seq[Double])]] = {
    val cents = graft.ops.Similarity.centroids(
        tbl(s, dir, "embeddings"), col("embedding"), col("label"))
      .select(col("grp").cast("long").as("lbl"),
        transform(col("centroid"), x => round(x, 6)).as("mv"))
      .orderBy("lbl").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    // The ADC lookup (`element_at(array(tab...), code + 1)`) treats the
    // centroid LABEL as an array POSITION. That is only sound when labels
    // are exactly 0..k-1 with no gaps — enforce it loudly here rather than
    // silently fetching wrong distances downstream on gapped label sets.
    val labels = cents.map(_._1)
    require(labels == (0L until labels.length.toLong),
      s"PQ codebook labels must be contiguous 0..k-1 (ADC lookup is " +
        s"positional); got ${labels.mkString("[", ",", "]")}")
    (0 until m).map(j => cents.map { case (l, mv) =>
      l -> mv.slice(j * subDim, (j + 1) * subDim) })
  }

  /** IVF×PQ composed search (Jégou et al. 2011's IVFADC — the shape
    * that serves billion-vector ANN): the coarse quantizer routes the
    * query to nprobe=3 of 10 cells, PQ codes score ONLY those cells'
    * candidates through 4 asymmetric-distance lookup tables (no raw
    * vectors touched), and exact cosine re-ranks just the 50-vector ADC
    * shortlist. Per query the exact-arithmetic cost drops from N
    * vectors (brute force) to ~3N/10 (IVF raw) to a FIXED 50 (this
    * composition). All distance math is the same rounded-deterministic
    * arithmetic as the component queries, so the oracle replays
    * routing, ADC, and re-rank end to end. Shared by
    * `emb_ivfpq_search` and the `emb_ivfpq_recall` contract. */
  private def ivfPqTop10(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val cb = pqCodebook(s, dir)
    val qvec = emb.where(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val qarr = array(qvec.map(lit): _*)
    val qnorm = math.sqrt(qvec.map(x => x * x).sum)
    // stage 1 — coarse routing: top-3 cells by rounded centroid cosine
    val probed = graft.ops.Similarity.centroids(
        emb, col("embedding"), col("label"))
      .select(col("grp").as("clabel"),
        round(Similarity.dot(col("centroid"), qarr) /
          (sqrt(Similarity.dot(col("centroid"), col("centroid"))) *
            lit(qnorm)), 6).as("ccos"))
      .orderBy(col("ccos").desc, col("clabel").asc)
      .limit(3).select("clabel")
    // stage 2 — ADC over the probed cells only: per-subspace distance
    // tables from the model (driver math, broadcast as literals)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dt: Seq[Seq[Double]] = cb.zipWithIndex.map { case (cents, j) =>
      val qs = qvec.slice(j * 16, (j + 1) * 16)
      cents.map { case (_, mv) =>
        r6(qs.zip(mv).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
    }
    val candidates =
      emb.join(broadcast(probed), col("label") === col("clabel"))
    val codes = Similarity.pqCodes(candidates, col("embedding"),
      col("vec_id"), cb, subDim = 16)
    val adc = round(dt.zipWithIndex.map { case (tab, j) =>
      element_at(array(tab.map(lit): _*),
        (col(s"code_$j") + 1).cast("int"))
    }.reduce(_ + _), 6)
    val shortlist = codes.select(col("vec_id"), adc.as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc).limit(50)
    // stage 3 — exact re-rank of the 50-row shortlist only
    emb.join(broadcast(shortlist), "vec_id")
      .select(col("vec_id"), col("adc"),
        round(Similarity.cosine(col("embedding"), qarr), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
  }

  /** DuckDB twin of [[graft.ops.Similarity.pqCodes]] over [[embUnnestCte]]:
    * `cb` = rounded per-(label, subspace) mean entries, `d` = rounded
    * squared L2 of every (vector, subspace, entry), `codes` = argmin with
    * the min-label tiebreak (rn = 1). */
  private val pqCodesCte =
    """cb AS (
      |  SELECT label AS clabel, (pos - 1) // 16 AS sub, pos,
      |         round(avg(cast(vx AS double)), 6) AS m
      |  FROM v GROUP BY label, (pos - 1) // 16, pos
      |),
      |d AS (
      |  SELECT v.vec_id, cb.sub, cb.clabel,
      |         round(sum(cast(v.vx AS double) * cast(v.vx AS double))
      |               - 2 * sum(cast(v.vx AS double) * cb.m)
      |               + sum(cb.m * cb.m), 6) AS d2
      |  FROM v JOIN cb ON v.pos = cb.pos
      |  GROUP BY v.vec_id, cb.sub, cb.clabel
      |),
      |codes AS (
      |  SELECT vec_id, sub, clabel,
      |         row_number() OVER (PARTITION BY vec_id, sub
      |                            ORDER BY d2 ASC, clabel ASC) AS rn
      |  FROM d
      |)""".stripMargin

  /** DuckDB CTE chain of the IVF×PQ composition ([[ivfPqTop10]]) over
    * [[embUnnestCte]] + [[pqCodesCte]]: query unnest (`q`/`qq`), coarse
    * cells (`c`/`cs`), top-3 routing (`probed`), per-subspace ADC tables
    * (`qsub`/`dt`), probed-cell ADC scores (`adc`), the 50-vector
    * shortlist (`short`), and the exact re-rank inputs over just the
    * shortlist (`ed`). Shared by the `emb_ivfpq_search` and
    * `emb_ivfpq_recall` oracles, which differ only in the final select. */
  private val ivfPqCtes =
    """q AS (
      |  SELECT unnest(embedding) AS qx,
      |         generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings WHERE vec_id = 0
      |), qq AS (
      |  SELECT sum(cast(qx AS double) * cast(qx AS double)) AS bb FROM q
      |), c AS (
      |  SELECT label AS clabel, pos, avg(cast(vx AS double)) AS m
      |  FROM v GROUP BY label, pos
      |), cs AS (
      |  SELECT clabel, sum(m * cast(qx AS double)) AS dot,
      |         sum(m * m) AS aa
      |  FROM c JOIN q USING (pos) GROUP BY clabel
      |), probed AS (
      |  SELECT clabel FROM (
      |    SELECT clabel, row_number() OVER (
      |      ORDER BY round(dot / (sqrt(aa) * sqrt(bb)), 6) DESC, clabel)
      |      AS rn
      |    FROM cs, qq) WHERE rn <= 3
      |), qsub AS (
      |  SELECT (pos - 1) // 16 AS sub, pos, cast(qx AS double) AS qx
      |  FROM q
      |), dt AS (
      |  SELECT cb.sub, cb.clabel,
      |         round(sum((qsub.qx - cb.m) * (qsub.qx - cb.m)), 6) AS dd
      |  FROM qsub JOIN cb ON qsub.pos = cb.pos
      |  GROUP BY cb.sub, cb.clabel
      |), adc AS (
      |  SELECT cd.vec_id, round(sum(dt.dd), 6) AS adc
      |  FROM codes cd
      |  JOIN dt ON cd.sub = dt.sub AND cd.clabel = dt.clabel
      |  JOIN embeddings e ON e.vec_id = cd.vec_id
      |  WHERE cd.rn = 1
      |    AND e.label IN (SELECT clabel FROM probed)
      |  GROUP BY cd.vec_id
      |), short AS (
      |  SELECT vec_id, adc FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 50
      |), ed AS (
      |  SELECT v.vec_id,
      |         sum(cast(v.vx AS double) * cast(q.qx AS double)) AS dot,
      |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa
      |  FROM v JOIN q USING (pos)
      |  WHERE v.vec_id IN (SELECT vec_id FROM short)
      |  GROUP BY v.vec_id
      |)""".stripMargin

  val queries: Seq[Query] = Seq(

    // HYBRID RETRIEVAL via RECIPROCAL-RANK FUSION — the standard lexical
    // + vector fusion: rank the corpus by BM25 and (separately) by
    // cosine to the query embedding, keep each list's top 50, and fuse
    // with RRF (Σ 1/(60 + rank)). Both rankings are global row_numbers
    // over rounded scores with id tiebreaks — planned as the
    // distributed GlobalRank/GlobalTies, no single-partition stage —
    // and the fusion is one tiny full-outer join of two ≤50-row lists.
    // Rank lists, not raw scores, are what make fusion robust to score
    // scale; determinism comes from rounding before ranking.
    Query("emb_hybrid_rrf", (s, dir) => {
      val wLex = org.apache.spark.sql.expressions.Window
        .orderBy(col("bm25").desc, col("doc_id"))
      val lex = bm25ScoresDf(s, dir)
        .withColumn("r_lex", row_number().over(wLex).cast("long"))
        .where(col("r_lex") <= 50)
        .select(col("doc_id").as("lid"), col("r_lex"))
      val emb = tbl(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val wVec = org.apache.spark.sql.expressions.Window
        .orderBy(col("cos").desc, col("vec_id"))
      val vec = emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(graft.ops.Similarity.cosine(col("embedding"),
            col("q_emb")), 6).as("cos"))
        .withColumn("r_vec", row_number().over(wVec).cast("long"))
        .where(col("r_vec") <= 50)
        .select(col("vec_id").as("vid"), col("r_vec"))
      lex.join(vec, col("lid") === col("vid"), "full_outer")
        .select(coalesce(col("lid"), col("vid")).as("id"),
          col("r_lex"), col("r_vec"),
          round(coalesce(lit(1.0) / (lit(60.0) +
              col("r_lex").cast("double")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) +
              col("r_vec").cast("double")), lit(0.0)), 9).as("rrf"))
        .orderBy(col("rrf").desc, col("id"))
        .limit(10)
    },
      // same BM25 and cosine formulations as text_bm25 / emb_knn_cosine,
      // ranked with identical rounded-score + id tiebreaks, fused with
      // the same DOUBLE-cast RRF arithmetic
      {
        val terms = Seq("join", "vector", "dup")
        val dfs = terms.zipWithIndex.map { case (t, i) =>
          s"cast(sum(CASE WHEN list_contains(l, '$t') THEN 1 ELSE 0 END) AS double) AS df$i"
        }.mkString(",\n         |                ")
        val tfs = terms.zipWithIndex.map { case (t, i) =>
          s"cast(len(list_filter(l, x -> x = '$t')) AS double) AS tf$i"
        }.mkString(",\n         |         ")
        val score = terms.indices.map { i =>
          s"ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0) * (tf$i * 2.2) / " +
            s"(tf$i + 1.2 * (0.25 + 0.75 * dl / avgdl))"
        }.mkString("\n         |           + ")
        s"""WITH tk AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
           |base AS (SELECT doc_id, l, cast(len(l) AS double) AS dl FROM tk),
           |stats AS (SELECT cast(count(*) AS double) AS n, avg(dl) AS avgdl,
           |                $dfs
           |         FROM base),
           |tf AS (SELECT doc_id, dl,
           |         $tfs
           |       FROM base),
           |bm AS (SELECT doc_id, round($score, 6) AS bm25
           |       FROM tf CROSS JOIN stats),
           |lex AS (
           |  SELECT doc_id AS lid,
           |         cast(row_number() OVER (ORDER BY bm25 DESC, doc_id)
           |              AS BIGINT) AS r_lex
           |  FROM bm QUALIFY r_lex <= 50
           |),
           |q AS (
           |  SELECT unnest(embedding) AS qx,
           |         generate_subscripts(embedding, 1) AS pos
           |  FROM embeddings WHERE vec_id = 0
           |), $embUnnestCte,
           |d AS (
           |  SELECT v.vec_id,
           |         sum(cast(vx AS double) * cast(qx AS double)) AS dot,
           |         sum(cast(vx AS double) * cast(vx AS double)) AS aa
           |  FROM v JOIN q USING (pos) GROUP BY v.vec_id
           |), qq AS (
           |  SELECT sum(cast(qx AS double) * cast(qx AS double)) AS bb FROM q
           |),
           |cosd AS (SELECT vec_id, round(dot / (sqrt(aa) * sqrt(bb)), 6)
           |                  AS cos
           |         FROM d, qq),
           |vecr AS (
           |  SELECT vec_id AS vid,
           |         cast(row_number() OVER (ORDER BY cos DESC, vec_id)
           |              AS BIGINT) AS r_vec
           |  FROM cosd QUALIFY r_vec <= 50
           |)
           |SELECT coalesce(lid, vid) AS id, r_lex, r_vec,
           |       round(coalesce(CAST(1.0 AS DOUBLE)
           |                      / (CAST(60.0 AS DOUBLE) + r_lex::DOUBLE),
           |                      CAST(0.0 AS DOUBLE))
           |           + coalesce(CAST(1.0 AS DOUBLE)
           |                      / (CAST(60.0 AS DOUBLE) + r_vec::DOUBLE),
           |                      CAST(0.0 AS DOUBLE)), 9) AS rrf
           |FROM lex FULL OUTER JOIN vecr ON lid = vid
           |ORDER BY rrf DESC, id LIMIT 10""".stripMargin
      }),

    // Matryoshka-representation recall: how much top-10 cosine
    // retrieval quality survives truncating the 64-dim embeddings to
    // their FIRST 16 dims (the MRL deployment question — prefix dims
    // as the cheap index, full dims as the re-rank). For 20 query
    // vectors: exact top-10 under full-dim cosine vs top-10 under
    // prefix-dim cosine, recall = overlap/10. One scan × broadcast
    // query set; BOTH rankings come from row_number windows
    // partitioned by query (distributed by qid — never a global
    // sort), cosines rounded to 6 with a vec_id tiebreak so the
    // rankings are reproducible cross-engine. The eval is
    // sample-bounded by construction (queries × corpus, one scan).
    Query("emb_mrl_recall", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val scored = e.select(col("vec_id"), col("embedding").as("e"))
        .crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(graft.ops.Similarity.cosine(col("e"), col("qe")), 6)
            .as("cf"),
          round(graft.ops.Similarity.cosine(
            slice(col("e"), 1, 16), slice(col("qe"), 1, 16)), 6)
            .as("cp"))
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cf").desc, col("vec_id").asc)
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cp").desc, col("vec_id").asc)
      scored.select(col("qid"), row_number().over(wf).as("rf"),
          row_number().over(wp).as("rp"))
        .groupBy("qid")
        .agg((sum(when(col("rf") <= 10 && col("rp") <= 10, 1L)
          .otherwise(0L)).cast("double") / 10.0).as("recall"))
    },
      s"""WITH $embUnnestCte,
         |q AS (
         |  SELECT vec_id AS qid, pos, vx AS qx FROM v WHERE vec_id < 20
         |), p AS (
         |  SELECT q.qid, v.vec_id,
         |    sum(CAST(v.vx AS DOUBLE) * CAST(q.qx AS DOUBLE)) AS dot_f,
         |    sum(CAST(v.vx AS DOUBLE) * CAST(v.vx AS DOUBLE)) AS aa_f,
         |    sum(CAST(q.qx AS DOUBLE) * CAST(q.qx AS DOUBLE)) AS bb_f,
         |    sum(CASE WHEN v.pos <= 16 THEN
         |          CAST(v.vx AS DOUBLE) * CAST(q.qx AS DOUBLE)
         |        ELSE 0 END) AS dot_p,
         |    sum(CASE WHEN v.pos <= 16 THEN
         |          CAST(v.vx AS DOUBLE) * CAST(v.vx AS DOUBLE)
         |        ELSE 0 END) AS aa_p,
         |    sum(CASE WHEN v.pos <= 16 THEN
         |          CAST(q.qx AS DOUBLE) * CAST(q.qx AS DOUBLE)
         |        ELSE 0 END) AS bb_p
         |  FROM v JOIN q ON v.pos = q.pos AND v.vec_id <> q.qid
         |  GROUP BY 1, 2
         |), r AS (
         |  SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      round(dot_f / (sqrt(aa_f) * sqrt(bb_f)), 6) DESC,
         |      vec_id ASC) AS rf,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      round(dot_p / (sqrt(aa_p) * sqrt(bb_p)), 6) DESC,
         |      vec_id ASC) AS rp
         |  FROM p
         |)
         |SELECT qid, sum(CASE WHEN rf <= 10 AND rp <= 10 THEN 1
         |                ELSE 0 END) / 10.0 AS recall
         |FROM r GROUP BY 1""".stripMargin),

    // BINARY-HAMMING ANN — 64-bit sign codes (1 bit per dim, packed
    // into two 32-bit halves by a single in-scan fold — no explode, no
    // shuffle to build the index) ranked by bit_count(xor) against the
    // exact cosine top-10: the memory-bound deployment question (64
    // bits vs 256 bytes per vector) answered as recall@10 per query.
    // Codegen-friendly: the fold, xor and popcount are all built-in
    // expressions; ranking is per-query windows (distributed by qid).
    Query("emb_hamming_recall", (s, dir) => {
      val signCode = (lo: Int) =>
        s"aggregate(slice(embedding, $lo, 32), 0L, " +
          "(acc, x) -> acc * 2L + IF(x > 0d, 1L, 0L))"
      val codes = tbl(s, dir, "embeddings").select(col("vec_id"),
        col("embedding"), expr(signCode(1)).as("lo"),
        expr(signCode(33)).as("hi"))
      val q = codes.select(col("vec_id").as("qid"),
          col("embedding").as("qe"), col("lo").as("qlo"),
          col("hi").as("qhi"))
        .where(col("qid") < 20)
      val scored = codes.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(graft.ops.Similarity.cosine(col("embedding"), col("qe")),
            6).as("cf"),
          expr("bit_count(lo ^ qlo) + bit_count(hi ^ qhi)").as("ham"))
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cf").desc, col("vec_id").asc)
      val wh = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("ham").asc, col("vec_id").asc)
      scored.select(col("qid"), row_number().over(wf).as("rf"),
          row_number().over(wh).as("rh"))
        .groupBy("qid")
        .agg((sum(when(col("rf") <= 10 && col("rh") <= 10, 1L)
          .otherwise(0L)).cast("double") / 10.0).as("recall"))
    },
      s"""WITH $embUnnestCte,
         |codes AS (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN vx > 0 AND pos <= 32
         |                  THEN (1::BIGINT << (32 - pos))
         |                  ELSE 0 END) AS BIGINT) AS lo,
         |    CAST(sum(CASE WHEN vx > 0 AND pos > 32
         |                  THEN (1::BIGINT << (64 - pos))
         |                  ELSE 0 END) AS BIGINT) AS hi
         |  FROM v GROUP BY 1
         |), q AS (
         |  SELECT vec_id AS qid, pos, vx AS qx FROM v WHERE vec_id < 20
         |), p AS (
         |  SELECT q.qid, v.vec_id,
         |    sum(CAST(v.vx AS DOUBLE) * CAST(q.qx AS DOUBLE)) AS dot_f,
         |    sum(CAST(v.vx AS DOUBLE) * CAST(v.vx AS DOUBLE)) AS aa_f,
         |    sum(CAST(q.qx AS DOUBLE) * CAST(q.qx AS DOUBLE)) AS bb_f
         |  FROM v JOIN q ON v.pos = q.pos AND v.vec_id <> q.qid
         |  GROUP BY 1, 2
         |), r AS (
         |  SELECT p.qid, p.vec_id,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      round(dot_f / (sqrt(aa_f) * sqrt(bb_f)), 6) DESC,
         |      p.vec_id ASC) AS rf,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      bit_count(xor(c.lo, cq.lo)) + bit_count(xor(c.hi, cq.hi))
         |        ASC, p.vec_id ASC) AS rh
         |  FROM p JOIN codes c ON p.vec_id = c.vec_id
         |         JOIN codes cq ON p.qid = cq.vec_id
         |)
         |SELECT qid, sum(CASE WHEN rf <= 10 AND rh <= 10 THEN 1
         |                ELSE 0 END) / 10.0 AS recall
         |FROM r GROUP BY 1""".stripMargin),

    // Brute-force exact cosine top-20 against vec_id=0's embedding
    Query("emb_knn_cosine", (s, dir) => {
      val q = tbl(s, dir, "embeddings").where(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.knn(tbl(s, dir, "embeddings"), col("embedding"),
        col("vec_id"), q, 20)
    },
      s"""WITH q AS (
         |  SELECT unnest(embedding) AS qx,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings WHERE vec_id = 0
         |), $embUnnestCte,
         |d AS (
         |  SELECT v.vec_id,
         |         sum(cast(vx AS double) * cast(qx AS double)) AS dot,
         |         sum(cast(vx AS double) * cast(vx AS double)) AS aa
         |  FROM v JOIN q USING (pos) GROUP BY v.vec_id
         |), qq AS (
         |  SELECT sum(cast(qx AS double) * cast(qx AS double)) AS bb FROM q
         |)
         |SELECT vec_id, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |FROM d, qq
         |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin),

    // Multi-vector late-interaction retrieval (MaxSim): score each
    // candidate group (label) against a multi-vector query — sum over
    // query vectors of the max cosine to any of the group's vectors —
    // the ColBERT scoring shape. The query side (4 vectors) broadcasts
    // as a model-sized literal table; candidates stream through one scan
    // and two key-space-sized aggregations. Cosines are rounded before
    // max (round is monotone, so max commutes with it on both engines).
    Query("emb_maxsim", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.where(col("label") === 0).orderBy("vec_id").limit(4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      emb.crossJoin(broadcast(q))
        .select(col("label"), col("q_id"),
          round(Similarity.cosine(col("embedding"), col("q_emb")), 6)
            .as("cos"))
        .groupBy("label", "q_id").agg(max(col("cos")).as("best"))
        .groupBy("label").agg(round(sum(col("best")), 6).as("maxsim"),
          count(lit(1)).as("n_q"))
    },
      s"""WITH $embUnnestCte,
         |q AS (
         |  SELECT vec_id AS q_id, pos, vx AS qx FROM v
         |  WHERE vec_id IN (SELECT vec_id FROM embeddings
         |                   WHERE label = 0 ORDER BY vec_id LIMIT 4)
         |), d AS (
         |  SELECT v.vec_id, v.label, q.q_id,
         |         sum(cast(v.vx AS double) * cast(q.qx AS double)) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa,
         |         sum(cast(q.qx AS double) * cast(q.qx AS double)) AS bb
         |  FROM v JOIN q ON v.pos = q.pos
         |  GROUP BY v.vec_id, v.label, q.q_id
         |), m AS (
         |  SELECT label, q_id,
         |         max(round(dot / (sqrt(aa) * sqrt(bb)), 6)) AS best
         |  FROM d GROUP BY label, q_id
         |)
         |SELECT label, round(sum(best), 6) AS maxsim, count(*) AS n_q
         |FROM m GROUP BY label""".stripMargin),

    // Per-label norm statistics (order-independent min/max of rounded norms)
    Query("emb_norm_stats", (s, dir) =>
      tbl(s, dir, "embeddings")
        .select(col("label"),
          Similarity.l2Norm(col("embedding")).as("norm"))
        .groupBy("label")
        .agg(count(lit(1)).as("cnt"),
          min(round(col("norm"), 6)).as("min_norm"),
          max(round(col("norm"), 6)).as("max_norm")),
      s"""WITH $embUnnestCte,
         |n AS (
         |  SELECT vec_id, label,
         |         sqrt(sum(cast(vx AS double) * cast(vx AS double))) AS norm
         |  FROM v GROUP BY vec_id, label
         |)
         |SELECT label, count(*) AS cnt,
         |       min(round(norm, 6)) AS min_norm,
         |       max(round(norm, 6)) AS max_norm
         |FROM n GROUP BY label""".stripMargin),

    // IVF "train" step: element-wise centroid per label. Native vector-sum
    // aggregate over the ORIGINAL rows (one partial+final agg, no 64x
    // posexplode row amplification into the shuffle); the tiny per-label
    // result is exploded AFTER aggregation only to match the oracle's
    // (label, pos, m) shape.
    Query("emb_centroids", (s, dir) =>
      graft.ops.Similarity.centroids(
        tbl(s, dir, "embeddings"), col("embedding"), col("label"))
        .select(col("grp").as("label"),
          posexplode(col("centroid")).as(Seq("pos0", "x")))
        .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
          round(col("x"), 6).as("m")),
      s"""WITH $embUnnestCte
         |SELECT label, pos, round(avg(cast(vx AS double)), 6) AS m
         |FROM v GROUP BY label, pos""".stripMargin),

    // Embedding drift monitor: per-label centroid of the even-id half
    // vs the odd-id half, compared by cosine — the corpus-shift gate a
    // training pipeline runs between ingestion generations. ONE
    // vector-mean hash aggregate keyed (label, half) does all the data
    // work (~17 KB buffers, partial+final); the 2×|labels| centroid
    // rows then self-join and fold the cosine with codegen'd
    // zip_with/aggregate. Centroids round to 6 decimals BEFORE the
    // distance math so both engines fold bit-identical model values.
    Query("emb_centroid_shift", (s, dir) => {
      val halves = tbl(s, dir, "embeddings")
        .groupBy(col("label"), (col("vec_id") % 2).cast("long").as("half"))
        .agg(graft.functions.GraftFunctions
            .vecMean(col("embedding")).as("c"),
          count(lit(1)).as("n"))
        .select(col("label"), col("half"),
          transform(col("c"), x => round(x, 6)).as("c"), col("n"))
        // 2×|labels| centroid rows — checkpoint so the even/odd join
        // sides reuse them instead of re-aggregating the corpus twice
        .localCheckpoint(false)
      val ev = halves.where(col("half") === 0)
        .select(col("label"), col("c").as("ca"), col("n").as("n_even"))
      val od = halves.where(col("half") === 1)
        .select(col("label").as("lbl"), col("c").as("cb"),
          col("n").as("n_odd"))
      def fold(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        aggregate(v, lit(0.0), (acc, x) => acc + x)
      val dot = fold(zip_with(col("ca"), col("cb"), (x, y) => x * y))
      val na = sqrt(fold(zip_with(col("ca"), col("ca"), (x, y) => x * y)))
      val nb = sqrt(fold(zip_with(col("cb"), col("cb"), (x, y) => x * y)))
      ev.join(od, col("label") === col("lbl"))
        .select(col("label"), col("n_even"), col("n_odd"),
          round(dot / (na * nb), 6).as("cos_shift"))
    },
      // same rounded-centroid discipline as emb_centroids/PQ: means round
      // to 6 before the cosine, so both engines fold identical values
      s"""WITH $embUnnestCte,
         |h AS (
         |  SELECT label, (vec_id % 2)::BIGINT AS half, pos,
         |         round(avg(cast(vx AS double)), 6) AS m
         |  FROM v GROUP BY 1, 2, 3
         |), cnt AS (
         |  SELECT label, (vec_id % 2)::BIGINT AS half,
         |         count(*)::BIGINT AS n
         |  FROM embeddings GROUP BY 1, 2
         |), d AS (
         |  SELECT a.label,
         |         sum(a.m * b.m) AS dot,
         |         sqrt(sum(a.m * a.m)) AS na,
         |         sqrt(sum(b.m * b.m)) AS nb
         |  FROM h a JOIN h b ON a.label = b.label AND a.pos = b.pos
         |  WHERE a.half = 0 AND b.half = 1
         |  GROUP BY 1
         |)
         |SELECT d.label, ne.n AS n_even, no.n AS n_odd,
         |       round(dot / (na * nb), 6) AS cos_shift
         |FROM d
         |JOIN cnt ne ON d.label = ne.label AND ne.half = 0
         |JOIN cnt no ON d.label = no.label AND no.half = 1""".stripMargin),

    // Near-dup vector pairs, blocked by label. The label key has FIXED
    // cardinality (10), so per-block size grows N at N× data — the
    // maxBlock cap (LSH-refine then md5-salt, Similarity.scala) keeps the
    // self-join O(n · maxBlock) instead of quadratic; 40 engages the
    // refinement at every ladder rung including the sf0.01 oracle run.
    Query("emb_near_dup_pairs", (s, dir) =>
      Similarity.nearDupPairsBlocked(tbl(s, dir, "embeddings"),
        col("embedding"), col("vec_id"), col("label"), 0.0,
        maxBlock = 40, dims = 64)
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
        .where(col("cos") >= 0.35),
      s"""WITH $embUnnestCte,
         |$lcgBucketXsigCtes,
         |blocks AS (SELECT vec_id, label AS blk FROM embeddings),
         |${embSaltedPairsCtes(40)},
         |n AS (
         |  SELECT vec_id,
         |         sqrt(sum(cast(vx AS double) * cast(vx AS double))) AS norm
         |  FROM v GROUP BY vec_id
         |),
         |d AS (
         |  SELECT p.id1, p.id2,
         |         sum(cast(v1.vx AS double) * cast(v2.vx AS double)) AS dot
         |  FROM pairs p
         |  JOIN v v1 ON v1.vec_id = p.id1
         |  JOIN v v2 ON v2.vec_id = p.id2 AND v1.pos = v2.pos
         |  GROUP BY p.id1, p.id2
         |)
         |SELECT id1, id2, round(dot / (n1.norm * n2.norm), 6) AS cos
         |FROM d
         |JOIN n n1 ON d.id1 = n1.vec_id
         |JOIN n n2 ON d.id2 = n2.vec_id
         |WHERE round(dot / (n1.norm * n2.norm), 6) >= 0.35""".stripMargin),

    // Sign-random-projection LSH over embeddings (ANN bucket assignment);
    // hyperplane weights from integer LCG arithmetic — engine-portable
    Query("emb_lsh_buckets", (s, dir) =>
      tbl(s, dir, "embeddings").select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), 64, 8).as("bucket")),
      s"""WITH $embUnnestCte,
         |$lcgBucketCtes
         |SELECT vec_id, bucket FROM buckets""".stripMargin),

    // Embedding near-dup via LSH blocking (production shape: no label
    // oracle needed — candidates come from the sign-projection buckets)
    // capped like emb_near_dup_pairs: 256 sign-projection buckets are
    // also fixed-cardinality, so hot buckets grow N at N× data
    Query("emb_lsh_near_dup", (s, dir) =>
      Similarity.nearDupPairsBlocked(tbl(s, dir, "embeddings"),
        col("embedding"), col("vec_id"),
        Similarity.lshBucket(col("embedding"), 64, 8), minCos = -2.0,
        maxBlock = 40, dims = 64)
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
        .where(col("cos") >= 0.3),
      s"""WITH $embUnnestCte,
         |$lcgBucketXsigCtes,
         |blocks AS (SELECT vec_id, bucket AS blk FROM buckets),
         |${embSaltedPairsCtes(40)},
         |n AS (
         |  SELECT vec_id,
         |         sqrt(sum(cast(vx AS double) * cast(vx AS double))) AS norm
         |  FROM v GROUP BY vec_id
         |),
         |d AS (
         |  SELECT p.id1, p.id2,
         |         sum(cast(v1.vx AS double) * cast(v2.vx AS double)) AS dot
         |  FROM pairs p
         |  JOIN v v1 ON v1.vec_id = p.id1
         |  JOIN v v2 ON v2.vec_id = p.id2 AND v1.pos = v2.pos
         |  GROUP BY p.id1, p.id2
         |)
         |SELECT id1, id2, round(dot / (n1.norm * n2.norm), 6) AS cos
         |FROM d
         |JOIN n n1 ON d.id1 = n1.vec_id
         |JOIN n n2 ON d.id2 = n2.vec_id
         |WHERE round(dot / (n1.norm * n2.norm), 6) >= 0.3""".stripMargin),

    // Hard-negative mining for contrastive training: for each of 3 query
    // vectors, the top-5 most cosine-similar vectors carrying a DIFFERENT
    // label — the near-boundary negatives a retrieval trainer puts in the
    // batch. The 3 queries ride the plan as struct literals (model-sized
    // driver state); one scan scores every (vector, query) pair via
    // explode (3x the stream, still linear) and the per-query top-5 cuts
    // map-side through the partial WindowGroupLimit, so the shuffle
    // carries <= 5 rows per query per partition.
    Query("emb_hard_negatives", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 3)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2))).toSeq
      val qStructs = array(qs.map { case (qid, qlab, v) =>
        struct(lit(qid).as("qid"), lit(qlab).as("qlab"),
          array(v.map(lit): _*).as("qv"))
      }: _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
      emb.select(col("vec_id"), col("label"), col("embedding"),
          explode(qStructs).as("q"))
        .select(col("vec_id"), col("label"),
          col("q.qid").as("qid"), col("q.qlab").as("qlab"),
          round(Similarity.cosine(col("embedding"), col("q.qv")), 6)
            .as("cos"))
        .where(col("label") =!= col("qlab") && col("vec_id") =!= col("qid"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), col("cos"))
    },
      // queries = vectors 0..2; scores replayed per (query, vector) pair,
      // different-label filter, per-query top-5 with the vec_id tiebreak
      s"""WITH $embUnnestCte,
         |q AS (
         |  SELECT vec_id AS qid, label AS qlab, pos,
         |         cast(vx AS double) AS qx
         |  FROM v WHERE vec_id < 3
         |),
         |n AS (
         |  SELECT vec_id,
         |         sqrt(sum(cast(vx AS double) * cast(vx AS double))) AS norm
         |  FROM v GROUP BY vec_id
         |),
         |d AS (
         |  SELECT q.qid, q.qlab, v.vec_id, v.label,
         |         sum(cast(v.vx AS double) * q.qx) AS dot
         |  FROM v JOIN q USING (pos)
         |  GROUP BY q.qid, q.qlab, v.vec_id, v.label
         |),
         |sc AS (
         |  SELECT d.qid, d.vec_id,
         |         round(d.dot / (nv.norm * nq.norm), 6) AS cos,
         |         d.label, d.qlab
         |  FROM d
         |  JOIN n nv ON d.vec_id = nv.vec_id
         |  JOIN n nq ON d.qid = nq.vec_id
         |),
         |r AS (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY cos DESC, vec_id) AS rn
         |  FROM sc WHERE label <> qlab AND vec_id <> qid
         |)
         |SELECT qid, vec_id, cos FROM r WHERE rn <= 5""".stripMargin),

    // SemDeDup-style semantic dedup: connected components over the
    // LSH-blocked cosine near-dup graph (cos >= 0.4 on this corpus), each
    // cluster keeping its min-id vector — the embedding-space counterpart
    // of pipeline_fuzzy_dedup, per-label survivor accounting. Candidates
    // never leave their sign-projection buckets, CC runs the bounded
    // O(diameter) loop, the final agg is one shuffle over (label).
    Query("emb_semantic_dedup", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val edges = Similarity.nearDupPairsBlocked(emb, col("embedding"),
          col("vec_id"), Similarity.lshBucket(col("embedding"), 64, 8),
          minCos = -2.0, maxBlock = 40, dims = 64)
        .select(col("id1"), col("id2"),
          round(col("cos"), 6).as("cos"))
        .where(col("cos") >= 0.4)
        .select(col("id1"), col("id2"))
      val cc = Dedup.connectedComponents(
        emb.select(col("vec_id")), edges, idCol = "vec_id")
      emb.select(col("vec_id"), col("label"))
        .join(cc, "vec_id")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum((col("vec_id") === col("component")).cast("int")).cast("long")
            .as("n_kept"))
    },
      // the emb_lsh_near_dup candidate chain thresholded at 0.4, then the
      // same recursive min-label closure as dedup_connected_components,
      // grouped per label against the canonical (min-id) vector
      s"""WITH RECURSIVE $embUnnestCte,
         |$lcgBucketXsigCtes,
         |blocks AS (SELECT vec_id, bucket AS blk FROM buckets),
         |${embSaltedPairsCtes(40)},
         |n AS (
         |  SELECT vec_id,
         |         sqrt(sum(cast(vx AS double) * cast(vx AS double))) AS norm
         |  FROM v GROUP BY vec_id
         |),
         |d AS (
         |  SELECT p.id1, p.id2,
         |         sum(cast(v1.vx AS double) * cast(v2.vx AS double)) AS dot
         |  FROM pairs p
         |  JOIN v v1 ON v1.vec_id = p.id1
         |  JOIN v v2 ON v2.vec_id = p.id2 AND v1.pos = v2.pos
         |  GROUP BY p.id1, p.id2
         |),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM d
         |  JOIN n n1 ON d.id1 = n1.vec_id
         |  JOIN n n2 ON d.id2 = n2.vec_id
         |  WHERE round(dot / (n1.norm * n2.norm), 6) >= 0.4
         |  UNION ALL
         |  SELECT id2, id1 FROM d
         |  JOIN n n1 ON d.id1 = n1.vec_id
         |  JOIN n n2 ON d.id2 = n2.vec_id
         |  WHERE round(dot / (n1.norm * n2.norm), 6) >= 0.4
         |),
         |reach AS (
         |  SELECT vec_id AS node, vec_id AS lab FROM embeddings
         |  UNION
         |  SELECT reach.node, e.b AS lab
         |  FROM reach JOIN edges e ON reach.lab = e.a
         |),
         |cc AS (
         |  SELECT node AS vec_id, min(lab) AS component
         |  FROM reach GROUP BY 1
         |)
         |SELECT emb.label, count(*) AS n_vecs,
         |       cast(sum(CASE WHEN cc.component = emb.vec_id
         |                     THEN 1 ELSE 0 END) AS bigint) AS n_kept
         |FROM embeddings emb JOIN cc USING (vec_id)
         |GROUP BY 1""".stripMargin),

    // Symmetric int8 quantization per embedding (the storage path that
    // makes 100 TB of fp32 vectors 4x smaller): scale = 127/max|x|,
    // q = clamp(floor(x*scale + 0.5)) — floor(+0.5) pins the rounding
    // mode so any engine reproduces the exact codes — plus saturation
    // count and reconstruction MSE. Pure expressions, one scan.
    Query("emb_quantize", (s, dir) => {
      val x = col("embedding").cast("array<double>")
      val mx = array_max(transform(x, v => abs(v)))
      val scale = when(col("mx") === 0.0, lit(1.0))
        .otherwise(lit(127.0) / col("mx"))
      tbl(s, dir, "embeddings")
        .select(col("vec_id"), x.as("x"), mx.as("mx"))
        .select(col("vec_id"), col("x"), scale.as("scale"))
        .select(col("vec_id"), col("x"), col("scale"),
          transform(col("x"), v =>
            greatest(lit(-127L), least(lit(127L),
              floor(v * col("scale") + lit(0.5))))).as("q"))
        .select(col("vec_id"),
          round(col("scale"), 6).as("scale"),
          size(filter(col("q"), v => abs(v) === 127L)).cast("long")
            .as("n_sat"),
          round(aggregate(
            zip_with(col("x"), col("q"), (a, qq) =>
              (a - qq.cast("double") / col("scale")) *
                (a - qq.cast("double") / col("scale"))),
            lit(0.0), _ + _) / size(col("q")).cast("double"), 6).as("mse"))
    },
      """WITH x AS (
        |  SELECT vec_id,
        |         list_transform(embedding, v -> cast(v AS double)) AS x
        |  FROM embeddings
        |), m AS (
        |  SELECT vec_id, x,
        |         list_max(list_transform(x, v -> abs(v))) AS mx
        |  FROM x
        |), s AS (
        |  SELECT vec_id, x,
        |         CASE WHEN mx = 0 THEN 1.0 ELSE 127.0 / mx END AS scale
        |  FROM m
        |), q AS (
        |  SELECT vec_id, x, scale,
        |         list_transform(x, v ->
        |           greatest(-127, least(127,
        |             cast(floor(v * scale + 0.5) AS bigint)))) AS q
        |  FROM s
        |)
        |SELECT vec_id,
        |       round(scale, 6) AS scale,
        |       cast(len(list_filter(q, v -> abs(v) = 127)) AS bigint)
        |         AS n_sat,
        |       round(list_sum(list_transform(range(1, len(x) + 1), i ->
        |               (x[i] - cast(q[i] AS double) / scale)
        |               * (x[i] - cast(q[i] AS double) / scale)))
        |             / cast(len(x) AS double), 6) AS mse
        |FROM q""".stripMargin),

    // MULTI-PROBE LSH search: probe the query's bucket plus the 3
    // flipped lowest-|margin| buckets (driver math on the query
    // literal), exact-cosine re-rank, distributed top-10 — the bounded
    // recall/IO dial between single-bucket LSH and brute force. Query
    // vector = vec_id 0 (collected; model-sized), excluded from results.
    Query("emb_multiprobe_search", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qv = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toSeq
      Similarity.multiProbeSearch(emb.where(col("vec_id") =!= 0),
        col("embedding"), col("vec_id"), qv, dims = 64, k = 10)
    },
      // probe set derived in SQL exactly as the engine derives it on the
      // driver: base bucket from the query's plane signs, then xor-flip
      // the 3 planes with the smallest |dot| (min plane index on ties)
      s"""WITH q AS (
         |  SELECT unnest(embedding) AS qx,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings WHERE vec_id = 0
         |), $embUnnestCte,
         |$lcgBucketCtes,
         |qlcg AS (
         |  SELECT p.p,
         |         sum(cast(qx AS double) *
         |             (cast((1103515245 * (p.p * 64 + (pos - 1)) + 12345)
         |                   % 2147483648 AS double) / 2147483648.0 - 0.5))
         |           AS dot
         |  FROM q CROSS JOIN (SELECT range AS p FROM range(8)) p
         |  GROUP BY p.p
         |),
         |qb AS (
         |  SELECT cast(sum(CASE WHEN dot > 0 THEN power(2, p) ELSE 0 END)
         |              AS bigint) AS b
         |  FROM qlcg
         |),
         |fl AS (
         |  SELECT p, row_number() OVER (ORDER BY abs(dot), p) AS rnk
         |  FROM qlcg
         |),
         |probes AS (
         |  SELECT b AS bucket FROM qb
         |  UNION ALL
         |  SELECT xor(qb.b, 1::BIGINT << fl.p) AS bucket
         |  FROM qb, fl WHERE fl.rnk <= 3
         |),
         |cand AS (
         |  SELECT bk.vec_id FROM buckets bk JOIN probes USING (bucket)
         |  WHERE bk.vec_id <> 0
         |),
         |d AS (
         |  SELECT v.vec_id,
         |         sum(cast(vx AS double) * cast(qx AS double)) AS dot,
         |         sum(cast(vx AS double) * cast(vx AS double)) AS aa
         |  FROM v JOIN q USING (pos) JOIN cand ON v.vec_id = cand.vec_id
         |  GROUP BY v.vec_id
         |), qq AS (
         |  SELECT sum(cast(qx AS double) * cast(qx AS double)) AS bb FROM q
         |)
         |SELECT vec_id, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |FROM d, qq
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin),

    // EMBEDDING OOD / OUTLIER SCORE — diagonal Mahalanobis distance to
    // the corpus mean (the curation gate that drops corrupt or
    // out-of-distribution vectors before training): μ and σ² per
    // dimension come from the SAME one-pass moment aggregate as the
    // covariance (model-sized), then scoring is one codegen'd scan with
    // the statistics as literals + a distributed top-20. Full-matrix
    // Mahalanobis would need C⁻¹ (driver math too, but the diagonal
    // variant is the standard first gate and keeps the oracle exact).
    Query("emb_ood_score", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val (n, sm, o) = graft.ops.Pca.momentSums(emb, col("embedding"))
      val d = sm.length
      val mu = sm.map(_ / n)
      val va = (0 until d).map(i => o(i)(i) / n - mu(i) * mu(i))
      require(va.forall(_ > 0.0),
        "emb_ood_score: a zero-variance dimension cannot be normalized")
      val muArr = array(mu.toIndexedSeq.map(lit): _*)
      val vaArr = array(va.map(lit): _*)
      val diff = zip_with(col("embedding").cast("array<double>"), muArr,
        (a, m) => a - m)
      val terms = zip_with(diff, vaArr, (dd, vv) => dd * dd / vv)
      val score = aggregate(terms, lit(0.0), (acc, x) => acc + x)
      emb.select(col("vec_id"), round(score, 6).as("ood"))
        .orderBy(col("ood").desc, col("vec_id").asc)
        .limit(20)
    },
      // same per-dimension μ/σ² algebra (E[x²] − E[x]²) re-derived from the
      // unnested data; top-20 with the vec_id tiebreak on the ROUNDED score
      s"""WITH $embUnnestCte,
         |mu AS (
         |  SELECT pos, sum(cast(vx AS double)) / count(*) AS m,
         |         sum(cast(vx AS double) * cast(vx AS double)) / count(*)
         |           AS exx
         |  FROM v GROUP BY pos
         |),
         |st AS (SELECT pos, m, exx - m * m AS va FROM mu),
         |d AS (
         |  SELECT v.vec_id,
         |         sum((cast(vx AS double) - st.m) *
         |             (cast(vx AS double) - st.m) / st.va) AS score
         |  FROM v JOIN st USING (pos)
         |  GROUP BY v.vec_id
         |)
         |SELECT vec_id, round(score, 6) AS ood FROM d
         |ORDER BY ood DESC, vec_id LIMIT 20""".stripMargin),

    // COVARIANCE MATRIX in one pass: the native VectorOuterSumAgg
    // accumulates n / Σx / upper-tri Σxᵢxⱼ map-side, so the shuffle
    // carries one ~17 KB buffer per partition — never 2080 exploded
    // join rows per vector like the declarative self-join would.
    // Output is the model (upper triangle, 1-based positions).
    // (`+ 0.0` kills IEEE -0.0 — both engines normalize the zero sign
    // identically before the driver's stringified compare)
    Query("emb_covariance", (s, dir) =>
      graft.ops.Pca.covarianceDf(tbl(s, dir, "embeddings"),
        col("embedding"))
        .select(col("i"), col("j"),
          (round(col("cov"), 6) + lit(0.0)).as("cov")),
      // `+ 0.0` collapses IEEE negative zero: round() can yield -0.0 on one
      // engine and +0.0 on the other for a tiny negative, and the driver's
      // compare stringifies values
      s"""WITH $embUnnestCte,
         |$pcaCovCtes
         |SELECT i, j, round(c, 6) + 0.0 AS cov FROM cov
         |WHERE i <= j""".stripMargin),

    // PCA dominant eigenpair: data-sized work is the one-pass moment
    // aggregate; the 64x64 eigenproblem is driver-side model math (fixed
    // 24 power-iteration steps from a fixed start — the oracle replays
    // the identical arithmetic, so parity needs no convergence argument).
    Query("emb_pca_power", (s, dir) =>
      graft.ops.Pca.topComponentDf(tbl(s, dir, "embeddings"),
        col("embedding"), iters = 24)
        .select(col("pos"),
          (round(col("loading"), 6) + lit(0.0)).as("loading"),
          (round(col("lambda"), 6) + lit(0.0)).as("lambda")),
      s"""WITH $embUnnestCte,
         |$pcaCovCtes,
         |${pcaPowerCtes(24, 64)},
         |lam AS (
         |  SELECT sum(cov.c * a.vv * b.vv) AS l
         |  FROM cov JOIN fin a ON cov.i = a.pos JOIN fin b ON cov.j = b.pos
         |)
         |SELECT fin.pos AS pos, round(fin.vv, 6) + 0.0 AS loading,
         |       round(lam.l, 6) + 0.0 AS lambda
         |FROM fin, lam""".stripMargin),

    // PCA projection: mean-centered x·v per vector — one codegen'd scan
    // with the component as literals, the dimensionality-reduction step
    // a 100 TB embedding pipeline runs before clustering/indexing.
    Query("emb_pca_project", (s, dir) =>
      graft.ops.Pca.projectTop(tbl(s, dir, "embeddings"),
        col("embedding"), col("vec_id"), iters = 24)
        .select(col("vec_id"),
          (round(col("pc1"), 6) + lit(0.0)).as("pc1")),
      s"""WITH $embUnnestCte,
         |$pcaCovCtes,
         |${pcaPowerCtes(24, 64)},
         |mv AS (
         |  SELECT sum(mu.m * fin.vv) AS s
         |  FROM mu JOIN fin ON mu.pos = fin.pos
         |),
         |proj AS (
         |  SELECT a.vec_id, sum(cast(a.vx AS double) * fin.vv) AS xv
         |  FROM v a JOIN fin ON a.pos = fin.pos GROUP BY 1
         |)
         |SELECT vec_id, round(xv - mv.s, 6) + 0.0 AS pc1
         |FROM proj, mv""".stripMargin),

    // IVF assign step: nearest label-centroid by (rounded) cosine
    Query("emb_ivf_assign", (s, dir) => {
      // the IVF "model" is the centroid table (10 labels x 64 doubles):
      // trained distributed, collected as a model artifact, then baked
      // into the plan as literals — assignment becomes ONE scan with a
      // native dot per (vector, centroid), no explode-join of 64x rows
      // per vector. At 100 TB the vectors stream; only the model sits on
      // the driver.
      val cents = graft.ops.Similarity.centroids(
        tbl(s, dir, "embeddings"), col("embedding"), col("label"))
        .orderBy("grp").collect()
        .map(r => r.get(0) -> r.getSeq[Double](1)).toSeq
      Similarity.assignToCentroids(tbl(s, dir, "embeddings"),
        col("embedding"), col("vec_id"), cents)
    },
      s"""WITH $embUnnestCte,
         |c AS (
         |  SELECT label AS clabel, pos, avg(cast(vx AS double)) AS m
         |  FROM v GROUP BY label, pos
         |),
         |sc AS (
         |  SELECT v.vec_id, c.clabel,
         |         sum(cast(v.vx AS double) * c.m) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa,
         |         sum(c.m * c.m) AS bb
         |  FROM v JOIN c ON v.pos = c.pos
         |  GROUP BY v.vec_id, c.clabel
         |),
         |r AS (
         |  SELECT vec_id, clabel,
         |         round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |  FROM sc
         |),
         |w AS (
         |  SELECT vec_id, clabel, cos,
         |         row_number() OVER (PARTITION BY vec_id
         |                            ORDER BY cos DESC, clabel) AS rn
         |  FROM r
         |)
         |SELECT vec_id, clabel AS assigned, cos FROM w WHERE rn = 1""".stripMargin),

    // K-means, two Lloyd iterations: seed centroids = vectors 0..9;
    // each round assigns by ROUNDED cosine argmax (deterministic) and
    // retrains with the native vector-mean aggregate, centroid
    // components re-rounded to 6 so the "model" is engine-portable.
    // Per round: one assign scan + one partial+final agg; only the
    // 10x64 model crosses the driver. The oracle replays both
    // iterations in SQL.
    Query("emb_kmeans", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val seeds = emb.where(col("vec_id") < 10)
        .orderBy("vec_id")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      def retrain(assign: org.apache.spark.sql.DataFrame)
      : Seq[(Any, Seq[Double])] =
        graft.ops.Similarity.centroids(
          emb.join(assign.select(col("vec_id"), col("assigned")), "vec_id"),
          col("embedding"), col("assigned"))
          .select(col("grp"), transform(col("centroid"),
            x => round(x, 6)).as("centroid"))
          .orderBy("grp").collect()
          .map(r => r.get(0) -> r.getSeq[Double](1)).toSeq
      val a1 = Similarity.assignToCentroids(emb, col("embedding"),
        col("vec_id"), seeds.map { case (l, v) => (l: Any, v) })
      val c1 = retrain(a1)
      Similarity.assignToCentroids(emb, col("embedding"),
        col("vec_id"), c1)
        .select(col("vec_id"), col("assigned").cast("long").as("cluster"),
          col("cos"))
    },
      // replays both Lloyd iterations: seed centroids = vectors 0..9,
      // rounded-cosine argmax assignment, re-trained means rounded to 6
      s"""WITH $embUnnestCte,
         |c0 AS (
         |  SELECT vec_id AS clabel, pos, cast(vx AS double) AS m
         |  FROM v WHERE vec_id < 10
         |),
         |s1 AS (
         |  SELECT v.vec_id, c0.clabel,
         |         sum(cast(v.vx AS double) * c0.m) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa,
         |         sum(c0.m * c0.m) AS bb
         |  FROM v JOIN c0 ON v.pos = c0.pos
         |  GROUP BY v.vec_id, c0.clabel
         |),
         |a1 AS (
         |  SELECT vec_id, clabel,
         |         row_number() OVER (
         |           PARTITION BY vec_id
         |           ORDER BY round(dot / (sqrt(aa) * sqrt(bb)), 6) DESC,
         |                    clabel) AS rn
         |  FROM s1
         |),
         |c1 AS (
         |  SELECT a1.clabel, v.pos, round(avg(cast(v.vx AS double)), 6) AS m
         |  FROM v JOIN a1 ON v.vec_id = a1.vec_id AND a1.rn = 1
         |  GROUP BY a1.clabel, v.pos
         |),
         |s2 AS (
         |  SELECT v.vec_id, c1.clabel,
         |         sum(cast(v.vx AS double) * c1.m) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa,
         |         sum(c1.m * c1.m) AS bb
         |  FROM v JOIN c1 ON v.pos = c1.pos
         |  GROUP BY v.vec_id, c1.clabel
         |),
         |a2 AS (
         |  SELECT vec_id, clabel,
         |         round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos,
         |         row_number() OVER (
         |           PARTITION BY vec_id
         |           ORDER BY round(dot / (sqrt(aa) * sqrt(bb)), 6) DESC,
         |                    clabel) AS rn
         |  FROM s2
         |)
         |SELECT vec_id, cast(clabel AS bigint) AS cluster, cos
         |FROM a2 WHERE rn = 1""".stripMargin),

    // Product-quantization encode: each 64-dim vector compressed to 4
    // subspace codes (nearest per-label mean subvector by rounded squared
    // L2, min-label tiebreak). The codebook is model-sized driver state;
    // encoding is one codegen'd scan — array_min struct folds, no explode,
    // no shuffle (the compression step of billion-vector ANN)
    Query("emb_pq_encode", (s, dir) =>
      Similarity.pqCodes(tbl(s, dir, "embeddings"), col("embedding"),
        col("vec_id"), pqCodebook(s, dir), subDim = 16),
      s"""WITH $embUnnestCte,
         |$pqCodesCte
         |SELECT vec_id,
         |       cast(max(CASE WHEN sub = 0 THEN clabel END) AS bigint) AS code_0,
         |       cast(max(CASE WHEN sub = 1 THEN clabel END) AS bigint) AS code_1,
         |       cast(max(CASE WHEN sub = 2 THEN clabel END) AS bigint) AS code_2,
         |       cast(max(CASE WHEN sub = 3 THEN clabel END) AS bigint) AS code_3
         |FROM codes WHERE rn = 1 GROUP BY vec_id""".stripMargin),

    // PQ asymmetric-distance search (ADC): the query stays exact, every
    // database vector is scored through its 4 codes via per-subspace
    // distance lookup tables (4 array literals — computed once on the
    // driver from the model, broadcast inside the plan). One scan +
    // TakeOrderedAndProject: the 100 TB search path after pq_encode has
    // shrunk the vectors ~64x
    Query("emb_pq_search", (s, dir) => {
      val cb = pqCodebook(s, dir)
      val q = tbl(s, dir, "embeddings").where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // dt(j)(label) = rounded ||q_j - m_{j,label}||^2; cb is sorted by
      // label 0..k-1, so label doubles as the lookup position
      val dt: Seq[Seq[Double]] = cb.zipWithIndex.map { case (cents, j) =>
        val qs = q.slice(j * 16, (j + 1) * 16)
        cents.map { case (_, mv) =>
          r6(qs.zip(mv).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
      }
      val codes = Similarity.pqCodes(tbl(s, dir, "embeddings"),
        col("embedding"), col("vec_id"), cb, subDim = 16)
      val adc = round(dt.zipWithIndex.map { case (tab, j) =>
        element_at(array(tab.map(lit): _*),
          (col(s"code_$j") + 1).cast("int"))
      }.reduce(_ + _), 6)
      codes.select(col("vec_id"), adc.as("adc"))
        .orderBy(col("adc").asc, col("vec_id").asc).limit(10)
    },
      s"""WITH $embUnnestCte,
         |$pqCodesCte,
         |q AS (
         |  SELECT (pos - 1) // 16 AS sub, pos, cast(vx AS double) AS qx
         |  FROM v WHERE vec_id = 0
         |),
         |dt AS (
         |  SELECT cb.sub, cb.clabel,
         |         round(sum((q.qx - cb.m) * (q.qx - cb.m)), 6) AS dd
         |  FROM q JOIN cb ON q.pos = cb.pos
         |  GROUP BY cb.sub, cb.clabel
         |)
         |SELECT c.vec_id, round(sum(dt.dd), 6) AS adc
         |FROM codes c JOIN dt ON c.sub = dt.sub AND c.clabel = dt.clabel
         |WHERE c.rn = 1
         |GROUP BY c.vec_id
         |ORDER BY adc ASC, c.vec_id ASC LIMIT 10""".stripMargin),

    // Full IVF search: score label-centroids against the query vector,
    // probe the top-3 cells, exact cosine top-10 within just those cells —
    // the candidate scan is 3/10ths of the data, the pattern that makes
    // ANN linear-scan-free at 100 TB
    Query("emb_ivf_search", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qvec = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val qarr = array(qvec.map(lit): _*)
      val qnorm = math.sqrt(qvec.map(x => x * x).sum)
      // centroid train = native vector-mean agg (no posexplode); cell
      // scoring is then one native dot per 10-row centroid table
      val cell = graft.ops.Similarity.centroids(
          emb, col("embedding"), col("label"))
        .select(col("grp").as("clabel"),
          round(Similarity.dot(col("centroid"), qarr) /
            (sqrt(Similarity.dot(col("centroid"), col("centroid"))) *
              lit(qnorm)), 6).as("ccos"))
      // top-3 probed cells via sort-limit (TakeOrderedAndProject over the
      // 10-row model — no single-partition Window anywhere in the plan)
      val probed = cell.orderBy(col("ccos").desc, col("clabel").asc)
        .limit(3).select("clabel")
      emb.join(broadcast(probed), col("label") === col("clabel"))
        .select(col("vec_id"), col("label"),
          round(Similarity.cosine(col("embedding"), qarr), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
    },
      s"""WITH $embUnnestCte,
         |q AS (
         |  SELECT unnest(embedding) AS qx,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings WHERE vec_id = 0
         |), qq AS (
         |  SELECT sum(cast(qx AS double) * cast(qx AS double)) AS bb FROM q
         |), c AS (
         |  SELECT label AS clabel, pos, avg(cast(vx AS double)) AS m
         |  FROM v GROUP BY label, pos
         |), cs AS (
         |  SELECT clabel, sum(m * cast(qx AS double)) AS dot,
         |         sum(m * m) AS aa
         |  FROM c JOIN q USING (pos) GROUP BY clabel
         |), cell AS (
         |  SELECT clabel, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS ccos
         |  FROM cs, qq
         |), probed AS (
         |  SELECT clabel FROM (
         |    SELECT clabel, row_number() OVER (ORDER BY ccos DESC, clabel) AS rn
         |    FROM cell) WHERE rn <= 3
         |), d AS (
         |  SELECT v.vec_id, v.label,
         |         sum(cast(v.vx AS double) * cast(q.qx AS double)) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa
         |  FROM v JOIN q USING (pos)
         |  WHERE v.label IN (SELECT clabel FROM probed)
         |  GROUP BY v.vec_id, v.label
         |)
         |SELECT vec_id, label, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |FROM d, qq
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin),

    // ANN quality CONTRACT: recall@10 of the IVF search against the exact
    // brute-force top-10 — THE standard ANN metric, here a deterministic
    // value (fixed data, fixed probe count, rounded tie-broken orderings
    // on both sides) the oracle re-derives end to end. The IVF side scans
    // 3 of 10 cells; recall measures exactly what that pruning costs.
    Query("emb_ivf_recall", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qvec = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val qarr = array(qvec.map(lit): _*)
      val qnorm = math.sqrt(qvec.map(x => x * x).sum)
      val cell = graft.ops.Similarity.centroids(
          emb, col("embedding"), col("label"))
        .select(col("grp").as("clabel"),
          round(Similarity.dot(col("centroid"), qarr) /
            (sqrt(Similarity.dot(col("centroid"), col("centroid"))) *
              lit(qnorm)), 6).as("ccos"))
      val probed = cell.orderBy(col("ccos").desc, col("clabel").asc)
        .limit(3).select("clabel")
      val ivf = emb.join(broadcast(probed), col("label") === col("clabel"))
        .select(col("vec_id"),
          round(Similarity.cosine(col("embedding"), qarr), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
        .select(col("vec_id").as("ivf_id"))
      Similarity.knn(emb, col("embedding"), col("vec_id"), qvec, 10)
        .select(col("vec_id"))
        .join(ivf, col("vec_id") === col("ivf_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
        .select(col("n_overlap"),
          round(col("n_overlap").cast("double") / 10.0, 6)
            .as("recall_at_10"))
    },
      // both sides re-derived: exact brute-force top-10 and the 3-probed-cell
      // IVF top-10, intersected; the empty-overlap case still yields one row
      s"""WITH $embUnnestCte,
         |q AS (
         |  SELECT unnest(embedding) AS qx,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings WHERE vec_id = 0
         |), qq AS (
         |  SELECT sum(cast(qx AS double) * cast(qx AS double)) AS bb FROM q
         |), ed AS (
         |  SELECT v.vec_id,
         |         sum(cast(v.vx AS double) * cast(q.qx AS double)) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa
         |  FROM v JOIN q USING (pos) GROUP BY v.vec_id
         |), exact AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |    FROM ed, qq ORDER BY cos DESC, vec_id LIMIT 10)
         |), c AS (
         |  SELECT label AS clabel, pos, avg(cast(vx AS double)) AS m
         |  FROM v GROUP BY label, pos
         |), cs AS (
         |  SELECT clabel, sum(m * cast(qx AS double)) AS dot,
         |         sum(m * m) AS aa
         |  FROM c JOIN q USING (pos) GROUP BY clabel
         |), cell AS (
         |  SELECT clabel, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS ccos
         |  FROM cs, qq
         |), probed AS (
         |  SELECT clabel FROM (
         |    SELECT clabel, row_number() OVER (ORDER BY ccos DESC, clabel) AS rn
         |    FROM cell) WHERE rn <= 3
         |), dd AS (
         |  SELECT v.vec_id,
         |         sum(cast(v.vx AS double) * cast(q.qx AS double)) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa
         |  FROM v JOIN q USING (pos)
         |  WHERE v.label IN (SELECT clabel FROM probed)
         |  GROUP BY v.vec_id
         |), ivf AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |    FROM dd, qq ORDER BY cos DESC, vec_id LIMIT 10)
         |)
         |SELECT cast(count(*) AS bigint) AS n_overlap,
         |       round(count(*) / 10.0, 6) AS recall_at_10
         |FROM exact JOIN ivf USING (vec_id)""".stripMargin),

    // IVF RECALL/COST CURVE — the rel_qsketch_cap_curve discipline
    // applied to ANN: measured recall@10 AND candidates-scanned cost at
    // nprobe = 1 / 4 / 10, in ONE set-based plan (cosines computed once
    // per candidate, the nprobe expansion is a 3-row broadcast). With 10
    // cells total, nprobe = 10 is the exhaustive probe, so its rung is
    // anchored: recall must be exactly 1.0 (required in-path, with
    // recall AND candidate-count monotonicity across rungs). The recall
    // arithmetic is exact integer overlap counting — fully
    // oracle-checked, the production tuning table an ANN deployment
    // reads to pick its operating point.
    Query("emb_ivf_nprobe_curve", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qvec = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val qarr = array(qvec.map(lit): _*)
      val qnorm = math.sqrt(qvec.map(x => x * x).sum)
      val cellRanked = graft.ops.Similarity.centroids(
          emb, col("embedding"), col("label"))
        .select(col("grp").as("clabel"),
          round(Similarity.dot(col("centroid"), qarr) /
            (sqrt(Similarity.dot(col("centroid"), col("centroid"))) *
              lit(qnorm)), 6).as("ccos"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("ccos").desc, col("clabel").asc)))
        .select(col("clabel"), col("rn"))
      // cosines once per candidate vector; rungs attach by rn <= nprobe
      val scored = emb
        .join(broadcast(cellRanked), col("label") === col("clabel"))
        .select(col("vec_id"), col("rn"),
          round(Similarity.cosine(col("embedding"), qarr), 6).as("cos"))
      val rungs = Seq(1L, 4L, 10L)
      val nps = s.createDataFrame(rungs.map(Tuple1(_)))
        .toDF("nprobe")
      val cand = scored.crossJoin(broadcast(nps))
        .where(col("rn") <= col("nprobe"))
      val nCand = cand.groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_candidates"))
      val ivfTop = cand.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("nprobe"))
            .orderBy(col("cos").desc, col("vec_id").asc)))
        .where(col("rk") <= 10).select(col("nprobe"), col("vec_id"))
      val exact = Similarity.knn(emb, col("embedding"), col("vec_id"),
        qvec, 10).select(col("vec_id"))
      val overlap = ivfTop.join(exact, Seq("vec_id"), "left_semi")
        .groupBy(col("nprobe")).agg(count(lit(1)).as("n_overlap"))
      val curve = nCand.join(overlap, Seq("nprobe"), "left_outer")
        .select(col("nprobe"), col("n_candidates"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          round(coalesce(col("n_overlap"), lit(0L)).cast("double") / 10.0,
            6).as("recall_at_10"))
        .orderBy(col("nprobe"))
      val rows = curve.collect()
      require(rows.length == 3, s"expected 3 rungs, got ${rows.length}")
      require(rows.sliding(2).forall(p =>
        p(0).getLong(1) <= p(1).getLong(1) &&
          p(0).getLong(2) <= p(1).getLong(2)),
        s"curve not monotone in nprobe: ${rows.mkString("; ")}")
      require(rows.last.getLong(2) == 10L,
        s"exhaustive probe (nprobe=10 of 10 cells) must have recall 1.0: " +
          s"${rows.last}")
      curve
    },
      // same exact-arithmetic replay as emb_ivf_recall, expanded to a
      // per-nprobe curve: candidate cosines computed once, rung membership
      // by centroid rank <= nprobe, overlap counted against the exact top-10
      s"""WITH $embUnnestCte,
         |q AS (
         |  SELECT unnest(embedding) AS qx,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings WHERE vec_id = 0
         |), qq AS (
         |  SELECT sum(cast(qx AS double) * cast(qx AS double)) AS bb FROM q
         |), ed AS (
         |  SELECT v.vec_id, v.label,
         |         sum(cast(v.vx AS double) * cast(q.qx AS double)) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa
         |  FROM v JOIN q USING (pos) GROUP BY 1, 2
         |), exact AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |    FROM ed, qq ORDER BY cos DESC, vec_id LIMIT 10)
         |), c AS (
         |  SELECT label AS clabel, pos, avg(cast(vx AS double)) AS m
         |  FROM v GROUP BY label, pos
         |), cs AS (
         |  SELECT clabel, sum(m * cast(qx AS double)) AS dot,
         |         sum(m * m) AS aa
         |  FROM c JOIN q USING (pos) GROUP BY clabel
         |), ranked AS (
         |  SELECT clabel, row_number() OVER (
         |    ORDER BY round(dot / (sqrt(aa) * sqrt(bb)), 6) DESC, clabel)
         |    AS rn
         |  FROM cs, qq
         |), nps AS (SELECT unnest([1, 4, 10]) AS nprobe),
         |cand AS (
         |  SELECT nps.nprobe, ed.vec_id,
         |         round(ed.dot / (sqrt(ed.aa) * sqrt(qq.bb)), 6) AS cos
         |  FROM ed JOIN ranked r ON ed.label = r.clabel
         |  CROSS JOIN nps CROSS JOIN qq
         |  WHERE r.rn <= nps.nprobe
         |), nc AS (
         |  SELECT nprobe, count(*) AS n_candidates FROM cand GROUP BY 1
         |), ivf AS (
         |  SELECT nprobe, vec_id FROM (
         |    SELECT nprobe, vec_id, row_number() OVER (
         |      PARTITION BY nprobe ORDER BY cos DESC, vec_id) AS rk
         |    FROM cand) WHERE rk <= 10
         |), ov AS (
         |  SELECT nprobe, count(*) AS n_overlap
         |  FROM ivf JOIN exact USING (vec_id) GROUP BY 1
         |)
         |SELECT nc.nprobe::BIGINT AS nprobe,
         |       nc.n_candidates::BIGINT AS n_candidates,
         |       coalesce(ov.n_overlap, 0)::BIGINT AS n_overlap,
         |       round(coalesce(ov.n_overlap, 0) / 10.0, 6) AS recall_at_10
         |FROM nc LEFT JOIN ov USING (nprobe)""".stripMargin),

    // IVF×PQ COMPOSED SEARCH — the shape that actually serves
    // billion-vector ANN (Jégou et al. 2011's IVFADC): the coarse
    // quantizer routes the query to nprobe=3 of 10 cells, the PQ codes
    // score ONLY those cells' candidates through 4 asymmetric-distance
    // lookup tables (no raw vectors touched), and exact cosine re-ranks
    // just the 50-vector ADC shortlist. Per query the exact-arithmetic
    // cost drops from N vectors (brute force) to ~3N/10 (IVF raw, see
    // emb_ivf_search) to 50 (this composition) — the recall cost of the
    // two lossy stages is measured against both in
    // SimilarityQualitySpec. All distance math is the same
    // rounded-deterministic arithmetic as the component queries, so the
    // oracle replays routing, ADC, and re-rank end to end.
    Query("emb_ivfpq_search", (s, dir) => ivfPqTop10(s, dir),
      // the full composition replayed: coarse routing (rounded centroid
      // cosine, top-3 cells), ADC scoring through the per-subspace distance
      // tables restricted to probed-cell vectors, 50-vector shortlist,
      // exact-cosine re-rank of the shortlist only
      s"""WITH $embUnnestCte,
         |$pqCodesCte,
         |$ivfPqCtes
         |SELECT sh.vec_id, sh.adc,
         |       round(ed.dot / (sqrt(ed.aa) * sqrt(qq.bb)), 6) AS cos
         |FROM short sh JOIN ed ON sh.vec_id = ed.vec_id, qq
         |ORDER BY cos DESC, sh.vec_id ASC LIMIT 10""".stripMargin),

    // QUALITY CONTRACT of the composition — recall@10 of IVF×PQ against
    // exact brute force, oracle-checked like emb_ivf_recall: the number
    // an ANN deployment reads before turning the composition on. The
    // two lossy stages (3-of-10-cell routing + PQ shortlist) price in
    // as exact-arithmetic overlap counting on both engines.
    Query("emb_ivfpq_recall", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qvec = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val ivfpq = ivfPqTop10(s, dir).select(col("vec_id").as("pq_id"))
      Similarity.knn(emb, col("embedding"), col("vec_id"), qvec, 10)
        .select(col("vec_id"))
        .join(ivfpq, col("vec_id") === col("pq_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
        .select(col("n_overlap"),
          round(col("n_overlap").cast("double") / 10.0, 6)
            .as("recall_at_10"))
    },
      // both sides re-derived end to end: the exact brute-force top-10 and
      // the composed IVF×PQ top-10, intersected (the emb_ivf_recall shape
      // for the composition)
      s"""WITH $embUnnestCte,
         |$pqCodesCte,
         |$ivfPqCtes,
         |ivfpq AS (
         |  SELECT vec_id FROM (
         |    SELECT sh.vec_id,
         |           round(ed.dot / (sqrt(ed.aa) * sqrt(qq.bb)), 6) AS cos
         |    FROM short sh JOIN ed ON sh.vec_id = ed.vec_id, qq
         |    ORDER BY cos DESC, sh.vec_id ASC LIMIT 10)
         |), edall AS (
         |  SELECT v.vec_id,
         |         sum(cast(v.vx AS double) * cast(q.qx AS double)) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa
         |  FROM v JOIN q USING (pos) GROUP BY v.vec_id
         |), exact AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |    FROM edall, qq ORDER BY cos DESC, vec_id LIMIT 10)
         |)
         |SELECT cast(count(*) AS bigint) AS n_overlap,
         |       round(count(*) / 10.0, 6) AS recall_at_10
         |FROM exact JOIN ivfpq USING (vec_id)""".stripMargin),

    // PERSISTED, INCREMENTALLY-MAINTAINED IVF×PQ INDEX — the production
    // ANN shape, composing the repo's two standing proofs:
    // emb_ivfpq_search (the IVFADC composition, built per query) and
    // dedup_txn_incremental_lsh (log-diff-driven index maintenance).
    // The index = one TABLE of (vec_id, cell, PQ codes) next to a
    // TxnLog'd vector store, under the FROZEN-MODEL discipline (coarse
    // centroids + PQ codebook train once on the corpus; codes are pure
    // per-vector functions of the model, so maintenance is
    // embarrassingly incremental and retrain is a separate, rarer
    // event). When the store moves v0 -> v1, `changedBetween` names
    // exactly the delta: encode ONLY the net-added objects' vectors,
    // anti-join away the net-removed ones — O(transaction) encoding
    // instead of the corpus. Required in-path: the maintained index
    // equals a from-scratch encode of snapshot v1, row for row
    // (merge == recompute). The search then serves from the STORED
    // codes: route to 3/10 cells, ADC-score only those cells' index
    // rows (no raw vectors touched), exact re-rank of the fixed
    // 50-vector shortlist against the SNAPSHOT. At 100 TB the index is
    // bytes-per-vector and a delete/ingest costs its own size.
    Query("emb_ivfpq_incremental", (s, dir) => {
      import graft.sources.TxnLog
      val root = staged("txn_ivfpq")
      graft.streaming.StreamGate.deleteRecursively(root)
      val logDir = s"$root/_log"
      val emb = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"))
      val cb = pqCodebook(s, dir) // frozen model, trained on the corpus
      // index rows: stored cell + PQ codes per vector (model-driven,
      // per-row — the encode is a scan, never a shuffle)
      def indexRows(in: DataFrame): DataFrame =
        Similarity.pqCodes(in, col("embedding"), col("vec_id"), cb,
            subDim = 16)
          .join(in.select(col("vec_id"), col("label")), "vec_id")
      // ONE partitioned write lays down all 3 vec-range objects
      // (txnLogStage staging discipline; contents identical to three
      // filtered writes)
      val Seq(oA, oB, oC) = stagePartitionedObjects(root, "e",
        emb.withColumn("bucket",
          when(col("vec_id") < 200, 0L)
            .when(col("vec_id") < 350, 1L).otherwise(2L)),
        nBuckets = 3)
      TxnLog.commit(s, logDir, 0L, adds = Seq(oA, oB), checkpointEvery = 2)
      // the standing index table, encoded once at v0 and persisted
      val indexDir = s"$root/index_v0"
      indexRows(TxnLog.readSnapshot(s, logDir, 0L))
        .write.mode("overwrite").parquet(indexDir)
      // v1: one transaction retires a slice and ingests a new one
      TxnLog.commit(s, logDir, 1L, adds = Seq(oC), removes = Seq(oB),
        checkpointEvery = 2)
      val (added, removed) =
        TxnLog.changedBetween(TxnLog.readLog(s, logDir), 0L, 1L)
      require(added == Seq(oC) && removed == Seq(oB),
        s"log diff should name exactly the v1 objects: +$added -$removed")
      // incremental maintenance: encode O(transaction) vectors only
      val retired = s.read.parquet(removed: _*).select(col("vec_id"))
      val index = s.read.parquet(indexDir)
        .join(retired, Seq("vec_id"), "left_anti")
        .unionByName(indexRows(s.read.parquet(added: _*)))
      // merge == recompute: the maintained index must equal the index a
      // from-scratch encode of snapshot v1 produces. ONE multiset-
      // equality pass (±1 per side, every per-tuple sum must be 0 —
      // the same property the two exceptAll probes checked) instead of
      // two: each exceptAll planned BOTH sides again, and with the PQ
      // codebook inlined as literals the duplicated plans dominated the
      // query's driver time.
      val scratch = indexRows(TxnLog.readSnapshot(s, logDir, 1L))
      val idxCols = index.columns.toSeq
      require(index.withColumn("_side", lit(1L))
        .unionByName(scratch.withColumn("_side", lit(-1L)))
        .groupBy(idxCols.map(col): _*)
        .agg(sum(col("_side")).as("_d"))
        .where(col("_d") =!= 0L)
        .isEmpty,
        "incremental IVF-PQ index diverged from the from-scratch encode")
      // serve the search FROM THE STORED INDEX at the same recall point
      // as the per-query build: coarse routing (frozen quantizer), ADC
      // over stored codes, exact re-rank of the shortlist vs the
      // snapshot
      val qvec = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val qarr = array(qvec.map(lit): _*)
      val qnorm = math.sqrt(qvec.map(x => x * x).sum)
      val probed = graft.ops.Similarity.centroids(
          emb, col("embedding"), col("label"))
        .select(col("grp").as("clabel"),
          round(Similarity.dot(col("centroid"), qarr) /
            (sqrt(Similarity.dot(col("centroid"), col("centroid"))) *
              lit(qnorm)), 6).as("ccos"))
        .orderBy(col("ccos").desc, col("clabel").asc)
        .limit(3).select("clabel")
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val dt: Seq[Seq[Double]] = cb.zipWithIndex.map { case (cents, j) =>
        val qs = qvec.slice(j * 16, (j + 1) * 16)
        cents.map { case (_, mv) =>
          r6(qs.zip(mv).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
      }
      val adc = round(dt.zipWithIndex.map { case (tab, j) =>
        element_at(array(tab.map(lit): _*),
          (col(s"code_$j") + 1).cast("int"))
      }.reduce(_ + _), 6)
      val shortlist = index
        .join(broadcast(probed), col("label") === col("clabel"))
        .select(col("vec_id"), adc.as("adc"))
        .orderBy(col("adc").asc, col("vec_id").asc).limit(50)
      TxnLog.readSnapshot(s, logDir, 1L)
        .join(broadcast(shortlist), "vec_id")
        .select(col("vec_id"), col("adc"),
          round(Similarity.cosine(col("embedding"), qarr), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
    },
      // the maintained-index search replayed: identical composition to
      // emb_ivfpq_search, with ADC candidacy restricted to snapshot v1's
      // live vectors (the retired slice is gone from the index; the
      // frozen model — centroids, codebook, distance tables — still
      // trains on the corpus, exactly as the Spark side freezes it)
      s"""WITH $embUnnestCte,
         |$pqCodesCte,
         |${ivfPqCtes.replace("WHERE cd.rn = 1",
             "WHERE cd.rn = 1\n    AND NOT (e.vec_id >= 200 AND e.vec_id < 350)")}
         |SELECT sh.vec_id, sh.adc,
         |       round(ed.dot / (sqrt(ed.aa) * sqrt(qq.bb)), 6) AS cos
         |FROM short sh JOIN ed ON sh.vec_id = ed.vec_id, qq
         |ORDER BY cos DESC, sh.vec_id ASC LIMIT 10""".stripMargin),

    // kNN CLASSIFIER ACCURACY — leave-one-out evaluation of the
    // embedding space itself: a FIXED 50-query panel (bounded at any
    // scale — the candidate join is O(50·N), never N²) takes its 10
    // nearest neighbors by rounded cosine and votes. Per-query work is
    // one broadcast of the panel, a codegen'd dot product, and two
    // partitioned windows (top-k cut, then majority vote with the
    // deterministic (count desc, label asc) tiebreak). Accuracy folds
    // from exact counts.
    Query("emb_knn_accuracy", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 50).select(
        col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("qlabel"))
      val topW = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
      val voteW = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cnt").desc, col("label").asc)
      val top = emb.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
          round(Similarity.cosine(col("embedding"), col("qv")), 6)
            .as("cos"))
        .withColumn("rk", row_number().over(topW))
        .where(col("rk") <= 10)
      top.groupBy("qid", "qlabel", "label")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("vr", row_number().over(voteW))
        .where(col("vr") === 1)
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("n_queries"), col("n_correct"),
          round(col("n_correct").cast("double") /
            col("n_queries").cast("double"), 6).as("accuracy"))
    },
      s"""WITH $embUnnestCte,
         |q AS (
         |  SELECT vec_id AS qid, label AS qlabel,
         |         unnest(embedding) AS qx,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings WHERE vec_id < 50
         |), nrm AS (
         |  SELECT vec_id, sqrt(sum(cast(vx AS DOUBLE) * vx)) AS nv
         |  FROM v GROUP BY vec_id
         |), d AS (
         |  SELECT q.qid, q.qlabel, v.vec_id, v.label,
         |         sum(cast(v.vx AS DOUBLE) * q.qx) AS dot
         |  FROM v JOIN q USING (pos)
         |  WHERE v.vec_id <> q.qid
         |  GROUP BY q.qid, q.qlabel, v.vec_id, v.label
         |), c AS (
         |  SELECT d.qid, d.qlabel, d.vec_id, d.label,
         |         round(d.dot / (a.nv * b.nv), 6) AS cos
         |  FROM d JOIN nrm a ON a.vec_id = d.vec_id
         |         JOIN nrm b ON b.vec_id = d.qid
         |), top AS (
         |  SELECT qid, qlabel, label,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY cos DESC, vec_id) AS rk
         |  FROM c
         |), votes AS (
         |  SELECT qid, qlabel, label, count(*) AS cnt
         |  FROM top WHERE rk <= 10 GROUP BY qid, qlabel, label
         |), pred AS (
         |  SELECT qid, qlabel, label,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY cnt DESC, label) AS vr
         |  FROM votes
         |)
         |SELECT count(*) AS n_queries,
         |       sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)::BIGINT
         |         AS n_correct,
         |       round(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
         |               ::DOUBLE / count(*)::DOUBLE, 6) AS accuracy
         |FROM pred WHERE vr = 1""".stripMargin),
  )
}
