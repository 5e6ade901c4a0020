package graft
package registry

import SparkEntry.{tbl, events}
import graft.ops.{Dedup, Quality, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark builders and DuckDB SQL fragments that queries of more than one
  * family share. (The shared base inputs — `tbl`, `events`, `docLines`,
  * the staging root and the txn stagers — are in [[graft.SparkEntry]];
  * `linesCte` here is the DuckDB twin of `docLines`.) */
private[graft] object Shared {

  /** SCD Type-2 dimension built from the signup changelog: one row per
    * (user, version) with [vf, vt) micros effectivity, vt NULL while
    * current. Shared by `rel_scd2_build` (the dimension itself) and
    * `rel_scd2_pit` (point-in-time enrichment). */
  private[graft] def scd2Dim(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("vf", "event_id")
    events(s, dir).where(col("event_type") === "signup")
      .select(col("user_id"), unix_micros(col("ts")).as("vf"),
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .withColumn("vt", lead(col("vf"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("is_current", col("vt").isNull)
      .drop("event_id")
  }

  /** 60-bit uniform hash for the Theta/KMV sketch family: the first 15
    * hex digits of md5 of the value's decimal string. Engine-portable —
    * DuckDB reproduces it as `('0x' || substr(md5(x::VARCHAR),1,15))::
    * BIGINT`, so sketch contents (and therefore the set-operation
    * estimates) are oracle-checked bit-exactly. */
  private[graft] def thetaHash(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** KMV/theta distinct-count estimate of a k-minimum-values sketch `ks`
    * (ascending [[thetaHash]] values): exact while fewer than k hashes
    * are kept, else (k - 1) · 2^60 / (kth smallest hash), rounded to 4
    * decimals. */
  private[graft] def kmvEstimate(ks: Column, k: Int): Column =
    round(when(size(ks) < k, size(ks).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
        / element_at(ks, k).cast("double")), 4)

  /** Theta of a k-minimum-values sketch `ks`: its kth smallest hash, or
    * 2^60 (the whole hash space) while fewer than k hashes are kept — an
    * exact sketch. */
  private[graft] def kmvTheta(ks: Column, k: Int): Column =
    when(size(ks) < k, lit(1152921504606846976L))
      .otherwise(element_at(ks, k))

  /** DuckDB twin of [[kmvEstimate]] at k = 128, over a sketch summarized
    * as its kept-hash count `nKept` and its kth smallest hash `theta`. */
  private[graft] def kmvEstimateSql(nKept: String, theta: String): String =
    s"CASE WHEN $nKept < 128 THEN round($nKept::DOUBLE, 4) " +
      s"ELSE round(127.0 * 1152921504606846976 / $theta::DOUBLE, 4) END"

  /** Same construction in DuckDB SQL (literal `replace` on both sides —
    * non-overlapping left-to-right replace-all in both engines; avoids a
    * regex pass on the hot path feeding 8 queries). */
  private[graft] val linesCte =
    """WITH lines AS (
      |  SELECT doc_id, lang,
      |         concat_ws(',', doc_id,
      |                   replace(text, ' spark ', ',spark,'),
      |                   lang, source) AS line
      |  FROM documents
      |)""".stripMargin

  private[graft] lazy val stopListSql: String =
    TextOps.stopWords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** DuckDB token stream (scrub + whitespace split + unnest), matching
    * [[TextOps.scrub]]/[[TextOps.tokenize]]. */
  private[graft] def tokensCte(src: String): String =
    s"""toks AS (
       |  SELECT unnest(string_split_regex(
       |           regexp_replace(lower($src), '[^a-z ]', ' ', 'g'),
       |           '\\s+')) AS token
       |  FROM documents
       |)""".stripMargin

  /** DuckDB expression for [[Dedup.cleanTokens]] over column `src`. */
  private[graft] def cleanToksSql(src: String): String =
    s"list_filter(string_split_regex(regexp_replace(lower($src), " +
      s"'[^a-z ]', ' ', 'g'), '\\s+'), x -> x <> '')"

  /** DuckDB expression for [[Dedup.shingles]] (n=3) over token list `l`. */
  private[graft] val shinglesSql: String =
    """CASE WHEN len(l) >= 3
      |     THEN list_transform(range(1, len(l)-1),
      |                         i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
      |     ELSE [array_to_string(l, ' ')] END""".stripMargin

  /** Full-corpus BM25 scores for the fixed query terms — shared by
    * text_bm25 (top-20 positive scores) and emb_hybrid_rrf (rank-fusion
    * input). Tokenized once and materialized: `base` feeds three
    * consumers (corpus stats, per-doc tf, the scored join) which would
    * each re-run the tokenization otherwise. */
  private[graft] def bm25ScoresDf(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("join", "vector", "dup")
    val base = tbl(s, dir, "documents")
      .select(col("doc_id"), Dedup.cleanTokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("double").as("dl"))
      .localCheckpoint(false)
    val statAggs = count(lit(1)).cast("double").as("n") +:
      avg(col("dl")).as("avgdl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(array_contains(col("toks"), t).cast("int")).cast("double")
          .as(s"df$i")
      }
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("t") === t, 1).otherwise(0)).cast("double").as(s"tf$i")
    }
    val tfs = base
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .where(col("t").isin(terms: _*))
      .groupBy("doc_id").agg(tfAggs.head, tfAggs.tail: _*)
    val norm = lit(0.25) + lit(0.75) * col("dl") / col("avgdl")
    val score = terms.indices.map { i =>
      val tf = coalesce(col(s"tf$i"), lit(0.0))
      log((col("n") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i") + lit(0.5)) + lit(1.0)) *
        (tf * lit(2.2)) / (tf + lit(1.2) * norm)
    }.reduce(_ + _)
    base.select(col("doc_id"), col("dl"))
      .join(tfs, Seq("doc_id"), "left_outer")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("bm25"))
  }

  /** Exact n-gram Jaccard on LSH candidate pairs: bands generate the
    * candidates (O(collisions), not O(n^2)); exact distinct-shingle
    * intersection/union only on those pairs. Shared by
    * dedup_jaccard_pairs and dedup_connected_components.
    *
    * The shingle array is computed ONCE (localCheckpointed) and feeds
    * BOTH consumers — the MinHash signatures (via the from-shingles
    * expression; duplicate-invariant, so identical values) and the
    * exact sets. Without the shared pass the tokenize+shingle work ran
    * twice per document. */
  private[graft] def jaccardPairsDf(s: SparkSession, dir: String): DataFrame =
    jaccardPairsWithSetsDf(s, dir)
      .select(col("id1"), col("id2"),
        round(col("inter").cast("double") / col("uni").cast("double"), 6)
          .as("jaccard"))

  /** LSH candidate pairs with exact distinct-shingle set sizes —
    * (id1, id2, inter, uni, n1, n2) — shared by the Jaccard and
    * containment scorers (same candidates, different ratios). */
  private[graft] def jaccardPairsWithSetsDf(s: SparkSession, dir: String)
  : DataFrame = {
    val sh = tbl(s, dir, "documents").select(col("doc_id"),
      graft.functions.GraftFunctions.shingles(col("text")).as("shg"))
      .localCheckpoint(false)
    val sigArr = graft.functions.GraftFunctions
      .minhashSigFromShingles(col("shg"), 8).as("sig")
    val sigs = sh.select(col("doc_id"), sigArr)
      .select(col("doc_id") +:
        (0 until 8).map(i => element_at(col("sig"), i + 1).as(s"sig$i")): _*)
    val pairs = Dedup.lshCandidatePairs(sigs, "doc_id")
    val sets = sh.select(col("doc_id"), array_distinct(col("shg")).as("sh"))
    pairs
      .join(sets.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
      .join(sets.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
      .select(col("id1"), col("id2"),
        size(array_intersect(col("sh1"), col("sh2"))).as("inter"),
        size(array_union(col("sh1"), col("sh2"))).as("uni"),
        size(col("sh1")).as("n1"), size(col("sh2")).as("n2"))
  }

  /** DuckDB sig0..sig7 select-list fragment over shingle list `sh`:
    * the mod-(2^61-1) universal-hash MinHash ([[Dedup.minhashSignature]])
    * — one md5 per shingle parsed as an unsigned 64-bit word, then the
    * same fixed (a_i, b_i) mixes in exact HUGEINT arithmetic. */
  private[graft] val sigsSql: String = {
    val p = graft.functions.TextHashes.P61
    val cs = graft.functions.TextHashes.mixConsts(8)
    val x = s"(('0x' || substr(md5(s), 1, 16))::UBIGINT % $p)::HUGEINT"
    (0 until 8).map { i =>
      val (a, b) = cs(i)
      s"list_aggregate(list_transform(sh, s -> " +
        s"cast(($a::HUGEINT * $x + $b::HUGEINT) % $p::HUGEINT AS BIGINT)" +
        s"), 'min') AS sig$i"
    }.mkString(",\n       ")
  }

  /** Shared banded-LSH candidate-pair CTE chain (expects `shl(doc_id, sh)`
    * in scope): sigs -> bands -> per-band sizes -> SALTED pairs. Models
    * the engine's `maxBucket` salting ([[Dedup.lshCandidatePairs]],
    * 10000): an over-cap band bucket splits into ceil(c/10000)
    * md5-salted sub-buckets and pairs form only within a sub-bucket, so
    * the oracle stays faithful at every ladder rung — not only where no
    * bucket happens to overflow. One definition feeds all seven
    * pair-chain oracles (jaccard, containment, CC, PageRank, triangle
    * census, LSH recall, fuzzy-dedup capstone). */
  private[graft] val lshPairsCtes: String = {
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, md5(sig${2 * b}::VARCHAR || ',' || sig${2 * b + 1}::VARCHAR) AS band FROM sigs")
      .mkString("\n  UNION ALL\n  ")
    s"""sigs AS (SELECT doc_id,
       |       $sigsSql
       |FROM shl),
       |bands AS (
       |  $bands
       |),
       |bsz AS (SELECT band, count(*) AS c FROM bands GROUP BY 1),
       |salted AS (
       |  SELECT doc_id, band,
       |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
       |           % ((c - 1) // 10000 + 1) AS salt
       |  FROM bands JOIN bsz USING (band)
       |),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM salted a JOIN salted b
       |    ON a.band = b.band AND a.salt = b.salt AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  /** DuckDB twin of the one-pass covariance ([[graft.ops.Pca]]): expects
    * the `v` unnest CTE in scope, defines `mu(pos, m)` and
    * `cov(i, j, c)` — the full symmetric population covariance
    * Cᵢⱼ = Σxᵢxⱼ/n − μᵢμⱼ. */
  private[graft] val pcaCovCtes: String =
    """mu AS MATERIALIZED (
      |  SELECT pos, sum(cast(vx AS double)) / count(*) AS m
      |  FROM v GROUP BY pos
      |),
      |cxy AS MATERIALIZED (
      |  SELECT a.pos AS i, b.pos AS j,
      |         sum(cast(a.vx AS double) * cast(b.vx AS double)) AS sxy,
      |         count(*) AS n
      |  FROM v a JOIN v b ON a.vec_id = b.vec_id
      |  GROUP BY 1, 2
      |),
      |cov AS MATERIALIZED (
      |  SELECT i, j, sxy / n - m1.m * m2.m AS c
      |  FROM cxy JOIN mu m1 ON cxy.i = m1.pos JOIN mu m2 ON cxy.j = m2.pos
      |)""".stripMargin

  /** DuckDB CTE chain computing each document's predicted language into
    * `p(keyCol, lang_pred)` — shared by text_lang_id / text_lang_confusion. */
  private[graft] def langPredCtes(keyCol: String): String = {
    val markers = Seq("en", "es", "fr", "de")
    val ratioDefs = markers.map { l =>
      val list = Quality.langMarkers(l).map(w => s"'$w'").mkString("[", ", ", "]")
      s"CASE WHEN len(l) = 0 THEN 0.0 ELSE " +
        s"cast(len(list_filter(l, x -> list_contains($list, x))) AS double)" +
        s" / cast(len(l) AS double) END AS r_$l"
    }.mkString(",\n    ")
    val whens = markers.map(l =>
      s"WHEN best >= 0.02 AND r_$l = best THEN '$l'").mkString("\n       ")
    s"""WITH t AS (SELECT $keyCol, ${cleanToksSql("text")} AS l FROM documents),
       |r AS (
       |  SELECT $keyCol,
       |    $ratioDefs
       |  FROM t
       |), b AS (
       |  SELECT $keyCol, r_en, r_es, r_fr, r_de,
       |         greatest(r_en, r_es, r_fr, r_de) AS best
       |  FROM r
       |), p AS (
       |  SELECT $keyCol,
       |         CASE $whens
       |              ELSE 'unknown' END AS lang_pred
       |  FROM b
       |)""".stripMargin
  }

  /** Readout of a quantile sketch column `qs` (`[L, h1, v1, h2, v2, ...]`:
    * the values sit at even 0-based positions >= 2), keyed by `key`:
    * level, kept count, nearest-rank p50/p95 of the kept values and the
    * sketch contents as an exact string. `keyOut` shapes the key column. */
  private[graft] def qsketchReadout(key: String,
      keyOut: Column => Column = identity)(df: DataFrame): DataFrame =
    df.select(col(key), col("qs"),
        expr("array_sort(filter(qs, (x, i) -> i >= 2 AND i % 2 = 0))")
          .as("vals"))
      .select(keyOut(col(key)),
        element_at(col("qs"), 1).as("lvl"),
        size(col("vals")).cast("long").as("n_kept"),
        expr("element_at(vals, cast(ceil(size(vals) * 0.5) AS int))")
          .as("p50_cents"),
        expr("element_at(vals, cast(ceil(size(vals) * 0.95) AS int))")
          .as("p95_cents"),
        concat_ws(";", col("qs").cast("array<string>")).as("contents"))

  /** DuckDB from-scratch rebuild of the deterministic quantile sketch
    * over ALL events (see functions/QuantileSketchAgg.scala): minimal
    * level keeping <= 256 rows by md5(event_id) trailing zeros, exact
    * retained contents + rank readouts. Shared by rel_quantile_sketch,
    * rel_sql_qsketch, and stream_qsketch_handoff — each builds the
    * same sketch through a different engine path (one group-by, a SQL
    * build+merge, a stream-to-store handoff), and the lossless merge
    * identity makes all three equal this one definition. */
  private[graft] val qsketchFromScratchSql: String =
    """WITH t AS (
      |  SELECT event_type,
      |         cast(round(value * 1000) AS bigint) AS cents,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT
      |           AS h
      |  FROM events
      |), z AS (
      |  SELECT *, CASE WHEN h = 0 THEN 60
      |                 ELSE bit_count(CAST((~h) & (h - 1) AS BIGINT))
      |            END AS tz
      |  FROM t
      |), lev AS (
      |  SELECT event_type, l, count(*) FILTER (WHERE tz >= l) AS cnt
      |  FROM z CROSS JOIN (SELECT unnest(generate_series(0, 60)) AS l)
      |  GROUP BY 1, 2
      |), lv AS (
      |  SELECT event_type, min(l) AS lvl FROM lev WHERE cnt <= 256
      |  GROUP BY 1
      |), ret AS (
      |  SELECT z.event_type, z.h, z.cents, lv.lvl
      |  FROM z JOIN lv USING (event_type) WHERE z.tz >= lv.lvl
      |), ord AS (
      |  SELECT *,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY cents, h) AS rv,
      |         count(*) OVER (PARTITION BY event_type) AS m
      |  FROM ret
      |)
      |SELECT event_type, cast(lvl AS bigint) AS lvl,
      |       cast(m AS bigint) AS n_kept,
      |       max(CASE WHEN rv = cast(ceil(m * 0.5) AS bigint)
      |                THEN cents END) AS p50_cents,
      |       max(CASE WHEN rv = cast(ceil(m * 0.95) AS bigint)
      |                THEN cents END) AS p95_cents,
      |       lvl::VARCHAR || ';' ||
      |         string_agg(h::VARCHAR || ';' || cents::VARCHAR, ';'
      |                    ORDER BY h, cents) AS contents
      |FROM ord GROUP BY event_type, lvl, m""".stripMargin

  /** DuckDB CTE exploding embeddings to (vec_id, label, pos, vx). */
  private[graft] val embUnnestCte =
    """v AS (
      |  SELECT vec_id, label, unnest(embedding) AS vx,
      |         generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings
      |)""".stripMargin
}
