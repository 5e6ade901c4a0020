package graft
package registry

import SparkEntry.{tbl, staged, stagePartitionedObjects}
import Shared.{cleanToksSql, shinglesSql, jaccardPairsDf,
  jaccardPairsWithSetsDf, sigsSql, lshPairsCtes}
import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data dedup: exact groups, MinHash/LSH and exact set-similarity
  * joins, near-duplicate clustering and decontamination. */
private[graft] object DedupQueries {

  /** dedup_lsh_recall's truth-side df cap: a shingle shared by more than
    * this many SAMPLED docs is treated as non-discriminative and excluded
    * from the truth definition (consistently on both sides of the recall
    * ratio — found = truth ∩ candidates). Bounds the per-shingle pair
    * expansion at cap^2 regardless of how universal a boilerplate
    * shingle is. Mirrored literally in the DuckDB oracle. */
  private[graft] val TruthDfCap = 64

  /** (doc_id, sig0..sig7) via the native MinHashSigExpr — shared input of
    * the dedup_minhash/lsh/jaccard queries. */
  private def minhashSigDf(s: SparkSession, dir: String): DataFrame = {
    val sigs = tbl(s, dir, "documents").select(col("doc_id"),
      graft.functions.GraftFunctions.minhashSig(col("text"), 8).as("sig"))
    sigs.select(col("doc_id") +:
      (0 until 8).map(i => element_at(col("sig"), i + 1).as(s"sig$i")): _*)
  }

  /** (doc_id, idx, chunk) — fixed 10-token chunks of every document
    * (CCNet-style "paragraphs"), localCheckpointed because both consumers
    * read the explode output twice (chunk-frequency agg + join back).
    * Shared by dedup_chunk_dedup (ignores idx) and dedup_chunk_removal
    * (uses idx to restore document order) so the chunking definition can
    * never drift between the accounting and removal halves. */
  private def chunksDf(s: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.cleanTokens(col("text"))
    val nc = greatest(ceil(size(toks) / lit(10.0)).cast("int"), lit(1))
    tbl(s, dir, "documents")
      .select(col("doc_id"), toks.as("toks"), nc.as("nc"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("nc") - 1),
          i => concat_ws(" ", slice(col("toks"), i * 10 + 1, lit(10)))))
          .as(Seq("idx", "chunk")))
      .localCheckpoint(false)
  }

  /** DuckDB twin of [[chunksDf]]: defines `ch(doc_id, idx, chunk)`;
    * expects `t(doc_id, l)` in scope. */
  private val chunkCtes: String =
    """chs AS (
      |  SELECT doc_id,
      |         unnest(list_transform(
      |           range(0, greatest(1, cast(ceil(len(l) / 10.0) AS int))),
      |           i -> {'idx': i,
      |                 'chunk': array_to_string(l[i*10+1 : i*10+10], ' ')}))
      |           AS s
      |  FROM t
      |),
      |ch AS (SELECT doc_id, s.idx AS idx, s.chunk AS chunk FROM chs)""".stripMargin

  /** Edit-distance-1 similarity self-join via deletion-neighborhood
    * blocking (the SymSpell/FastSS signature scheme): each name emits
    * itself plus every single-character deletion as signatures; two
    * strings within Levenshtein distance 1 ALWAYS share a signature
    * (substitution: delete the differing position from both;
    * insert/delete: the shorter string IS a deletion of the longer), so
    * an equi-join on the signature finds every true pair and a final
    * exact `levenshtein` check discards the collisions (two different
    * deletions can meet at distance 2, e.g. "abc"/"cab" at "ab").
    *
    * The scale shape: candidate generation is an EQUI-join — shuffle by
    * signature, len+1 signatures per row, and a signature bucket can only
    * hold strings one insertion away from it (intrinsically bounded by
    * alphabet x length, never corpus-sized) — versus the quadratic
    * all-pairs scan the oracle runs. This is the fuzzy-join primitive for
    * typo-level entity resolution over billions of keys. */
  private def editPairsDf(s: SparkSession, dir: String): DataFrame =
    graft.ops.FrequentItems.editDistance1Pairs(
      tbl(s, dir, "customer").select(col("c_name").as("name")).distinct())

  /** EXACT set-similarity self-join (shingle Jaccard >= t) via
    * rarest-first prefix filtering — the AllPairs family (Bayardo et al.,
    * WWW'07; Xiao et al. PPJoin), the exact complement to the
    * LSH-candidate chain (`dedup_jaccard_pairs` can miss pairs LSH
    * doesn't collide; this query provably finds every pair).
    *
    * Machinery: each doc's distinct shingle set is sorted by GLOBAL
    * rarity (document frequency asc, shingle asc — one canonical total
    * order for the corpus), and only the first n - ceil(t*n) + 1
    * shingles (the "prefix") are exploded into the candidate join. Two
    * sets with Jaccard >= t MUST share a prefix element: with the size
    * band |a| >= t*|b| their overlap is >= ceil(t*n) on both sides, and
    * if the smallest common shingle sat outside either prefix, all
    * common shingles would have to fit in that side's ceil(t*n)-1
    * suffix — contradiction. So prefix + size filters lose nothing, and
    * the exact Jaccard verify on candidates discards false positives.
    *
    * The scale shape: the candidate join is an EQUI-join on prefix
    * shingles only (~(1-t) of each set), and rarest-FIRST ordering keeps
    * boilerplate shingles out of prefixes — bucket sizes track the df of
    * RARE shingles, not corpus size. The quadratic all-pairs scan the
    * oracle runs is exactly what this plan avoids. */
  private def ssjoinExactDf(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSimilarityPairs(
      tbl(s, dir, "documents").select(col("doc_id"),
        array_distinct(
          graft.functions.GraftFunctions.shingles(col("text"))).as("sh")),
      // no checkpoint: the operator consumes `sh` exactly once (its
      // dictionary-encoded per-doc arrays are what feed prefix + verify)
      t = 0.6)

  val queries: Seq[Query] = Seq(

    // Exact dedup: content-hash groups with representative id + dup count
    Query("dedup_exact_groups", (s, dir) =>
      Dedup.exactGroups(tbl(s, dir, "documents"), col("text"), col("doc_id")),
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin),

    // Near-exact dedup: whitespace/case-insensitive fingerprint
    Query("dedup_fingerprint", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        Dedup.fingerprint(col("text")).as("fp")),
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin),

    // MinHash signatures (k=8, 3-word shingles, portable md5 minima) via
    // the native MinHashSigExpr (same semantics as Dedup.minhashSignature,
    // ~10x faster: one tight-loop eval per row vs interpreted HOF lambdas)
    Query("dedup_minhash_sig", (s, dir) => minhashSigDf(s, dir),
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t)
         |SELECT doc_id,
         |       $sigsSql
         |FROM sh""".stripMargin),

    // LSH bucket histogram: band id -> bucket size (candidate generation).
    // Signature array computed once per row (CollapseProject keeps the
    // non-cheap producer materialized); bands emitted via posexplode.
    Query("dedup_lsh_buckets", (s, dir) =>
      minhashSigDf(s, dir)
        .select(posexplode(array(Dedup.lshBands(8, 2): _*))
          .as(Seq("band_idx", "band")))
        .select(col("band_idx").cast("long").as("band_idx"), col("band"))
        .groupBy("band_idx", "band").agg(count(lit(1)).as("bucket_size")),
      {
        val bands = (0 until 4).map(b =>
          s"SELECT cast($b AS bigint) AS band_idx, " +
            s"md5(sig${2 * b}::VARCHAR || ',' || sig${2 * b + 1}::VARCHAR) AS band FROM sigs")
          .mkString("\n  UNION ALL\n  ")
        s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
           |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t),
           |sigs AS (SELECT doc_id,
           |       $sigsSql
           |FROM sh),
           |bands AS (
           |  $bands
           |)
           |SELECT band_idx, band, count(*) AS bucket_size
           |FROM bands GROUP BY band_idx, band""".stripMargin
      }),

    // INCREMENTAL LSH INDEX MAINTENANCE DRIVEN BY THE TXN-LOG DIFF — the
    // production LLM-pipeline shape: a standing signature store is kept
    // next to a TxnLog table; when the table moves from v0 to v1,
    // `changedBetween` names exactly the objects the index must
    // re-process — re-LSH only the net-added objects, retire the rows of
    // the net-removed ones. The rel_ivm_agg merge-equals-recompute
    // discipline, applied to dedup: the in-path require pins that the
    // incrementally-maintained index equals a from-scratch index of the
    // new snapshot, row for row. At 100 TB the incremental path
    // re-shingles O(transaction) documents instead of the corpus.
    Query("dedup_txn_incremental_lsh", (s, dir) => {
      import graft.sources.TxnLog
      val root = staged("txn_inc_lsh")
      graft.streaming.StreamGate.deleteRecursively(root)
      val logDir = s"$root/_log"
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      def lshRows(in: DataFrame): DataFrame = {
        val sigs = in.select(col("doc_id"),
          graft.functions.GraftFunctions.minhashSig(col("text"), 8)
            .as("sig"))
          .select(col("doc_id") +: (0 until 8).map(i =>
            element_at(col("sig"), i + 1).as(s"sig$i")): _*)
        sigs.select(col("doc_id"),
            posexplode(array(Dedup.lshBands(8, 2): _*))
              .as(Seq("band_idx", "band")))
          .select(col("doc_id"),
            col("band_idx").cast("long").as("band_idx"), col("band"))
      }
      // ONE partitioned write lays down all 3 doc-range objects
      // (identical rows/columns to three filtered writes — the staging
      // discipline txnLogStage established)
      val Seq(o0, o1, o2) = stagePartitionedObjects(root, "d",
        docs.withColumn("bucket",
          when(col("doc_id") < 200, 0L)
            .when(col("doc_id") < 350, 1L).otherwise(2L)),
        nBuckets = 3)
      TxnLog.commit(s, logDir, 0L, adds = Seq(o0, o1), checkpointEvery = 2)
      // the standing signature store, built once at v0 and persisted
      val index0Dir = s"$root/index_v0"
      lshRows(TxnLog.readSnapshot(s, logDir, 0L))
        .write.mode("overwrite").parquet(index0Dir)
      // v1: one transaction retires a slice and ingests a new one
      TxnLog.commit(s, logDir, 1L, adds = Seq(o2), removes = Seq(o1),
        checkpointEvery = 2)
      val (added, removed) =
        TxnLog.changedBetween(TxnLog.readLog(s, logDir), 0L, 1L)
      require(added == Seq(o2) && removed == Seq(o1),
        s"log diff should name exactly the v1 objects: +$added -$removed")
      // incremental maintenance: O(transaction) re-shingling only
      val retired = s.read.parquet(removed: _*).select(col("doc_id"))
      val incremental = s.read.parquet(index0Dir)
        .join(retired, Seq("doc_id"), "left_anti")
        .unionAll(lshRows(s.read.parquet(added: _*)))
      // merge == recompute: the maintained index must equal the index a
      // from-scratch build of snapshot v1 produces — one multiset-
      // equality pass (±1 tags, all per-tuple sums zero) instead of two
      // exceptAll probes that each re-plan both sides
      val scratch = lshRows(TxnLog.readSnapshot(s, logDir, 1L))
      require(incremental.withColumn("_side", lit(1L))
        .unionByName(scratch.withColumn("_side", lit(-1L)))
        .groupBy(incremental.columns.map(col): _*)
        .agg(sum(col("_side")).as("_d"))
        .where(col("_d") =!= 0L)
        .isEmpty,
        "incremental LSH index diverged from the from-scratch index")
      incremental.groupBy(col("band_idx"), col("band"))
        .agg(count(lit(1)).as("bucket_size"))
    },
      // the incremental index must equal a from-scratch index of snapshot
      // v1 (docs outside [200, 350)) — so the oracle is the LSH bucket
      // histogram over exactly that document slice
      {
        val bands = (0 until 4).map(b =>
          s"SELECT cast($b AS bigint) AS band_idx, " +
            s"md5(sig${2 * b}::VARCHAR || ',' || sig${2 * b + 1}::VARCHAR) AS band FROM sigs")
          .mkString("\n  UNION ALL\n  ")
        s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents
           |           WHERE doc_id < 200 OR doc_id >= 350),
           |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t),
           |sigs AS (SELECT doc_id,
           |       $sigsSql
           |FROM sh),
           |bands AS (
           |  $bands
           |)
           |SELECT band_idx, band, count(*) AS bucket_size
           |FROM bands GROUP BY band_idx, band""".stripMargin
      }),

    // SimHash (64-bit, md5-based ±1 bit sums) via the native SimHash64Expr.
    // Fully oracle-checked: every step is md5 + exact integer arithmetic,
    // so DuckDB re-derives the identical 64-bit value (per-bit sign sums
    // over the same first-8-md5-bytes words the minhash oracle parses).
    Query("dedup_simhash", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        graft.functions.GraftFunctions.simhash64(col("text"))
          .as("simhash")),
      // exact SimHash re-derivation: per token u = first-8-md5-bytes as an
      // unsigned 64-bit word (the minhash oracle's parse), per bit j the
      // sign of the ±1 sum over tokens decides bit (63-j); the unsigned
      // 64-bit result folds to Spark's signed long via a 2^64 shift.
      // Token-less documents hash to 0 (all sums empty -> no bits set).
      s"""WITH t AS (
         |  SELECT doc_id, unnest(${cleanToksSql("text")}) AS tok
         |  FROM documents
         |), tu AS (
         |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS u
         |  FROM t
         |), b AS (
         |  SELECT doc_id, j.j,
         |         CASE WHEN sum(CASE WHEN (u >> (63 - j.j)) & 1 = 1
         |                            THEN 1 ELSE -1 END) > 0
         |              THEN (1::UBIGINT << (63 - j.j))::HUGEINT
         |              ELSE 0::HUGEINT END AS w
         |  FROM tu CROSS JOIN (SELECT range AS j FROM range(64)) j
         |  GROUP BY doc_id, j.j
         |), h AS (
         |  SELECT doc_id, sum(w) AS uh FROM b GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |       cast(CASE WHEN h.uh IS NULL THEN 0
         |                 WHEN h.uh >= 9223372036854775808
         |                 THEN h.uh - 18446744073709551616
         |                 ELSE h.uh END AS BIGINT) AS simhash
         |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id""".stripMargin),

    // Content-defined chunking dedup: rolling-hash chunk boundaries
    // (native CdcChunksExpr), then dedup at CHUNK granularity — the
    // production shape for partially-overlapping documents, where
    // doc-level hashing misses shared passages. Emits the chunks that
    // occur more than once corpus-wide. Pure field arithmetic end to end,
    // so the oracle re-derives identical boundaries in SQL.
    Query("dedup_cdc_chunks", (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.GraftFunctions.cdcChunks(col("text")))
            .as("chunk"))
        .groupBy(md5(col("chunk")).as("chunk_md5"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"))
        .where(col("n_occ") > 1),
      // re-derives the engine's rolling-hash chunk boundaries in pure SQL:
      // per position i (1-based, i >= 8), Horner over code points i-7..i in
      // the 2^61-1 field (HUGEINT holds the 263x intermediates), boundary
      // iff hash % 64 = 0; chunks split AFTER boundaries, remainder last
      """WITH cp AS (
        |  SELECT doc_id, text,
        |         list_transform(range(1, length(text) + 1),
        |                        i -> unicode(substr(text, i, 1))) AS c
        |  FROM documents
        |), bd AS (
        |  SELECT doc_id, text, len(c) AS n,
        |         list_filter(range(8, len(c) + 1),
        |           i -> list_reduce(
        |                  list_transform(range(i - 7, i + 1),
        |                                 p -> cast(c[p] AS HUGEINT)),
        |                  (acc, x) -> (acc * 263 + x) %
        |                              cast(2305843009213693951 AS HUGEINT))
        |                % 64 = 0) AS b
        |  FROM cp
        |), chunks AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(b) + 2),
        |           k -> substr(text,
        |                  (CASE WHEN k = 1 THEN 0 ELSE b[k - 1] END) + 1,
        |                  (CASE WHEN k = len(b) + 1 THEN n ELSE b[k] END)
        |                    - (CASE WHEN k = 1 THEN 0 ELSE b[k - 1] END))))
        |           AS chunk
        |  FROM bd
        |)
        |SELECT md5(chunk) AS chunk_md5, count(*) AS n_occ,
        |       count(DISTINCT doc_id) AS n_docs
        |FROM chunks GROUP BY 1 HAVING count(*) > 1""".stripMargin),

    // Edit-distance-1 fuzzy self-join via deletion-neighborhood blocking
    // (equi-join on deletion signatures + exact levenshtein verify) — the
    // typo-level entity-resolution primitive. See editPairsDf.
    Query("dedup_edit_distance_pairs", (s, dir) => editPairsDf(s, dir),
      // quadratic ground truth for the deletion-signature fuzzy join:
      // every distinct-name pair within Levenshtein distance 1 (length
      // prefilter only prunes pairs levenshtein already rejects)
      """WITH tk AS (SELECT DISTINCT c_name AS name FROM customer)
        |SELECT a.name AS name_a, b.name AS name_b,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM tk a, tk b
        |WHERE a.name < b.name
        |  AND abs(length(a.name) - length(b.name)) <= 1
        |  AND levenshtein(a.name, b.name) <= 1""".stripMargin),

    // EXACT set-similarity join (Jaccard >= 0.6) via rarest-first prefix
    // filtering — provably finds every pair (no LSH misses); candidate
    // join touches only ~(1-t) of each set. See ssjoinExactDf.
    Query("dedup_ssjoin_exact", (s, dir) => ssjoinExactDf(s, dir),
      // quadratic exact ground truth for the prefix-filtered ssjoin: every
      // doc pair whose distinct-shingle Jaccard clears 0.6 (size band only
      // prunes pairs the threshold already rejects)
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l
         |           FROM documents),
         |s AS (SELECT doc_id, list_distinct($shinglesSql) AS sh FROM t),
         |cand AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |         len(list_intersect(a.sh, b.sh)) AS inter,
         |         len(a.sh) AS n1, len(b.sh) AS n2
         |  FROM s a, s b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(b.sh) >= CAST(ceil(len(a.sh) * 0.6) AS BIGINT)
         |    AND len(a.sh) >= CAST(ceil(len(b.sh) * 0.6) AS BIGINT)
         |)
         |SELECT id1, id2,
         |       round(inter::DOUBLE / (n1 + n2 - inter), 6) AS jaccard
         |FROM cand
         |WHERE inter::DOUBLE / (n1 + n2 - inter) >= 0.6""".stripMargin),

    // Exact n-gram Jaccard on LSH candidate pairs: bands generate the
    // candidates (O(collisions), not O(n^2)); exact distinct-shingle
    // intersection/union only on those pairs
    Query("dedup_jaccard_pairs", (s, dir) => jaccardPairsDf(s, dir),
      {
        s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
           |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
           |$lshPairsCtes,
           |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
           |j AS (
           |  SELECT id1, id2,
           |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
           |           AS inter,
           |         len(s1.sh) + len(s2.sh) AS tot
           |  FROM pairs
           |  JOIN sets s1 ON pairs.id1 = s1.doc_id
           |  JOIN sets s2 ON pairs.id2 = s2.doc_id
           |)
           |SELECT id1, id2,
           |       round(cast(inter AS double) / cast(tot - inter AS double), 6)
           |         AS jaccard
           |FROM j""".stripMargin
      }),

    // SORTED-NEIGHBORHOOD candidate generation (SNM) — the classic
    // record-linkage blocking alternative to LSH: ONE global sort by a
    // canonical blocking key (normalized-text prefix), then each doc is
    // compared only to its w=3 predecessors in that order. The three
    // lags stack on one shared un-partitioned range sort (GlobalShift,
    // no single-partition stage); candidates are O(w·n) by construction
    // and the exact Jaccard verify runs only on those. Catches near-dups
    // whose edits fall OUTSIDE the prefix; complements the capped LSH
    // chain (probabilistic recall) and the exact prefix-filter join
    // (dedup_ssjoin_exact) as the third candidate-generation strategy.
    Query("dedup_sorted_neighborhood", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bkey"), col("doc_id"))
      val keyed = tbl(s, dir, "documents").select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""),
          1, 24).as("bkey"))
      val nbrs = keyed.select(col("doc_id"),
        lag(col("doc_id"), 1).over(w).as("n1"),
        lag(col("doc_id"), 2).over(w).as("n2"),
        lag(col("doc_id"), 3).over(w).as("n3"))
      // one explode, not a 3-way union: a union would re-plan the sorted
      // shift subtree once per branch (3 sorts); here the three lags
      // share ONE range sort and the array explode fans the pairs out
      val pairs = nbrs
        .select(explode(array(col("n1"), col("n2"), col("n3"))).as("id1"),
          col("doc_id").as("id2"))
        .where(col("id1").isNotNull)
      val sh = tbl(s, dir, "documents").select(col("doc_id"),
        array_distinct(
          graft.functions.GraftFunctions.shingles(col("text"))).as("sh"))
      pairs
        .join(sh.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
        .join(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
        .select(col("id1"), col("id2"),
          round(size(array_intersect(col("sh1"), col("sh2"))).cast("double")
            / size(array_union(col("sh1"), col("sh2"))).cast("double"), 6)
            .as("jaccard"))
        .where(col("jaccard") >= 0.5)
    },
      // same window-lag neighborhood formulation; the exact-Jaccard tail is
      // shared with dedup_jaccard_pairs' oracle
      {
        s"""WITH t AS (
           |  SELECT doc_id, ${cleanToksSql("text")} AS l,
           |         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
           |                1, 24) AS bkey
           |  FROM documents
           |),
           |o AS (
           |  SELECT doc_id,
           |         lag(doc_id, 1) OVER w AS n1,
           |         lag(doc_id, 2) OVER w AS n2,
           |         lag(doc_id, 3) OVER w AS n3
           |  FROM t WINDOW w AS (ORDER BY bkey, doc_id)
           |),
           |p AS (
           |  SELECT n1 AS id1, doc_id AS id2 FROM o WHERE n1 IS NOT NULL
           |  UNION ALL
           |  SELECT n2 AS id1, doc_id AS id2 FROM o WHERE n2 IS NOT NULL
           |  UNION ALL
           |  SELECT n3 AS id1, doc_id AS id2 FROM o WHERE n3 IS NOT NULL
           |),
           |sets AS (SELECT doc_id, list_distinct($shinglesSql) AS sh FROM t),
           |j AS (
           |  SELECT id1, id2,
           |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
           |           AS inter,
           |         len(s1.sh) + len(s2.sh) AS tot
           |  FROM p
           |  JOIN sets s1 ON p.id1 = s1.doc_id
           |  JOIN sets s2 ON p.id2 = s2.doc_id
           |)
           |SELECT id1, id2,
           |       round(cast(inter AS double) / cast(tot - inter AS double), 6)
           |         AS jaccard
           |FROM j
           |WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
           |      >= 0.5""".stripMargin
      }),

    // Asymmetric containment on the LSH candidate pairs: |A∩B|/|A| and
    // |A∩B|/|B| alongside the symmetric Jaccard — a short document fully
    // quoted inside a long one scores low Jaccard (union is big) but
    // containment ~1 in one direction, which is exactly the doc-in-doc
    // duplication a dedup pass must catch. Same capped candidate
    // generation as dedup_jaccard_pairs; only the pair scoring differs.
    Query("dedup_containment_pairs", (s, dir) =>
      jaccardPairsWithSetsDf(s, dir)
        .select(col("id1"), col("id2"),
          round(col("inter").cast("double") / col("n1").cast("double"), 6)
            .as("contain1"),
          round(col("inter").cast("double") / col("n2").cast("double"), 6)
            .as("contain2")),
      // same candidate chain as dedup_jaccard_pairs; asymmetric ratios over
      // the exact distinct-shingle set sizes instead of the union
      {
        s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
           |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
           |$lshPairsCtes,
           |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
           |j AS (
           |  SELECT id1, id2,
           |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
           |           AS inter,
           |         len(s1.sh) AS n1, len(s2.sh) AS n2
           |  FROM pairs
           |  JOIN sets s1 ON pairs.id1 = s1.doc_id
           |  JOIN sets s2 ON pairs.id2 = s2.doc_id
           |)
           |SELECT id1, id2,
           |       round(cast(inter AS double) / cast(n1 AS double), 6)
           |         AS contain1,
           |       round(cast(inter AS double) / cast(n2 AS double), 6)
           |         AS contain2
           |FROM j""".stripMargin
      }),

    // FUZZY cross-corpus decontamination — the near-dup cousin of
    // text_contamination's exact shingle overlap: evaluation documents
    // (source 'src0' stands in for the benchmark suite) vs the training
    // corpus (every other source), matched through the SAME capped+salted
    // MinHash-LSH candidate chain the dedup family uses, then scored by
    // exact distinct-shingle Jaccard AND one-sided containment on the
    // candidates only. Containment OF THE EVAL SIDE is the
    // decontamination-critical score: an eval item quoted inside a long
    // training document has low Jaccard (big union) but
    // contain_eval = |overlap|/|eval shingles| ~= 1 — the leakage shape
    // exact matching misses once a word is paraphrased. Emits the
    // training docs to DROP with their matched eval doc. 100 TB shape:
    // O(band collisions), never O(corpus x benchmark); the doc-source
    // membership map rides broadcasts.
    Query("dedup_cross_corpus", (s, dir) => {
      // `src` is one row per DOCUMENT (corpus-sized) — no broadcast
      // hint: the sparse candidate-pair list shuffle-joins on doc_id
      // instead (AQE may still elect a broadcast when the frame is
      // measured tiny). Same fix class as text_split_leakage; the
      // PlanAuditSpec broadcast census blocks regressions.
      val src = tbl(s, dir, "documents")
        .select(col("doc_id"), (col("source") === "src0").as("bench"))
      jaccardPairsWithSetsDf(s, dir)
        .join(src.select(col("doc_id").as("id1"),
          col("bench").as("b1")), "id1")
        .join(src.select(col("doc_id").as("id2"),
          col("bench").as("b2")), "id2")
        .where(col("b1") =!= col("b2"))
        .select(
          when(col("b1"), col("id2")).otherwise(col("id1")).as("doc_id"),
          when(col("b1"), col("id1")).otherwise(col("id2")).as("eval_id"),
          round(col("inter").cast("double") / col("uni").cast("double"), 6)
            .as("jaccard"),
          round(col("inter").cast("double") /
            when(col("b1"), col("n1")).otherwise(col("n2")).cast("double"),
            6).as("contain_eval"))
        .where(col("jaccard") >= 0.5 || col("contain_eval") >= 0.8)
    },
      // same candidate chain restricted to (training, benchmark) membership
      // pairs; scores mirror the engine's jaccard + eval-side containment
      {
        s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
           |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
           |$lshPairsCtes,
           |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
           |src AS (SELECT doc_id, (source = 'src0') AS bench FROM documents),
           |j AS (
           |  SELECT id1, id2,
           |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
           |           AS inter,
           |         len(s1.sh) AS n1, len(s2.sh) AS n2,
           |         x1.bench AS b1
           |  FROM pairs
           |  JOIN sets s1 ON pairs.id1 = s1.doc_id
           |  JOIN sets s2 ON pairs.id2 = s2.doc_id
           |  JOIN src x1 ON pairs.id1 = x1.doc_id
           |  JOIN src x2 ON pairs.id2 = x2.doc_id
           |  WHERE x1.bench <> x2.bench
           |), sc AS (
           |  SELECT CASE WHEN b1 THEN id2 ELSE id1 END AS doc_id,
           |         CASE WHEN b1 THEN id1 ELSE id2 END AS eval_id,
           |         round(cast(inter AS double)
           |               / cast(n1 + n2 - inter AS double), 6) AS jaccard,
           |         round(cast(inter AS double)
           |               / cast(CASE WHEN b1 THEN n1 ELSE n2 END AS double),
           |               6) AS contain_eval
           |  FROM j
           |)
           |SELECT doc_id, eval_id, jaccard, contain_eval FROM sc
           |WHERE jaccard >= 0.5 OR contain_eval >= 0.8""".stripMargin
      }),

    // PageRank (2 unrolled iterations, damping 0.85) over the thresholded
    // near-dup graph — centrality over dup clusters ranks the canonical
    // copy of each cluster (quality propagation, the graph cousin of the
    // min-label CC). Each iteration is one edges-ranks join + one key agg
    // — the O(iterations) shuffle pattern that scales like the CC loop;
    // the rank vector never touches the driver. Deterministic: fixed
    // iteration count, rounded output.
    Query("dedup_pagerank", (s, dir) => {
      val pairs = jaccardPairsDf(s, dir).where(col("jaccard") >= 0.5)
      val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
        .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
        .repartition(col("src")) // partitioning survives the checkpoint:
        // deg and both rank-iteration joins reuse it shuffle-free
        .localCheckpoint(false) // feeds deg + both iterations
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val n = tbl(s, dir, "documents").agg(count(lit(1)).as("n"))
      val nodes = tbl(s, dir, "documents").select(col("doc_id"))
        .crossJoin(broadcast(n))
      def step(r: DataFrame): DataFrame = {
        val inflow = r.select(col("doc_id").as("rid"), col("r"))
          .join(edges, col("rid") === col("src"))
          .join(deg, "src")
          .select(col("dst"), (col("r") / col("deg")).as("c"))
          .groupBy("dst").agg(sum(col("c")).as("inflow"))
        nodes.join(inflow, col("doc_id") === col("dst"), "left_outer")
          .select(col("doc_id"), col("n"),
            (lit(0.15) / col("n") +
              lit(0.85) * coalesce(col("inflow"), lit(0.0))).as("r"))
      }
      val r0 = nodes.select(col("doc_id"), col("n"),
        (lit(1.0) / col("n")).as("r"))
      step(step(r0)).select(col("doc_id"),
        round(col("r"), 9).as("pagerank"))
    },
      // same thresholded edge chain as dedup_connected_components, then two
      // PageRank iterations unrolled as plain CTEs (teleport 0.15/N, damping
      // 0.85, isolated nodes keep teleport-only mass via the left joins)
      {
        s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
           |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
           |$lshPairsCtes,
           |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
           |j AS (
           |  SELECT id1, id2,
           |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
           |           AS inter,
           |         len(s1.sh) + len(s2.sh) AS tot
           |  FROM pairs
           |  JOIN sets s1 ON pairs.id1 = s1.doc_id
           |  JOIN sets s2 ON pairs.id2 = s2.doc_id
           |),
           |edges AS (
           |  SELECT id1 AS a, id2 AS b FROM j
           |  WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
           |        >= 0.5
           |  UNION ALL
           |  SELECT id2, id1 FROM j
           |  WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
           |        >= 0.5
           |),
           |deg AS (SELECT a AS src, count(*) AS deg FROM edges GROUP BY a),
           |nn AS (SELECT count(*) AS n FROM documents),
           |r0 AS (SELECT doc_id, 1.0 / nn.n AS r FROM documents, nn),
           |i1 AS (
           |  SELECT e.b AS doc_id, sum(r0.r / deg.deg) AS inflow
           |  FROM edges e JOIN r0 ON e.a = r0.doc_id JOIN deg ON e.a = deg.src
           |  GROUP BY e.b
           |),
           |r1 AS (
           |  SELECT d.doc_id, 0.15 / nn.n + 0.85 * coalesce(i1.inflow, 0.0) AS r
           |  FROM documents d CROSS JOIN nn
           |  LEFT JOIN i1 ON d.doc_id = i1.doc_id
           |),
           |i2 AS (
           |  SELECT e.b AS doc_id, sum(r1.r / deg.deg) AS inflow
           |  FROM edges e JOIN r1 ON e.a = r1.doc_id JOIN deg ON e.a = deg.src
           |  GROUP BY e.b
           |),
           |r2 AS (
           |  SELECT d.doc_id, 0.15 / nn.n + 0.85 * coalesce(i2.inflow, 0.0) AS r
           |  FROM documents d CROSS JOIN nn
           |  LEFT JOIN i2 ON d.doc_id = i2.doc_id
           |)
           |SELECT doc_id, round(r, 9) AS pagerank FROM r2""".stripMargin
      }),

    // Near-dup CLUSTERS from the pairs: connected components by iterative
    // min-label propagation (each component's label = its min doc_id, the
    // canonical representative to keep). Pairs are thresholded at
    // jaccard >= 0.5; isolated docs form singleton components.
    Query("dedup_connected_components", (s, dir) => {
      val edges = jaccardPairsDf(s, dir)
        .where(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"))
      Dedup.connectedComponents(
        tbl(s, dir, "documents").select(col("doc_id")), edges)
    },
      // same candidate-pair chain as dedup_jaccard_pairs, thresholded, then
      // transitive closure via a recursive CTE: min reachable doc_id per
      // node == the engine's min-label-propagation fixpoint
      {
        s"""WITH RECURSIVE t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
           |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
           |$lshPairsCtes,
           |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
           |j AS (
           |  SELECT id1, id2,
           |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
           |           AS inter,
           |         len(s1.sh) + len(s2.sh) AS tot
           |  FROM pairs
           |  JOIN sets s1 ON pairs.id1 = s1.doc_id
           |  JOIN sets s2 ON pairs.id2 = s2.doc_id
           |),
           |edges AS (
           |  SELECT id1 AS a, id2 AS b FROM j
           |  WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
           |        >= 0.5
           |  UNION ALL
           |  SELECT id2, id1 FROM j
           |  WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
           |        >= 0.5
           |),
           |reach AS (
           |  SELECT doc_id AS node, doc_id AS lab FROM documents
           |  UNION
           |  SELECT reach.node, e.b AS lab
           |  FROM reach JOIN edges e ON reach.lab = e.a
           |)
           |SELECT node AS doc_id, min(lab) AS component
           |FROM reach GROUP BY 1""".stripMargin
      }),

    // Accuracy CONTRACT for the banded-MinHash LSH path (the dedup cousin
    // of emb_ivf_recall / rel_cms_freq_bounded): recall of the capped LSH
    // candidate generation against the TRUE >= 0.5-Jaccard pair set on a
    // deterministic doc sample (md5-bucket on doc_id — the
    // rel_stratified_sample idiom, reproducible across engines/retries).
    // The truth side's cost is BOUNDED BY DESIGN on two axes, not by a
    // constant that happens to be small:
    //   * corpus growth — the sample threshold is SCALE-INVERSE:
    //     min(40%, ceil(20000/N)%) of docs, i.e. an expected ~200
    //     sampled docs regardless of corpus size (40% at the harness's
    //     500-doc tables, 0.02% at 1M docs);
    //   * hot shingles — truth buckets are df-capped at TruthDfCap
    //     within the sample: a corpus-universal boilerplate shingle
    //     would otherwise concentrate O(sampledDf^2) pair structs in
    //     one task. The cap applies to the TRUTH definition (and
    //     therefore identically to numerator and denominator — found is
    //     truth ∩ candidates): the contract measures recall over pairs
    //     witnessed by at least one DISCRIMINATIVE shingle, which is
    //     exactly the pair class LSH is built to find. Worst-case truth
    //     cost is sum-per-shingle of min(df, cap)^2 over ~200 docs —
    //     constant.
    // The candidate side stays the PRODUCTION capped LSH pass over the
    // whole corpus. With 4 bands of 2 rows, pairs at J >= 0.5 collide
    // with probability 1-(1-J^2)^4 >= 0.94, so recall lands near 1
    // (exact value pinned by the oracle; bounds and the subset property
    // by TrainingOpsSpec).
    Query("dedup_lsh_recall", (s, dir) => {
      val nDocs = math.max(1L, tbl(s, dir, "documents").count())
      val thr = math.max(1L, math.min(40L, math.ceil(20000.0 / nDocs).toLong))
      val sampled = conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long") % 100 < thr
      val sh = tbl(s, dir, "documents").where(sampled)
        .select(col("doc_id"),
          array_distinct(graft.functions.GraftFunctions
            .shingles(col("text"))).as("sh"))
        .localCheckpoint(false) // feeds the explode + both size lookups
      val ex = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      // exact co-occurrence counts WITHOUT the shingle self-join: group
      // doc ids per shingle, emit ordered pairs from each bucket with
      // codegen'd higher-order functions, count per pair — the same
      // pair stream as a self-join, but one aggregate chain instead of
      // a two-sided shuffle join. Bucket arrays are at most TruthDfCap
      // long (see the budget invariant above).
      val buckets = ex.groupBy(col("g"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .where(size(col("ids")) > 1 &&
          size(col("ids")) <= TruthDfCap)
      val inter = buckets.select(explode(expr(
          "flatten(transform(ids, (x, i) -> " +
            "transform(slice(ids, i + 2, size(ids)), " +
            "y -> struct(x AS id1, y AS id2))))")).as("p"))
        .select(col("p.id1"), col("p.id2"))
        .groupBy(col("id1"), col("id2"))
        .agg(count(lit(1)).as("inter"))
      val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
      val truePairs = inter
        .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")),
          "id1")
        .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")),
          "id2")
        .where(round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double"), 6) >= 0.5)
        .select(col("id1"), col("id2"))
        .localCheckpoint(false) // consumed by the count + the semi-join
      val cand = jaccardPairsDf(s, dir).where(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"))
      val found = truePairs.join(cand, Seq("id1", "id2"), "left_semi")
      truePairs.agg(count(lit(1)).as("n_true"))
        .crossJoin(broadcast(found.agg(count(lit(1)).as("n_found"))))
        .select(col("n_true"), col("n_found"),
          round(when(col("n_true") > 0,
            col("n_found").cast("double") / col("n_true"))
            .otherwise(lit(1.0)), 6).as("recall"))
    },
      // ground truth from an exact shingle self-join; candidates from the
      // same banded chain as dedup_jaccard_pairs; found = their intersection
      {
        // ground truth (ex/inter/sz/tp) mirrors the Spark side's two budget
        // bounds: the SAME scale-inverse md5-bucket doc sample
        // (min(40, ceil(20000/N))% — 40% at the harness's 500-doc tables)
        // and the SAME TruthDfCap discriminative-shingle cut; the candidate
        // CTEs ($lshPairsCtes + jj/cand) stay full-corpus — the production
        // path
        s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
           |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
           |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
           |ssets AS (
           |  SELECT * FROM sets
           |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
           |        % 100 < greatest(1, least(40,
           |          cast(ceil(20000.0 / greatest(1,
           |            (SELECT count(*) FROM documents))) AS bigint)))
           |),
           |ex AS (SELECT doc_id, unnest(sh) AS g FROM ssets),
           |keep AS (
           |  SELECT g FROM ex GROUP BY g
           |  HAVING count(*) BETWEEN 2 AND $TruthDfCap
           |),
           |exd AS (SELECT ex.* FROM ex JOIN keep USING (g)),
           |inter AS (
           |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
           |  FROM exd a JOIN exd b ON a.g = b.g AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2
           |),
           |sz AS (SELECT doc_id, len(sh) AS n FROM ssets),
           |tp AS (
           |  SELECT id1, id2 FROM inter
           |  JOIN sz s1 ON inter.id1 = s1.doc_id
           |  JOIN sz s2 ON inter.id2 = s2.doc_id
           |  WHERE round(cast(inter AS double) /
           |              cast(s1.n + s2.n - inter AS double), 6) >= 0.5
           |),
           |$lshPairsCtes,
           |jj AS (
           |  SELECT id1, id2,
           |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
           |           AS inter,
           |         len(s1.sh) + len(s2.sh) AS tot
           |  FROM pairs
           |  JOIN sets s1 ON pairs.id1 = s1.doc_id
           |  JOIN sets s2 ON pairs.id2 = s2.doc_id
           |),
           |cand AS (
           |  SELECT id1, id2 FROM jj
           |  WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
           |        >= 0.5
           |),
           |f AS (SELECT count(*) AS n_found FROM
           |        (SELECT * FROM tp INTERSECT SELECT * FROM cand)),
           |nt AS (SELECT count(*) AS n_true FROM tp)
           |SELECT nt.n_true, f.n_found,
           |       round(CASE WHEN nt.n_true > 0
           |                  THEN cast(f.n_found AS double) / nt.n_true
           |                  ELSE 1.0 END, 6) AS recall
           |FROM nt CROSS JOIN f""".stripMargin
      }),

    // Triangle census of the near-dup graph: edges + wedges + triangles +
    // the global clustering coefficient — the structural summary that
    // separates chains of borderline pairs from tight dup cliques (a
    // high coefficient says the 0.5 threshold is finding real clusters,
    // not noise). Edges are the thresholded LSH-candidate pairs, already
    // canonical id1 < id2; triangles come from two self-joins on the
    // ORDERED edge list (a<b<c — each triangle counted exactly once, no
    // symmetrization blow-up), the textbook distributed triangle plan.
    // Its worst-case shuffle is O(E^1.5), kept tiny here because the LSH
    // bucket cap bounds per-node degree at source.
    Query("dedup_triangle_count", (s, dir) => {
      val e = jaccardPairsDf(s, dir).where(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"))
        .localCheckpoint(false) // feeds degrees + three join sides
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.id2") === col("e2.id1"))
        .join(e.as("e3"), col("e1.id1") === col("e3.id1") &&
          col("e2.id2") === col("e3.id2"))
        .agg(count(lit(1)).as("n_triangles"))
      val wedges = e.select(col("id1").as("n"))
        .unionAll(e.select(col("id2").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .agg(coalesce(sum(col("d") * (col("d") - 1)) / 2, lit(0.0))
          .cast("long").as("n_wedges"))
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(wedges))
        .crossJoin(broadcast(tri))
        .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
          round(when(col("n_wedges") > 0,
            lit(3.0) * col("n_triangles") / col("n_wedges"))
            .otherwise(lit(0.0)), 6).as("clustering_coeff"))
    },
      // same thresholded (id1 < id2) edge chain as dedup_connected_components
      // WITHOUT symmetrizing; triangles via the ordered two-join, wedges from
      // undirected degrees
      {
        s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
           |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
           |$lshPairsCtes,
           |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
           |j AS (
           |  SELECT id1, id2,
           |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
           |           AS inter,
           |         len(s1.sh) + len(s2.sh) AS tot
           |  FROM pairs
           |  JOIN sets s1 ON pairs.id1 = s1.doc_id
           |  JOIN sets s2 ON pairs.id2 = s2.doc_id
           |),
           |edges AS (
           |  SELECT id1, id2 FROM j
           |  WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
           |        >= 0.5
           |),
           |deg AS (
           |  SELECT n, count(*) AS d FROM (
           |    SELECT id1 AS n FROM edges
           |    UNION ALL SELECT id2 FROM edges) GROUP BY 1
           |),
           |w AS (SELECT cast(coalesce(sum(d * (d - 1)), 0) / 2 AS bigint)
           |             AS n_wedges FROM deg),
           |tri AS (
           |  SELECT count(*) AS n_triangles
           |  FROM edges e1
           |  JOIN edges e2 ON e1.id2 = e2.id1
           |  JOIN edges e3 ON e1.id1 = e3.id1 AND e2.id2 = e3.id2
           |),
           |ne AS (SELECT count(*) AS n_edges FROM edges)
           |SELECT ne.n_edges, w.n_wedges, tri.n_triangles,
           |       round(CASE WHEN w.n_wedges > 0
           |                  THEN 3.0 * tri.n_triangles / w.n_wedges
           |                  ELSE 0.0 END, 6) AS clustering_coeff
           |FROM ne CROSS JOIN w CROSS JOIN tri""".stripMargin
      }),

    // CCNet-style duplicated-paragraph accounting, adapted to the
    // corpus's single-line docs: "paragraphs" are fixed 10-token chunks,
    // and a chunk is duplicated when its exact text occurs in more than
    // one document. The per-doc dup fraction is the removal signal a
    // line-dedup pass filters on. Plan: one explode -> hash-group per
    // chunk (distinct-doc counts) -> join back on the chunk text ->
    // per-doc aggregate; both shuffles are O(chunks) over uniformly
    // distributed hash keys, and the chunk stream is materialized once
    // (localCheckpoint) for its two consumers.
    Query("dedup_chunk_dedup", (s, dir) => {
      val chunks = chunksDf(s, dir).select(col("doc_id"), col("chunk"))
      val freq = chunks.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      chunks.join(freq, "chunk")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum((col("nd") > 1).cast("int")).cast("long").as("n_dup_chunks"),
          round(avg((col("nd") > 1).cast("int").cast("double")), 6)
            .as("dup_frac"))
    },
      // fixed 10-token chunking replayed with list slicing; dup = chunk text
      // in more than one distinct doc
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |$chunkCtes,
         |fr AS (SELECT chunk, count(DISTINCT doc_id) AS nd
         |       FROM ch GROUP BY 1)
         |SELECT ch.doc_id, count(*) AS n_chunks,
         |       cast(sum(CASE WHEN fr.nd > 1 THEN 1 ELSE 0 END) AS bigint)
         |         AS n_dup_chunks,
         |       round(avg(CASE WHEN fr.nd > 1 THEN 1.0 ELSE 0.0 END), 6)
         |         AS dup_frac
         |FROM ch JOIN fr USING (chunk)
         |GROUP BY ch.doc_id""".stripMargin),

    // Incremental-ingest dedup: the nightly-batch shape — a new slice is
    // admitted only if its NORMALIZED fingerprint (case-folded,
    // whitespace-collapsed) is absent from the existing corpus AND it is
    // the first occurrence within its own batch. The batch is fresh docs
    // (doc_id >= 250) plus deliberate RE-INGESTS: every 5th corpus doc
    // resubmitted under a new id with case flips and padding — noise the
    // normalization must see through (50 removals at 500 docs, exercised
    // for real, not vacuously). One shuffled left-anti join on the
    // fingerprint + a per-batch first-occurrence window; at 100 TB the
    // corpus side is a fingerprint-only column (32 bytes/doc) and the
    // anti join shuffles hashes, never text.
    Query("dedup_incremental_ingest", (s, dir) => {
      val fp = Dedup.fingerprint(col("text"))
      val docs = tbl(s, dir, "documents")
      val corpus = docs.where(col("doc_id") < 250)
      val batch = docs.where(col("doc_id") >= 250)
        .select(col("doc_id"), col("lang"), col("text"))
        .unionAll(corpus.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000).as("doc_id"), col("lang"),
            upper(concat(lit("  "), col("text"), lit("  "))).as("text")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      batch.select(col("doc_id"), col("lang"), fp.as("fp"))
        .join(corpus.select(fp.as("fp")).distinct(), Seq("fp"), "left_anti")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("lang"))
    },
      // fingerprint = md5 of the whitespace/case-normalized text, matching
      // Dedup.normalize/fingerprint; NOT EXISTS = the left-anti join; the
      // re-ingested rows reproduce the engine's synthetic batch exactly
      """WITH corpus AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id < 250
        |),
        |batch AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 1000, lang, upper('  ' || text || '  ')
        |  FROM corpus WHERE doc_id % 5 = 0
        |),
        |cfp AS (
        |  SELECT DISTINCT
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |           AS fp
        |  FROM corpus
        |),
        |bfp AS (
        |  SELECT doc_id, lang,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |           AS fp
        |  FROM batch
        |),
        |k AS (
        |  SELECT doc_id, lang, fp,
        |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM bfp b
        |  WHERE NOT EXISTS (SELECT 1 FROM cfp c WHERE c.fp = b.fp)
        |)
        |SELECT doc_id, lang FROM k WHERE rn = 1""".stripMargin),

    // The REMOVAL half of CCNet-style paragraph dedup (dedup_chunk_dedup
    // is the accounting half): rebuild each document keeping a chunk only
    // if it is globally unique OR this doc is the chunk's canonical
    // (min-id) owner — so exactly one copy of every duplicated paragraph
    // survives corpus-wide. Chunk order is restored by sorting on the
    // chunk index inside the per-doc aggregate; docs whose every chunk is
    // owned elsewhere drop out entirely (they were pure duplicates).
    Query("dedup_chunk_removal", (s, dir) => {
      val chunks = chunksDf(s, dir)
      val owner = chunks.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("nd"),
          min(col("doc_id")).as("owner"))
      chunks.join(owner, "chunk")
        .where(col("nd") === 1 || col("doc_id") === col("owner"))
        .groupBy(col("doc_id"))
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          x => x.getField("chunk"))).as("clean_text"))
    },
      // same chunking as dedup_chunk_dedup with an index; keep = unique OR
      // canonical owner; order restored by string_agg(... ORDER BY idx)
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |$chunkCtes,
         |own AS (SELECT chunk, count(DISTINCT doc_id) AS nd,
         |               min(doc_id) AS owner
         |        FROM ch GROUP BY 1)
         |SELECT ch.doc_id,
         |       string_agg(ch.chunk, ' ' ORDER BY ch.idx) AS clean_text
         |FROM ch JOIN own USING (chunk)
         |WHERE own.nd = 1 OR ch.doc_id = own.owner
         |GROUP BY 1""".stripMargin),

    // Exact duplicated-span inventory (the exact-substring pass of a
    // training-data dedup, à la "Deduplicating Training Data Makes
    // Language Models Better"): every 8-token gram occurring in >= 2
    // distinct documents, with doc- and occurrence-counts. One explode ->
    // hash-group; grams are uniform hash keys, partial aggregation runs
    // map-side, and the >= 2 filter is a HAVING over the final agg.
    Query("dedup_dup_spans", (s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), Dedup.cleanTokens(col("text")).as("toks"))
      d.where(size(col("toks")) >= 8)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("toks")) - 7),
            i => concat_ws(" ",
              (0 until 8).map(j => element_at(col("toks"), i + lit(j))): _*)))
            .as("gram"))
        .groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
        .where(col("n_docs") >= 2)
    },
      // sliding 8-token grams; HAVING keeps only spans shared across docs
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |g AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, len(l) - 6),
         |           i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' ||
         |                l[i+3] || ' ' || l[i+4] || ' ' || l[i+5] || ' ' ||
         |                l[i+6] || ' ' || l[i+7])) AS gram
         |  FROM t WHERE len(l) >= 8
         |)
         |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
         |FROM g GROUP BY 1
         |HAVING count(DISTINCT doc_id) >= 2""".stripMargin),
  )
}
