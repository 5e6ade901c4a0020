package graft
package registry

import SparkEntry.tbl
import Shared.{thetaHash, cleanToksSql, shinglesSql, bm25ScoresDf,
  jaccardPairsWithSetsDf, lshPairsCtes, langPredCtes}
import graft.ops.{Dedup, Quality, TextOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Text operators: tokenization, BPE, language ID, BM25, hashing features
  * and corpus quality signals. */
private[graft] object TextQueries {

  /** BPE merge training over the corpus word frequencies: k rounds of
    * (count adjacent symbol pairs weighted by word freq) → (merge the
    * top pair, (cnt DESC, pair ASC) tiebreak) → (rewrite the distinct-
    * word table). Distributed: each round is one pair aggregation over
    * the CHECKPOINTED distinct-word frame (vocabulary-sized, not
    * corpus-sized) and only the k winning pairs ever reach the driver —
    * the model, not the data. Shared by `text_bpe_merges` (the merge
    * table itself) and `text_bpe_encode` (application). */
  private def bpeTrainMerges(s: SparkSession, dir: String, k: Int)
  : Seq[(Int, String, Long)] = {
    var words = tbl(s, dir, "documents")
      .select(explode(graft.ops.Dedup.cleanTokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(rtrim(regexp_replace(col("w"), "(.)", "$1 ")).as("ws"),
        col("freq"))
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val syms = split(col("ws"), " ")
      val top = words.where(size(syms) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(syms) - 1),
          i => concat_ws(" ", element_at(syms, i),
            element_at(syms, i + 1)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        merges += ((step, pair, top(0).getLong(1)))
        words = words.select(
          replace(col("ws"), lit(pair), lit(pair.replace(" ", "")))
            .as("ws"), col("freq"))
          .localCheckpoint(false)
        step += 1
      }
    }
    merges.toSeq
  }

  private lazy val stopListDuck: String =
    TextOps.stopWords.map(w => s"'$w'").mkString("[", ", ", "]")

  val queries: Seq[Query] = Seq(

    // String function battery (left/right/lpad/reverse/substr/concat)
    Query("text_string_funcs", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        substring(col("source"), 1, 3).as("pre"),
        reverse(col("source")).as("rev"),
        lpad(col("lang"), 5, "_").as("padded"),
        concat_ws("|", col("lang"), col("source")).as("joined"),
        length(col("text")).cast("long").as("text_len")),
      """SELECT doc_id,
        |       substr(source, 1, 3) AS pre,
        |       reverse(source) AS rev,
        |       lpad(lang, 5, '_') AS padded,
        |       concat_ws('|', lang, source) AS joined,
        |       length(text) AS text_len
        |FROM documents""".stripMargin),

    // TF-IDF weights per token (smoothed idf over document frequency)
    Query("text_tfidf", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val dfs = docs
        .select(col("doc_id"), explode(Dedup.cleanTokens(col("text"))).as("token"))
        .groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
      dfs.crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
        .select(col("token"), col("df"),
          round(log((col("n") + 1.0) / (col("df") + 1.0)) + 1.0, 6)
            .as("idf"))
    },
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(${cleanToksSql("text")}) AS token
         |  FROM documents
         |), dfs AS (
         |  SELECT token, count(DISTINCT doc_id) AS df FROM tk GROUP BY token
         |), n AS (SELECT count(*) AS n FROM documents)
         |SELECT token, df, round(ln((n + 1.0) / (df + 1.0)) + 1.0, 6) AS idf
         |FROM dfs, n""".stripMargin),

    // Sparse text similarity SEARCH: top-10 corpus documents per query doc
    // by term-frequency cosine, via a token join. The query vectors (docs
    // 0-4) are broadcast, so the corpus side streams through the join
    // without shuffling — the query-vs-100TB-corpus plan. (All-PAIRS
    // near-dup deliberately does NOT go through this query: a token
    // self-join is Σ df² — quadratic in per-token document frequency —
    // which is what the MinHash-LSH path is for.) Dot products and norms
    // stay exact integers until the final division, so parity is exact.
    Query("text_doc_cosine", (s, dir) => {
      // materialized once: the tf table feeds FOUR consumers (the
      // broadcast query side, the probe side, and both norm joins) —
      // un-checkpointed, Catalyst re-runs the tokenize+explode+aggregate
      // subtree for each of them (4x duplicated tiny-task work, which
      // anti-scales at 32 cores)
      val tk = tbl(s, dir, "documents")
        .select(col("doc_id"), explode(Dedup.cleanTokens(col("text")))
          .as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .localCheckpoint(false)
      val nm = tk.groupBy("doc_id")
        .agg(sqrt(sum(col("tf") * col("tf")).cast("double")).as("nrm"))
        .localCheckpoint(false)
      val dots = broadcast(tk.where(col("doc_id") < 5)
          .select(col("doc_id").as("q"), col("token"), col("tf").as("tf_q")))
        .join(tk.select(col("doc_id").as("d"), col("token"),
          col("tf").as("tf_d")), Seq("token"))
        .where(col("d") =!= col("q"))
        .groupBy("q", "d")
        .agg(sum(col("tf_q") * col("tf_d")).cast("double").as("dot"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("q")
        .orderBy(col("cos").desc, col("d").asc)
      dots
        .join(broadcast(nm.where(col("doc_id") < 5)
          .select(col("doc_id").as("q"), col("nrm").as("nrm_q"))), "q")
        .join(nm.select(col("doc_id").as("d"), col("nrm").as("nrm_d")), "d")
        .select(col("q"), col("d"),
          round(col("dot") / (col("nrm_q") * col("nrm_d")), 6).as("cos"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 10)
    },
      s"""WITH tk AS (
         |  SELECT doc_id, token, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(${cleanToksSql("text")}) AS token
         |    FROM documents
         |  ) GROUP BY doc_id, token
         |), nm AS (
         |  SELECT doc_id, sqrt(cast(sum(tf * tf) AS double)) AS nrm
         |  FROM tk GROUP BY doc_id
         |), dots AS (
         |  SELECT a.doc_id AS q, b.doc_id AS d,
         |         cast(sum(a.tf * b.tf) AS double) AS dot
         |  FROM tk a JOIN tk b ON a.token = b.token AND a.doc_id <> b.doc_id
         |  WHERE a.doc_id < 5
         |  GROUP BY a.doc_id, b.doc_id
         |), scored AS (
         |  SELECT q, d, round(dot / (n1.nrm * n2.nrm), 6) AS cos
         |  FROM dots
         |  JOIN nm n1 ON dots.q = n1.doc_id
         |  JOIN nm n2 ON dots.d = n2.doc_id
         |)
         |SELECT q, d, cos, rank FROM (
         |  SELECT q, d, cos,
         |         cast(row_number() OVER (PARTITION BY q
         |              ORDER BY cos DESC, d ASC) AS bigint) AS rank
         |  FROM scored
         |) WHERE rank <= 10""".stripMargin),

    // Token statistics per document
    Query("text_token_stats", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        Quality.tokenCount(col("text")).as("n_tokens"),
        Quality.distinctTokenCount(col("text")).as("n_uniq"),
        col("n_chars")),
      s"""SELECT doc_id,
         |       CASE WHEN len(trim(text)) = 0 THEN 0
         |            ELSE len(string_split_regex(trim(text), '\\s+')) END
         |         AS n_tokens,
         |       len(list_distinct(${cleanToksSql("text")})) AS n_uniq,
         |       n_chars
         |FROM documents""".stripMargin),

    // Sequence-packing analytics: bucket documents by token count into
    // power-of-two padding buckets and measure the padding waste each
    // bucket pays — the batching-efficiency question every pretraining
    // run sizes its packing strategy with. Integer CASE bucketing (no
    // log2 float boundaries), one aggregation over the corpus.
    Query("text_seq_packing", (s, dir) => {
      val ps = Seq(16, 32, 64, 128, 256, 512, 1024, 2048)
      val n = Quality.tokenCount(col("text"))
      val bucket = ps.foldRight(
        lit(4096L): org.apache.spark.sql.Column)((p, acc) =>
        when(n <= p, lit(p.toLong)).otherwise(acc))
      tbl(s, dir, "documents")
        .select(bucket.as("bucket"), n.as("n_tokens"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .select(col("bucket"), col("n_docs"), col("sum_tokens"),
          round(lit(1.0) - col("sum_tokens").cast("double") /
            (col("n_docs") * col("bucket")).cast("double"), 6)
            .as("waste_frac"))
    },
      s"""WITH n AS (
         |  SELECT CASE WHEN len(trim(text)) = 0 THEN 0
         |              ELSE len(string_split_regex(trim(text), '\\s+')) END
         |           AS n_tokens
         |  FROM documents
         |), b AS (
         |  SELECT cast(CASE WHEN n_tokens <= 16 THEN 16
         |              WHEN n_tokens <= 32 THEN 32
         |              WHEN n_tokens <= 64 THEN 64
         |              WHEN n_tokens <= 128 THEN 128
         |              WHEN n_tokens <= 256 THEN 256
         |              WHEN n_tokens <= 512 THEN 512
         |              WHEN n_tokens <= 1024 THEN 1024
         |              WHEN n_tokens <= 2048 THEN 2048
         |              ELSE 4096 END AS bigint) AS bucket,
         |         n_tokens
         |  FROM n
         |)
         |SELECT bucket, count(*) AS n_docs,
         |       cast(sum(n_tokens) AS bigint) AS sum_tokens,
         |       round(1.0 - sum(n_tokens) * 1.0 / (count(*) * bucket), 6)
         |         AS waste_frac
         |FROM b GROUP BY bucket""".stripMargin),

    // Quality scoring: stop-word share, punctuation noise, diversity, score
    // all four outputs from ONE native pass (TextStatsExpr: one
    // code-point walk + one tokenization per row, vs a regex pass plus
    // three interpreted-HOF token passes) — the ratios recomputed from
    // the struct are the identical integer/integer double divisions, so
    // the oracle is unchanged.
    Query("text_quality", (s, dir) => {
      val st = graft.functions.GraftFunctions.textStats(col("text"))
      def ratio(num: org.apache.spark.sql.Column,
                den: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(den === 0L, lit(0.0))
          .otherwise(num.cast("double") / den.cast("double"))
      val sw = ratio(col("st.n_stop"), col("st.n_tokens"))
      val punct = ratio(col("st.n_punct"), col("st.n_chars"))
      val uniq = ratio(col("st.n_distinct"), col("st.n_tokens"))
      val lenOk = when(col("st.n_chars").between(20L, 20000L), lit(1.0))
        .otherwise(lit(0.0))
      val swOk = when(sw.between(0.05, 0.6), lit(1.0)).otherwise(lit(0.0))
      val punctOk = when(punct < 0.2, lit(1.0)).otherwise(lit(0.0))
      tbl(s, dir, "documents")
        .select(col("doc_id"), st.as("st"))
        .select(col("doc_id"),
          round(sw, 6).as("sw_ratio"),
          round(punct, 6).as("punct_ratio"),
          round(uniq, 6).as("uniq_ratio"),
          round((lenOk + swOk + punctOk) / lit(3.0), 6).as("q_score"))
    },
      s"""WITH t AS (
         |  SELECT doc_id, text, ${cleanToksSql("text")} AS l FROM documents
         |), f AS (
         |  SELECT doc_id, text,
         |    CASE WHEN len(l) = 0 THEN 0.0
         |         ELSE cast(len(list_filter(l, x -> list_contains($stopListDuck, x))) AS double)
         |              / cast(len(l) AS double) END AS sw,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE cast(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS double)
         |              / cast(length(text) AS double) END AS punct,
         |    CASE WHEN len(l) = 0 THEN 0.0
         |         ELSE cast(len(list_distinct(l)) AS double)
         |              / cast(len(l) AS double) END AS uniq
         |  FROM t
         |)
         |SELECT doc_id, round(sw, 6) AS sw_ratio, round(punct, 6) AS punct_ratio,
         |       round(uniq, 6) AS uniq_ratio,
         |       round(((CASE WHEN length(text) BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.0 END)
         |              + (CASE WHEN sw BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.0 END)
         |              + (CASE WHEN punct < 0.2 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS q_score
         |FROM f""".stripMargin),

    // Language-ID heuristic (marker-word argmax)
    Query("text_lang_id", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        graft.functions.GraftFunctions.langId(col("text"))
          .as("lang_pred")),
      s"""${langPredCtes("doc_id")}
         |SELECT doc_id, lang_pred FROM p""".stripMargin),

    // Document frequency / term frequency per token (IDF building block)
    Query("text_doc_freq", (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(Dedup.cleanTokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("tf")),
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(${cleanToksSql("text")}) AS token
         |  FROM documents
         |)
         |SELECT token, count(DISTINCT doc_id) AS df, count(*) AS tf
         |FROM tk GROUP BY token""".stripMargin),

    // Hashing-trick feature space profile: every token md5-hashes into
    // 256 fixed buckets (the sparse-vector encoding that needs no
    // vocabulary broadcast at 100 TB), and the per-bucket collision
    // profile (distinct tokens sharing the bucket, total term mass)
    // falls out of one explode + hash aggregate. countDistinct is the
    // standard two-phase expand — both shuffles key on bucket/token,
    // bounded cardinality, no driver state.
    Query("text_feature_hashing", (s, dir) => {
      val bucket = conv(substring(md5(col("token").cast("binary")), 1, 8),
        16, 10).cast("long") % 256
      tbl(s, dir, "documents")
        .select(explode(Dedup.cleanTokens(col("text"))).as("token"))
        .select(bucket.as("bucket"), col("token"))
        .groupBy("bucket")
        .agg(countDistinct(col("token")).as("n_tokens"),
          count(lit(1)).as("tf"))
    },
      s"""WITH tk AS (
         |  SELECT unnest(${cleanToksSql("text")}) AS token FROM documents
         |)
         |SELECT ('0x' || substr(md5(token), 1, 8))::BIGINT % 256 AS bucket,
         |       count(DISTINCT token)::BIGINT AS n_tokens,
         |       count(*)::BIGINT AS tf
         |FROM tk GROUP BY 1""".stripMargin),

    // BM25 retrieval: score a fixed 3-term query against the corpus.
    // Corpus stats (N, avgdl, per-term df) come from ONE 1-row aggregate
    // that cross-joins back (the sanctioned 1-row shape); per-doc tf
    // comes from explode+filter (only matching term rows survive — the
    // shuffle carries <= |terms| rows per doc, not the token stream).
    // Score arithmetic is written in the exact same literal order as the
    // oracle; round(6) absorbs last-ulp ln() differences across libms.
    Query("text_bm25", (s, dir) =>
      bm25ScoresDf(s, dir)
        .where(col("bm25") > 0)
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(20),
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
           |       FROM base)
           |SELECT doc_id,
           |       round($score, 6) AS bm25
           |FROM tf CROSS JOIN stats
           |WHERE bm25 > 0
           |ORDER BY bm25 DESC, doc_id
           |LIMIT 20""".stripMargin
      }),

    // KEYWORD EXTRACTION — top-3 tf-idf terms per document, the
    // per-doc twin of the corpus-level text_tfidf. Scale shape: the
    // (doc, token, tf) frame is one hash aggregate; document
    // frequencies join on the token hash (size-based broadcast when
    // the vocab is small, shuffle once it grows with the corpus — the
    // plan is declarative either way); the per-doc top-3 is a doc-PARTITIONED
    // row_number whose rank<=3 filter plans as WindowGroupLimit
    // (partial top-N before the shuffle). Scores round to 6 BEFORE
    // ranking, token-asc tiebreak, so the cut is cross-engine exact.
    Query("text_keyword_topk", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val tk = docs.select(col("doc_id"),
          explode(Dedup.cleanTokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfs = tk.groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("score").desc, col("token").asc)
      tk.join(dfs, "token")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"),
          round(col("tf") * (log((col("n") + 1.0) / (col("df") + 1.0))
            + 1.0), 6).as("score"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("token"), col("score"))
    },
      s"""WITH tk AS (
         |  SELECT doc_id, token, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(${cleanToksSql("text")}) AS token
         |    FROM documents) GROUP BY 1, 2
         |), dfs AS (
         |  SELECT token, count(*) AS df FROM tk GROUP BY 1
         |), n AS (SELECT count(*) AS n FROM documents),
         |s AS (
         |  SELECT doc_id, token,
         |         round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6)
         |           AS score
         |  FROM tk JOIN dfs USING (token) CROSS JOIN n
         |), r AS (
         |  SELECT doc_id, token, score,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY score DESC, token ASC) AS rank
         |  FROM s
         |)
         |SELECT doc_id, rank, token, score FROM r
         |WHERE rank <= 3""".stripMargin),

    // BIGRAM PMI — the collocation detector: top-20 bigrams by
    // pointwise mutual information (min count 5), ln of the joint
    // probability over the product of unigram probabilities. Scale
    // shape: token and bigram streams each shrink to their count
    // tables in one aggregate; the two unigram lookups join on the
    // token hash (size-based broadcast); the top-20 is
    // (pmi desc, bigram asc) through TakeOrderedAndProject — never a
    // global sort. PMI rounds to 6 BEFORE the cut with a bigram
    // tiebreak, so the cut is cross-engine exact.
    Query("text_bigram_pmi", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val uni = docs.select(explode(
          graft.functions.GraftFunctions.shingles(col("text"), 1))
          .as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("cw"))
        .localCheckpoint(false)
      val n1 = uni.agg(sum(col("cw")).as("n1"))
      val bg = docs.select(explode(
          graft.functions.GraftFunctions.shingles(col("text"), 2))
          .as("bigram"))
        .where(size(split(col("bigram"), " ")) === 2)
        .groupBy("bigram").agg(count(lit(1)).as("cxy"))
        .where(col("cxy") >= 5)
        .localCheckpoint(false)
      val n2 = bg.agg(sum(col("cxy")).as("n2"))
      val p = col("cxy").cast("double") / col("n2").cast("double")
      val px = col("cw_x").cast("double") / col("n1").cast("double")
      val py = col("cw_y").cast("double") / col("n1").cast("double")
      bg.select(col("bigram"), col("cxy"),
          split(col("bigram"), " ").getItem(0).as("w1"),
          split(col("bigram"), " ").getItem(1).as("w2"))
        .join(uni.select(col("w").as("w1"), col("cw").as("cw_x")), "w1")
        .join(uni.select(col("w").as("w2"), col("cw").as("cw_y")), "w2")
        .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .select(col("bigram"), col("cxy"),
          round(log(p / (px * py)), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("bigram").asc)
        .limit(20)
    },
      s"""WITH t AS (SELECT ${cleanToksSql("text")} AS l FROM documents),
         |uni AS (
         |  SELECT w, count(*) AS cw FROM (
         |    SELECT unnest(l) AS w FROM t) WHERE w <> '' GROUP BY 1
         |), n1 AS (SELECT sum(cw) AS n1 FROM uni),
         |bg AS (
         |  SELECT bigram, count(*) AS cxy FROM (
         |    SELECT unnest(CASE WHEN len(l) >= 2
         |      THEN list_transform(range(1, len(l)),
         |                          i -> l[i] || ' ' || l[i+1])
         |      ELSE [array_to_string(l, ' ')] END) AS bigram
         |    FROM t)
         |  WHERE len(string_split(bigram, ' ')) = 2
         |  GROUP BY 1 HAVING count(*) >= 5
         |)
         |SELECT bigram, cxy,
         |       round(ln((CAST(cxy AS DOUBLE) / CAST(n2 AS DOUBLE)) /
         |             ((CAST(ux.cw AS DOUBLE) / CAST(n1 AS DOUBLE)) *
         |              (CAST(uy.cw AS DOUBLE) / CAST(n1 AS DOUBLE)))),
         |             6) AS pmi
         |FROM bg
         |JOIN uni ux ON ux.w = string_split(bigram, ' ')[1]
         |JOIN uni uy ON uy.w = string_split(bigram, ' ')[2]
         |CROSS JOIN n1
         |CROSS JOIN (SELECT sum(cxy) AS n2 FROM bg) n2
         |ORDER BY pmi DESC, bigram ASC LIMIT 20""".stripMargin),

    // Per-language corpus token entropy — the diversity screen a
    // training-data mix needs next to text_domain_mix's weights.
    // Shannon entropy over the unigram distribution, computed from the
    // COUNT-OF-COUNTS histogram so the order-sensitive float sum
    // disappears: H = log2(N) − (Σ_c m_c·c·log2(c))/N, and each
    // distinct count c contributes ONE term — round(c·log2(c), 6) as an
    // exact decimal, times the integer multiplicity — so the per-lang
    // sum is exact decimal arithmetic both engines agree on bit-for-bit
    // (the only libm call, log2(c), is rounded to 6 before it enters
    // the sum; c·log2(c) stays far under decimal(28,6)'s integer
    // range at any realistic per-token count). Two hash aggregates,
    // both shuffling on shrinking keys: (lang, token) then (lang, c).
    Query("text_token_entropy", (s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("lang"), explode(graft.ops.TextOps.tokenize(
          graft.ops.TextOps.scrub(col("text")))).as("token"))
        .where(length(col("token")) > 0)
      val hist = toks.groupBy("lang", "token")
        .agg(count(lit(1)).as("c"))
        .groupBy("lang", "c").agg(count(lit(1)).as("m"))
      val term = round(col("c").cast("double") *
          log2(col("c").cast("double")), 6).cast("decimal(28,6)") *
        col("m").cast("decimal(10,0)")
      hist.groupBy("lang").agg(
          sum(col("m") * col("c")).as("n_tokens"),
          sum(col("m")).as("n_distinct"),
          sum(term).as("sclogc"))
        .select(col("lang"), col("n_tokens"), col("n_distinct"),
          round(log2(col("n_tokens").cast("double")) -
            col("sclogc").cast("double") /
              col("n_tokens").cast("double"), 6).as("entropy"))
    },
      """WITH toks AS (
        |  SELECT lang,
        |         unnest(string_split_regex(
        |           regexp_replace(lower(text), '[^a-z ]', ' ', 'g'),
        |           '\s+')) AS token
        |  FROM documents
        |), tc AS (
        |  SELECT lang, token, count(*) AS c
        |  FROM toks WHERE len(token) > 0 GROUP BY 1, 2
        |), hist AS (
        |  SELECT lang, c, count(*) AS m FROM tc GROUP BY 1, 2
        |)
        |SELECT lang,
        |       cast(sum(m * c) AS BIGINT) AS n_tokens,
        |       cast(sum(m) AS BIGINT) AS n_distinct,
        |       round(log2(cast(sum(m * c) AS DOUBLE)) -
        |             cast(sum(cast(round(c * log2(c::DOUBLE), 6)
        |                           AS decimal(28,6)) * m) AS DOUBLE) /
        |             cast(sum(m * c) AS DOUBLE), 6) AS entropy
        |FROM hist GROUP BY lang""".stripMargin),

    // ZIPF-LAW FIT over the corpus token frequencies — the classic
    // corpus health check (natural text fits slope ≈ −1). Frequency
    // rank comes from the same distributed GlobalRank rewrite (global
    // row_number over (count DESC, token)); the least-squares fit of
    // log2(freq) on log2(rank) runs over per-TERM decimal terms:
    // each x, y is rounded to 6 once (the only libm entry), so Σx, Σy,
    // Σxy, Σx², Σy² are exact decimal sums both engines agree on —
    // slope/intercept/r² are then closed-form doubles over five
    // scalars. One token hash agg + one rank sort; no per-row floats.
    Query("text_zipf_fit", (s, dir) => {
      val tf = tbl(s, dir, "documents")
        .select(explode(graft.ops.TextOps.tokenize(
          graft.ops.TextOps.scrub(col("text")))).as("token"))
        .where(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("f"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("f").desc, col("token"))
      val xy = tf.withColumn("r", row_number().over(w).cast("long"))
        .select(
          round(log2(col("r").cast("double")), 6)
            .cast("decimal(12,6)").as("x"),
          round(log2(col("f").cast("double")), 6)
            .cast("decimal(12,6)").as("y"))
      val agg = xy.agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val nD = col("n_terms").cast("double")
      val (sx, sy, sxy, sxx, syy) = (col("sx").cast("double"),
        col("sy").cast("double"), col("sxy").cast("double"),
        col("sxx").cast("double"), col("syy").cast("double"))
      val slope = (nD * sxy - sx * sy) / (nD * sxx - sx * sx)
      val icept = (sy * sxx - sx * sxy) / (nD * sxx - sx * sx)
      val r2num = (nD * sxy - sx * sy) * (nD * sxy - sx * sy)
      val r2den = (nD * sxx - sx * sx) * (nD * syy - sy * sy)
      agg.select(col("n_terms"), round(slope, 6).as("slope"),
        round(icept, 6).as("intercept"),
        round(r2num / r2den, 6).as("r2"))
    },
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(
        |           regexp_replace(lower(text), '[^a-z ]', ' ', 'g'),
        |           '\s+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT token, count(*) AS f
        |  FROM toks WHERE len(token) > 0 GROUP BY 1
        |), xy AS (
        |  SELECT cast(round(log2(cast(row_number()
        |             OVER (ORDER BY f DESC, token) AS DOUBLE)), 6)
        |           AS decimal(12,6)) AS x,
        |         cast(round(log2(f::DOUBLE), 6) AS decimal(12,6)) AS y
        |  FROM tf
        |), a AS (
        |  SELECT count(*) AS n,
        |         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |         sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM xy
        |)
        |SELECT cast(n AS BIGINT) AS n_terms,
        |       round((cast(n AS DOUBLE) * cast(sxy AS DOUBLE)
        |              - cast(sx AS DOUBLE) * cast(sy AS DOUBLE)) /
        |             (cast(n AS DOUBLE) * cast(sxx AS DOUBLE)
        |              - cast(sx AS DOUBLE) * cast(sx AS DOUBLE)), 6)
        |         AS slope,
        |       round((cast(sy AS DOUBLE) * cast(sxx AS DOUBLE)
        |              - cast(sx AS DOUBLE) * cast(sxy AS DOUBLE)) /
        |             (cast(n AS DOUBLE) * cast(sxx AS DOUBLE)
        |              - cast(sx AS DOUBLE) * cast(sx AS DOUBLE)), 6)
        |         AS intercept,
        |       round(((cast(n AS DOUBLE) * cast(sxy AS DOUBLE)
        |               - cast(sx AS DOUBLE) * cast(sy AS DOUBLE)) *
        |              (cast(n AS DOUBLE) * cast(sxy AS DOUBLE)
        |               - cast(sx AS DOUBLE) * cast(sy AS DOUBLE))) /
        |             ((cast(n AS DOUBLE) * cast(sxx AS DOUBLE)
        |               - cast(sx AS DOUBLE) * cast(sx AS DOUBLE)) *
        |              (cast(n AS DOUBLE) * cast(syy AS DOUBLE)
        |               - cast(sy AS DOUBLE) * cast(sy AS DOUBLE))), 6)
        |         AS r2
        |FROM a""".stripMargin),

    // Temperature-scaled domain mixing weights: per (lang, source) corpus
    // cell, sampling weight proportional to n_tokens^0.7 — the standard
    // multilingual temperature trick (T = 1/0.7) that upweights small
    // domains without letting any one dominate. One two-level aggregate
    // plus a broadcast 1-row normalizer; the weight table is model-sized
    // however big the corpus is.
    Query("text_domain_mix", (s, dir) => {
      val cells = tbl(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(Dedup.cleanTokens(col("text"))).cast("long"))
            .as("n_tokens"))
      val total = cells
        .agg(sum(pow(col("n_tokens").cast("double"), 0.7)).as("z"))
      cells.crossJoin(broadcast(total))
        .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
          round(pow(col("n_tokens").cast("double"), 0.7) / col("z"), 6)
            .as("mix_weight"))
    },
      s"""WITH cells AS (
         |  SELECT lang, source, count(*) AS n_docs,
         |         cast(sum(len(${cleanToksSql("text")})) AS bigint)
         |           AS n_tokens
         |  FROM documents GROUP BY 1, 2
         |),
         |z AS (SELECT sum(power(n_tokens, 0.7)) AS z FROM cells)
         |SELECT lang, source, n_docs, n_tokens,
         |       round(power(n_tokens, 0.7) / z, 6) AS mix_weight
         |FROM cells CROSS JOIN z""".stripMargin),

    // Deterministic acceptance-rate resampling: downsample each
    // over-represented (lang, source) cell to the mean per-cell token
    // budget — the "apply the mixing decision" step after
    // text_domain_mix. Per-doc keep test = uniform md5 fraction
    // (first 8 hex digits / 2^32 — exact power-of-two division, so the
    // comparison is bit-identical across engines) against the cell's
    // acceptance rate. The rate table is cell-count-sized and broadcast;
    // one scan decides every doc.
    Query("text_balanced_resample", (s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          size(Dedup.cleanTokens(col("text"))).cast("long").as("n_tok"))
        .localCheckpoint(false) // feeds the cell agg + the keep scan
      val cells = docs.groupBy(col("lang"), col("source"))
        .agg(sum(col("n_tok")).as("cell_tok"))
      val target = cells
        .agg((sum(col("cell_tok")).cast("double") / count(lit(1)))
          .as("target"))
      val rates = cells.crossJoin(broadcast(target))
        .select(col("lang"), col("source"),
          least(lit(1.0), col("target") / col("cell_tok").cast("double"))
            .as("rate"))
      val frac = conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("double") / lit(4294967296.0)
      docs.join(broadcast(rates), Seq("lang", "source"))
        .where(frac < col("rate"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tok_kept"))
    },
      s"""WITH d AS (
         |  SELECT doc_id, lang, source,
         |         cast(len(${cleanToksSql("text")}) AS bigint) AS n_tok
         |  FROM documents
         |),
         |cells AS (
         |  SELECT lang, source, cast(sum(n_tok) AS bigint) AS cell_tok
         |  FROM d GROUP BY 1, 2
         |),
         |a AS (
         |  SELECT cast(sum(cell_tok) AS double) / count(*) AS target
         |  FROM cells
         |),
         |r AS (
         |  SELECT lang, source,
         |         least(1.0, target / cast(cell_tok AS double)) AS rate
         |  FROM cells CROSS JOIN a
         |),
         |k AS (
         |  SELECT d.lang, d.source, d.n_tok
         |  FROM d JOIN r USING (lang, source)
         |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
         |        / 4294967296.0 < r.rate
         |)
         |SELECT lang, source, count(*) AS n_kept,
         |       cast(sum(n_tok) AS bigint) AS tok_kept
         |FROM k GROUP BY 1, 2""".stripMargin),

    // PII-style redaction (emails -> <EMAIL>, URLs -> <URL>, digit runs ->
    // <NUM>): deterministic synthetic patterns appended to each doc so the
    // masking is exercised for real, then verified byte-for-byte
    Query("text_redact", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextOps.redact(concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or "),
          lit("http://ex.co/p"), col("doc_id"), lit(" ref "),
          col("doc_id") * 37)).as("clean")),
      """SELECT doc_id,
        |       regexp_replace(
        |         regexp_replace(
        |           regexp_replace(
        |             text || ' contact user' || doc_id || '@example.com or '
        |                  || 'http://ex.co/p' || doc_id || ' ref '
        |                  || (doc_id * 37),
        |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |             '<EMAIL>', 'g'),
        |           'https?://[^\s]+', '<URL>', 'g'),
        |         '[0-9]+', '<NUM>', 'g') AS clean
        |FROM documents""".stripMargin),

    // BPE vocabulary induction, the merge-selection statistic: adjacent
    // character-pair counts over the DISTINCT word table weighted by word
    // frequency — what byte-pair encoding maximizes when it picks its
    // next merge. Aggregating words first (one row per distinct token)
    // means the char-level explode runs over the vocabulary, not the
    // corpus: at 100 TB the token stream shrinks to a ~1 M-row word
    // table before any per-character work happens.
    Query("text_bpe_pair_counts", (s, dir) => {
      val words = tbl(s, dir, "documents")
        .select(explode(Dedup.cleanTokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      words.where(length(col("w")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(20)
    },
      s"""WITH wd AS (
         |  SELECT unnest(${cleanToksSql("text")}) AS w FROM documents
         |),
         |f AS (SELECT w, count(*) AS freq FROM wd GROUP BY 1),
         |p AS (
         |  SELECT freq,
         |         unnest(list_transform(range(1, len(w)),
         |                               i -> w[i:i+1])) AS pair
         |  FROM f WHERE len(w) >= 2
         |)
         |SELECT pair, cast(sum(freq) AS bigint) AS cnt
         |FROM p GROUP BY 1
         |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin),

    // BPE vocabulary TRAINING, k iterated merges — the real tokenizer-
    // induction loop, not just the first merge statistic: each round
    // aggregates adjacent-symbol pair counts over the distinct-word
    // table (distributed, vocabulary-sized), collects exactly ONE row
    // (the argmax pair — the model-on-driver pattern), and applies the
    // merge corpus-wide. Words are space-joined symbol strings, so a
    // merge is replace(ws, "p1 p2", "p1p2") — greedy left-to-right
    // non-overlapping, byte-identical semantics in Spark and DuckDB
    // (the oracle replays the same k rounds as chained CTEs). The
    // driver holds only the k-row merge table; per-round lineage is cut
    // by a local checkpoint so round i doesn't recompute rounds 1..i-1.
    Query("text_bpe_merges", (s, dir) => {
      import s.implicits._
      bpeTrainMerges(s, dir, 6).toDF("step", "pair", "cnt")
    },
      // replays the same k greedy merge rounds as the Spark driver loop:
      // per round, pair counts over the space-joined symbol strings, the
      // (cnt DESC, pair ASC) argmax, then the same left-to-right
      // non-overlapping replace — chained CTEs because k is a fixed
      // constant of the query
      {
        val k = 6
        val rounds = (1 to k).map { i =>
          s"""|p$i AS (
              |  SELECT pair, cast(sum(freq) AS bigint) AS cnt FROM (
              |    SELECT freq, unnest(list_transform(range(1, len(s)),
              |           j -> s[j] || ' ' || s[j+1])) AS pair
              |    FROM (SELECT string_split(ws, ' ') AS s, freq FROM w${i - 1})
              |    WHERE len(s) >= 2
              |  ) GROUP BY 1
              |),
              |m$i AS (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
              |w$i AS (
              |  SELECT replace(ws, (SELECT pair FROM m$i),
              |                 replace((SELECT pair FROM m$i), ' ', '')) AS ws,
              |         freq FROM w${i - 1}
              |)""".stripMargin
        }.mkString(",\n")
        val union = (1 to k)
          .map(i => s"SELECT $i AS step, pair, cnt FROM m$i")
          .mkString("\nUNION ALL\n")
        s"""WITH wt AS (
           |  SELECT w, count(*) AS freq
           |  FROM (SELECT unnest(${cleanToksSql("text")}) AS w FROM documents)
           |  GROUP BY 1
           |),
           |w0 AS (
           |  SELECT rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS ws, freq
           |  FROM wt
           |),
           |""".stripMargin + rounds + "\n" + union + "\nORDER BY step"
      }),

    // BPE ENCODE — apply the trained merge list to the corpus, the
    // tokenizer-application half of the BPE roundtrip (merges = the
    // model, token counts = what the training pipeline actually bills
    // by). The merge list is model-sized driver state (the PQ-codebook
    // pattern); encoding is ONE codegen'd projection per token — a
    // fixed chain of k string replaces over the char-spaced form, the
    // exact sequential semantics BPE defines (replace() is left-to-
    // right non-overlapping in both engines, proven by the merges
    // chain) — then one per-doc hash aggregate. No joins, no UDF, no
    // vocabulary broadcast.
    Query("text_bpe_encode", (s, dir) => {
      val merges = bpeTrainMerges(s, dir, 6).map(_._2)
      val spaced = rtrim(regexp_replace(col("token"), "(.)", "$1 "))
      val encoded = merges.foldLeft[org.apache.spark.sql.Column](spaced)(
        (c, p) => replace(c, lit(p), lit(p.replace(" ", ""))))
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(Dedup.cleanTokens(col("text"))).as("token"))
        .select(col("doc_id"),
          size(split(encoded, " ")).cast("long").as("n_sym"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("n_sym")).as("n_symbols"))
    },
      // the merges chain again (same 6 rounds, same tiebreak), but each
      // wi carries the ORIGINAL word w so the final encoded form joins
      // back to the per-doc token stream
      {
        val k = 6
        val rounds = (1 to k).map { i =>
          s"""|p$i AS (
              |  SELECT pair, cast(sum(freq) AS bigint) AS cnt FROM (
              |    SELECT freq, unnest(list_transform(range(1, len(s)),
              |           j -> s[j] || ' ' || s[j+1])) AS pair
              |    FROM (SELECT string_split(ws, ' ') AS s, freq FROM w${i - 1})
              |    WHERE len(s) >= 2
              |  ) GROUP BY 1
              |),
              |m$i AS (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
              |w$i AS (
              |  SELECT w, replace(ws, (SELECT pair FROM m$i),
              |                 replace((SELECT pair FROM m$i), ' ', '')) AS ws,
              |         freq FROM w${i - 1}
              |)""".stripMargin
        }.mkString(",\n")
        s"""WITH wt AS (
           |  SELECT w, count(*) AS freq
           |  FROM (SELECT unnest(${cleanToksSql("text")}) AS w FROM documents)
           |  GROUP BY 1
           |),
           |w0 AS (
           |  SELECT w, rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS ws, freq
           |  FROM wt
           |),
           |""".stripMargin + rounds + s""",
           |tk AS (
           |  SELECT doc_id, unnest(${cleanToksSql("text")}) AS w
           |  FROM documents
           |)
           |SELECT tk.doc_id, count(*)::BIGINT AS n_tokens,
           |       cast(sum(len(string_split(w$k.ws, ' '))) AS BIGINT)
           |         AS n_symbols
           |FROM tk JOIN w$k ON tk.w = w$k.w
           |GROUP BY 1""".stripMargin
      }),

    // Deterministic train/val/test split: engine-portable hash bucket from
    // md5(doc_id) — reproducible across runs, engines, and partitionings
    // (the sampling/split primitive every training-data pipeline needs;
    // never rand(), which breaks retry determinism and cross-run joins)
    Query("text_split_assign", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string").cast("binary")),
          1, 8), 16, 10).cast("long") % 100).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test")),
      """SELECT doc_id,
        |       cast(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
        |            % 100 AS bigint) AS bucket,
        |       CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
        |                  % 100 < 80 THEN 'train'
        |            WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
        |                  % 100 < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents""".stripMargin),

    // Bigram counts (n-gram LM building block): word 2-grams via the
    // NATIVE shingle expression (the declarative HOF form pays ~2
    // interpreted lambdas per bigram — 8.8s vs 0.4s at sf0.1)
    Query("text_bigram_counts", (s, dir) =>
      tbl(s, dir, "documents")
        .select(explode(
          graft.functions.GraftFunctions.shingles(col("text"), 2))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt")),
      s"""WITH t AS (SELECT ${cleanToksSql("text")} AS l FROM documents),
         |bg AS (
         |  SELECT unnest(CASE WHEN len(l) >= 2
         |    THEN list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
         |    ELSE [array_to_string(l, ' ')] END) AS bigram
         |  FROM t
         |)
         |SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram""".stripMargin),

    // Gopher/MassiveText-style repetition rules — the canonical LLM
    // quality pass this engine exists for: per document, the duplicate-
    // bigram fraction and the top-bigram share (looping/gibberish text
    // repeats itself), word count and mean word length bounds, and the
    // resulting keep flag. One exploded token stream and one exploded
    // bigram stream, each aggregated per doc — no per-doc driver work,
    // scales like any aggregation. Flags compare ROUNDED ratios so both
    // engines decide identically at the thresholds.
    Query("text_gopher_rules", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
          explode(graft.functions.GraftFunctions.shingles(col("text"), 1))
            .as("tok"))
        .where(col("tok") =!= "")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          round(avg(length(col("tok"))), 6).as("mean_word_len"))
      val bg = docs.select(col("doc_id"),
          explode(graft.functions.GraftFunctions.shingles(col("text"), 2))
            .as("bigram"))
        .where(col("bigram").contains(" "))
        .groupBy("doc_id", "bigram").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(round(lit(1.0) - count(lit(1)).cast("double") /
            sum(col("cnt")).cast("double"), 6).as("dup_bigram_frac"),
          round(max(col("cnt")).cast("double") /
            sum(col("cnt")).cast("double"), 6).as("top_bigram_share"))
      docs.select(col("doc_id"))
        .join(toks, Seq("doc_id"), "left_outer")
        .join(bg, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("mean_word_len"), lit(0.0)).as("mean_word_len"),
          coalesce(col("dup_bigram_frac"), lit(0.0)).as("dup_bigram_frac"),
          coalesce(col("top_bigram_share"), lit(0.0)).as("top_bigram_share"))
        .withColumn("keep",
          (col("n_words").between(5, 10000) &&
            col("mean_word_len").between(2.0, 12.0) &&
            col("dup_bigram_frac") <= 0.3 &&
            col("top_bigram_share") <= 0.2).cast("long"))
    },
      // the rules re-derived in SQL: dup-bigram fraction = 1 - distinct/
      // total, top share = mode count / total, word stats from the token
      // list; token-less docs fall back to zeros and fail the keep gate
      s"""WITH t AS (
         |  SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents
         |), tok AS (
         |  SELECT doc_id, cast(len(l) AS bigint) AS n_words,
         |         round(list_aggregate(list_transform(l, x -> length(x)),
         |                              'sum') * 1.0 / len(l), 6)
         |           AS mean_word_len
         |  FROM t WHERE len(l) > 0
         |), b AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, len(l)),
         |                               i -> l[i] || ' ' || l[i+1])) AS bigram
         |  FROM t WHERE len(l) >= 2
         |), bc AS (
         |  SELECT doc_id, bigram, count(*) AS cnt FROM b
         |  GROUP BY doc_id, bigram
         |), bg AS (
         |  SELECT doc_id,
         |         round(1.0 - count(*) * 1.0 / sum(cnt), 6)
         |           AS dup_bigram_frac,
         |         round(max(cnt) * 1.0 / sum(cnt), 6) AS top_bigram_share
         |  FROM bc GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |       coalesce(tok.n_words, 0) AS n_words,
         |       coalesce(tok.mean_word_len, 0.0) AS mean_word_len,
         |       coalesce(bg.dup_bigram_frac, 0.0) AS dup_bigram_frac,
         |       coalesce(bg.top_bigram_share, 0.0) AS top_bigram_share,
         |       cast(coalesce(tok.n_words, 0) BETWEEN 5 AND 10000
         |            AND coalesce(tok.mean_word_len, 0.0) BETWEEN 2.0 AND 12.0
         |            AND coalesce(bg.dup_bigram_frac, 0.0) <= 0.3
         |            AND coalesce(bg.top_bigram_share, 0.0) <= 0.2
         |            AS bigint) AS keep
         |FROM documents d
         |LEFT JOIN tok ON d.doc_id = tok.doc_id
         |LEFT JOIN bg ON d.doc_id = bg.doc_id""".stripMargin),

    // Eval-set contamination scan — the decontamination gate every
    // pretraining pipeline runs: treat one source ('src0') as the
    // held-out benchmark, shingle both sides, and flag corpus documents
    // sharing >= 2 distinct shingles with any benchmark document
    // (production uses 8-13-gram shingles; the engine's standard 3-gram
    // keeps one shingle pipeline end to end). The benchmark side is
    // broadcast (eval sets are tiny next to the corpus); the corpus
    // streams through one scan — at 100 TB this is a broadcast join, not
    // a shuffle.
    Query("text_contamination", (s, dir) => {
      val sg = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
        explode(array_distinct(
          graft.functions.GraftFunctions.shingles(col("text"))))
          .as("sh"))
      val benchmark = sg.where(col("source") === "src0")
        .select(col("sh"), col("doc_id").as("eval_id")).distinct()
      sg.where(col("source") =!= "src0").select(col("doc_id"), col("sh"))
        .join(broadcast(benchmark), "sh")
        .groupBy("doc_id")
        .agg(countDistinct(col("sh")).as("n_shared"),
          countDistinct(col("eval_id")).as("n_eval_docs"))
        .where(col("n_shared") >= 2)
    },
      s"""WITH t AS (
         |  SELECT doc_id, source, ${cleanToksSql("text")} AS l FROM documents
         |), sg AS (
         |  SELECT doc_id, source, unnest(list_distinct($shinglesSql)) AS sh
         |  FROM t
         |), e AS (
         |  SELECT DISTINCT sh, doc_id AS eval_id FROM sg WHERE source = 'src0'
         |), c AS (
         |  SELECT doc_id, sh FROM sg WHERE source <> 'src0'
         |)
         |SELECT doc_id, count(DISTINCT sh) AS n_shared,
         |       count(DISTINCT eval_id) AS n_eval_docs
         |FROM c JOIN e USING (sh)
         |GROUP BY doc_id HAVING count(DISTINCT sh) >= 2""".stripMargin),

    // Bigram language-model quality score — the perplexity-style gate a
    // pretraining pipeline runs to rank documents by fluency: train an
    // add-one-smoothed bigram model ON the corpus itself (c(w1 w2),
    // history counts c(w1), vocab V), then score each document by its
    // mean log-probability avg ln((c12+1)/(c1+V)). Model building and
    // scoring are joins over the exploded bigram stream — at 100 TB the
    // model tables shuffle on bigram/history keys like any aggregation
    // (no driver-side model); token-less docs score 0 via the left join.
    // A doc's only pseudo-shingle lacks the separator space when it has
    // <2 tokens, which is the portable real-bigram filter on both sides.
    Query("text_lm_score", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      // materialized once: FIVE consumers below (bigram counts, history
      // counts, both vocab branches, the scored join) would otherwise
      // each re-run the full tokenize+shingle explode — the dominant
      // cost at corpus scale (measured 6.3x at the 10x ladder rung)
      val docBg = docs.select(col("doc_id"),
          explode(graft.functions.GraftFunctions.shingles(col("text"), 2))
            .as("bigram"))
        .where(col("bigram").contains(" "))
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
        .localCheckpoint(false)
      val bgCounts = docBg.groupBy("bigram").agg(count(lit(1)).as("c2"))
      val histCounts = docBg.groupBy("w1").agg(count(lit(1)).as("c1"))
      val vocab = docBg.select(col("w1").as("t"))
        .unionAll(docBg.select(
          substring_index(col("bigram"), " ", -1).as("t")))
        .agg(countDistinct(col("t")).as("v"))
      val scored = docBg
        .join(bgCounts, "bigram").join(histCounts, "w1")
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(round(avg(log(
            (col("c2") + 1).cast("double") /
              (col("c1") + col("v")).cast("double"))), 6).as("lm_score"),
          count(lit(1)).as("n_bigrams"))
      docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("lm_score"), lit(0.0)).as("lm_score"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
    },
      // the model is re-derived from scratch in SQL: real bigrams only
      // (>= 2 tokens), history counts over bigram heads, vocab = distinct
      // tokens across both positions, add-one smoothing, mean ln rounded 6
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |b AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, len(l)),
         |                               i -> l[i] || ' ' || l[i+1])) AS bigram
         |  FROM t WHERE len(l) >= 2
         |), bw AS (
         |  SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1,
         |         string_split(bigram, ' ')[2] AS w2
         |  FROM b
         |), c2 AS (SELECT bigram, count(*) AS c2 FROM bw GROUP BY bigram),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bw GROUP BY w1),
         |v AS (
         |  SELECT count(DISTINCT tok) AS v FROM (
         |    SELECT w1 AS tok FROM bw UNION ALL SELECT w2 FROM bw)
         |), sc AS (
         |  SELECT doc_id,
         |         round(avg(ln(cast(c2.c2 + 1 AS double)
         |                      / cast(c1.c1 + v.v AS double))), 6) AS lm_score,
         |         count(*) AS n_bigrams
         |  FROM bw JOIN c2 USING (bigram) JOIN c1 USING (w1) CROSS JOIN v
         |  GROUP BY doc_id
         |)
         |SELECT d.doc_id, coalesce(sc.lm_score, 0.0) AS lm_score,
         |       cast(coalesce(sc.n_bigrams, 0) AS bigint) AS n_bigrams
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin),

    // Language-ID confusion matrix: metadata lang vs predicted
    Query("text_lang_confusion", (s, dir) =>
      tbl(s, dir, "documents")
        .groupBy(col("lang"),
          graft.functions.GraftFunctions.langId(col("text"))
            .as("lang_pred"))
        .agg(count(lit(1)).as("cnt")),
      s"""${langPredCtes("lang")}
         |SELECT lang, lang_pred, count(*) AS cnt
         |FROM p GROUP BY lang, lang_pred""".stripMargin),

    // BPE-ish regex token count (letters / digit runs / punctuation marks)
    Query("text_bpe_token_count", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
          .cast("long").as("n_bpe")),
      """SELECT doc_id,
        |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
        |         AS n_bpe
        |FROM documents""".stripMargin),

    // WITHIN-DOC REPETITION SCORE — the Gopher rep-ngram signal the
    // quality gates don't cover: the fraction of DUPLICATE 3-token
    // shingles inside each document (natural prose repeats almost
    // none; boilerplate and spam repeat heavily). Pure map-side work
    // over the same shingle definition the dedup chain uses — one
    // codegen'd pass, no shuffle at all.
    Query("text_repetition_score", (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.GraftFunctions.shingles(col("text")).as("sh"))
        .select(col("doc_id"),
          size(col("sh")).cast("long").as("n_shingles"),
          size(array_distinct(col("sh"))).cast("long").as("n_distinct"),
          round(lit(1.0) - size(array_distinct(col("sh"))).cast("double") /
            size(col("sh")).cast("double"), 6).as("rep_ratio")),
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t)
         |SELECT doc_id, cast(len(sh) AS BIGINT) AS n_shingles,
         |       cast(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
         |       round(1.0::DOUBLE - len(list_distinct(sh))::DOUBLE /
         |             len(sh)::DOUBLE, 6) AS rep_ratio
         |FROM shl""".stripMargin),

    // FEATURE HASHING (the "hashing trick") — the fixed-dimension
    // vectorizer for linear models / ngram classifiers at corpus scale:
    // v[h(token) mod d] += sign(token), so the feature space is d
    // dimensions REGARDLESS of vocabulary size — no vocabulary build,
    // no dictionary broadcast, one map-side pass + one doc-keyed
    // aggregate. The signed variant (Weinberger et al.) makes collision
    // noise zero-mean. md5-derived hash and sign, so the oracle
    // reproduces every vector exactly; docs with zero tokens get the
    // zero vector. (text_feature_hashing profiles the BUCKET collision
    // structure of the same trick; this one emits the per-doc vectors.)
    Query("text_hashed_features", (s, dir) => {
      val d = 64
      val feats = tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.ops.Dedup.cleanTokens(col("text"))).as("token"))
        .select(col("doc_id"), thetaHash(col("token")).as("h"))
        .select(col("doc_id"), (col("h") % d).as("dim"),
          when(expr(s"(h div $d) % 2") === 0, 1L).otherwise(-1L)
            .as("sgn"))
        .groupBy("doc_id", "dim").agg(sum(col("sgn")).as("val"))
        .groupBy("doc_id")
        .agg(map_from_entries(collect_list(struct(col("dim"), col("val"))))
          .as("m"))
        .select(col("doc_id"), expr(
          s"transform(sequence(0, ${d - 1}), " +
            "i -> coalesce(try_element_at(m, cast(i AS bigint)), " +
            "cast(0 AS bigint)))").as("features"))
      tbl(s, dir, "documents").select(col("doc_id"))
        .join(feats, Seq("doc_id"), "left_outer")
        // Serialize the vector as ";"-joined exact longs: the driver's
        // pandas/DuckDB hash compare can't sort an array-typed column,
        // and the string round-trip is exact for integers (same pattern
        // as the embedding serialization above).
        .select(col("doc_id"), concat_ws(";",
          coalesce(col("features"), expr(
            s"transform(sequence(0, ${d - 1}), i -> cast(0 AS bigint))"))
            .cast("array<string>"))
          .as("features"))
    },
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${cleanToksSql("text")}) AS token
         |  FROM documents
         |), f AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
         |  FROM tok
         |), e AS (
         |  SELECT doc_id, h % 64 AS dim,
         |         CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
         |  FROM f
         |), g AS (
         |  SELECT doc_id, dim, cast(sum(sgn) AS bigint) AS val
         |  FROM e GROUP BY 1, 2
         |), dd AS (
         |  SELECT d.doc_id, r.range AS dim
         |  FROM (SELECT DISTINCT doc_id FROM documents) d, range(64) r
         |)
         |SELECT dd.doc_id,
         |       string_agg(cast(coalesce(g.val, 0) AS VARCHAR), ';'
         |                  ORDER BY dd.dim) AS features
         |FROM dd LEFT JOIN g ON g.doc_id = dd.doc_id AND g.dim = dd.dim
         |GROUP BY dd.doc_id""".stripMargin),

    // TRAIN/TEST SPLIT LEAKAGE SCAN — pretraining hygiene's last gate:
    // near-duplicate pairs (LSH-banded candidates, exact Jaccard ≥ 0.5
    // verify) that STRADDLE the hash-assigned train/val/test split —
    // each one is an eval answer leaked into training. Composes the
    // capped LSH candidate chain with text_split_assign's md5 bucket
    // assignment; the split labels shuffle-join onto the (sparse) pair
    // list on doc_id — NO broadcast hint: `splits` is one row per
    // document (corpus-sized), so a forced broadcast would OOM the
    // driver at real corpus scale; the equi-join shuffles the small
    // pair list instead (AQE may still elect a broadcast when the
    // frame is measured tiny).
    Query("text_split_leakage", (s, dir) => {
      val splits = tbl(s, dir, "documents").select(col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string").cast("binary")),
          1, 8), 16, 10).cast("long") % 100).as("bucket"))
        .select(col("doc_id"),
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test").as("split"))
      jaccardPairsWithSetsDf(s, dir)
        .select(col("id1"), col("id2"),
          round(col("inter").cast("double") / col("uni").cast("double"), 6)
            .as("jaccard"))
        .where(col("jaccard") >= 0.5)
        .join(splits.select(col("doc_id").as("id1"),
          col("split").as("split1")), "id1")
        .join(splits.select(col("doc_id").as("id2"),
          col("split").as("split2")), "id2")
        .where(col("split1") =!= col("split2"))
        .select(col("id1"), col("id2"), col("jaccard"),
          col("split1"), col("split2"))
    },
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
         |), jj AS (
         |  SELECT id1, id2,
         |         round(cast(inter AS double) / cast(tot - inter AS double),
         |               6) AS jaccard
         |  FROM j
         |), sp AS (
         |  SELECT doc_id,
         |         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))
         |                   ::BIGINT % 100 < 80 THEN 'train'
         |              WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))
         |                   ::BIGINT % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM documents
         |)
         |SELECT jj.id1, jj.id2, jj.jaccard,
         |       a.split AS split1, b.split AS split2
         |FROM jj JOIN sp a ON a.doc_id = jj.id1
         |     JOIN sp b ON b.doc_id = jj.id2
         |WHERE jj.jaccard >= 0.5 AND a.split <> b.split""".stripMargin),
  )
}
