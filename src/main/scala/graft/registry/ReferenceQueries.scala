package graft
package registry

import SparkEntry.{tbl, events, docLines}
import Shared.{linesCte, stopListSql, tokensCte, cleanToksSql, shinglesSql,
  jaccardPairsDf, lshPairsCtes, langPredCtes}
import graft.ops.{Dedup, NaiveCsv, Rank, TextOps}
import graft.pipelines.{StockCount, WordCount}
import org.apache.spark.sql.functions._

/** The reference workload's own operators (`s1_` .. `o1_`) and the
  * StockCount / WordCount jobs and pipelines, over a raw-CSV-line view
  * of `documents`. */
private[graft] object ReferenceQueries {

  /** DuckDB equivalent of Java's `String.split(",")`: Java drops ALL
    * trailing empty fields while DuckDB's `string_split` keeps them, so
    * strip trailing commas first. Exact for any input whose first field is
    * non-empty (always true here: lines start with `doc_id`) — the one
    * divergent case, an all-commas line, can't occur. */
  private def javaSplitSql(src: String): String =
    s"string_split(regexp_replace($src, ',+$$', ''), ',')"

  val queries: Seq[Query] = Seq(

    // S1: parquet scan + projection + filter (pushdown/pruning path)
    Query("s1_scan_project_filter", (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("source"))
        .where(col("n_chars") > 200),
      "SELECT doc_id, n_chars, source FROM documents WHERE n_chars > 200"),

    // P1: Java-split parity — field arity per line
    Query("p1_java_split_arity", (s, dir) =>
      docLines(s, dir).select(col("doc_id"),
        size(NaiveCsv.javaSplit(col("line"))).cast("long").as("n_fields")),
      s"""$linesCte
         |SELECT doc_id, len(${javaSplitSql("line")}) AS n_fields
         |FROM lines""".stripMargin),

    // P2: last-field extraction + trim
    Query("p2_last_field", (s, dir) =>
      docLines(s, dir).select(col("doc_id"),
        NaiveCsv.lastField(NaiveCsv.javaSplit(col("line"))).as("ticker")),
      s"""$linesCte
         |SELECT doc_id, trim(line_split[-1]) AS ticker
         |FROM (SELECT doc_id, ${javaSplitSql("line")} AS line_split
         |      FROM lines)""".stripMargin),

    // P3: headline reconstruction (slice + re-join on ",")
    Query("p3_headline_rejoin", (s, dir) =>
      docLines(s, dir).select(col("doc_id"),
        NaiveCsv.headline(NaiveCsv.javaSplit(col("line"))).as("headline")),
      s"""$linesCte
         |SELECT doc_id,
         |       array_to_string(l[2:len(l)-2], ',') AS headline
         |FROM (SELECT doc_id, ${javaSplitSql("line")} AS l FROM lines)""".stripMargin),

    // F1: row-arity filter feeding an aggregate
    Query("f1_arity_filter", (s, dir) =>
      docLines(s, dir)
        .where(NaiveCsv.arityAtLeast(NaiveCsv.javaSplit(col("line")), 4))
        .groupBy("lang").agg(count(lit(1)).as("cnt")),
      s"""$linesCte
         |SELECT lang, count(*) AS cnt FROM lines
         |WHERE len(${javaSplitSql("line")}) > 3
         |GROUP BY lang""".stripMargin),

    // T1+T2: case fold + punctuation scrub
    Query("t1_t2_scrub", (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextOps.scrub(col("text")).as("scrubbed")),
      """SELECT doc_id,
        |       regexp_replace(lower(text), '[^a-z ]', ' ', 'g') AS scrubbed
        |FROM documents""".stripMargin),

    // T3+F3: tokenize + explode (generator), empty-token filter, count
    Query("t3_token_counts", (s, dir) =>
      tbl(s, dir, "documents")
        .select(explode(TextOps.tokenize(TextOps.scrub(col("text"))))
          .as("token"))
        .where(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("cnt")),
      s"""WITH ${tokensCte("text")}
         |SELECT token, count(*) AS cnt FROM toks
         |WHERE len(token) > 0 GROUP BY token""".stripMargin),

    // F2: stop-word filter (InSet ≙ broadcast anti-join)
    Query("f2_stopword_filter", (s, dir) =>
      tbl(s, dir, "documents")
        .select(explode(TextOps.tokenize(TextOps.scrub(col("text"))))
          .as("token"))
        .where(TextOps.keepToken(col("token")))
        .groupBy("token").agg(count(lit(1)).as("cnt")),
      s"""WITH ${tokensCte("text")}
         |SELECT token, count(*) AS cnt FROM toks
         |WHERE len(token) > 0 AND token NOT IN $stopListSql
         |GROUP BY token""".stripMargin),

    // A1: count-per-key aggregation (partial+final hash agg)
    Query("a1_count_by_key", (s, dir) =>
      events(s, dir)
        .groupBy("event_type").agg(count(lit(1)).as("cnt")),
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type"),

    // O1+O2: global sort by count desc + row_number rank
    Query("o1_o2_rank_events", (s, dir) => {
      val counts = events(s, dir)
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      Rank.ranked(counts, col("cnt"), Seq(col("event_type")))
        .select(col("rank"), col("event_type"), col("cnt"))
    },
      """SELECT row_number() OVER (ORDER BY cnt DESC, event_type) AS rank,
        |       event_type, cnt
        |FROM (SELECT event_type, count(*) AS cnt FROM events
        |      GROUP BY event_type)""".stripMargin),

    // Full StockCount pipeline (P1+F1+P2+A1+O1+O2)
    Query("stock_count_pipeline", (s, dir) =>
      StockCount.fromLines(docLines(s, dir).select(col("line").as("value"))),
      s"""$linesCte,
         |tickers AS (
         |  SELECT trim(l[-1]) AS ticker
         |  FROM (SELECT ${javaSplitSql("line")} AS l FROM lines)
         |  WHERE len(l) > 3
         |),
         |counts AS (SELECT ticker, count(*) AS cnt FROM tickers GROUP BY ticker)
         |SELECT row_number() OVER (ORDER BY cnt DESC, ticker) AS rank,
         |       ticker, cnt
         |FROM counts""".stripMargin),

    // Full WordCount pipeline (P1+P3+T1..T3+F2+F3+A1+O1..O3, top-100)
    Query("word_count_pipeline", (s, dir) =>
      WordCount.fromLines(docLines(s, dir).select(col("line").as("value"))),
      s"""$linesCte,
         |heads AS (
         |  SELECT array_to_string(l[2:len(l)-2], ',') AS h
         |  FROM (SELECT ${javaSplitSql("line")} AS l FROM lines)
         |  WHERE len(l) > 1
         |),
         |toks AS (
         |  SELECT unnest(string_split_regex(
         |           regexp_replace(lower(h), '[^a-z ]', ' ', 'g'),
         |           '\\s+')) AS word
         |  FROM heads
         |),
         |counts AS (
         |  SELECT word, count(*) AS cnt FROM toks
         |  WHERE len(word) > 0 AND word NOT IN $stopListSql
         |  GROUP BY word
         |),
         |ranked AS (
         |  SELECT row_number() OVER (ORDER BY cnt DESC, word) AS rank,
         |         word, cnt
         |  FROM counts
         |)
         |SELECT rank, word, cnt FROM ranked WHERE rank <= 100""".stripMargin),

    // S3 byte parity: the exact "<rank>: <ticker>, <count>" output lines
    // the reference's reducer writes (StockCount.java:63-64)
    Query("stock_count_formatted", (s, dir) =>
      StockCount.formatted(StockCount.fromLines(
        docLines(s, dir).select(col("line").as("value")))),
      s"""$linesCte,
         |tickers AS (
         |  SELECT trim(l[-1]) AS ticker
         |  FROM (SELECT ${javaSplitSql("line")} AS l FROM lines)
         |  WHERE len(l) > 3
         |),
         |counts AS (SELECT ticker, count(*) AS cnt FROM tickers GROUP BY ticker),
         |ranked AS (
         |  SELECT row_number() OVER (ORDER BY cnt DESC, ticker) AS rank,
         |         ticker, cnt
         |  FROM counts
         |)
         |SELECT printf('%d: %s, %d', rank, ticker, cnt) AS value
         |FROM ranked""".stripMargin),

    // S3 byte parity: "<rank>: <word>\t<count>" (WordCount.java:91 +
    // TextOutputFormat's K\tV separator)
    Query("word_count_formatted", (s, dir) =>
      WordCount.formatted(WordCount.fromLines(
        docLines(s, dir).select(col("line").as("value")))),
      s"""$linesCte,
         |heads AS (
         |  SELECT array_to_string(l[2:len(l)-2], ',') AS h
         |  FROM (SELECT ${javaSplitSql("line")} AS l FROM lines)
         |  WHERE len(l) > 1
         |),
         |toks AS (
         |  SELECT unnest(string_split_regex(
         |           regexp_replace(lower(h), '[^a-z ]', ' ', 'g'),
         |           '\\s+')) AS word
         |  FROM heads
         |),
         |counts AS (
         |  SELECT word, count(*) AS cnt FROM toks
         |  WHERE len(word) > 0 AND word NOT IN $stopListSql
         |  GROUP BY word
         |),
         |ranked AS (
         |  SELECT row_number() OVER (ORDER BY cnt DESC, word) AS rank,
         |         word, cnt
         |  FROM counts
         |)
         |SELECT printf('%d: %s\t%d', rank, word, cnt) AS value
         |FROM ranked WHERE rank <= 100""".stripMargin),

    // End-to-end training-data pipeline — the capstone composition every
    // component exists for: language-ID gate -> token-count quality gate
    // -> exact content dedup (keep min doc_id per md5) -> deterministic
    // md5-bucket train/val/test split -> corpus stats per (split, lang).
    // One scan + one dedup shuffle + one final agg; every stage is the
    // operator its standalone query checks.
    // FEATURE-STORE CAPSTONE — the per-user feature row a serving layer
    // reads: activity counts, last-seen instant, first-touch funnel
    // depth, purchase aggregates, and an exp-decayed recency score, ALL
    // from ONE hash aggregation over the event log (conditional
    // aggregates per feature — adding a feature costs one agg
    // expression, not one pass). The only broadcast is the 1-row corpus
    // max instant anchoring the decay. At 100 TB: one shuffle keyed by
    // user, partial-aggregated map-side; no windows, no joins, no
    // per-user buffers.
    Query("pipeline_feature_store", (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"),
        when(col("event_type") =!= "error",
          round(col("value") * 1000).cast("long")).as("v"))
      val now = e.agg(max(col("t")).as("t_now"))
      val a = e.crossJoin(broadcast(now))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(col("t")).as("last_seen_us"),
          min(when(col("event_type") === "signup", col("t"))).as("s"),
          min(when(col("event_type") === "view", col("t"))).as("w"),
          min(when(col("event_type") === "purchase", col("t"))).as("p"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"),
          sum(when(col("event_type") === "purchase", col("v"))
            .otherwise(lit(0L))).as("purchase_milli"),
          round(sum(exp((col("t") - col("t_now")).cast("double") /
            lit(86400000000.0))), 6).as("recency"))
      a.select(col("user_id"), col("n_events"), col("last_seen_us"),
        (when(col("s").isNotNull, 1).otherwise(0)
          + when(col("s").isNotNull && col("w").isNotNull &&
              col("w") > col("s"), 1).otherwise(0)
          + when(col("s").isNotNull && col("w").isNotNull &&
              col("w") > col("s") && col("p").isNotNull &&
              col("p") > col("w"), 1).otherwise(0))
          .cast("long").as("steps_completed"),
        col("n_purchases"), col("purchase_milli"), col("recency"))
    },
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS BIGINT) END AS v
        |  FROM events
        |), n AS (SELECT max(t) AS t_now FROM e),
        |a AS (
        |  SELECT user_id, count(*)::BIGINT AS n_events,
        |         max(t) AS last_seen_us,
        |         min(CASE WHEN event_type = 'signup' THEN t END) AS s,
        |         min(CASE WHEN event_type = 'view' THEN t END) AS w,
        |         min(CASE WHEN event_type = 'purchase' THEN t END) AS p,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1
        |                  ELSE 0 END)::BIGINT AS n_purchases,
        |         sum(CASE WHEN event_type = 'purchase' THEN v
        |                  ELSE 0 END)::BIGINT AS purchase_milli,
        |         round(sum(exp((t - t_now)::DOUBLE
        |                       / CAST(86400000000 AS DOUBLE))), 6)
        |           AS recency
        |  FROM e CROSS JOIN n GROUP BY user_id
        |)
        |SELECT user_id, n_events, last_seen_us,
        |       (CASE WHEN s IS NOT NULL THEN 1 ELSE 0 END
        |        + CASE WHEN s IS NOT NULL AND w IS NOT NULL AND w > s
        |               THEN 1 ELSE 0 END
        |        + CASE WHEN s IS NOT NULL AND w IS NOT NULL AND w > s
        |               AND p IS NOT NULL AND p > w THEN 1 ELSE 0 END
        |       )::BIGINT AS steps_completed,
        |       n_purchases, purchase_milli, recency
        |FROM a""".stripMargin),

    Query("pipeline_training_data", (s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"),
        graft.functions.GraftFunctions.langId(col("text"))
          .as("lang_pred"),
        size(Dedup.cleanTokens(col("text"))).cast("long").as("n_tok"))
      val kept = docs.where(col("lang_pred") =!= "unknown" &&
        col("n_tok") >= 5)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
      val deduped = kept.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
      val bucket = conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long") % 100
      deduped
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test"))
        .groupBy("split", "lang_pred")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    },
      s"""${langPredCtes("doc_id")},
         |d AS (
         |  SELECT doc.doc_id, doc.text, p.lang_pred,
         |         cast(len(${cleanToksSql("doc.text")}) AS bigint) AS n_tok
         |  FROM documents doc JOIN p ON doc.doc_id = p.doc_id
         |),
         |dd AS (
         |  SELECT *, row_number() OVER (PARTITION BY md5(text)
         |                               ORDER BY doc_id) AS rn
         |  FROM d WHERE lang_pred <> 'unknown' AND n_tok >= 5
         |),
         |sp AS (
         |  SELECT doc_id, lang_pred, n_tok,
         |         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
         |                   % 100 < 80 THEN 'train'
         |              WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
         |                   % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM dd WHERE rn = 1
         |)
         |SELECT split, lang_pred, count(*) AS n_docs,
         |       cast(sum(n_tok) AS bigint) AS n_tokens
         |FROM sp GROUP BY 1, 2""".stripMargin),

    // Capstone fuzzy-dedup pipeline: MinHash -> banded LSH candidates ->
    // exact-Jaccard threshold -> connected components -> keep each
    // component's min-id canonical doc -> per-language survivor stats.
    // This is the end-to-end near-dup removal pass of a training-data
    // build, composed entirely from the scale-shaped operators proven
    // individually (capped LSH buckets, O(diameter) CC with bounded
    // checkpoints, one final aggregate).
    Query("pipeline_fuzzy_dedup", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val edges = jaccardPairsDf(s, dir).where(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"))
      val cc = Dedup.connectedComponents(
        docs.select(col("doc_id")), edges)
      docs.select(col("doc_id"), col("lang"),
          size(Dedup.cleanTokens(col("text"))).cast("long").as("n_tok"))
        .join(cc, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("doc_id") === col("component")).cast("int")).cast("long")
            .as("n_kept"),
          sum(when(col("doc_id") === col("component"), col("n_tok"))
            .otherwise(0L)).as("n_tokens_kept"))
    },
      // the dedup_connected_components transitive closure, then per-language
      // survivor accounting against the canonical (min-id) representative
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
           |),
           |cc AS (
           |  SELECT node AS doc_id, min(lab) AS component
           |  FROM reach GROUP BY 1
           |),
           |d AS (
           |  SELECT doc_id, lang,
           |         cast(len(${cleanToksSql("text")}) AS bigint) AS n_tok
           |  FROM documents
           |)
           |SELECT d.lang, count(*) AS n_docs,
           |       cast(sum(CASE WHEN cc.component = d.doc_id
           |                     THEN 1 ELSE 0 END) AS bigint) AS n_kept,
           |       cast(sum(CASE WHEN cc.component = d.doc_id
           |                     THEN d.n_tok ELSE 0 END) AS bigint)
           |         AS n_tokens_kept
           |FROM d JOIN cc USING (doc_id)
           |GROUP BY 1""".stripMargin
      }),

    // Reference-scale pipeline benchmarks: 100x-replicated document lines
    // (~500k rows at sf0.1 ~ the reference's 486,634-row input)
    // scale path: map-side TokenCountsAgg ticker mode (one Java split per
    // line, no per-ticker rows; same results as the declarative
    // fromLines, cross-checked in PipelineSpec)
    Query("stock_count_x100", (s, dir) =>
      StockCount.fromLinesAgg(
        docLines(s, dir)
          .select(col("line"), explode(sequence(lit(0), lit(99))).as("rep"))
          .select(col("line").as("value"))),
      s"""$linesCte,
         |lines100 AS (SELECT line FROM lines CROSS JOIN range(100)),
         |tickers AS (
         |  SELECT trim(l[-1]) AS ticker
         |  FROM (SELECT ${javaSplitSql("line")} AS l FROM lines100)
         |  WHERE len(l) > 3
         |),
         |counts AS (SELECT ticker, count(*) AS cnt FROM tickers GROUP BY ticker)
         |SELECT row_number() OVER (ORDER BY cnt DESC, ticker) AS rank,
         |       ticker, cnt
         |FROM counts""".stripMargin),

    // scale path: map-side TokenCountsAgg, no per-token rows (same results
    // as fromLines — cross-checked in tests and by the shared oracle shape)
    Query("word_count_x100", (s, dir) =>
      WordCount.fromLinesAgg(
        docLines(s, dir)
          .select(col("line"), explode(sequence(lit(0), lit(99))).as("rep"))
          .select(col("line").as("value"))),
      s"""$linesCte,
         |lines100 AS (SELECT line FROM lines CROSS JOIN range(100)),
         |heads AS (
         |  SELECT array_to_string(l[2:len(l)-2], ',') AS h
         |  FROM (SELECT ${javaSplitSql("line")} AS l FROM lines100)
         |  WHERE len(l) > 1
         |),
         |toks AS (
         |  SELECT unnest(string_split_regex(
         |           regexp_replace(lower(h), '[^a-z ]', ' ', 'g'),
         |           '\\s+')) AS word
         |  FROM heads
         |),
         |counts AS (
         |  SELECT word, count(*) AS cnt FROM toks
         |  WHERE len(word) > 0 AND word NOT IN $stopListSql
         |  GROUP BY word
         |),
         |ranked AS (
         |  SELECT row_number() OVER (ORDER BY cnt DESC, word) AS rank,
         |         word, cnt
         |  FROM counts
         |)
         |SELECT rank, word, cnt FROM ranked WHERE rank <= 100""".stripMargin),
  )
}
