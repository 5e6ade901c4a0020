package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the round-7 training-data operators (per-key
  * sampling, skew profiling, mixing weights, chunk/span dedup, triangle
  * census, fuzzy-dedup capstone) on the sf0.001 tables — properties the
  * DuckDB hash-compare can't express, e.g. determinism across runs and
  * cross-query consistency. */
class TrainingOpsSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("rel_priority_sample: true global top-100 by exact integer " +
      "priority, planned as TakeOrderedAndProject") {
    import org.apache.spark.sql.functions._
    val df = run("rel_priority_sample")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted sample must keep the O(k)-per-partition plan:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"weighted sample must never globally sort:\n$plan")
    val got = df.collect()
      .map(r => (r.getAs[Long]("priority"), r.getAs[Long]("o_orderkey")))
    assert(got.length == 100)
    // the full priority frame from the same exact-integer construction
    // (no limit): the sample must be ITS top 100 under the same order
    val h = greatest(conv(substring(md5(col("o_orderkey").cast("string")
      .cast("binary")), 1, 8), 16, 10).cast("long"), lit(1L))
    val full = SparkEntry.tbl(spark, sf, "orders")
      .select(col("o_orderkey"),
        expr("cast(round(o_totalprice * 100) AS bigint)").as("w_cents"),
        h.as("h"))
      .select(expr("(w_cents * 4294967296) div h").as("priority"),
        col("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = full.sortBy(p => (-p._1, p._2)).take(100)
    assert(got.toSeq == want.toSeq,
      "sample must be the exact global top-100 with the orderkey tiebreak")
    // weighted-sampling sanity: the sampled weights skew heavy — the
    // sample's mean weight should exceed the population's
    val sampleKeys = got.map(_._2).toSet
    val wByKey = SparkEntry.tbl(spark, sf, "orders")
      .select(col("o_orderkey"),
        expr("cast(round(o_totalprice * 100) AS bigint)"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val meanSample = sampleKeys.toSeq.map(wByKey).sum.toDouble / 100
    val meanAll = wByKey.values.sum.toDouble / wByKey.size
    assert(meanSample > meanAll,
      s"weighted sample should over-represent heavy rows: " +
        s"$meanSample vs $meanAll")
  }

  test("rel_priority_sample_est: DLT estimate is consistent and lands " +
      "near the exact total") {
    val r = run("rel_priority_sample_est").head()
    val tau = r.getAs[Long]("tau")
    val est = r.getAs[Long]("est_total")
    val exact = r.getAs[Long]("exact_total")
    assert(tau > 0 && est > 0 && exact > 0)
    // ŵ = max(w, τ) ≥ τ for each of the 100 sampled rows
    assert(est >= 100L * tau, "each HT term is at least tau")
    // priority sampling's relative error concentrates around 1/sqrt(k);
    // 60% is a loose deterministic bound for the fixed md5 draw
    val ratio = est.toDouble / exact.toDouble
    assert(ratio > 0.4 && ratio < 1.6,
      s"estimate implausibly far from exact: $est vs $exact ($ratio)")
  }

  test("text_split_leakage: every reported pair straddles splits and " +
      "is a true near-dup; consistent with the dedup chain") {
    val leaks = run("text_split_leakage").collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Double]("jaccard"), r.getAs[String]("split1"),
        r.getAs[String]("split2")))
    // split labels must match text_split_assign's assignment exactly
    val assign = run("text_split_assign").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    leaks.foreach { case (a, b, j, s1, s2) =>
      assert(s1 != s2)
      assert(assign(a) == s1 && assign(b) == s2)
      assert(j >= 0.5 && j <= 1.0)
    }
    // every cross-split pair of the jaccard chain at >= 0.5 is reported
    val all = run("dedup_jaccard_pairs").collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Double]("jaccard")))
      .filter(t => t._3 >= 0.5 && assign(t._1) != assign(t._2))
    assert(leaks.map(t => (t._1, t._2)).toSet == all.map(t => (t._1, t._2)).toSet)
  }

  test("rel_sample_per_key caps every user at 3 rows, deterministically") {
    val s1 = run("rel_sample_per_key")
    val perUser = s1.groupBy("user_id").count()
      .agg(max("count")).head().getLong(0)
    assert(perUser <= 3L)
    // identical row MULTISET on a re-run (no rand() anywhere in the
    // sample): symmetric difference empty, not just one direction
    val s2 = run("rel_sample_per_key")
    assert(s2.exceptAll(s1).isEmpty && s1.exceptAll(s2).isEmpty)
    // no event sampled twice
    assert(s1.select("event_id").distinct().count() == s1.count())
  }

  test("rel_cumulative_users ends at the true distinct-user count") {
    val cum = run("rel_cumulative_users")
    val last = cum.agg(max(col("cum_users"))).head().getLong(0)
    val truth = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    assert(last == truth)
    // a prefix count can never decrease
    assert(cum.where(col("cum_users") < 0).count() == 0L)
  }

  test("rel_key_skew_profile: totals match the raw table, skew >= 1") {
    val prof = run("rel_key_skew_profile")
    val total = prof.agg(sum("n_events")).head().getLong(0)
    val raw = spark.read.parquet(s"$sf/events.parquet").count()
    assert(total == raw)
    val bad = prof.where(col("skew_factor") < 1.0 ||
      col("max_per_user") < col("avg_per_user")).count()
    assert(bad == 0L)
  }

  test("text_domain_mix weights are a probability distribution") {
    val mix = run("text_domain_mix")
    val z = mix.agg(sum("mix_weight")).head().getDouble(0)
    assert(math.abs(z - 1.0) < 1e-3, s"weights sum to $z")
    assert(mix.where(col("mix_weight") <= 0).count() == 0L)
    // temperature flattening: max weight below the raw token share's max
    val shares = mix.agg(
      max(col("n_tokens")).cast("double") /
        sum(col("n_tokens")).cast("double"),
      max(col("mix_weight"))).head()
    assert(shares.getDouble(1) <= shares.getDouble(0) + 1e-9,
      "temperature 0.7 must not sharpen the largest domain")
  }

  test("dedup_chunk_dedup: chunk counts = ceil(tokens/10), frac in [0,1]") {
    val ch = run("dedup_chunk_dedup")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        ceil(size(graft.ops.Dedup.cleanTokens(col("text"))) / lit(10.0))
          .cast("long").as("want"))
      .withColumn("want", greatest(col("want"), lit(1L)))
    val off = ch.join(docs, "doc_id")
      .where(col("n_chunks") =!= col("want")).count()
    assert(off == 0L)
    assert(ch.where(col("dup_frac") < 0 || col("dup_frac") > 1 ||
      col("n_dup_chunks") > col("n_chunks")).count() == 0L)
  }

  test("dedup_incremental_ingest rejects every perturbed re-ingest") {
    val kept = run("dedup_incremental_ingest")
    // re-ingested ids live at original+1000; every one is a normalized
    // duplicate of a corpus doc and must be rejected by the anti join
    assert(kept.where(col("doc_id") >= 1000).count() == 0L)
    // survivors = distinct fresh fingerprints absent from the corpus —
    // computed from the data, so the assertion stays valid even if a
    // future testdata regeneration introduces exact dups among fresh docs
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val fp = graft.ops.Dedup.fingerprint(col("text"))
    val corpusFp = docs.where(col("doc_id") < 250)
      .select(fp.as("fp")).distinct()
    val expect = docs.where(col("doc_id") >= 250)
      .select(fp.as("fp"))
      .join(corpusFp, Seq("fp"), "left_anti")
      .distinct().count()
    assert(kept.count() == expect)
  }

  test("dedup_chunk_removal preserves docs with no duplicated chunks") {
    val clean = run("dedup_chunk_removal")
    val acct = run("dedup_chunk_dedup")
    // a doc with dup_frac = 0 must come back as its exact normalized text
    val pristine = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        concat_ws(" ", graft.ops.Dedup.cleanTokens(col("text")))
          .as("want"))
      .join(acct.where(col("dup_frac") === 0.0).select("doc_id"), "doc_id")
    val broken = pristine.join(clean, "doc_id")
      .where(col("clean_text") =!= col("want")).count()
    assert(broken == 0L)
    // docs that vanish entirely are exactly the fully-duplicated,
    // non-canonical ones: every chunk duplicated and owned elsewhere
    assert(clean.count() <= acct.count())
  }

  test("dedup_dup_spans: every span in >=2 docs, occurrences >= docs") {
    val sp = run("dedup_dup_spans")
    assert(sp.where(col("n_docs") < 2 ||
      col("n_occ") < col("n_docs")).count() == 0L)
    // every reported gram really is 8 tokens
    assert(sp.where(size(split(col("gram"), " ")) =!= 8).count() == 0L)
  }

  test("dedup_triangle_count: wedge/triangle inequalities hold") {
    val r = run("dedup_triangle_count").head()
    val (edges, wedges, tris) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val coeff = r.getDouble(3)
    assert(wedges >= 3 * tris, "each triangle closes exactly 3 wedges")
    assert(coeff >= 0.0 && coeff <= 1.0)
    assert(edges >= 0 && tris >= 0)
  }

  test("dedup_lsh_recall: found <= true, recall in [0,1]") {
    val r = run("dedup_lsh_recall").head()
    val (nTrue, nFound, recall) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(nFound <= nTrue, "candidates passing the exact threshold are " +
      "a subset of the true pair set")
    assert(recall >= 0.0 && recall <= 1.0)
    // 4 bands x 2 rows: P(collision | J = 0.5) = 1-(1-0.25)^4 ≈ 0.68 per
    // pair and real dup pairs sit far above 0.5 — demand a sane floor
    if (nTrue > 0) assert(recall >= 0.5, s"LSH recall $recall collapsed")
  }

  test("text_bpe_merges: k distinct well-formed merges, first equals the " +
    "pair-count argmax") {
    val m = run("text_bpe_merges").orderBy("step").collect()
    assert(m.length == 6)
    assert(m.map(_.getInt(0)).toSeq == (1 to 6))
    val pairs = m.map(_.getString(1))
    // each merge is "sym sym" (one space) and is never re-learned: after
    // a merge that pair no longer exists in the corpus
    assert(pairs.forall(p => p.count(_ == ' ') == 1))
    assert(pairs.distinct.length == pairs.length)
    assert(m.forall(_.getLong(2) > 0L))
    // round 1 must pick exactly what the standalone merge statistic
    // (text_bpe_pair_counts, ordered cnt DESC then pair ASC) ranks first,
    // modulo representation: its 2-char pair "xy" is our "x y"
    val top = run("text_bpe_pair_counts").head()
    assert(pairs.head == top.getString(0).mkString(" "),
      s"first merge ${pairs.head} != pair-count argmax ${top.getString(0)}")
    assert(m.head.getLong(2) == top.getLong(1))
  }

  test("emb_semantic_dedup keeps one vector per semantic component") {
    val st = run("emb_semantic_dedup")
    // per label: kept <= vecs. A label CAN legitimately keep 0 (all its
    // vectors in clusters canonically owned by lower-id vectors of other
    // labels), so only the global floor is an invariant: components are
    // non-empty, each contributes exactly one canonical vector.
    assert(st.where(col("n_kept") > col("n_vecs")).count() == 0L)
    assert(st.agg(sum("n_kept")).head().getLong(0) >= 1L)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    assert(st.agg(sum("n_vecs")).head().getLong(0) == emb.count())
  }

  test("text_balanced_resample never up-samples a cell") {
    val rs = run("text_balanced_resample")
    val cells = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang", "source").count()
    val joined = rs.join(cells, Seq("lang", "source"))
    assert(joined.where(col("n_kept") > col("count")).count() == 0L)
    // deterministic: identical keep decisions on a re-run (symmetric)
    val rs2 = run("text_balanced_resample")
    assert(rs2.exceptAll(rs).isEmpty && rs.exceptAll(rs2).isEmpty)
  }

  test("pipeline_fuzzy_dedup agrees with dedup_connected_components") {
    val stats = run("pipeline_fuzzy_dedup")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(stats.agg(sum("n_docs")).head().getLong(0) == docs.count())
    // survivors == number of distinct components (one canonical doc each)
    val kept = stats.agg(sum("n_kept")).head().getLong(0)
    val comps = run("dedup_connected_components")
      .select("component").distinct().count()
    assert(kept == comps)
    assert(stats.where(col("n_kept") > col("n_docs")).count() == 0L)
  }

  test("text_keyword_topk: <=3 per doc, ranks contiguous, scores " +
      "agree with tf * text_tfidf idf") {
    val rows = run("text_keyword_topk").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank"),
        r.getAs[String]("token"), r.getAs[Double]("score")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (doc, g) =>
      val ranks = g.map(_._2).sorted
      assert(ranks.length <= 3 &&
        ranks.sameElements(1L to ranks.length),
        s"doc $doc ranks ${ranks.toSeq}")
      // scores non-increasing in rank
      g.sortBy(_._2).map(_._4).foldLeft(Double.MaxValue) { (p, c) =>
        assert(c <= p + 1e-9); c
      }
      assert(g.map(_._3).distinct.length == g.length)
    }
    // the score column is tf * idf with text_tfidf's exact idf values
    val idf = run("text_tfidf").collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Double]("idf"))
      .toMap
    rows.take(50).foreach { case (doc, _, token, score) =>
      // idf is rounded to 6 independently of the keyword score, so
      // only a loose agreement is exact-checkable: score/idf ~ integer
      val ratio = score / idf(token)
      assert(math.abs(ratio - math.round(ratio)) < 1e-3,
        s"score $score not an integer multiple of idf for $token")
    }
  }

  test("text_bigram_pmi: 20 rows, counts >= 5, top PMI matches a " +
      "brute-force recomputation") {
    val rows = run("text_bigram_pmi").collect()
      .map(r => (r.getAs[String]("bigram"), r.getAs[Long]("cxy"),
        r.getAs[Double]("pmi")))
    assert(rows.length == 20)
    assert(rows.forall(_._2 >= 5))
    // pmi column is sorted descending with bigram tiebreak
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 > b._3 || (a._3 == b._3 && a._1 < b._1))
    }
    // brute-force PMI of the top row from raw token streams
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val toks = docs.map(_.toLowerCase.replaceAll("[^a-z ]", " ")
      .split("\\s+").filter(_.nonEmpty))
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.length)
    val n1 = toks.map(_.length).sum
    val bgs = toks.flatMap(t => t.sliding(2).filter(_.length == 2)
      .map(p => p(0) + " " + p(1)))
    val bgCounts = bgs.groupBy(identity).view.mapValues(_.length)
      .filter(_._2 >= 5)
    val n2 = bgCounts.values.sum
    val (top, cxy, pmi) = rows.head
    assert(bgCounts(top) == cxy)
    val Array(w1, w2) = top.split(" ")
    val want = math.log((cxy.toDouble / n2) /
      ((uni(w1).toDouble / n1) * (uni(w2).toDouble / n1)))
    assert(math.abs(pmi - want) < 1e-5, s"pmi $pmi != brute $want")
    // and it really is the maximum over all eligible bigrams
    val maxPmi = bgCounts.map { case (bg, c) =>
      val Array(a, b) = bg.split(" ")
      math.log((c.toDouble / n2) /
        ((uni(a).toDouble / n1) * (uni(b).toDouble / n1)))
    }.max
    assert(math.abs(pmi - maxPmi) < 1e-5)
  }
}
