package graft.pipelines

import graft.ops.{NaiveCsv, Rank, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's WordCount job (`/root/reference/src/WordCount.java`),
  * re-expressed Spark-first:
  *
  *   read.text -> naive split (P1) -> guard arity (F1) -> headline
  *   reconstruction (P3: drop id + last 2 fields, re-join on ",") -> case
  *   fold + punctuation scrub (T1+T2) -> whitespace tokenize + explode (T3)
  *   -> drop empties + stop words (F3+F2, InSet hash probe ≙ broadcast
  *   side-file at `WordCount.java:25-38`) -> count per word (A1) -> top-100
  *   by count desc (O1-O3, deterministic tiebreak)
  *   -> "<rank>: <word>\t<count>" (S3).
  */
object WordCount {

  val TopK = 100 // Math.min(100, n) at WordCount.java:89

  /** Core pipeline: (rank: long, word: string, cnt: long), top `k`. */
  def fromLines(lines: DataFrame, lineCol: String = "value",
                stop: Seq[String] = TextOps.stopWords,
                k: Int = TopK): DataFrame = {
    val arr = NaiveCsv.javaSplit(col(lineCol))
    val tokens = lines
      .select(arr.as("f"))
      .where(size(col("f")) > 1) // guard at WordCount.java:42
      .select(NaiveCsv.headline(col("f")).as("h"))
      // fastTokenize ≡ tokenize(scrub(_)) — one regex pass (TextOpsSpec)
      .select(explode(TextOps.fastTokenize(col("h"))).as("word"))
      .where(TextOps.keepToken(col("word"), stop))
    val counts = tokens.groupBy("word").agg(count(lit(1)).as("cnt"))
    Rank.ranked(counts, col("cnt"), Seq(col("word")), limit = k)
      .select(col("rank"), col("word"), col("cnt"))
      .orderBy(col("rank"))
  }

  /** Scale variant of [[fromLines]]: identical results, but word counting
    * happens inside a [[graft.functions.TokenCountsAgg]] map-side aggregate
    * over the line's UTF-8 bytes — no per-token row is ever materialized
    * (the explode plan generates one row per token before partial
    * aggregation collapses them; at 500k lines that is ~27M rows). The
    * shuffle carries one small token->count map per partition.
    * Restriction: uses the reference stop-word list.
    *
    * The mapper is Java's `fields = line.split(",")`, then the headline
    * `fields(1..n-3).mkString(",")` when `n = fields.length > 1`. Split
    * drops trailing empty fields but keeps leading and inner ones, so the
    * headline is exactly the text between the first comma and the
    * second-to-last comma once trailing commas are dropped (empty with
    * fewer than three commas). Its tokens are the a-z runs after
    * lower-casing; every other char, commas included, delimits. */
  def fromLinesAgg(lines: DataFrame, lineCol: String = "value",
                   k: Int = TopK): DataFrame = {
    val counts = lines
      .agg(graft.functions.GraftFunctions
        .tokenCountsCsv(lines.sparkSession, col(lineCol)).as("m"))
      .select(explode(col("m")).as(Seq("word", "cnt")))
    Rank.ranked(counts, col("cnt"), Seq(col("word")), limit = k)
      .select(col("rank"), col("word"), col("cnt"))
      .orderBy(col("rank"))
  }

  /** Byte-format output lines: `"<rank>: <word>\t<count>"`
    * (`WordCount.java:91` + TextOutputFormat's K\tV separator). */
  def formatted(ranked: DataFrame): DataFrame =
    ranked.select(
      format_string("%d: %s\t%d", col("rank"), col("word"), col("cnt"))
        .as("value"))

  /** Full job: text dir in, single text file out. The map-side aggregate
    * path bakes in the reference stop list; a custom list takes the
    * declarative pipeline (identical semantics either way). */
  def run(spark: SparkSession, inDir: String, outDir: String,
          stop: Seq[String] = TextOps.stopWords): Unit = {
    val lines = spark.read.text(inDir)
    val ranked = if (stop == TextOps.stopWords) fromLinesAgg(lines)
      else fromLines(lines, stop = stop)
    formatted(ranked).coalesce(1).write.mode("overwrite").text(outDir)
  }
}
