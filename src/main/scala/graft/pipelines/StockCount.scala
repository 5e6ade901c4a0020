package graft.pipelines

import graft.ops.{NaiveCsv, Rank}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's StockCount job (`/root/reference/src/StockCount.java`),
  * re-expressed Spark-first:
  *
  *   read.text -> naive split (P1) -> arity filter (F1) -> last field (P2)
  *   -> count per ticker (A1, partial+final hash agg — the combiner the
  *   reference deliberately omits comes for free) -> rank by count desc
  *   (O1+O2, deterministic tiebreak) -> "<rank>: <ticker>, <count>" (S3).
  *
  * Header rows are NOT skipped (the reference counts the literal header
  * value `stock` once — `output/output_stock:5746`).
  */
object StockCount {

  /** Core pipeline over any single-string-column DataFrame of raw CSV lines.
    * Returns (rank: long, ticker: string, cnt: long), ordered. */
  def fromLines(lines: DataFrame, lineCol: String = "value"): DataFrame = {
    val arr = NaiveCsv.javaSplit(col(lineCol))
    val tickers = lines
      .select(arr.as("f"))
      .where(NaiveCsv.arityAtLeast(col("f"), 4)) // fields.length > 3
      .select(NaiveCsv.lastField(col("f")).as("ticker"))
    val counts = tickers.groupBy("ticker").agg(count(lit(1)).as("cnt"))
    Rank.ranked(counts, col("cnt"), Seq(col("ticker")))
      .select(col("rank"), col("ticker"), col("cnt"))
      .orderBy(col("rank"))
  }

  /** Scale variant of [[fromLines]]: identical results, but the whole
    * mapper and counting run inside a map-side
    * [[graft.functions.TokenCountsAgg]] over the line's UTF-8 bytes — one
    * pass per line (the declarative plan re-evaluates the split emulation
    * in both the pushed-down filter and the projection), no per-ticker row
    * materialized, and the shuffle carries one small ticker->count map per
    * partition.
    *
    * The mapper is Java's `fields = line.split(",")`, kept when
    * `fields.length > 3`, keyed by `fields.last.trim`. Split drops trailing
    * empty fields but keeps leading and inner ones, so a line has
    * (commas after dropping trailing commas) + 1 fields, and the ticker is
    * the text after the last such comma with chars <= U+0020 trimmed from
    * both ends — possibly empty (`"1,h,d,  "` counts ""). */
  def fromLinesAgg(lines: DataFrame, lineCol: String = "value"): DataFrame = {
    val counts = lines
      .agg(graft.functions.GraftFunctions
        .tickerCounts(lines.sparkSession, col(lineCol)).as("m"))
      .select(explode(col("m")).as(Seq("ticker", "cnt")))
    Rank.ranked(counts, col("cnt"), Seq(col("ticker")))
      .select(col("rank"), col("ticker"), col("cnt"))
      .orderBy(col("rank"))
  }

  /** Byte-format output lines: `"<rank>: <ticker>, <count>"`
    * (`StockCount.java:63-64` — value is null so no tab separator). */
  def formatted(ranked: DataFrame): DataFrame =
    ranked.select(
      format_string("%d: %s, %d", col("rank"), col("ticker"), col("cnt"))
        .as("value"))

  /** Full job: text dir in, single text file out (the reference's one
    * default reducer = one output file; `coalesce(1)` on the *ranked* output
    * only — upstream scan/agg stay fully parallel). Uses the map-side
    * aggregate path ([[fromLinesAgg]], result-identical to [[fromLines]]). */
  def run(spark: SparkSession, inDir: String, outDir: String): Unit =
    formatted(fromLinesAgg(spark.read.text(inDir)))
      .coalesce(1).write.mode("overwrite").text(outDir)
}
