package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.LetterRuns.letterRuns

/** Word count, Spark-native.
  *
  * Reference semantics (`/root/reference/src/app/wc.rs`):
  *   - tokenize by splitting on every non-alphabetic char (wc.rs:13-18):
  *     digits/punct/underscore all delimit; empty tokens dropped
  *   - lowercase tokens (wc.rs:23-31), emit (word, 1)
  *   - sum per word (wc.rs:35-49)
  *   - global order by (count ASC, word ASC) (wc.rs:60-66)
  *   - report lines "{count}\t{word}" (wc.rs:68-73)
  *
  * Spark plan: scan → generate (explode of `letter_runs(lower(text))`, one
  * fused codegen'd tokenizer pass per line: [[graft.plans.LetterRuns]]) →
  * partial hash-agg → shuffle on word → final hash-agg → range-partitioned
  * sort. The map-side partial aggregation is a strict upgrade over the
  * reference, which shuffles every (word, 1) pair
  * (`/root/reference/src/worker/mod.rs:182-195` has no combiner). At
  * 100 TB the partial agg keeps shuffle volume proportional to the
  * vocabulary, not the corpus.
  */
object WordCount {

  /** Tokenize a text column: lowercase (Spark's own `lower`), then the
    * maximal runs of `\p{L}` letters, empties never produced. Unicode-aware
    * like Rust's `char::is_alphabetic` (wc.rs:14). Equal to
    * `filter(split(lower(text), "[^\\p{L}]+"), t -> length(t) > 0)`
    * without its regex or interpreted lambda.
    */
  def tokens(text: Column): Column = letterRuns(lower(text))

  /** (word, cnt) counts for a DataFrame with a `text` column, ordered by
    * (cnt ASC, word ASC) — the reference's exact output order.
    */
  def counts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").asc, col("word").asc)

  /** Word count over plain text files (one row per line — line boundaries
    * don't matter for wc since newlines are token delimiters anyway).
    * Multiple paths mirror the reference client's arbitrary input-file
    * list (client.rs:80-99: one map task per file; here one scan over
    * the union of paths).
    */
  def overTextFiles(spark: SparkSession, paths: Seq[String]): DataFrame =
    counts(spark.read.text(paths: _*), "value")

  def overTextFiles(spark: SparkSession, path: String): DataFrame =
    overTextFiles(spark, Seq(path))

  /** Reference-golden report: "{count}\t{word}\n" per row (wc.rs:68-73).
    * Driver-side materialization — only for parity tests on tiny fixtures.
    */
  def report(counts: DataFrame): String =
    counts.collect().map(r => s"${r.getLong(1)}\t${r.getString(0)}\n").mkString
}
