package graft.operators

import graft.functions.expressions.CleanTokensExpr
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's flagship computation — word counting over cleaned,
  * stop-word-filtered tokens (`/root/reference/src/main/scala/TwitchStream/SparkRunner.scala:121-127`)
  * — as a single declarative plan: clean_tokens → explode → hash
  * aggregate.
  *
  * Scale notes: tokenize, stop-word removal and the `length > minLength`
  * gate run as one native codegen pass before the explode, so only kept
  * words become rows; the count is a partial (map-side) + final hash
  * aggregate, so the shuffle carries one row per distinct word per
  * partition — the natural minimum. The reference did this by hand with
  * `reduceByKey` (`SparkRunner.scala:126`); Catalyst does it
  * automatically. The streaming word branch uses the same tokenizer.
  */
object WordCount {

  /** The one tokenizer: lower-case, split on whitespace runs, drop empty
    * tokens and stop-words, keep tokens longer than `minLength` code
    * points — multiplicity and order preserved, null text → empty array.
    * Runs as the native codegen `clean_tokens` expression.
    */
  def cleanTokens(text: Column, language: String, minLength: Int = 0): Column =
    CleanTokensExpr.cleanTokens(text, language, minLength)

  def wordCounts(
      df: DataFrame,
      textCol: String,
      language: String = "english",
      minLength: Int = 3): DataFrame =
    df.select(explode(cleanTokens(col(textCol), language, minLength)).alias("word"))
      .groupBy("word")
      .agg(count(lit(1)).alias("count"))
}
