package vps.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-global vocabulary statistics: document frequency, collection term
  * frequency, top-k vocabulary, and TF-IDF.
  *
  * 100-TB shape: the exploded token stream never materializes globally — the
  * `(doc, term)` rollup is a hash aggregate WITH map-side partial combine
  * (each map partition emits at most its distinct (doc,term) pairs), the
  * term-level rollup aggregates that already-reduced stream, and the top-k is
  * `TakeOrderedAndProject` (per-partition heaps + driver merge of k rows), not
  * a global sort. The only rank window runs over k rows post-limit. TF-IDF is
  * a broadcast-joinable enrichment: term stats are vocabulary-sized,
  * independent of corpus size.
  */
object Vocab {

  /** Whitespace tokens, lowercased, empties dropped — the engine-portable
    * tokenizer (a single-space split mirrors exactly in SQL; the BPE-ish
    * regex tokenizer in [[TextExpressions]] covers the subword case).
    */
  def tokens(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(lower(text), " "), t => t =!= "")

  /** Per-(doc, term) term frequency. */
  def docTermCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Per-term document frequency + collection frequency over the rollup. */
  def termStats(docTerms: DataFrame, idCol: String): DataFrame =
    docTerms.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))

  /** [[termStats]] with the corpus-sized `(doc, term)` exchange deleted: the
    * per-doc rollup happens in-row (the `term_counts` map, [[vps.text.TextOps.termCounts]]), so
    * the exploded stream is already one row per (doc, distinct term) and the
    * ONLY shuffle is the vocabulary-sized term aggregation (map-side partial
    * combine first). Proven row-equal to the two-exchange form by spec; the
    * 100-TB default.
    */
  def termStatsFused(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(vps.text.functions.term_counts(col(textCol)))
        .as(Seq("term", "tf")))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))

  /** Top-k vocabulary by (df desc, tf_total desc, term asc), 1-based rank.
    * Order-by + limit compiles to TakeOrderedAndProject; the rank window only
    * ever sees the k surviving rows.
    */
  def topK(stats: DataFrame, k: Int): DataFrame = {
    val ord = Seq(col("df").desc, col("tf_total").desc, col("term").asc)
    stats.orderBy(ord: _*).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)).cast("long"))
  }

  /** Smoothed TF-IDF per (doc, term): `tf * (ln(nDocs / (1 + df)) + 1)`.
    * `stats` is vocabulary-sized — broadcast it so the enrichment never
    * shuffles the corpus-sized side.
    */
  def tfidf(docTerms: DataFrame, stats: DataFrame, nDocs: Long): DataFrame =
    docTerms.join(broadcast(stats.select(col("term"), col("df"))), Seq("term"))
      .withColumn("tfidf",
        col("tf") * (log(lit(nDocs.toDouble) / (lit(1.0) + col("df"))) + lit(1.0)))
}
