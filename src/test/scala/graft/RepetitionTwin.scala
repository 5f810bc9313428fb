package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-scope reference twin of [[TextStats.repetitionStats]]. The
  * production operator is the shuffle-free per-doc fold; this
  * explode + hash-aggregate form computes the same signals a second
  * way, and ExtSpec pins the two equal row for row.
  */
object RepetitionTwin {

  /** Relational formulation of [[TextStats.repetitionStats]]: explode unigrams
    * and bigrams (tagged) into one long table, count term frequencies
    * with a codegen'd two-level hash aggregate, and fold back to one
    * row per doc. Two shuffles on (id, kind, term) / (id), but every
    * operator stays inside whole-stage codegen with map-side partial
    * aggregation. Semantics identical to the fold (max term frequency
    * == longest equal-run of the sorted token array).
    */
  def repetitionStatsRelational(df: DataFrame, id: String,
      text: String): DataFrame = {
    // per-ROW key, not per-id: the fold scores each input row
    // independently, so a duplicated doc id must yield one output row
    // per input row, not a merged term-frequency table. The rowid
    // never leaves this method.
    val terms = df
      .select(col(id), TextStats.tokens(col(text)).as("__ws"))
      .select(col(id), col("__ws"), TextStats.bigramsOf(col("__ws")).as("__bi"))
      .withColumn("__rid", monotonically_increasing_id())
      .filter(size(col("__ws")) > 0)
      .select(col(id), col("__rid"), explode(concat(
        transform(col("__ws"), w => struct(lit(0).as("kind"), w.as("term"))),
        transform(col("__bi"), b => struct(lit(1).as("kind"), b.as("term")))))
        .as("t"))
      .select(col(id), col("__rid"), col("t.kind").as("kind"),
        col("t.term").as("term"))
    val tf = terms.groupBy(col(id), col("__rid"), col("kind"), col("term"))
      .agg(count(lit(1)).as("c"))
    val uni = col("kind") === 0
    tf.groupBy(col(id), col("__rid"))
      .agg(
        sum(when(uni, col("c"))).as("n_words"),
        count(when(uni, lit(1))).as("n_distinct_words"),
        max(when(uni, col("c"))).as("__max_w"),
        max(when(!uni, col("c"))).as("__max_b"))
      .select(col(id), col("n_words"), col("n_distinct_words"),
        round(lit(1.0) - col("n_distinct_words") * lit(1.0) / col("n_words"), 6)
          .as("dup_word_frac"),
        round(col("__max_w") * lit(1.0) / col("n_words"), 6)
          .as("top_word_frac"),
        round(when(col("n_words") >= 2,
            coalesce(col("__max_b"), lit(0L)) * lit(1.0) / (col("n_words") - 1))
          .otherwise(lit(0.0)), 6).as("top_bigram_frac"))
  }
}
