package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IR evaluation metrics (SURVEY §2.5 R1–R11), re-expressed as one
  * declarative aggregation pipeline instead of the reference's
  * per-query Python loops (reference: src/evaluation.py).
  *
  * The reference's triple config loop (main.py:274-318, 375 searches)
  * disappears: (strategy, model, query_id) are group keys, so ALL
  * configurations evaluate in one shuffle — this is what makes the same
  * computation scale to thousands of configs / millions of queries.
  */
object Metrics {

  /** R1 `is_relevant` (evaluation.py:16-46): chunk source contains the
    * expected source AND any expected keyword occurs in the content
    * (case-insensitive).
    */
  def isRelevant(sourceFile: Column, content: Column,
      expectedSource: Column, keywords: Column): Column =
    expectedSource.isNotNull &&
      sourceFile.contains(expectedSource) &&
      exists(keywords, k => contains(lower(content), lower(k)))

  /** R6 expected-source resolution (main.py:297-308): the first chunk
    * source matching any pattern; fallback = the first chunk's source.
    * "First" is Python list order — we pin the deterministic analog:
    * lexicographic min (SURVEY §7 determinism).
    *
    * @param chunkSources (strategy, source_file) distinct rows
    * @param queries (query_id, expected_source_patterns)
    * @return (strategy, query_id, expected_source)
    */
  def resolveExpectedSources(chunkSources: DataFrame, queries: DataFrame): DataFrame = {
    val q = queries.select(col("query_id"), col("expected_source_patterns"))
    val matched = chunkSources.join(broadcast(q),
        exists(col("expected_source_patterns"),
          p => contains(lower(col("source_file")), lower(p))))
      .groupBy(col("strategy"), col("query_id"))
      .agg(min(col("source_file")).as("matched_source"))
    val fallback = chunkSources.groupBy(col("strategy"))
      .agg(min(col("source_file")).as("fallback_source"))
      .crossJoin(broadcast(q.select(col("query_id"))))
    fallback.join(matched, Seq("strategy", "query_id"), "left")
      .select(col("strategy"), col("query_id"),
        coalesce(col("matched_source"), col("fallback_source")).as("expected_source"))
  }

  /** R2–R5 per-query metrics over ranked hits.
    *
    * @param hits (strategy, model, query_id, rank, sim, source_file, content)
    * @param queries (query_id, expected_keywords)
    * @param expected (strategy, query_id, expected_source)
    * @return one row per (strategy, model, query_id) with top_1, top_3,
    *         mrr, avg_similarity
    */
  def perQuery(hits: DataFrame, queries: DataFrame, expected: DataFrame): DataFrame = {
    val rel = hits
      .join(broadcast(queries.select(col("query_id"), col("expected_keywords"))), "query_id")
      .join(broadcast(expected), Seq("strategy", "query_id"), "left")
      .withColumn("relevant",
        isRelevant(col("source_file"), col("content"),
          col("expected_source"), col("expected_keywords")))
    rel.groupBy(col("strategy"), col("model"), col("query_id"))
      .agg(
        max(when(col("relevant") && col("rank") <= 1, 1.0).otherwise(0.0)).as("top_1"),
        max(when(col("relevant") && col("rank") <= 3, 1.0).otherwise(0.0)).as("top_3"),
        coalesce(lit(1.0) / min(when(col("relevant"), col("rank"))), lit(0.0)).as("mrr"),
        coalesce(avg(when(col("relevant") && col("rank") <= 5, col("sim"))), lit(0.0))
          .as("avg_similarity"))
  }

  /** R7 per-configuration aggregation (evaluation.py:160-186). */
  def perConfig(perQueryMetrics: DataFrame): DataFrame =
    perQueryMetrics.groupBy(col("strategy"), col("model"))
      .agg(
        avg(col("top_1")).as("top_1_accuracy"),
        avg(col("top_3")).as("top_3_accuracy"),
        avg(col("mrr")).as("mrr"),
        avg(col("avg_similarity")).as("avg_similarity"),
        count(lit(1)).as("num_queries"))

  /** R10 combined score + ranking (main.py:346-350). The score is a sum
    * of averages whose last bits follow shuffle order, so ranking uses
    * it rounded well above double noise: configs that tie in value tie
    * in rank and fall to the (strategy, model) tie-break.
    */
  def ranked(perConfigMetrics: DataFrame): DataFrame =
    perConfigMetrics
      .withColumn("combined_score", col("top_3_accuracy") + col("mrr"))
      .orderBy(round(col("combined_score"), 9).desc, col("strategy").asc,
        col("model").asc)

  /** R8 argmax by metric (evaluation.py:188-192). */
  def bestBy(perConfigMetrics: DataFrame, metric: String): DataFrame =
    perConfigMetrics
      .orderBy(col(metric).desc, col("strategy").asc, col("model").asc)
      .limit(1)

  /** R9 global summary stats (evaluation.py:198-211). */
  def summaryStats(perConfigMetrics: DataFrame): DataFrame =
    perConfigMetrics.agg(
      avg(col("top_1_accuracy")).as("mean_top_1"),
      avg(col("top_3_accuracy")).as("mean_top_3"),
      avg(col("mrr")).as("mean_mrr"),
      avg(col("avg_similarity")).as("mean_avg_similarity"),
      max(col("top_3_accuracy") + col("mrr")).as("max_combined_score"),
      count(lit(1)).as("num_configs"))
}
