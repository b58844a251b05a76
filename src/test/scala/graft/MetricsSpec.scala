package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.eval.Metrics

/** Metric semantics (reference: src/evaluation.py) on a hand-checked
  * retrieval fixture.
  */
class MetricsSpec extends SparkSpec {
  import spark.implicits._

  // One config (s, m); two queries. q1: relevant at ranks 2 and 5;
  // q2: no relevant hit.
  private lazy val hits = Seq(
    ("s", "m", "q1", 1, 0.90, "other.md", "nothing to see"),
    ("s", "m", "q1", 2, 0.80, "docs/alpha.md", "the alpha keyword appears"),
    ("s", "m", "q1", 3, 0.70, "docs/alpha.md", "unrelated text"),
    ("s", "m", "q1", 4, 0.60, "other.md", "alpha but wrong source"),
    ("s", "m", "q1", 5, 0.50, "docs/alpha.md", "ALPHA in caps"),
    ("s", "m", "q2", 1, 0.40, "other.md", "nope"),
    ("s", "m", "q2", 2, 0.30, "other.md", "still nope"),
  ).toDF("strategy", "model", "query_id", "rank", "sim", "source_file", "content")

  private lazy val queries = Seq(
    ("q1", Seq("alpha"), Seq("alpha")),
    ("q2", Seq("zeta"), Seq("zeta")),
  ).toDF("query_id", "expected_keywords", "expected_source_patterns")

  private lazy val chunkSources = Seq(
    ("s", "docs/alpha.md"), ("s", "other.md"),
  ).toDF("strategy", "source_file")

  test("expected-source resolution matches pattern, falls back to min source") {
    val e = Metrics.resolveExpectedSources(chunkSources, queries)
      .collect().map(r => (r.getString(1), r.getString(2))).toMap
    assert(e("q1") == "docs/alpha.md")
    assert(e("q2") == "docs/alpha.md") // no pattern match → min source
  }

  test("per-query metrics: top-k, MRR, avg similarity") {
    val expected = Metrics.resolveExpectedSources(chunkSources, queries)
    val m = Metrics.perQuery(hits, queries, expected)
      .collect().map(r => r.getString(2) -> r).toMap
    val q1 = m("q1")
    assert(q1.getDouble(3) == 0.0) // top_1: rank-1 hit not relevant
    assert(q1.getDouble(4) == 1.0) // top_3: rank-2 relevant
    assert(q1.getDouble(5) == 0.5) // mrr: first relevant at rank 2
    assert(math.abs(q1.getDouble(6) - (0.80 + 0.50) / 2) < 1e-12) // ranks 2,5 within top-5
    val q2 = m("q2")
    assert(q2.getDouble(3) == 0.0 && q2.getDouble(4) == 0.0)
    assert(q2.getDouble(5) == 0.0 && q2.getDouble(6) == 0.0)
  }

  test("per-config aggregation and ranking") {
    val expected = Metrics.resolveExpectedSources(chunkSources, queries)
    val cfg = Metrics.ranked(Metrics.perConfig(
      Metrics.perQuery(hits, queries, expected))).collect()
    assert(cfg.length == 1)
    val r = cfg.head
    assert(r.getAs[Double]("top_3_accuracy") == 0.5)
    assert(r.getAs[Double]("mrr") == 0.25)
    assert(r.getAs[Long]("num_queries") == 2)
    assert(r.getAs[Double]("combined_score") == 0.75)

    // scores one ulp apart (summation-order noise) tie: the
    // (strategy, model) tie-break orders them, and combined_score keeps
    // its exact value
    val noisy = Seq(
      ("b", "m", 0.0, 0.0, math.nextUp(0.75), 0.0, 2L),
      ("a", "m", 0.0, 0.0, 0.75, 0.0, 2L),
    ).toDF("strategy", "model", "top_1_accuracy", "top_3_accuracy", "mrr",
      "avg_similarity", "num_queries")
    val order = Metrics.ranked(noisy).collect()
      .map(r => (r.getAs[String]("strategy"), r.getAs[Double]("combined_score")))
    assert(order.toSeq == Seq(("a", 0.75), ("b", math.nextUp(0.75))),
      order.toSeq.toString)
  }
}
