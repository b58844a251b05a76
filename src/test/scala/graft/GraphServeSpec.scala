package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.VectorStore
import graft.search.NnGraph

/** The store's graph serves ([[VectorStore.graphSearch]],
  * [[VectorStore.graphSearchSharded]]) run the whole beam walk inside
  * one task per shard ([[NnGraph.walkServe]]). This spec pins them to
  * their plan-shaped references, [[NnGraph.graphTopK]] and
  * [[NnGraph.shardedGraphTopK]], row for row, and pins the job budget
  * of a warm read.
  */
class GraphServeSpec extends SparkSpec {
  import spark.implicits._
  import VectorStore.{BeamIters, BeamWidth, NndSample}

  private val Dim = 16

  /** Seeded unit vectors around 6 centres. */
  private def vectors(seed: Long, n: Int): Seq[Array[Float]] = {
    val r = new scala.util.Random(seed)
    val centres = Seq.fill(6)(Array.fill(Dim)(r.nextGaussian()))
    Seq.fill(n) {
      val c = centres(r.nextInt(centres.size))
      val v = c.map(_ + 0.4 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
  }

  /** 160 points; ids 150..159 repeat the vectors of ids 0..9, so hits
    * tie on sim and rank by id.
    */
  private lazy val (base, store, vs) = {
    val base = java.nio.file.Files.createTempDirectory("graph-serve").toString
    val store = new VectorStore(spark, base)
    val distinct = vectors(11L, 150)
    val vs = distinct ++ distinct.take(10)
    store.createCollection("c",
      vs.indices.map(i => (i.toLong, vs(i))).toDF("key", "embedding"), "key")
    (base, store, vs)
  }

  /** Batches of 0, 1 and 8 queries; the 8-query batch asks for two
    * duplicated vectors exactly.
    */
  private def batches: Seq[DataFrame] = {
    val extra = vectors(23L, 6)
    Seq(Seq.empty[(Long, Array[Float])],
        Seq((4L, extra(0))),
        Seq((0L, vs(3)), (1L, vs(151))) ++
          extra.indices.map(i => (i + 2L, extra(i))))
      .map(_.toDF("query_id", "qvec"))
  }

  private def index: DataFrame =
    store.read("c").select(col("id").as("vec_id"), col("embedding"))

  private def rows(df: DataFrame): Seq[(Long, Int, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSeq.sortBy(t => (t._1, t._2))

  private val Ks = Seq(1, 10, BeamWidth + 4)

  private def assertServesEqualReferences(qs: Seq[DataFrame]): Unit =
    for (q <- qs; k <- Ks) {
      val mono = rows(store.graphSearch("c", q, k))
      assert(mono == rows(NnGraph.graphTopK(index, store.graphOf("c"), q, k,
        BeamWidth, BeamIters, NndSample)), s"graphSearch k=$k")
      val sharded = rows(store.graphSearchSharded("c", q, k))
      assert(sharded == rows(NnGraph.shardedGraphTopK(index,
        store.shardedGraphOf("c", 2), q, k, 2, BeamWidth, BeamIters,
        NndSample)), s"graphSearchSharded k=$k")
      if (q.isEmpty) assert(mono.isEmpty && sharded.isEmpty)
      else assert(mono.nonEmpty && sharded.nonEmpty)
    }

  test("store graph serves equal graphTopK / shardedGraphTopK row for row, before and after point maintenance") {
    assertServesEqualReferences(batches)
    // a duplicated vector ties on sim: the lower id ranks first
    val dup = rows(store.graphSearch("c", batches(2), 10)).filter(_._1 == 0L)
    assert(dup.take(2).map(_._3) == Seq(3L, 153L), dup.toString)

    val fresh = vectors(37L, 8)
    store.upsertPoints("c", (Seq(2L, 5L, 152L) ++ (200L until 205L)).zip(fresh)
      .map { case (id, v) => (id, v, id) }.toDF("id", "embedding", "key"))
    assertServesEqualReferences(batches.takeRight(1))
    assert(store.deletePoints("c", Seq(3L, 7L, 201L, 150L)) == 4L)
    assertServesEqualReferences(batches.takeRight(1))
    assert(VectorStore.graphBuildsOf(base, "c") == 1L)
    assert(VectorStore.graphBuildsOf(base, "c#s2") == 1L)
  }

  test("walkServe equals the reference walk at every iteration count, sharded or not") {
    val q = batches(2)
    for (iters <- Seq(0, 1, 6); k <- Ks) {
      assert(rows(NnGraph.walkServe(index, store.graphOf("c"), q, k, 1,
          BeamWidth, iters, NndSample)) ==
        rows(NnGraph.graphTopK(index, store.graphOf("c"), q, k, BeamWidth,
          iters, NndSample)), s"mono iters=$iters k=$k")
      for (s <- Seq(2, 3)) assert(
        rows(NnGraph.walkServe(index, store.shardedGraphOf("c", s), q, k, s,
          BeamWidth, iters, NndSample)) ==
        rows(NnGraph.shardedGraphTopK(index, store.shardedGraphOf("c", s), q,
          k, s, BeamWidth, iters, NndSample)), s"$s shards iters=$iters k=$k")
    }
  }

  /** Spark jobs started from this thread while `f` runs. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(key) == tag)
          n.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      f
      // the listener bus is async; wait until the count settles
      var last = -1
      var waited = 0
      while (waited < 5000 && n.get() != last) {
        last = n.get(); Thread.sleep(250); waited += 250
      }
      n.get()
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("job budget: a warm graph read is one job (mono) or two (sharded), whatever the round count") {
    val q = batches(2)
    store.graphSearch("c", q, 10).collect()
    store.graphSearchSharded("c", q, 10).collect()
    val mono = jobsDuring(store.graphSearch("c", q, 10).collect(): Unit)
    val sharded = jobsDuring(store.graphSearchSharded("c", q, 10).collect(): Unit)
    assert(mono == 1, s"mono graph read ran $mono jobs")
    assert(sharded >= 1 && sharded <= 2, s"sharded graph read ran $sharded jobs")
    val g = store.graphOf("c")
    val sg = store.shardedGraphOf("c", 2)
    def kernel(graph: DataFrame, shards: Int, iters: Int) = jobsDuring(
      NnGraph.walkServe(index, graph, q, 10, shards, BeamWidth, iters,
        NndSample).collect(): Unit)
    val (mono1, mono12) = (kernel(g, 1, 1), kernel(g, 1, 12))
    val (sharded1, sharded12) = (kernel(sg, 2, 1), kernel(sg, 2, 12))
    assert(mono1 == mono12 && mono12 <= 1, s"$mono1 vs $mono12 jobs")
    assert(sharded1 == sharded12 && sharded12 <= 2, s"$sharded1 vs $sharded12 jobs")
  }
}
