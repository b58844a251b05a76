package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vec

/** Graph-based approximate nearest neighbor: k-NN-graph construction by
  * NN-descent (Dong, Moses & Li, WWW 2011 — "Efficient K-Nearest
  * Neighbor Graph Construction for Generic Similarity Measures") and
  * greedy beam search over the built graph — the index family
  * production vector stores default to (the reference's own engine is
  * Qdrant, whose index is HNSW: reference src/vector_db.py:48-54; the
  * observable search semantics there are matched exactly by the exact
  * path `knn_topk`, this adds the graph-index SCALE path beside the
  * IVF/PQ/SQ/LSH matrix).
  *
  * NN-descent's premise: a neighbor of a neighbor is likely a
  * neighbor. Start every node with a deterministic entry sample,
  * then repeatedly propose neighbors-of-neighbors (in BOTH edge
  * directions — the paper's reverse-neighbor step is what makes the
  * graph converge) and keep each node's top-k by similarity. Each
  * round is embarrassingly parallel: candidate generation is one
  * self-join of the (capped) adjacency list, scoring is two hash
  * joins onto the vector table, selection is one per-node top-k.
  *
  * Determinism (the oracle contract): the seed sample is md5-ordered
  * (`md5("nnd|" + vec_id)` — the IVF-seed convention), every
  * similarity is the house left-to-right double dot product, and every
  * top-k tie-breaks (sim DESC, id ASC), so DuckDB replays the full
  * construction and search bit-for-bit.
  *
  * Scale shape: per-node degree is capped at k out-edges plus k
  * REVERSE edges (the in-degree cap — without it a hub node makes the
  * candidate join quadratic in its in-degree, the skew hazard), so one
  * iteration generates ≤ 4k² candidates per node: Σ-bounded, never
  * corpus². The index itself never shuffles during search — the beam
  * is broadcast and the per-iteration scoring is a narrow semi-join
  * scan.
  */
object NnGraph {

  /** Deterministic md5-ranked sample of `s` index vectors — the graph
    * build's init neighbors AND the search's entry points (sharing them
    * is the HNSW upper-layer idea flattened to one level: search
    * starts from the same hubs the graph grew from).
    */
  def seedSample(index: DataFrame, s: Int): DataFrame =
    index
      .select(col("vec_id").cast("long").as("seed_id"),
        col("embedding").as("svec"),
        md5(concat(lit("nnd|"), col("vec_id"))).as("r"))
      .orderBy(col("r"), col("seed_id"))
      .limit(s)
      .select(col("seed_id"), col("svec"))

  private def dotFF(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; val n = math.min(a.length, b.length); var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** [[dotFF]]'s double twin — the driver-side replica of the
    * graft_dot plan expression (min-length, left-to-right double
    * accumulation) over already-double rows. ONE definition shared by
    * every walk prelude: the accumulation convention is what the
    * oracles replay bit-for-bit, so it must not fork per call site.
    */
  private def dotDD(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; val n = math.min(a.length, b.length); var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  private def rddOf(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Eagerly materialize one build round (localCheckpoint — truncated
    * lineage, flat LogicalRDD) and deterministically release the
    * superseded round's blocks (not left to the async ContextCleaner —
    * exact-count cache specs must not see blocks vanish mid-test).
    */
  private def barrier(next: DataFrame, prev: Option[DataFrame]): DataFrame = {
    val chk = next.localCheckpoint() // eager
    prev.flatMap(rddOf).foreach(_.unpersist(blocking = false))
    chk
  }

  /** Per-JVM scratch root for every graph artifact (lazily created on
    * the first write). One root instead of bare per-artifact temp dirs
    * so a SINGLE shutdown hook reclaims them all recursively —
    * `File.deleteOnExit` never removes a non-empty directory, so the
    * previous per-dir scheme leaked one parquet directory per build
    * (test suite, bench, each Soak multiplier) until the OS reaper
    * swept /tmp, at which point a memoized serve frame pointed at a
    * vanished file. A cluster deployment writes artifacts to shared
    * storage instead and owns their retention there.
    */
  private lazy val artifactRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_nngraph_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.io.File): Unit = {
        val kids = p.listFiles()
        if (kids != null) kids.foreach(rm)
        p.delete(): Unit
      }
      rm(root.toFile)
    }, "graft-nngraph-artifact-cleanup"))
    root
  }
  private val artifactSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Write the finished graph as a parquet artifact and serve from the
    * scan — the Faiss write-index step made literal: the serve plan is
    * flat, survives caller-side `clearCache()`, and NO persisted RDD
    * outlives the build (exact-count cache invariants hold for every
    * suite ordering). With `target = None` artifacts live under
    * [[artifactRoot]] and are reclaimed by its shutdown hook (the
    * per-session query family); a caller that OWNS durable storage —
    * [[graft.index.VectorStore]] persisting one graph per collection,
    * the Qdrant/Faiss write-index contract — passes `target =
    * Some(dir)` and the artifact lands there directly (no scratch
    * copy), surviving JVM restart for cold-start serving.
    *
    * `prev` names the superseded checkpoint to release once the write
    * has consumed it — passed EXPLICITLY by the caller (ADVICE r19):
    * the old form pattern-matched `edges`' analyzed plan for its first
    * LogicalRDD, which happened to be the superseded round only
    * because unionByName lists it first; a caller frame reachable
    * through the composed plan (e.g. the ingest loop's checkpointed
    * batch rows) could have traversed first and lost its blocks while
    * still in use.
    */
  private[graft] def writeArtifact(edges: DataFrame,
      target: Option[String] = None,
      prev: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    val out = target.getOrElse(java.nio.file.Files.createDirectories(
      artifactRoot.resolve("g" + artifactSeq.incrementAndGet())).toString)
    edges.write.mode("overwrite").parquet(out)
    prev.flatMap(rddOf).foreach(_.unpersist(blocking = false))
    spark.read.parquet(out)
  }

  /** One NN-descent refinement round over `edges` against the vector
    * table `vecs` (vec_id, embedding): reverse edges capped at k,
    * neighbor-of-neighbor proposals over the capped adjacency, fresh
    * dots, merge, per-node top-k. The shared body of [[buildGraph]]'s
    * loop and [[insertIntoGraph]]'s repair round.
    */
  private def refineRound(vecs: DataFrame, edges: DataFrame, k: Int,
      w: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
    // reverse edges, in-degree capped at k per (new) source node
    val rev = edges
      .select(col("nbr").as("id"), col("id").as("nbr"), col("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("id", "nbr", "sim")
    val und = edges.select("id", "nbr")
      .union(rev.select("id", "nbr")).distinct()
    // neighbor-of-neighbor proposals over the capped adjacency
    val cand = und.as("u1")
      .join(und.as("u2"), col("u1.nbr") === col("u2.id"))
      .select(col("u1.id").as("id"), col("u2.nbr").as("nbr"))
      .filter(col("id") =!= col("nbr"))
      .distinct()
    val scored = cand
      .join(vecs.select(col("vec_id").as("id"), col("embedding").as("va")),
        "id")
      .join(vecs.select(col("vec_id").as("nbr"), col("embedding").as("vb")),
        "nbr")
      .select(col("id"), col("nbr"), Vec.dot(col("va"), col("vb")).as("sim"))
    // merge + per-node top-k; the max() collapse makes the union
    // robust even to a sub-ulp disagreement between the typed init
    // dot and the Vec.dot expression (both are left-to-right double,
    // so in practice the two branches agree exactly)
    edges.unionByName(scored)
      .groupBy(col("id"), col("nbr")).agg(max(col("sim")).as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("id", "nbr", "sim")
  }

  /** NN-descent k-NN graph: (id LONG, nbr LONG, sim DOUBLE), exactly k
    * out-edges per node (fewer only if the candidate pool is smaller).
    *
    * Init scores every node against the broadcast seed sample — a
    * narrow map, NO shuffle (the assignCells shape). Each of the
    * `iters` refinement rounds then shuffles only edge/candidate
    * frames (≤ 4k² rows per node), never the raw index beyond the two
    * vector-lookup joins.
    */
  def buildGraph(index: DataFrame, k: Int, iters: Int,
      sampleSize: Int, artifactDir: Option[String] = None): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._

    val seeds: Array[(Long, Array[Float])] = seedSample(index, sampleSize)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val bcSeeds = spark.sparkContext.broadcast(seeds)

    val vecs = index.select(col("vec_id").cast("long"), col("embedding"))

    // Each round references the previous round's edges ~5 times (the
    // reverse-rank window, both sides of the adjacency self-join, the
    // merge union), so a LAZY chain re-evaluates round i's plan 5^i
    // times — measured 135 s for ONE sf0.001 build at 3 rounds. An
    // iterative index BUILD is a batch job with materialization
    // barriers (the GraphX-Pregel discipline; Faiss's train/search
    // split): each round lands behind [[barrier]] (localCheckpoint +
    // deterministic release of the superseded round). Local-mode trade
    // accepted: a lost checkpoint block cannot be recomputed (a
    // cluster deployment would write round state to reliable storage —
    // the serve path reads an artifact either way).

    // init: per-node top-k of the seed set, computed inside the scan
    var edges: DataFrame = barrier(vecs.as[(Long, Array[Float])]
      .mapPartitions { it =>
        val ss = bcSeeds.value
        it.flatMap { case (id, v) =>
          ss.iterator
            .filter { case (sid, _) => sid != id }
            .map { case (sid, sv) => (sid, dotFF(v, sv)) }
            .toArray
            .sortBy { case (sid, s) => (-s, sid) }
            .take(k)
            .map { case (sid, s) => (id, sid, s) }
        }
      }.toDF("id", "nbr", "sim"), None)

    val w = Window.partitionBy("id").orderBy(col("sim").desc, col("nbr").asc)
    for (_ <- 1 until iters) {
      edges = barrier(refineRound(vecs, edges, k, w), Some(edges))
    }
    // the LAST round rides the artifact write itself (one fused job
    // instead of checkpoint-then-copy): refineRound references `edges`
    // ~5 times, but edges is the flat previous checkpoint, so the
    // re-reads are cheap scans, not plan replication; writeArtifact
    // then releases that superseded round (named explicitly as `prev`)
    if (iters == 0) writeArtifact(edges, artifactDir, prev = Some(edges))
    else writeArtifact(refineRound(vecs, edges, k, w), artifactDir,
      prev = Some(edges))
  }

  /** Greedy beam search over a built graph: per query, the beam starts
    * at the seed sample and for `iters` rounds expands every beam
    * member's out-neighbors, re-scores the union against the query,
    * and keeps the top `k`. Output: (query_id, rank, vec_id), rank
    * 1-based by (sim DESC, vec_id ASC).
    *
    * Plan shape per iteration: the beam (|queries| × k rows) is
    * broadcast against the graph for expansion and against the index
    * for scoring — the INDEX NEVER SHUFFLES; each round costs one
    * narrow graph semi-join + one narrow index scan. Scored work per
    * query is ≤ sample + iters × k × (graph-k + 1) candidates —
    * independent of corpus size, the property that makes graph search
    * the production default.
    */
  def graphTopK(index: DataFrame, graph: DataFrame, queries: DataFrame,
      k: Int, beamWidth: Int, iters: Int, sampleSize: Int): DataFrame = {
    val qw = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    beamWithSims(index, graph, queries, beamWidth, iters, sampleSize)
      .select(col("query_id"),
        row_number().over(qw).as("rank"), col("vec_id"))
      .filter(col("rank") <= k)
  }

  // Driver-materialization rationale (shared by [[beamWithSims]] and
  // [[navigateCollect]]): each beam is ≤ |queries| × beamWidth rows —
  // the SAME volume `broadcast(beam)` already ships through the
  // driver, so collecting it adds no scale constraint — and each
  // navigation round references its predecessor ~3 times (the neighbor
  // expansion, the candidate union, the scoring join), so a LAZY
  // iters-round chain would re-evaluate round i's subtree ~3^i times —
  // the same blow-up class [[barrier]] retires on the build side, here
  // without leaving any persisted RDD behind (a LocalRelation is plain
  // driver data; exact-count cache specs see nothing).

  /** One navigation round, lazily: candidates = beam ∪ the beam's
    * out-neighbors over `graph`, each scored fresh against its query.
    * Callers keep the top-beamWidth as the next beam. The beam/candidate
    * frames broadcast; the index and graph sides only ever stream.
    */
  private def roundScored(vecs: DataFrame, graph: DataFrame, q: DataFrame,
      beam: DataFrame): DataFrame = {
    val nb = graph
      .join(broadcast(beam.select(col("query_id"), col("vec_id").as("id"))),
        "id")
      .select(col("query_id"), col("nbr").as("vec_id"))
    val cand = beam.select("query_id", "vec_id").union(nb).distinct()
    vecs
      .join(broadcast(cand), "vec_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("vec_id"),
        Vec.dot(col("qvec"), col("embedding")).as("sim"))
  }

  /** Entry beam: the seed sample scored per query, top-beamWidth. */
  private def entryBeam(q: DataFrame, seeds: DataFrame, beamWidth: Int,
      qw: org.apache.spark.sql.expressions.WindowSpec): DataFrame =
    q.crossJoin(broadcast(seeds))
      .select(col("query_id"), col("seed_id").as("vec_id"),
        Vec.dot(col("qvec"), col("svec")).as("sim"))
      .withColumn("rn", row_number().over(qw)).filter(col("rn") <= beamWidth)
      .select("query_id", "vec_id", "sim")

  /** Graph search with QUANTIZED navigation + exact rescore — the
    * production memory configuration (Qdrant scalar quantization with
    * `rescore=true` over its HNSW; Faiss `IndexRefineFlat` over a
    * compressed base): the walk runs over `navIndex`/`navQueries`
    * (e.g. the int8 vectors — the 4× smaller set that actually fits in
    * executor memory at 100 TB), and the FINAL beam — beamWidth ≥ k,
    * the built-in oversampling — is re-ranked with exact dots over
    * `scoreIndex`/`scoreQueries` (the float originals, fetched only
    * for ≤ beamWidth rows per query). Output (query_id, rank, vec_id),
    * rank by (exact sim DESC, vec_id ASC).
    */
  def graphTopKRescored(navIndex: DataFrame, navQueries: DataFrame,
      scoreIndex: DataFrame, scoreQueries: DataFrame, graph: DataFrame,
      k: Int, beamWidth: Int, iters: Int, sampleSize: Int): DataFrame = {
    val qw = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    val beam = beamWithSims(navIndex, graph, navQueries, beamWidth, iters,
      sampleSize)
    scoreIndex.select(col("vec_id").cast("long"), col("embedding"))
      .join(broadcast(beam.select("query_id", "vec_id")), "vec_id")
      .join(broadcast(scoreQueries.select(col("query_id").cast("long"),
        col("qvec"))), "query_id")
      .select(col("query_id"), col("vec_id"),
        Vec.dot(col("qvec"), col("embedding")).as("sim"))
      .select(col("query_id"),
        row_number().over(qw).as("rank"), col("vec_id"))
      .filter(col("rank") <= k)
  }

  /** The beam walk itself — final beam WITH similarities (query_id,
    * vec_id, sim). [[graphTopK]] ranks it; [[insertIntoGraph]] and
    * [[deleteFromGraph]] turn it into a node's out-edges.
    *
    * Rounds 0..iters-1 are driver-materialized (each a small eager
    * job) with the top-beamWidth cut applied in [[driverTop]] rather
    * than a row_number window: the comparator is bit-identical, but
    * each intermediate job is then a SINGLE narrow stage — scan +
    * broadcast joins + collect, no per-round exchange — instead of
    * scan + shuffle + 32 window tasks. That halves the serve's stage
    * count (VERDICT r18 #6: sequential small jobs are what host
    * contention amplifies — `ann_graph_insert` spread 9.5× in the
    * weather window) at identical output. The FINAL round stays lazy
    * WITH its window so the returned plan IS the serve plan — one
    * graph-artifact scan + one index scan against broadcast beam
    * frames (PlanSpec pins exactly that shape for `ann_graph`).
    */
  private[search] def beamWithSims(index: DataFrame, graph: DataFrame,
      queries: DataFrame, beamWidth: Int, iters: Int,
      sampleSize: Int): DataFrame = {
    val spark = index.sparkSession
    val qw = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    val vecs = index.select(col("vec_id").cast("long"), col("embedding"))
    val q = queries.select(col("query_id").cast("long"), col("qvec"))
    val seeds = seedSample(index, sampleSize)
    if (iters == 0) return entryBeam(q, seeds, beamWidth, qw)
    // the FINAL round uses the CALLER's query frame, not the prelude's
    // re-planted one, so the serve plan is unchanged (PlanSpec pins it)
    val (_, beam) = walkPrelude(spark, vecs, graph, q, seeds,
      beamWidth, iters)
    roundScored(vecs, graph, q, planted(spark, beam))
      .withColumn("rn", row_number().over(qw)).filter(col("rn") <= beamWidth)
      .select("query_id", "vec_id", "sim")
  }

  private def planted(spark: org.apache.spark.sql.SparkSession,
      beam: Array[(Long, Long, Double)]): DataFrame = {
    import spark.implicits._
    spark.createDataset(beam.sortBy(t => (t._1, t._2)).toIndexedSeq)
      .toDF("query_id", "vec_id", "sim")
  }

  /** The walk's driver-side prelude, shared by the lazy serve
    * ([[beamWithSims]]) and the insert path: ONE fused eager job
    * collecting the query frame AND the seed sample (a tagged union —
    * previously two sequential jobs; both frames are ≤ sample/|queries|
    * rows by contract, and both vectors are cast to double for the
    * union, which is value-exact and matches [[dotRows]]' own per-
    * element double cast), the driver entry beam, and the iters−1
    * intermediate rounds (each a single eager job). Returns the
    * re-planted query frame (query_id, qvec double[]) and the beam
    * entering the FINAL round.
    */
  private def walkPrelude(spark: org.apache.spark.sql.SparkSession,
      vecs: DataFrame, graph: DataFrame, q: DataFrame, seeds: DataFrame,
      beamWidth: Int, iters: Int)
      : (DataFrame, Array[(Long, Long, Double)]) = {
    import spark.implicits._
    val both = q.select(lit(0).as("t"), col("query_id").as("id"),
        col("qvec").cast("array<double>").as("v"))
      .unionByName(seeds.select(lit(1).as("t"), col("seed_id").as("id"),
        col("svec").cast("array<double>").as("v")))
      .as[(Int, Long, Array[Double])].collect()
    val qRows = both.filter(_._1 == 0).map(t => (t._2, t._3))
      .sortBy(_._1)
    val seedRows = both.filter(_._1 == 1).map(t => (t._2, t._3))
      .sortBy(_._1)
    // re-planted query frame for the eager intermediate rounds (the
    // caller's subplan would otherwise re-execute per round); double
    // element type is fine — graft_dot casts per element to double
    // anyway, so every downstream sim is bit-identical
    val qLocal = spark.createDataset(qRows.toIndexedSeq)
      .toDF("query_id", "qvec")
    // round 0 ON THE DRIVER: ≤ |queries| × sample entry dots via
    // [[dotDD]] — bit-identical to the graft_dot plan form
    var beam = driverTop(
      for {
        (qid, qv) <- qRows
        (sid, sv) <- seedRows
      } yield (qid, sid, dotDD(qv, sv)),
      beamWidth)
    for (_ <- 1 until iters) {
      beam = driverTop(
        roundScored(vecs, graph, qLocal, planted(spark, beam))
          .as[(Long, Long, Double)].collect(),
        beamWidth)
    }
    (qLocal, beam)
  }

  /** Driver-side (sim DESC, id ASC) top-k per query — bit-identical to
    * the row_number window the lazy rounds use (same comparator), just
    * applied to already-collected rows.
    */
  private def driverTop(rows: Array[(Long, Long, Double)],
      k: Int): Array[(Long, Long, Double)] =
    rows.groupBy(_._1).valuesIterator.flatMap(topOf(_, k)).toArray

  /** One query's (sim DESC, id ASC) top-k — [[driverTop]]'s comparator. */
  private def topOf(rows: Array[(Long, Long, Double)],
      k: Int): Array[(Long, Long, Double)] =
    rows.sortBy(t => (-t._3, t._2)).take(k)

  // ---- the store serve: the whole walk inside one task per shard ----

  /** The beam walk over ONE shard as a pure function — [[graphTopK]]'s
    * walk without the Spark round trips, the kernel of [[walkServe]].
    * Inputs are the shard's (vec_id, embedding) rows, its (id, nbr)
    * adjacency and the query batch (query_id, qvec as double). Per
    * query: entry beam = the shard's md5-ranked `sampleSize` seeds
    * ([[seedSample]]'s order) scored and cut to `beamWidth`, then
    * `iters` rounds of beam ∪ out-neighbors, scored and cut to
    * `beamWidth`. Every dot is [[dotDD]]'s left-to-right double
    * accumulation and every cut the (sim DESC, vec_id ASC) comparator,
    * so the final beam is bit-identical to the DataFrame walk's.
    * Returns each query's final beam (query_id, vec_id, sim).
    */
  private def walkShard(vecs: Array[(Long, Array[Float])],
      edges: Array[(Long, Long)], queries: Array[(Long, Array[Double])],
      beamWidth: Int, iters: Int,
      sampleSize: Int): Array[(Long, Long, Double)] = {
    val vec = scala.collection.mutable.LongMap.empty[Array[Double]]
    vecs.foreach { case (id, v) => vec(id) = v.map(_.toDouble) }
    val out = edges.groupBy(_._1).map { case (id, es) => id -> es.map(_._2) }
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = java.util.HexFormat.of()
    val seeds = vecs.map { case (id, _) =>
        (hex.formatHex(md.digest(s"nnd|$id".getBytes("UTF-8"))), id)
      }.sorted.take(sampleSize).map(_._2)
    queries.flatMap { case (qid, qv) =>
      def scored(ids: Array[Long]) = ids.map(id => (qid, id, dotDD(qv, vec(id))))
      var beam = topOf(scored(seeds), beamWidth)
      for (_ <- 1 to iters) {
        val ids = beam.map(_._2)
        beam = topOf(scored((ids ++ ids.flatMap(out.getOrElse(_, Array.empty[Long])))
          .distinct.filter(vec.contains)), beamWidth)
      }
      beam
    }
  }

  /** Graph serve in ONE Spark job: [[walkShard]] runs once per shard
    * inside a task — the query batch rides the task closure — and the
    * per-query top-k over the shards' final beams merges on the driver
    * (≤ shards × beamWidth rows per query). `numShards = 1` is the
    * monolithic graph: index and graph coalesce into one task, no
    * shuffle. Otherwise index and graph rows are partitioned by shard
    * (signed `vec_id % numShards`, the build's membership — negative
    * ids live in negative shards, and every shard present is walked),
    * one task per shard residue. Each shard is scanned once per read,
    * whatever `iters` is; per-task memory is one shard's vectors plus
    * its adjacency. Output is computed at call time and returned as a
    * local frame (query_id, rank, vec_id), equal row for row to
    * [[graphTopK]] (one shard) or [[shardedGraphTopK]] (non-negative
    * ids).
    */
  private[graft] def walkServe(index: DataFrame, graph: DataFrame,
      queries: DataFrame, k: Int, numShards: Int, beamWidth: Int,
      iters: Int, sampleSize: Int): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val qs = queries.select(col("query_id").cast("long"),
        col("qvec").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val vecs = index.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].rdd
    val edges = graph.select(col("id"), col("nbr")).as[(Long, Long)].rdd
    val nS = numShards.toLong
    val beams: Array[(Long, Long, Double)] =
      if (qs.isEmpty) Array.empty
      else {
        val (vs, es) = if (numShards == 1) (vecs.coalesce(1), edges.coalesce(1))
        else {
          val p = new org.apache.spark.HashPartitioner(numShards)
          (vecs.keyBy(t => Math.floorMod(t._1, nS)).partitionBy(p).values,
            edges.keyBy(t => Math.floorMod(t._1, nS)).partitionBy(p).values)
        }
        vs.zipPartitions(es) { (vi, ei) =>
          val adj = ei.toArray.groupBy(_._1 % nS)
          vi.toArray.groupBy(_._1 % nS).iterator.flatMap { case (sh, v) =>
            walkShard(v, adj.getOrElse(sh, Array.empty), qs, beamWidth,
              iters, sampleSize)
          }
        }.collect()
      }
    val ranked = beams.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      topOf(rows, k).zipWithIndex.map { case (t, i) => (qid, i + 1, t._2) }
    }.sortBy(t => (t._1, t._2))
    spark.createDataset(ranked).toDF("query_id", "rank", "vec_id")
  }

  /** Fully-materialized navigation: walks exactly like [[beamWithSims]]
    * but collects every round's SCORED candidate set on the driver —
    * the shared engine of [[graphTopKFiltered]] (whose answer is the
    * matched subset of everything the walk touched) and [[searchStats]]
    * (whose meter prices the walk by its candidate budget). Returns the
    * final beam and the distinct (query_id, vec_id) candidate set
    * accumulated across ALL rounds (round 0 = the full seed sample per
    * query — every entry candidate is scored, not just the kept beam).
    */
  private def navigateCollect(index: DataFrame, graph: DataFrame,
      q: DataFrame, beamWidth: Int, iters: Int, sampleSize: Int)
      : (Array[(Long, Long, Double)],
         scala.collection.mutable.LinkedHashSet[(Long, Long)]) = {
    val spark = index.sparkSession
    import spark.implicits._
    val vecs = index.select(col("vec_id").cast("long"), col("embedding"))
    val seeds = seedSample(index, sampleSize)
    val candAll = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    // the walkPrelude discipline, accumulation variant: ONE fused
    // collect of query + seed rows, driver entry dots, then every
    // round eager with its scored set accumulated
    val both = q.select(lit(0).as("t"), col("query_id").as("id"),
        col("qvec").cast("array<double>").as("v"))
      .unionByName(seeds.select(lit(1).as("t"), col("seed_id").as("id"),
        col("svec").cast("array<double>").as("v")))
      .as[(Int, Long, Array[Double])].collect()
    val qRows = both.filter(_._1 == 0).map(t => (t._2, t._3)).sortBy(_._1)
    val seedRows = both.filter(_._1 == 1).map(t => (t._2, t._3)).sortBy(_._1)
    val qLocal = spark.createDataset(qRows.toIndexedSeq)
      .toDF("query_id", "qvec")
    val entry: Array[(Long, Long, Double)] = for {
      (qid, qv) <- qRows
      (sid, sv) <- seedRows
    } yield (qid, sid, dotDD(qv, sv))
    entry.foreach(r => candAll += ((r._1, r._2)))
    var beam = driverTop(entry, beamWidth)
    for (_ <- 1 to iters) {
      val scored = roundScored(vecs, graph, qLocal, planted(spark, beam))
        .as[(Long, Long, Double)].collect()
      scored.foreach(r => candAll += ((r._1, r._2)))
      beam = driverTop(scored, beamWidth)
    }
    (beam, candAll)
  }

  /** Batch INSERT into a built graph — the index-maintenance half of
    * the reference's `add_vectors` (Qdrant upsert = HNSW insert;
    * reference src/vector_db.py:60-91): a production store does not
    * rebuild its index per ingest batch. Three steps, each the HNSW
    * insert algorithm's distributed batch restatement:
    *
    *  1. every new vector BEAM-SEARCHES the existing graph for its k
    *     nearest BASE nodes — those become its out-edges (HNSW's
    *     search-then-connect);
    *  2. the same edges reversed are offered to the base nodes, which
    *     re-top-k their adjacency (HNSW's backlink-with-prune);
    *  3. one NN-descent repair round over the merged graph against the
    *     FULL vector table — the batch stand-in for HNSW's sequential
    *     visibility (new nodes inserted in one batch connect to EACH
    *     OTHER here; measured +4 recall points on the fixture, 78 → 82
    *     vs a 83 full rebuild).
    *
    * Returns the updated graph as a fresh parquet artifact (same serve
    * contract as [[buildGraph]]). Scale shape: step 1 is |new| beam
    * walks (bounded per query); steps 2–3 shuffle only edge frames
    * (≤ 4k² candidates per touched node) — nothing rebuilds, nothing
    * is corpus².
    */
  def insertIntoGraph(baseIndex: DataFrame, graph: DataFrame,
      newVecs: DataFrame, k: Int, beamWidth: Int, iters: Int,
      sampleSize: Int, artifactDir: Option[String] = None): DataFrame = {
    val spark = baseIndex.sparkSession
    import spark.implicits._
    val w = Window.partitionBy("id").orderBy(col("sim").desc, col("nbr").asc)
    val vecs = baseIndex.select(col("vec_id").cast("long"), col("embedding"))
    val newQ = newVecs.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").as("qvec"))
    val seeds = seedSample(baseIndex, sampleSize)
    // 1. search-then-connect, FUSED (VERDICT r19 #1 — the insert path
    // ran ~8 sequential driver-coordinated jobs, each a weather
    // amplifier under host contention): the walk's final round and the
    // candidate ADJACENCY fetch ride ONE tagged-union job — the round
    // scores every candidate (beam ∪ its out-neighbors) against its
    // query, and the same job also returns the graph's out-edges of
    // every candidate node, which is exactly the evidence the backlink
    // re-prune needs. Insert total: 1 fused q+seed collect + (iters−1)
    // intermediate rounds + 1 fused final round + 1 artifact write.
    val (qLocal, beam) = walkPrelude(spark, vecs, graph, newQ, seeds,
      beamWidth, iters)
    connectAndRepair(spark, vecs, graph, newVecs, qLocal, beam, k, iters,
      w, artifactDir)
  }

  /** The insert pipeline's tail, shared by [[insertIntoGraph]] and
    * [[insertIntoShardedGraph]] (only their walk ENTRY differs): the
    * fused final round + candidate-adjacency job, the driver-side
    * backlink re-prune, and the repair round fused into the artifact
    * write.
    *
    *  - the new nodes' out-edges are the top-k of the final round's
    *    scored set — driverTop(driverTop(x, beamWidth), k) ≡
    *    driverTop(x, k) for k ≤ beamWidth, so cutting straight to k is
    *    bit-identical to collect-the-beam-then-cut;
    *  - the backlink re-prune runs ON THE DRIVER (previously a
    *    checkpointed whole-graph groupBy+window job): only nodes
    *    receiving backlinks change adjacency, and every target's full
    *    out-edge list is in the collected candEdges (targets are
    *    final-round candidates by construction) — the merge +
    *    (sim DESC, nbr ASC) top-k replays the old plan's groupBy-max +
    *    window cut exactly; untouched nodes keep their rows verbatim
    *    via the anti-join. The max-collapse is kept for exactness
    *    though vacuous (a base node's existing edges never point at
    *    new ids);
    *  - `merged` is flat (artifact scan + broadcast anti-join +
    *    LocalRelation), so refineRound's ~5 references re-evaluate a
    *    cheap subtree and the whole repair+write is ONE job, no
    *    checkpoint barrier.
    */
  private def connectAndRepair(spark: org.apache.spark.sql.SparkSession,
      vecs: DataFrame, graph: DataFrame, newVecs: DataFrame,
      qLocal: DataFrame, beam: Array[(Long, Long, Double)], k: Int,
      iters: Int, w: org.apache.spark.sql.expressions.WindowSpec,
      artifactDir: Option[String]): DataFrame = {
    import spark.implicits._
    val beamDf = planted(spark, beam)
    val rows: Array[(Int, Long, Long, Double)] = if (iters == 0) {
      // entry-only walk (the beamWithSims iters == 0 contract): the
      // driver entry beam IS the final scored set — one job fetches
      // just the candidate adjacency the re-prune needs
      val candEdges = graph
        .join(broadcast(beamDf.select(col("vec_id").as("id")).distinct()),
          "id")
        .select(lit(1).as("t"), col("id").as("a"), col("nbr").as("b"),
          col("sim"))
        .as[(Int, Long, Long, Double)].collect()
      beam.map { case (q, v, s) => (0, q, v, s) } ++ candEdges
    } else {
      val nb = graph
        .join(broadcast(beamDf.select(col("query_id"),
          col("vec_id").as("id"))), "id")
        .select(col("query_id"), col("nbr").as("vec_id"))
      val cand = beamDf.select("query_id", "vec_id").union(nb).distinct()
      val scored = vecs
        .join(broadcast(cand), "vec_id")
        .join(broadcast(qLocal), "query_id")
        .select(lit(0).as("t"), col("query_id").as("a"),
          col("vec_id").as("b"),
          Vec.dot(col("qvec"), col("embedding")).as("sim"))
      val candEdges = graph
        .join(broadcast(cand.select(col("vec_id").as("id")).distinct()), "id")
        .select(lit(1).as("t"), col("id").as("a"), col("nbr").as("b"),
          col("sim"))
      scored.unionByName(candEdges)
        .as[(Int, Long, Long, Double)].collect()
    }
    val fin = rows.filter(_._1 == 0).map(t => (t._2, t._3, t._4))
    val newOut = driverTop(fin, k)
    val adjacency = rows.filter(_._1 == 1).map(t => (t._2, t._3, t._4))
      .groupBy(_._1)
    val offers = newOut.map { case (nid, bid, s) => (bid, nid, s) }
    val affected = offers.map(_._1).distinct
    val updatedBase = affected.flatMap { bid =>
      val mergedRows = adjacency.getOrElse(bid, Array.empty) ++
        offers.filter(_._1 == bid)
      mergedRows.groupBy(t => (t._1, t._2)).valuesIterator
        .map(_.maxBy(_._3)).toArray
        .sortBy(t => (-t._3, t._2)).take(k)
    }
    val touched = (newOut.map(_._1) ++ affected).distinct.sorted
    val updatedLocal = spark.createDataset(
        (newOut ++ updatedBase).sortBy(t => (t._1, t._2)).toIndexedSeq)
      .toDF("id", "nbr", "sim")
    val touchedDf = spark.createDataset(touched.toIndexedSeq).toDF("id")
    val merged = graph.select("id", "nbr", "sim")
      .join(broadcast(touchedDf), Seq("id"), "left_anti")
      .unionByName(updatedLocal)
    val fullVecs = vecs
      .unionByName(newVecs.select(col("vec_id").cast("long"),
        col("embedding")))
    writeArtifact(refineRound(fullVecs, merged, k, w), artifactDir)
  }

  /** FILTERED graph search — the production filtered-HNSW contract
    * (Qdrant search with a payload filter over its graph index):
    * navigation traverses the FULL graph (restricting the beam to
    * matching nodes would strand the walk when the filter is
    * selective — the connectivity problem every filtered-HNSW design
    * documents), while every SCORED candidate that matches the
    * query's label is accumulated; the answer is the top-k of the
    * matched accumulation. Pre-filter semantics on the OUTPUT (every
    * hit matches its query's label) with post-filter traversal —
    * under-fill is possible only when fewer than k matching nodes are
    * visited at all (~selectivity × candidate budget).
    *
    * `index` must carry (vec_id, embedding, label); `queries`
    * (query_id, qvec, qlabel). Output (query_id, rank, vec_id), rank
    * by (sim DESC, vec_id ASC) among matched candidates. Plan shape:
    * identical to [[graphTopK]] plus one narrow label filter per
    * round and a (tiny) matched union — the index still never
    * shuffles.
    */
  def graphTopKFiltered(index: DataFrame, graph: DataFrame,
      queries: DataFrame, k: Int, beamWidth: Int, iters: Int,
      sampleSize: Int): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val qw = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    val vecs = index.select(col("vec_id").cast("long"), col("embedding"),
      col("label"))
    val q3 = queries.select(col("query_id").cast("long"), col("qvec"),
      col("qlabel"))
    val q = q3.select(col("query_id"), col("qvec"))

    // navigation scores each round label-blind (exactly [[graphTopK]]'s
    // walk, now round-materialized via [[navigateCollect]] — the lazy
    // per-round chain measured 4.0 s vs the unfiltered walk's 2.0 s at
    // sf0.1 purely on ~3^i plan replication), while the candidate IDS
    // accumulate on the driver; the matched set is scored ONCE at the
    // end (one index semi-scan + label filter)
    val (_, candAll) = navigateCollect(index, graph, q, beamWidth, iters,
      sampleSize)
    val candDf = spark.createDataset(candAll.toSeq.sorted.toIndexedSeq)
      .toDF("query_id", "vec_id")
    vecs
      .join(broadcast(candDf), "vec_id")
      .join(broadcast(q3), "query_id")
      .filter(col("label") === col("qlabel"))
      .select(col("query_id"), col("vec_id"),
        Vec.dot(col("qvec"), col("embedding")).as("sim"))
      .select(col("query_id"),
        row_number().over(qw).as("rank"), col("vec_id"))
      .filter(col("rank") <= k)
  }

  /** Search with candidate accounting — the tune meter's engine: the
    * same walk as [[graphTopK]] at an arbitrary (beamWidth, iters)
    * rung, returning the ranked top-k AND the walk's candidate budget
    * (distinct (query_id, vec_id) pairs scored across all rounds,
    * round 0 = the full seed sample). The budget is the quality/cost
    * axis the rung sweep trades along: ≤ sample + iters × beamWidth ×
    * (graph-k + 1) per query, independent of corpus size.
    */
  def searchStats(index: DataFrame, graph: DataFrame, queries: DataFrame,
      k: Int, beamWidth: Int, iters: Int, sampleSize: Int)
      : (DataFrame, Long) = {
    val spark = index.sparkSession
    import spark.implicits._
    val q = queries.select(col("query_id").cast("long"), col("qvec"))
    val (beam, candAll) = navigateCollect(index, graph, q, beamWidth,
      iters, sampleSize)
    val ranked = beam.groupBy(_._1).valuesIterator
      .flatMap(g => g.sortBy(t => (-t._3, t._2)).take(k).zipWithIndex
        .map { case ((qid, vid, _), i) => (qid, i + 1, vid) })
      .toArray.sortBy(t => (t._1, t._2))
    (spark.createDataset(ranked.toIndexedSeq)
       .toDF("query_id", "rank", "vec_id"),
     candAll.size.toLong)
  }

  /** Batch point-DELETE from a built graph — the other half of the
    * reference store's index-maintenance contract (Qdrant deletes
    * points from a collection without rebuilding its HNSW; the
    * collection-level drop is [[graft.index.VectorStore]] V4): a 100 TB
    * pipeline that cannot expire documents from its ANN index re-pays
    * the full build cost on every retention pass. The deletion dual of
    * [[insertIntoGraph]], three steps:
    *
    *  1. TOMBSTONE: drop every deleted node's out-edges and every
    *     in-edge pointing at a deleted node (the graph no longer knows
    *     the ids — nothing can navigate to them, so no deleted id can
    *     ever be returned, by construction rather than by post-filter);
    *  2. RE-LINK THROUGH THE DELETED NODES: every survivor u that lost
    *     its edge u→d is offered d's own SURVIVING out-neighbors as
    *     replacement candidates — the standard HNSW/Vamana deletion
    *     repair ("connect the orphan through the deleted node's
    *     neighborhood"): d's out-list is exactly the locality u was
    *     reaching through d, and it is already IN the graph, so the
    *     re-link is ONE equi-join (lost edges ⋈ deleted out-edges) +
    *     fresh dots — never a search. (A first cut re-beam-searched
    *     every orphan from the seed sample: recall 90 but 2–4× the
    *     cost of a full REBUILD in the Soak ladder — a repair that
    *     costs more than reconstruction fails the operator's purpose.)
    *  3. one NN-descent repair round over the merged graph against the
    *     SURVIVOR table — bridged nodes gain visibility of each
    *     other's neighborhoods, the same +recall role the insert path's
    *     repair round plays.
    *
    * Returns the updated graph as a fresh parquet artifact (the
    * [[buildGraph]] serve contract). Scale shape: tombstoning is two
    * broadcast anti-joins (the delete batch is small by contract);
    * re-linking is one |lost-edges| × k equi-join (≤ |deleted| × k²
    * candidate rows — corpus-independent); the repair round shuffles
    * only edge frames. Nothing rebuilds, nothing is corpus².
    */
  def deleteFromGraph(index: DataFrame, graph: DataFrame,
      deleteIds: DataFrame, k: Int,
      artifactDir: Option[String] = None): DataFrame = {
    val w = Window.partitionBy("id").orderBy(col("sim").desc, col("nbr").asc)
    val del = deleteIds.select(col("vec_id").cast("long"))
    val vecsAll = index.select(col("vec_id").cast("long"), col("embedding"))
    val survivors = vecsAll
      .join(broadcast(del), Seq("vec_id"), "left_anti")
    // 1. tombstone: out-edges of deleted nodes, then in-edges to them
    val keptSrc = graph
      .join(broadcast(del.select(col("vec_id").as("id"))), Seq("id"),
        "left_anti")
    val kept = keptSrc
      .join(broadcast(del.select(col("vec_id").as("nbr"))), Seq("nbr"),
        "left_anti")
      .select("id", "nbr", "sim")
    // 2. bridge candidates: u→d lost edges joined with d's surviving
    // out-edges d→v gives (u, v); score fresh, drop self
    val lost = keptSrc
      .join(broadcast(del.select(col("vec_id").as("nbr"))), Seq("nbr"),
        "left_semi")
      .select(col("id"), col("nbr").as("d"))
    val delOut = graph
      .join(broadcast(del.select(col("vec_id").as("id"))), Seq("id"),
        "left_semi")
      .join(broadcast(del.select(col("vec_id").as("nbr"))), Seq("nbr"),
        "left_anti")
      .select(col("id").as("d"), col("nbr").as("v"))
    val bridge = lost.join(delOut, "d")
      .filter(col("id") =!= col("v"))
      .select(col("id"), col("v").as("nbr")).distinct()
    val newOut = bridge
      .join(vecsAll.select(col("vec_id").as("id"),
        col("embedding").as("va")), "id")
      .join(vecsAll.select(col("vec_id").as("nbr"),
        col("embedding").as("vb")), "nbr")
      .select(col("id"), col("nbr"), Vec.dot(col("va"), col("vb")).as("sim"))
    val merged = barrier(kept.unionByName(newOut)
      .groupBy(col("id"), col("nbr")).agg(max(col("sim")).as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("id", "nbr", "sim"), None)
    // 3. one repair round over survivors only — fused into the
    // artifact write (the insertIntoGraph discipline: refineRound's
    // references to `merged` are flat-checkpoint re-reads, and
    // writeArtifact releases the merged round, named as `prev`)
    writeArtifact(refineRound(survivors, merged, k, w), artifactDir,
      prev = Some(merged))
  }

  /** Beam walk over PQ CODE ROWS with true asymmetric-distance (ADC)
    * scoring — VERDICT r19 #3: the compressed-gather walk previously
    * decoded codes to full-width floats and dotted them (m · subDim
    * multiply-adds per scored row); real ADC does m TABLE LOOKUPS. Per
    * query, a LUT over the broadcast codebooks prices every (subspace,
    * code) cell once — LUT(j)(c) = dot(q_j, cw(j)(c)), d-ascending
    * double accumulation — and a scored row costs Σ_j LUT(j)(codes_j),
    * j-ascending. NOTE the per-subspace accumulation REASSOCIATES the
    * float sum vs dot(q, decode(codes)) (same value in exact
    * arithmetic, different rounding), so an oracle must replay the LUT
    * order — the [[graft.search.Ann.pqTopKWith]] replay convention.
    *
    * `codes` carries (vec_id, codes int[m]) — the persisted 8–16×-
    * smaller index; `graph` any edge artifact over the same ids;
    * `queries` full-width float/double (query_id, qvec) — queries stay
    * uncompressed, the asymmetric half. Output (query_id, rank,
    * vec_id), rank by (ADC sim DESC, vec_id ASC). Plan shape per
    * round: codes scan + graph scan against broadcast beam frames, the
    * scoring a scalar UDF over the LUT map — the index never
    * shuffles, the candidate budget is the standard walk's.
    *
    * Query-batch bound (ADVICE r21): the LUT map rides the UDF task
    * CLOSURE (|queries| × m × nc doubles — ~1 KB per query at the m=4,
    * nc=16 serving shape), serialized per task rather than once per
    * executor. That is the right trade for serving batches (≤ ~10⁴
    * queries ≈ 10 MB closures) and frees itself when the query's tasks
    * finish; for bulk OFFLINE batches beyond that, split the query set
    * and call per slice — a persistent broadcast would need an explicit
    * destroy hook no lazy return value can promise (the r20 leak).
    */
  def graphTopKAdc(codes: DataFrame, graph: DataFrame, queries: DataFrame,
      k: Int, beamWidth: Int, iters: Int, sampleSize: Int,
      cw: Array[Array[Array[Float]]]): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    // degenerate guard extended to a zero-length subspace list (ADVICE
    // r20: cw(0)(0) threw IndexOutOfBounds instead of returning empty)
    if (cw.isEmpty || cw(0).isEmpty)
      return Seq.empty[(Long, Int, Long)].toDF("query_id", "rank", "vec_id")
    val nc = cw(0).length
    val sub = cw(0)(0).length
    val codesL = codes.select(col("vec_id").cast("long"), col("codes"))
    val q = queries.select(col("query_id").cast("long"), col("qvec"))
    // fused prelude collect (the walkPrelude discipline): query vectors
    // + the seed sample's CODE rows in one tagged-union job (codes are
    // small ints — the double cast round-trips exactly)
    val seeds = codesL
      .select(col("vec_id").as("seed_id"),
        md5(concat(lit("nnd|"), col("vec_id"))).as("r"), col("codes"))
      .orderBy(col("r"), col("seed_id")).limit(sampleSize)
      .select(col("seed_id"), col("codes"))
    val both = q.select(lit(0).as("t"), col("query_id").as("id"),
        col("qvec").cast("array<double>").as("v"))
      .unionByName(seeds.select(lit(1).as("t"), col("seed_id").as("id"),
        col("codes").cast("array<double>").as("v")))
      .as[(Int, Long, Array[Double])].collect()
    val qRows = both.filter(_._1 == 0).map(t => (t._2, t._3)).sortBy(_._1)
    val seedRows = both.filter(_._1 == 1)
      .map(t => (t._2, t._3.map(_.toInt))).sortBy(_._1)
    // per-query ADC LUTs, keyed by query_id (they broadcast to the
    // scoring UDF; ≤ |queries| × m × nc doubles)
    val m = cw.length
    val luts: Map[Long, Array[Double]] = qRows.map { case (qid, qv) =>
      val t = new Array[Double](m * nc)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < nc) {
          var s = 0.0; var d = 0
          while (d < sub) { s += qv(j * sub + d) * cw(j)(c)(d).toDouble; d += 1 }
          t(j * nc + c) = s
          c += 1
        }
        j += 1
      }
      qid -> t
    }.toMap
    // the LUT map rides the UDF CLOSURE, not a broadcast (ADVICE r20:
    // the per-call broadcast was never destroyed, so a long-lived
    // session serving repeated maxsim calls accumulated driver/executor
    // broadcast blocks — and the returned frame is lazy, so no safe
    // destroy point exists inside this method). The map is ≤ |queries|
    // × m × nc doubles (~100 KB at the serving shapes) — task-closure
    // freight on par with the planted beam frames each round already
    // ships, and it is garbage the moment the query's tasks finish.
    val ncL = nc
    val lutUdf = udf((qid: Long, cs: scala.collection.Seq[Int]) => {
      val t = luts(qid)
      var s = 0.0; var j = 0
      while (j < cs.length) { s += t(j * ncL + cs(j)); j += 1 }
      s
    })
    def adcRound(beam: DataFrame): DataFrame = {
      val nb = graph
        .join(broadcast(beam.select(col("query_id"),
          col("vec_id").as("id"))), "id")
        .select(col("query_id"), col("nbr").as("vec_id"))
      val cand = beam.select("query_id", "vec_id").union(nb).distinct()
      codesL.join(broadcast(cand), "vec_id")
        .select(col("query_id"), col("vec_id"),
          lutUdf(col("query_id"), col("codes")).as("sim"))
    }
    // driver entry round: LUT scores of every (query, seed) pair
    val entry = for {
      (qid, _) <- qRows
      (sid, scs) <- seedRows
    } yield (qid, sid, {
      val t = luts(qid)
      var s = 0.0; var j = 0
      while (j < scs.length) { s += t(j * ncL + scs(j)); j += 1 }
      s
    })
    // iters == 0 keeps the beamWithSims contract: the ranked entry
    // beam, no expansion round
    if (iters == 0) {
      val ranked = entry.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy(t => (-t._3, t._2)).take(k).zipWithIndex
          .map { case ((_, vid, _), i) => (q, i + 1, vid) }
      }.sortBy(t => (t._1, t._2))
      return spark.createDataset(ranked.toIndexedSeq)
        .toDF("query_id", "rank", "vec_id")
    }
    var beam = driverTop(entry, beamWidth)
    for (_ <- 1 until iters) {
      beam = driverTop(
        adcRound(planted(spark, beam)).as[(Long, Long, Double)].collect(),
        beamWidth)
    }
    val qw = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    // final round cuts to beamWidth BEFORE ranking to k (ADVICE r20):
    // graphTopK and the DuckDB ladder cut every round at bw, so a
    // caller passing k > beamWidth must see the same contract here —
    // for k <= bw (every current call site) the cut is a no-op. ONE
    // row_number serves both cuts (ADVICE r21: after filtering
    // rn <= beamWidth, a second row_number over the same window equals
    // rn — the survivors are already densely ranked 1..bw), so
    // rank = rn and the combined filter is rn <= min(k, bw).
    adcRound(planted(spark, beam))
      .withColumn("rn", row_number().over(qw))
      .filter(col("rn") <= math.min(k, beamWidth))
      .select(col("query_id"), col("rn").as("rank"), col("vec_id"))
  }

  // ---- SHARDED graphs: the 100 TB build-and-serve story --------------
  //
  // A single monolithic NN-descent graph per collection builds as ONE
  // job chain whose cost grows ~linearly with the collection — at
  // 100 TB that is a multi-day job and an artifact no one machine
  // holds. Production graph stores shard instead (Faiss IndexShards;
  // DiskANN's partitioned build): build an INDEPENDENT graph per
  // shard, serve a query by walking every shard and merging per-query
  // top-k. Shard = vec_id mod numShards, so membership is a row-local
  // function and edges NEVER cross shards by construction.

  /** Per-shard md5-ranked seed sample — [[seedSample]] ranked WITHIN
    * each shard (same "nnd|" hash, same tie-break), s seeds per shard:
    * (shard, seed_id, svec). One window job; no per-shard pass.
    */
  def shardedSeedSample(index: DataFrame, numShards: Int,
      s: Int): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(col("r"), col("seed_id"))
    index
      .select((col("vec_id").cast("long") % numShards).as("shard"),
        col("vec_id").cast("long").as("seed_id"),
        col("embedding").as("svec"),
        md5(concat(lit("nnd|"), col("vec_id"))).as("r"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= s)
      .select("shard", "seed_id", "svec")
  }

  /** Sharded NN-descent build: `numShards` INDEPENDENT per-shard
    * graphs, materialized as one edge frame (id, nbr, sim) whose edges
    * are in-shard by construction — bit-identical to running
    * [[buildGraph]] separately on each shard's vectors, but built in
    * the job count of ONE build: init scores each node against ITS
    * shard's seed sample (one narrow map), and every refinement round
    * runs [[refineRound]] on the union edge frame — the
    * neighbor-of-neighbor self-join keys on nbr = id, so proposals
    * stay in-shard and one global round IS the per-shard round for
    * all shards simultaneously, with the shuffle work parallelizing
    * across shards. At 100 TB each shard's rows (and its slice of the
    * artifact) live on their own executor group; nothing about the
    * build requires the shards to see each other.
    */
  def buildShardedGraph(index: DataFrame, numShards: Int, k: Int,
      iters: Int, sampleSize: Int,
      artifactDir: Option[String] = None): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val seeds: Array[(Long, Long, Array[Float])] =
      shardedSeedSample(index, numShards, sampleSize)
        .as[(Long, Long, Array[Float])].collect().sortBy(t => (t._1, t._2))
    val byShard: Map[Long, Array[(Long, Array[Float])]] =
      seeds.groupBy(_._1).map { case (sh, a) =>
        sh -> a.map(t => (t._2, t._3))
      }
    val bcSeeds = spark.sparkContext.broadcast(byShard)
    val vecs = index.select(col("vec_id").cast("long"), col("embedding"))
    val nS = numShards.toLong
    var edges: DataFrame = barrier(vecs.as[(Long, Array[Float])]
      .mapPartitions { it =>
        val m = bcSeeds.value
        it.flatMap { case (id, v) =>
          m.getOrElse(id % nS, Array.empty[(Long, Array[Float])]).iterator
            .filter { case (sid, _) => sid != id }
            .map { case (sid, sv) => (sid, dotFF(v, sv)) }
            .toArray
            .sortBy { case (sid, s) => (-s, sid) }
            .take(k)
            .map { case (sid, s) => (id, sid, s) }
        }
      }.toDF("id", "nbr", "sim"), None)
    val w = Window.partitionBy("id").orderBy(col("sim").desc, col("nbr").asc)
    for (_ <- 1 until iters) {
      edges = barrier(refineRound(vecs, edges, k, w), Some(edges))
    }
    if (iters == 0) writeArtifact(edges, artifactDir, prev = Some(edges))
    else writeArtifact(refineRound(vecs, edges, k, w), artifactDir,
      prev = Some(edges))
  }

  /** Batch INSERT into a SHARDED graph — [[insertIntoGraph]] with the
    * search-then-connect walk restricted to each new vector's OWN
    * shard (entry from the shard's seed sample; expansion is in-shard
    * automatically because the edges are), so every new out-edge, the
    * reversed backlinks, and the repair round stay in-shard and the
    * sharded invariant survives maintenance. [[deleteFromGraph]] needs
    * no sharded twin: tombstoning drops edges (in-shard by
    * construction), the bridge joins lost in-shard edges with deleted
    * nodes' in-shard out-edges, and the repair round proposes only
    * neighbors-of-neighbors — NnGraphSpec pins both claims by
    * comparing against independent per-shard maintenance, bitwise.
    * Same artifact contract and job count as [[insertIntoGraph]].
    */
  def insertIntoShardedGraph(baseIndex: DataFrame, graph: DataFrame,
      newVecs: DataFrame, numShards: Int, k: Int, beamWidth: Int,
      iters: Int, sampleSize: Int,
      artifactDir: Option[String] = None): DataFrame = {
    val spark = baseIndex.sparkSession
    import spark.implicits._
    val w = Window.partitionBy("id").orderBy(col("sim").desc, col("nbr").asc)
    val nS = numShards.toLong
    val vecs = baseIndex.select(col("vec_id").cast("long"), col("embedding"))
    val newQ = newVecs.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").as("qvec"))
    // fused prelude: new-vector queries + PER-SHARD seeds in one job;
    // entry pairs each query only with ITS shard's seeds
    val both = newQ.select(lit(0).as("t"), lit(0L).as("shard"),
        col("query_id").as("id"), col("qvec").cast("array<double>").as("v"))
      .unionByName(shardedSeedSample(baseIndex, numShards, sampleSize)
        .select(lit(1).as("t"), col("shard"), col("seed_id").as("id"),
          col("svec").cast("array<double>").as("v")))
      .as[(Int, Long, Long, Array[Double])].collect()
    val qRows = both.filter(_._1 == 0).map(t => (t._3, t._4)).sortBy(_._1)
    val seedRows = both.filter(_._1 == 1).map(t => (t._2, t._3, t._4))
      .sortBy(t => (t._1, t._2))
    val qLocal = spark.createDataset(qRows.toIndexedSeq)
      .toDF("query_id", "qvec")
    // SIGNED `%`, matching shardedSeedSample (Spark `%`) and
    // buildShardedGraph (Scala `%`) — ADVICE r20: the previous pmod
    // normalization never matched a negative vec_id's (negative) shard,
    // so such nodes were inserted with an EMPTY entry beam and no
    // out-edges. Shard membership is `vec_id % numShards` with one
    // consistent signed semantics across build, maintenance and serve
    // (walkServe walks negative shards too; the plan-shaped
    // shardedGraphTopK still requires non-negative ids — its scaladoc).
    val entry = for {
      (qid, qv) <- qRows
      (sh, sid, sv) <- seedRows
      if sh == qid % nS
    } yield (qid, sid, dotDD(qv, sv))
    var beam = driverTop(entry, beamWidth)
    for (_ <- 1 until iters) {
      beam = driverTop(
        roundScored(vecs, graph, qLocal, planted(spark, beam))
          .as[(Long, Long, Double)].collect(),
        beamWidth)
    }
    // shared tail (every candidate is in-shard, so the connect/
    // re-prune/repair machinery preserves the invariant without
    // knowing about shards)
    connectAndRepair(spark, vecs, graph, newVecs, qLocal, beam, k, iters,
      w, artifactDir)
  }

  /** Fan-out serve over a sharded graph: every query walks EVERY
    * shard's graph, and the answer is the per-query top-k over the
    * union of the per-shard final beams (the Faiss IndexShards merge —
    * a window over ≤ numShards × beamWidth rows per query, never a
    * global sort). The walks run as ONE composite beam keyed
    * query_id × numShards + shard — entry from the shard's own seeds,
    * expansion in-shard automatically (the edges are) — so the serve
    * costs the job count of ONE walk regardless of shard count.
    * Requires 0 <= query_id < Long.MaxValue / numShards (the
    * composite-id space: `query_id * numShards + shard` and the
    * `div`-decode are only injective for non-negative ids; vec_ids
    * must likewise be non-negative for the fan-out to reach every
    * shard, since signed `vec_id % numShards` parks negative ids in
    * negative shards the 0..numShards-1 fan-out never walks). Output
    * (query_id, rank, vec_id), rank by (sim DESC, vec_id ASC) across
    * shards.
    */
  def shardedGraphTopK(index: DataFrame, graph: DataFrame,
      queries: DataFrame, k: Int, numShards: Int, beamWidth: Int,
      iters: Int, sampleSize: Int): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val nS = numShards.toLong
    val vecs = index.select(col("vec_id").cast("long"), col("embedding"))
    val q = queries.select(col("query_id").cast("long"), col("qvec"))
    // fused prelude collect (the walkPrelude discipline): composite
    // queries + per-shard seeds in ONE tagged-union job
    val both = q.select(lit(0).as("t"), lit(0L).as("shard"),
        col("query_id").as("id"), col("qvec").cast("array<double>").as("v"))
      .unionByName(shardedSeedSample(index, numShards, sampleSize)
        .select(lit(1).as("t"), col("shard"), col("seed_id").as("id"),
          col("svec").cast("array<double>").as("v")))
      .as[(Int, Long, Long, Array[Double])].collect()
    val qRows = both.filter(_._1 == 0).map(t => (t._3, t._4)).sortBy(_._1)
    val seedRows = both.filter(_._1 == 1).map(t => (t._2, t._3, t._4))
      .sortBy(t => (t._1, t._2))
    // composite entry: (query, shard) scored against the SHARD's seeds
    val entry = for {
      (qid, qv) <- qRows
      (sh, sid, sv) <- seedRows
    } yield (qid * nS + sh, sid, dotDD(qv, sv))
    // iters == 0 keeps the beamWithSims contract: per-(query, shard)
    // entry beams, merged per query — no expansion round
    if (iters == 0) {
      val entryBeams = driverTop(entry, beamWidth)
      val ranked = entryBeams.map { case (qc, vid, s) => (qc / nS, vid, s) }
        .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
          rows.sortBy(t => (-t._3, t._2)).take(k).zipWithIndex
            .map { case ((_, vid, _), i) => (q, i + 1, vid) }
        }.sortBy(t => (t._1, t._2))
      return spark.createDataset(ranked.toIndexedSeq)
        .toDF("query_id", "rank", "vec_id")
    }
    var beam = driverTop(entry, beamWidth)
    val qLocal = spark.createDataset(
        (for { (qid, qv) <- qRows; sh <- 0L until nS }
          yield (qid * nS + sh, qv)).toIndexedSeq)
      .toDF("query_id", "qvec")
    for (_ <- 1 until iters) {
      beam = driverTop(
        roundScored(vecs, graph, qLocal, planted(spark, beam))
          .as[(Long, Long, Double)].collect(),
        beamWidth)
    }
    // final round lazy (the serve plan: one artifact scan + one index
    // scan against broadcast frames), per-(query, shard) beam cut,
    // then the MERGE: per-ORIGINAL-query top-k over all shards' beams
    val qC = q.crossJoin(broadcast(
        spark.range(nS).select(col("id").as("shard"))))
      .select((col("query_id") * nS + col("shard")).as("query_id"),
        col("qvec"))
    val cw = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    val shardBeams = roundScored(vecs, graph, qC, planted(spark, beam))
      .withColumn("rn", row_number().over(cw)).filter(col("rn") <= beamWidth)
      .select(expr(s"query_id div $nS").as("query_id"), col("vec_id"),
        col("sim"))
    shardBeams
      .select(col("query_id"),
        row_number().over(cw).as("rank"), col("vec_id"))
      .filter(col("rank") <= k)
  }
}
