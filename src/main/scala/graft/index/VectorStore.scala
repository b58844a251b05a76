package graft.index

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.DirSwap
import graft.search.{Ann, Knn, NnGraph}

/** Per-collection artifact state shared by every [[VectorStore]]
  * instance over the same path: the serving contract is PER COLLECTION
  * (the reference holds one Qdrant collection — one HNSW — per
  * strategy×model pair, src/vector_db.py:22-26), so artifacts key on
  * (store path, collection, kind) and maintenance on one collection can
  * never touch another's.
  */
object VectorStore {
  /** One artifact: a sharded graph's `coll` is `<collection>#s<shards>`. */
  private final case class ArtKey(base: String, coll: String, kind: String)

  // weakly session-keyed memos: frame-valued artifacts live in a
  // FrameMemo (a DataFrame value must not pin the session); `held`
  // records the identity each artifact was resolved at, plus the value
  // itself for driver-side (array) artifacts
  private val frames = new graft.FrameMemo[ArtKey]
  private val held = new graft.SessionMemo[ArtKey, (String, AnyRef)]

  // BUILD census — full graph builds, codebook/centroid trainings, code
  // encodes; memo hits, cold loads and maintenance never bump it
  private val builds = new java.util.concurrent.ConcurrentHashMap[
    ArtKey, java.util.concurrent.atomic.AtomicLong]
  private def builtOf(base: String, coll: String, kind: String): Long =
    Option(builds.get(ArtKey(base, coll, kind))).fold(0L)(_.get)
  private[graft] def graphBuildsOf(base: String, name: String): Long =
    builtOf(base, name, "graph")
  private[graft] def cwTrainsOf(base: String, name: String): Long =
    builtOf(base, name, "pq")
  private[graft] def ivfTrainsOf(base: String, name: String): Long =
    builtOf(base, name, "ivf")
  private[graft] def codesEncodesOf(base: String, name: String): Long =
    builtOf(base, name, "codes")

  // PQ parameters — the quantizer family's production rung (m=8
  // subspaces, 16 codes, 2 Lloyd iterations — the ann_pq_trained
  // configuration)
  val PqM = 8
  val PqCodes = 16
  val PqIters = 2

  // IVF parameters — the coarse quantizer's production rung (8 Lloyd
  // cells, 2 iterations, probe 4 — the ann_ivf_trained configuration)
  val IvfCells = 8
  val IvfIters = 2
  val IvfNprobe = 4

  // graph parameters — the graph family's production rung (NN-descent
  // k=10 over 3 rounds, beam 16 over 4 rounds, 16 md5-ranked seeds)
  val GraphK = 10
  val NndIters = 3
  val BeamWidth = 16
  val BeamIters = 4
  val NndSample = 16

  // maxsim serve: per-token candidate cut, 2×-oversampled for the
  // compressed gather (the Qdrant oversampling / Faiss k_factor
  // convention — the retrieve_maxsim_pq rung)
  val MaxsimCandTok = 16

  /** Artifact format version — bumped if the edge schema or build
    * parameters ever change shape, so an old artifact can't serve a
    * new reader.
    */
  private val GraphArtifactVersion = 1
}

/** Partitioned-parquet vector store — the Spark restatement of the
  * reference's embedded Qdrant manager (reference: src/vector_db.py).
  * One `collection=<name>` partition replaces one Qdrant collection
  * (SURVEY §1.4): partition pruning gives the same per-collection
  * isolation, and an overwrite of a single partition is the reference's
  * recreate-on-exists semantics (vector_db.py:42-46).
  *
  * Scale: the store is write-once/read-many columnar data; reads prune
  * to one partition and only the columns a query needs. At 100 TB the
  * same layout holds — collections are directories, vectors are a
  * float-array column, and search is a scan + top-k (exact) or an
  * LSH-bucketed join (approximate, see Knn).
  */
class VectorStore(spark: SparkSession, basePath: String) {
  import VectorStore._

  // finish or roll back any collection swap a crash interrupted
  Option(new File(basePath).list()).getOrElse(Array.empty)
    .filter(n => n.startsWith(".collection=") &&
      (n.endsWith("-new") || n.endsWith("-old")))
    .map(_.drop(".collection=".length).dropRight(4)).distinct
    .foreach(c => DirSwap.recover(liveDir(c), freshDir(c)))

  private def table: DataFrame = spark.read
    .option("basePath", basePath).parquet(s"$basePath/collection=*")

  private def liveDir(name: String) = new File(s"$basePath/collection=$name")
  private def freshDir(name: String) = new File(s"$basePath/.collection=$name-new")

  /** V1+V2: (re)create a collection from rows carrying an `embedding`
    * column plus payload columns; ids 0..n-1 follow `orderCol` order
    * (reference assigns enumerate() ids, vector_db.py:75-81).
    *
    * Scale: a `Window.orderBy` with no partitionBy would funnel the whole
    * collection through ONE task to number rows. Instead: range-partitioned
    * sort, then RDD `zipWithIndex` — one small count job over partition
    * sizes, then contiguous ids assigned per-partition in parallel. Same
    * enumerate() semantics, no single-partition exchange.
    */
  def createCollection(name: String, rows: DataFrame, orderCol: String): Unit = {
    DirSwap.recover(liveDir(name), freshDir(name))
    val sorted = rows.orderBy(col(orderCol))
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false))
    val withId = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(withId, schema)
      .write.mode("overwrite")
      .parquet(liveDir(name).toString)
    // recreate-on-exists semantics: a replaced dataset invalidates every
    // artifact (unlike upsert/delete, which keep the trained quantizers
    // — the Faiss train-once contract)
    dropAllArtifacts(name)
  }

  /** Drop EVERY per-collection artifact, persisted and memoized — the
    * ONE invalidation path a recreate and a collection drop share.
    * Other sessions' memos fall to the identity guard on next lookup.
    */
  private def dropAllArtifacts(name: String): Unit = {
    held.entries(spark).keySet.asScala
      .filter(k => k.base == basePath &&
        (k.coll == name || k.coll.startsWith(s"$name#s")))
      .foreach { k => held.entries(spark).remove(k); frames.drop(spark, k) }
    Seq(graph, codebooks, centroids, codes).foreach(a => DirSwap.rmTree(a.root(name)))
  }

  /** V3: exact cosine top-k within one collection (vector_db.py:93-119). */
  def search(collection: String, queries: DataFrame, k: Int): DataFrame =
    Knn.bruteForceTopK(read(collection), queries, k, idCol = "id")
      .withColumnRenamed("vec_id", "id")

  private def asIndex(df: DataFrame): DataFrame =
    df.select(col("id").as("vec_id"), col("embedding"))

  /** Content stamp of the collection's current file layout — md5 over
    * the sorted (file name, length) listing, the evidence Spark's own
    * file index keys on. Every data mutation here mints fresh part-file
    * names, so ANY dataset change (recreate, upsert, delete, compact,
    * even an out-of-band rewrite) changes it. Driver-side metadata only.
    */
  private def collStamp(name: String): String = {
    val listing = Option(liveDir(name).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .map(f => f.getName + ":" + f.length).sorted.mkString("|")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(listing.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)
  }

  // ---- the artifact lifecycle ----------------------------------------

  /** One per-collection artifact kind — graph, sharded graph, PQ
    * codebooks, IVF centroids, PQ code rows — and the ONE lifecycle all
    * of them share. Artifacts are DURABLE STORE STATE beside the data
    * they index, under `basePath/.<kind dir>/<collection>/` (dot-
    * prefixed: invisible to the `collection=*` glob and to
    * [[collectionNames]]) — the Qdrant contract (QdrantClient(path=…)
    * persists its HNSW and serves it on reopen, src/vector_db.py:35;
    * Faiss write_index/read_index is the same shape).
    *
    *  - Key: (store path, collection, kind); a sharded graph's
    *    collection is `<name>#s<shards>`, so shard counts are
    *    independent artifacts.
    *  - Identity: what a persisted copy must carry to serve the
    *    collection as it is NOW. Derived artifacts (graphs, code rows)
    *    use the content stamp in their dir name, so any data mutation
    *    retires them; trained quantizers (codebooks, centroids) use a
    *    `_token` written after their parquet commit, so they survive
    *    upserts/deletes (Faiss trains once and add()s forever). A
    *    missing token is the crash window between the two writes and
    *    means no valid copy.
    *  - Load: the persisted copy at the current identity, if complete
    *    (`_SUCCESS`) — a fresh session serves with ZERO builds.
    *  - Build once: otherwise build from the collection's rows, persist
    *    at the store path, and bump the build census (the spec hook:
    *    memo hits, cold loads and maintenance never bump it).
    *  - Staleness guard: the session memo keeps the identity the value
    *    was resolved at and serves it only while the disk still carries
    *    that identity — another session's mutation or recreate (which
    *    prunes the files a memoized frame scans, or retrains the
    *    quantizer) forces a reload, never a stale or failing serve.
    *  - Invalidation: a recreate or drop deletes every kind's root
    *    ([[dropAllArtifacts]]).
    *  - Maintenance: point upsert/delete and compact carry every graph
    *    artifact across the data swap incrementally ([[rewrite]]) and
    *    persist it under the post-mutation stamp; code rows re-encode
    *    on next use.
    */
  private abstract class Artifact[V <: AnyRef](kind: String, dirName: String) {
    def root(name: String): File = new File(s"$basePath/$dirName/$name")
    protected def coll(name: String): String = name
    final def key(name: String): ArtKey = ArtKey(basePath, coll(name), kind)

    /** Identity a persisted copy must carry to serve the collection now. */
    def identity(name: String): Option[String]
    /** The complete persisted copy at identity `id`, if any. */
    def load(name: String, id: String): Option[V]
    /** Build from the collection's rows and persist; returns the
      * identity persisted with the value.
      */
    protected def build(name: String, id: Option[String]): (String, V)

    // session value storage: driver-side values ride in `held`
    protected def recall(k: ArtKey, value: AnyRef): Option[V] =
      Some(value.asInstanceOf[V])
    protected def remember(k: ArtKey, v: V): AnyRef = v

    final def commit(name: String, id: String, v: V): Unit = {
      val k = key(name)
      held.entries(spark).put(k, (id, remember(k, v))): Unit
    }

    /** The value for identity `id`: this session's if resolved at
      * `id`, else the persisted copy — never builds.
      */
    final def current(name: String, id: String): Option[V] = {
      val k = key(name)
      Option(held.entries(spark).get(k)).filter(_._1 == id)
        .flatMap(h => recall(k, h._2))
        .orElse(load(name, id).map { v => commit(name, id, v); v })
    }

    final def of(name: String): V = {
      val id = identity(name)
      id.flatMap(current(name, _)).getOrElse {
        val k = key(name)
        builds.computeIfAbsent(k,
          _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
        val (built, v) = build(name, id)
        commit(name, built, v)
        v
      }
    }
  }

  /** Frame-valued artifacts: the session value lives in `frames`. */
  private abstract class Framed(kind: String, dirName: String)
      extends Artifact[DataFrame](kind, dirName) {
    override protected def recall(k: ArtKey, value: AnyRef) = frames.peek(spark, k)
    override protected def remember(k: ArtKey, v: DataFrame): AnyRef = {
      frames.put(spark, k)(v); null
    }
  }

  /** Frame artifacts stamped by content: persisted at
    * `root/<prefix><identity>/`; prefix-scoped pruning lets variants
    * (the monolithic graph, each shard count) coexist under one root.
    */
  private abstract class Stamped(kind: String, dirName: String, prefix: String)
      extends Framed(kind, dirName) {
    def dir(name: String, id: String): File = new File(root(name), prefix + id)
    /** Build into `dir`; returns the frame serving the written copy. */
    protected def write(name: String, dir: String): DataFrame

    def load(name: String, id: String): Option[DataFrame] = {
      val d = dir(name, id)
      if (new File(d, "_SUCCESS").isFile) Some(spark.read.parquet(d.toString))
      else None
    }
    protected def build(name: String, id: Option[String]): (String, DataFrame) = {
      val v = write(name, dir(name, id.get).toString)
      pruneExcept(name, id.get)
      (id.get, v)
    }

    /** Drop every persisted copy of this variant but the one at `id`. */
    def pruneExcept(name: String, id: String): Unit =
      Option(root(name).listFiles()).getOrElse(Array.empty)
        .filter(d => d.getName.startsWith(prefix) && d != dir(name, id))
        .foreach(DirSwap.rmTree)
  }

  /** The NN-descent graph: monolithic, or `shards` independent in-shard
    * graphs (edges never cross a vec_id-mod-shards boundary).
    */
  private class Graph(shards: Option[Int]) extends Stamped("graph", ".graph",
      s"v$GraphArtifactVersion${shards.fold("")(s => s"s$s")}-") {
    override protected def coll(name: String) = name + shards.fold("")(s => s"#s$s")
    def identity(name: String) = Some(collStamp(name))
    protected def write(name: String, dir: String) = shards match {
      case None => NnGraph.buildGraph(asIndex(read(name)), GraphK, NndIters,
        NndSample, artifactDir = Some(dir))
      case Some(s) => NnGraph.buildShardedGraph(asIndex(read(name)), s, GraphK,
        NndIters, NndSample, artifactDir = Some(dir))
    }
    /** Search-then-connect `rows` into `g` (in-shard for a sharded graph). */
    def insert(base: DataFrame, g: DataFrame, rows: DataFrame, dir: String) =
      shards match {
        case None => NnGraph.insertIntoGraph(base, g, rows, GraphK, BeamWidth,
          BeamIters, NndSample, artifactDir = Some(dir))
        case Some(s) => NnGraph.insertIntoShardedGraph(base, g, rows, s, GraphK,
          BeamWidth, BeamIters, NndSample, artifactDir = Some(dir))
      }
  }
  private val graph = new Graph(None)

  /** Trained driver-side quantizers at `root/v1/`, identified by `_token`. */
  private abstract class Trained[V <: AnyRef](kind: String, dirName: String)
      extends Artifact[V](kind, dirName) {
    private def dir(name: String) = new File(root(name), "v1")
    protected def train(index: DataFrame): V
    protected def encode(v: V): DataFrame
    protected def decode(rows: DataFrame): Option[V]

    def identity(name: String): Option[String] = {
      val f = new File(dir(name), "_token")
      if (f.isFile)
        Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      else None
    }
    def load(name: String, id: String): Option[V] =
      if (new File(dir(name), "_SUCCESS").isFile)
        decode(spark.read.parquet(dir(name).toString))
      else None
    protected def build(name: String, id: Option[String]): (String, V) = {
      val v = train(asIndex(read(name)))
      encode(v).coalesce(1).write.mode("overwrite").parquet(dir(name).toString)
      val token = java.util.UUID.randomUUID().toString
      java.nio.file.Files.write(new File(dir(name), "_token").toPath,
        token.getBytes("UTF-8"))
      (token, v)
    }
  }

  private val codebooks = new Trained[Array[Array[Array[Float]]]]("pq", ".pq") {
    import spark.implicits._
    protected def train(index: DataFrame) =
      Ann.trainPqCodebooks(index, PqM, PqCodes, PqIters)
    protected def encode(cw: Array[Array[Array[Float]]]) =
      (for (j <- cw.indices; c <- cw(j).indices) yield (j, c, cw(j)(c).toSeq))
        .toDF("j", "code", "cw")
    protected def decode(df: DataFrame) = {
      val rows = df.select(col("j"), col("code"), col("cw"))
        .as[(Int, Int, Array[Float])].collect()
      if (rows.isEmpty) None
      else Some(Array.tabulate(rows.map(_._1).max + 1) { j =>
        rows.filter(_._1 == j).sortBy(_._2).map(_._3)
      })
    }
  }

  private val centroids = new Trained[Array[Array[Float]]]("ivf", ".ivf") {
    import spark.implicits._
    protected def train(index: DataFrame) =
      Ann.trainCentroids(index, IvfCells, IvfIters).orderBy(col("cent_id"))
        .select(col("cvec")).as[Array[Float]].collect()
    protected def encode(cents: Array[Array[Float]]) =
      cents.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
        .toSeq.toDF("cent_id", "cvec")
    protected def decode(df: DataFrame) = {
      val rows = df.select(col("cent_id"), col("cvec"))
        .as[(Long, Array[Float])].collect()
      if (rows.isEmpty) None else Some(rows.sortBy(_._1).map(_._2))
    }
  }

  /** PQ code rows derive from the contents AND the trained codebooks,
    * so their stamp carries both identities.
    */
  private val codes = new Stamped("codes", ".codes", "v1-") {
    def identity(name: String) = Some(collStamp(name) + "-" +
      codebooks.identity(name).map(_.take(8)).getOrElse("none"))
    protected def write(name: String, dir: String) = {
      Ann.pqEncodeFrame(asIndex(read(name)), PqM, codebooksOf(name))
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
  }

  /** The collection's own rows, memoized per content stamp through the
    * same lifecycle: a call at an unchanged stamp reuses the frame (no
    * file listing, no schema-inference job), a changed stamp replaces
    * it. No artifact dir; loading never misses, so nothing builds.
    */
  private val rows = new Framed("rows", "") {
    def identity(name: String) = Some(collStamp(name))
    def load(name: String, id: String) =
      Some(spark.read.parquet(liveDir(name).toString))
    protected def build(name: String, id: Option[String]) =
      (id.get, load(name, id.get).get)
  }

  // ---- artifact accessors + serves ----------------------------------

  /** The collection's NN-descent graph artifact (the [[Artifact]]
    * lifecycle: one build per collection lifetime —
    * [[VectorStore.graphBuildsOf]] counts them — kept current
    * incrementally by [[upsertPoints]]/[[deletePoints]]).
    */
  def graphOf(name: String): DataFrame = graph.of(name)

  /** V3's graph-index path: beam search over THIS collection's
    * artifact — the per-collection serving contract of the reference's
    * store (one HNSW per Qdrant collection, src/vector_db.py:22-54).
    * `queries` carries (query_id, qvec); output (query_id, rank, id),
    * equal row for row to [[graft.search.NnGraph.graphTopK]] over the
    * same artifact. The walk runs in ONE Spark job at call time (one
    * task, every round inside it — [[graft.search.NnGraph.walkServe]])
    * and the result is returned as a local frame.
    */
  def graphSearch(name: String, queries: DataFrame, k: Int): DataFrame =
    NnGraph.walkServe(asIndex(read(name)), graphOf(name), queries, k, 1,
        BeamWidth, BeamIters, NndSample)
      .withColumnRenamed("vec_id", "id")

  /** The collection's SHARDED edge artifact for `numShards` — the
    * 100 TB answer to one monolithic graph: build cost and artifact
    * size split across independent shards, maintained in-shard.
    */
  def shardedGraphOf(name: String, numShards: Int): DataFrame =
    new Graph(Some(numShards)).of(name)

  /** V3's sharded fan-out path: every query walks every shard of THIS
    * collection's sharded artifact and merges per-query top-k — the
    * Faiss IndexShards serve as a store API. One Spark job at call
    * time, one task per shard residue, returned as a local frame;
    * any query and point ids, negative ones included (every shard
    * present is walked, beams key on the real query_id). For
    * non-negative ids it equals
    * [[graft.search.NnGraph.shardedGraphTopK]] row for row.
    */
  def graphSearchSharded(name: String, queries: DataFrame, k: Int,
      numShards: Int = 2): DataFrame =
    NnGraph.walkServe(asIndex(read(name)), shardedGraphOf(name, numShards),
        queries, k, numShards, BeamWidth, BeamIters, NndSample)
      .withColumnRenamed("vec_id", "id")

  /** The collection's Lloyd-trained PQ codebooks — one training per
    * collection lifetime ([[VectorStore.cwTrainsOf]] counts them).
    */
  def codebooksOf(name: String): Array[Array[Array[Float]]] = codebooks.of(name)

  /** V3's memory-bounded path: ADC top-k over THIS collection's
    * trained codebooks — the Faiss IndexPQ serve beside [[search]]'s
    * exact scan and [[graphSearch]]'s graph walk.
    */
  def searchCompressed(name: String, queries: DataFrame, k: Int): DataFrame =
    Ann.pqTopKWith(asIndex(read(name)), queries, k, PqM, codebooksOf(name))
      .select(col("query_id"), col("rank"), col("vec_id").as("id"))

  /** The collection's Lloyd-trained IVF centroids — one training per
    * collection lifetime ([[VectorStore.ivfTrainsOf]] counts them).
    */
  def centroidsOf(name: String): Array[Array[Float]] = centroids.of(name)

  /** V3's cell-probed path: IVF top-k over THIS collection's trained
    * centroids — the Faiss IndexIVFFlat serve.
    */
  def ivfSearch(name: String, queries: DataFrame, k: Int,
      nprobe: Int = IvfNprobe): DataFrame = {
    import spark.implicits._
    val cents = centroidsOf(name).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("cent_id", "cvec")
    Ann.ivfTopK(asIndex(read(name)), queries, cents, k, nprobe)
      .select(col("query_id"), col("rank"), col("vec_id").as("id"))
  }

  /** The collection's PQ code rows (id, codes int[m]) via
    * [[graft.search.Ann.pqEncodeFrame]] — one encode per (contents,
    * codebooks) version ([[VectorStore.codesEncodesOf]] counts them).
    */
  def codesOf(name: String): DataFrame = {
    codebooksOf(name) // the code stamp carries the quantizer's token
    codes.of(name)
  }

  /** Late-interaction (ColBERT-style) serve as a STORE API — the
    * [[graft.queries.Similarity.retrieveMaxsimPq]] shape composed from
    * the collection's persisted artifacts: stage 1 walks the
    * collection's graph ([[graphOf]]) over its persisted CODE ROWS
    * ([[codesOf]]) with true ADC scoring (per-token LUT over
    * [[codebooksOf]]), stage 2 rescores the gathered docs exact and
    * full-width. Collection rows are token vectors; doc = id div
    * `tokPerDoc` (consecutive-token layout); `queryTokens` carries
    * (query_id, qt, qvec) with qt in [0, tokPerDoc). A second session
    * over the same path serves this with ZERO builds, trains, or
    * encodes — everything loads cold.
    */
  def maxsimSearch(name: String, queryTokens: DataFrame, k: Int,
      tokPerDoc: Int): DataFrame = {
    val t = tokPerDoc
    val tokQ = queryTokens.select(
      (col("query_id").cast("long") * t + col("qt")).as("query_id"),
      col("qvec"))
    val cands = NnGraph.graphTopKAdc(codesOf(name), graphOf(name), tokQ,
        MaxsimCandTok, BeamWidth, BeamIters, NndSample, codebooksOf(name))
      .select(expr(s"query_id div $t").as("query_id"),
        expr(s"vec_id div $t").as("doc_id"))
      .distinct()
    val docs = read(name).select(expr(s"id div $t").as("doc_id"),
      col("id").as("vec_id"), col("embedding"))
    val qtok = queryTokens.select(col("query_id").cast("long"),
      col("qt"), col("qvec"))
    Knn.maxsimTopKCandidates(docs, qtok, cands, k, t)
      .select(col("query_id"), col("rank"), col("doc_id"))
  }

  /** Read one collection (partition-pruned), memoized per content stamp. */
  def read(collection: String): DataFrame = rows.of(collection)

  /** V4: drop a collection and every artifact over it (a stale graph
    * must never serve a recreated collection).
    */
  def deleteCollection(name: String): Unit = {
    DirSwap.recover(liveDir(name), freshDir(name))
    DirSwap.rmTree(liveDir(name))
    dropAllArtifacts(name)
  }

  /** Rewrite the collection in place: `write` fills the fresh copy, the
    * crash-safe swap installs it (a concurrent reader sees the old
    * layout or the new one, never a mix), and every graph artifact
    * current for the pre-mutation contents — this session's memo or
    * the persisted copy, so a fresh session maintains instead of
    * orphaning it — is carried across by `carry(graph, edges, dir)`,
    * which writes the updated artifact at `dir` under the
    * post-mutation stamp. Never a rebuild, never another collection's
    * artifact.
    */
  private def rewrite[T](name: String)(write: String => T)(
      carry: (Graph, DataFrame, String) => DataFrame): T = {
    DirSwap.recover(liveDir(name), freshDir(name))
    val pre = collStamp(name)
    val shardRe = (s"^v${GraphArtifactVersion}s(\\d+)-" +
      java.util.regex.Pattern.quote(pre) + "$").r
    val shardCounts = Option(graph.root(name).list()).getOrElse(Array.empty)
      .flatMap(n => shardRe.findFirstMatchIn(n).map(_.group(1).toInt)).sorted
    val toMaintain = (graph +: shardCounts.toSeq.map(s => new Graph(Some(s))))
      .flatMap(g => g.current(name, pre).map(g -> _))
    val out = write(freshDir(name).toString)
    DirSwap.install(liveDir(name), freshDir(name))
    val post = collStamp(name)
    toMaintain.foreach { case (g, edges) =>
      val carried = carry(g, edges, g.dir(name, post).toString)
      g.pruneExcept(name, post)
      g.commit(name, post, carried)
    }
    out
  }

  /** Point-level DELETE within a collection — the other half of the
    * reference store's maintenance contract (Qdrant deletes points
    * without dropping the collection; the repo's V4 above is the
    * collection-level drop). Returns the number of points actually
    * removed (absent ids are not an error — the idempotent-delete
    * convention). `ids` rides the filter closure — point deletes are
    * small batches by contract (a retention pass with corpus-scale
    * tombstones should anti-join a frame instead). Graph artifacts
    * repair by tombstone + bridge ([[graft.search.NnGraph
    * .deleteFromGraph]], shard-preserving by construction).
    */
  def deletePoints(name: String, ids: Seq[Long]): Long = {
    import spark.implicits._
    rewrite(name) { fresh =>
      val df = read(name)
      val before = df.count()
      df.filter(!col("id").isin(ids: _*)).write.mode("overwrite").parquet(fresh)
      before - spark.read.parquet(fresh).count()
    } { (_, g, dir) =>
      NnGraph.deleteFromGraph(asIndex(read(name)), g, ids.toDF("vec_id"),
        GraphK, artifactDir = Some(dir))
    }
  }

  /** Point-level UPSERT within a collection (Qdrant upsert semantics,
    * vector_db.py:60-91: same-id points are REPLACED, new ids are
    * added). `rows` must carry the collection's columns including `id`;
    * the anti-join keeps every existing point whose id is not being
    * replaced. Graph artifacts update as HNSW does (delete + insert):
    * tombstone every upserted id (tombstoning an absent id is a no-op),
    * then search-then-connect all upserted rows as new nodes — in-shard
    * for a sharded graph.
    */
  def upsertPoints(name: String, rows: DataFrame): Unit =
    rewrite(name) { fresh =>
      val existing = read(name)
      existing.join(rows.select(col("id")), Seq("id"), "left_anti")
        .unionByName(rows.select(existing.columns.map(col).toIndexedSeq: _*))
        .write.mode("overwrite").parquet(fresh)
    } { (gr, g, dir) =>
      val tombstoned = NnGraph.deleteFromGraph(asIndex(read(name)), g,
        rows.select(col("id").as("vec_id")), GraphK)
      val base = read(name).join(rows.select(col("id")), Seq("id"), "left_anti")
      gr.insert(asIndex(base), tombstoned,
        rows.select(col("id").as("vec_id"), col("embedding")), dir)
    }

  /** V5: list collections (catalog listing / SHOW PARTITIONS analog). */
  def collectionNames(): Seq[String] = {
    val base = new File(basePath)
    if (!base.exists) Seq.empty
    else base.listFiles.filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("collection=")).map(_.stripPrefix("collection="))
      .sorted.toSeq
  }

  /** Compact a collection's file layout — the operational maintenance
    * every long-lived parquet index needs at scale: incremental
    * ingestion (streaming micro-batches, per-executor writers) leaves
    * many small files, and scan throughput collapses when file count
    * dwarfs the data (footer reads + task-per-file scheduling dominate).
    * Rewrites the partition at `targetRows` rows per file via an
    * explicit repartition. Contents are preserved row-for-row
    * (spec-checked by full-frame comparison); only the file layout
    * changes, so graph artifacts stay valid and are re-persisted under
    * the new stamp (a small edge-table copy, never a rebuild).
    */
  def compact(name: String, targetRows: Long): Unit =
    rewrite(name) { fresh =>
      val df = read(name)
      val files = math.max(1, math.ceil(df.count().toDouble / targetRows).toInt)
      df.repartition(files).write.mode("overwrite").parquet(fresh)
    } { (_, g, dir) =>
      g.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }

  /** V6: per-collection info: point count + dim + distance metric
    * (vector_db.py:138-150; the store is cosine-only, as is the
    * reference's collection config).
    */
  def collectionInfo(): DataFrame =
    table.groupBy(col("collection"))
      .agg(count(lit(1)).as("points"), max(size(col("embedding"))).as("dim"))
      .withColumn("distance", lit("cosine"))
      .orderBy("collection")
}
