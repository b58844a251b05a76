package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.embed.HashingEmbedder
import graft.index.VectorStore
import graft.rag.Pipeline
import graft.sources.DocumentLoader

/** Operations and output checks, counted for the result line. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }

  /** Runs one operation; an exception counts as a failed operation. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case e: Exception =>
        failed += 1
        if (failures.size < 20) failures += s"$what: $e"
        None
    }
  }
}

/** One measured pass: its tracer run id, wall time, and whether it was
  * traced.
  */
final case class Pass(run: Long, wallS: Double, traced: Boolean)

/** A metric value with its unit, for the result's detail line. */
final case class Detail(value: Double, unit: String,
    extra: Seq[(String, Any)] = Nil)

/** A workload: inputs made from the seed, a warm-up, then passes timed
  * until the window closes. Everything reaches graft through the
  * public functions of its modules.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val dir: File) {
  val checks = new Checks
  val passes = ArrayBuffer.empty[Pass]

  /** Generates the seeded inputs and writes them where the passes read
    * them. Repeatable: each call replaces the previous inputs.
    */
  def inputs(): Unit

  /** Runs once after [[inputs]], untimed: builds whatever the passes
    * serve from and runs the workload's operations on the real input.
    */
  def warmUp(): Unit

  /** Full passes in a batch warm-up. The first pays class loading and
    * codegen on the real sizes: a warm-up on a small input left the next
    * full pass about 1.5x slower than the third. Pass times keep falling
    * for several passes while the JIT compiles the hot paths, so the
    * timed median sits at a fixed place on that slope, not on a plateau.
    */
  protected def warmPasses: Int = 1

  /** One pass of the workload's unit of work. */
  protected def pass(tr: Tracer): Unit

  /** Passes that must run even after the window closes. */
  protected def minPasses: Int = 3

  /** Timings of the unit the end-to-end latency is made of, untraced. */
  def opMs: Seq[Double]

  /** The workload's answer-quality ratio (deterministic for a seed). */
  def recall: Double

  def detail: Seq[(String, Detail)]

  private val extras = mutable.Map.empty[String, ArrayBuffer[Double]]

  /** Records one traced pass's value of a per-layer counter. */
  protected def record(name: String, v: Double): Unit =
    extras.getOrElseUpdate(name, ArrayBuffer()) += v

  /** Per-layer counters not held in spans: each one's mean per pass. */
  def layerExtras: Map[String, Double] =
    extras.map { case (k, v) => k -> Stats.mean(v.toSeq) }.toMap

  def measure(tr: Tracer, seconds: Double, atLeast: Int = minPasses): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n < atLeast || System.nanoTime() < end) {
      val run = tr.newRun()
      val t0 = System.nanoTime()
      checks.op(s"pass $run")(pass(tr))
      passes += Pass(run, (System.nanoTime() - t0) / 1e9, tr.enabled)
      n += 1
    }
  }

  /** Cached and computed, every column: the layer-boundary
    * materialization of a traced pass. Never a bare count(), which lets
    * Catalyst skip columns.
    */
  protected val kept = ArrayBuffer.empty[Dataset[_]]
  protected def keep[T](ds: Dataset[T]): Dataset[T] = {
    val c = ds.cache()
    c.write.format("noop").mode("overwrite").save()
    kept += c
    c
  }
  protected def releaseKept(): Unit = {
    kept.foreach(_.unpersist(blocking = true))
    kept.clear()
  }

  protected def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  protected def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(dirBytes).sum
    else f.length
}

/** The paper's experiment: markdown reports on disk → load → chunk ×5
  * → embed ×5 → index → retrieve (k=10) → evaluate → the collected,
  * ranked 25-config report.
  */
final class RagExperiment(spark: SparkSession, seed: Long, dir: File,
    docs: Int, sections: Int, queries: Int)
    extends Workload(spark, seed, dir) {

  private val docsDir = new File(dir, "docs")
  private val queryFile = new File(dir, "queries.json")
  private val storeDir = new File(dir, "store")
  private val passMs = ArrayBuffer.empty[Double]
  private var firstReport: Option[Seq[Row]] = None
  private var reportRecall = 0.0

  private def write(corpus: Inputs.RagCorpus, docsTo: File, queriesTo: File): Unit = {
    rmTree(docsTo)
    docsTo.mkdirs()
    corpus.docs.foreach { case (name, text) =>
      Files.write(new File(docsTo, name).toPath, text.getBytes(StandardCharsets.UTF_8))
    }
    Files.write(queriesTo.toPath, corpus.queriesJson.getBytes(StandardCharsets.UTF_8))
  }

  def inputs(): Unit = {
    dir.mkdirs()
    write(Inputs.ragCorpus(seed, docs, sections, queries), docsDir, queryFile)
  }

  def warmUp(): Unit = {
    val untraced = new Tracer(spark.sparkContext, false)
    (1 to warmPasses).foreach(_ => experiment(untraced, docsDir, queryFile, storeDir))
  }

  private def experiment(tr: Tracer, docsAt: File, queriesAt: File,
      storeAt: File): Array[Row] = {
    spark.catalog.clearCache()
    val store = new VectorStore(spark, storeAt.getPath)
    try {
      val docsDs = tr.layer("sources.load")(
        DocumentLoader.loadDocuments(spark, docsAt.getPath))(keep)
      val qs = tr.layer("sources.load")(
        DocumentLoader.loadQueries(spark, queriesAt.getPath))(keep)
      val chunks = tr.layer("chunk.chunk")(
        Pipeline.chunkDocuments(docsDs).toDF())(keep)
      val embedded = tr.layer("embed.embed")(Pipeline.embedChunks(chunks))(keep)
      tr.call("index.create")(store.createCollection("rag",
        embedded.withColumn("key",
          concat_ws("|", col("strategy"), col("model"), col("chunk_id"))), "key"))
      val coll = store.read("rag")
      val chunkView = coll
        .filter(col("model") === HashingEmbedder.models.head.name)
        .select(col("chunk_id"), col("strategy"), col("source_file"), col("content"))
      val hits = tr.layer("search.retrieve")(
        Pipeline.retrieve(coll, Pipeline.embedQueries(qs), 10,
          payload = Some(chunkView.select(col("chunk_id"), col("source_file"),
            col("content")))))(keep)
      val report = tr.call("eval.evaluate")(
        Pipeline.evaluate(hits, qs, chunkView).collect())
      if (tr.enabled) {
        val nDocs = docsDs.count().toDouble
        val nChunks = chunks.count().toDouble
        val wallEmbed = tr.spans().filter(s => s.name == "embed.embed").last.wallS
        val vectors = embedded.count().toDouble
        val raw = nChunks * HashingEmbedder.models.map(_.dim).sum * 4.0
        record("chunk.chunks_per_doc", nChunks / nDocs)
        record("embed.vectors_per_s", vectors / wallEmbed)
        record("index.bytes_per_vector", dirBytes(new File(storeAt, "collection=rag")) / raw)
      }
      report
    } finally releaseKept()
  }

  protected def pass(tr: Tracer): Unit = {
    val t0 = System.nanoTime()
    val report = experiment(tr, docsDir, queryFile, storeDir).toSeq
    val ms = (System.nanoTime() - t0) / 1e6
    if (!tr.enabled) passMs += ms
    checks.check(report.size == 25, s"report has ${report.size} rows, not 25")
    val rates = Seq("top_1_accuracy", "top_3_accuracy", "mrr", "avg_similarity")
    checks.check(report.forall(r => rates.forall { c =>
      val v = r.getAs[Double](c); v >= 0.0 && v <= 1.0
    }), "a report rate lies outside [0, 1]")
    val scores = report.map(_.getAs[Double]("combined_score"))
    checks.check(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b || close(a, b) },
      "report is not ranked by combined_score")
    firstReport match {
      case None =>
        firstReport = Some(report)
        reportRecall = Stats.mean(report.map(_.getAs[Double]("top_3_accuracy")))
      case Some(first) =>
        val was = byConfig(first)
        val diff = report.find(r => !was.get(config(r)).exists(sameRow(_, r)))
        checks.check(diff.isEmpty && byConfig(report).size == was.size,
          s"report differs between passes at ${diff.fold("a missing config")(config(_).toString)}")
    }
  }

  private def config(r: Row): (String, String) =
    (r.getAs[String]("strategy"), r.getAs[String]("model"))

  private def byConfig(report: Seq[Row]): Map[(String, String), Row] =
    report.map(r => config(r) -> r).toMap

  /** Equal up to summation order: Spark sums an average's partials in
    * fetch order, so the last bits of a mean can differ between two
    * passes over the same rows. Configs whose scores are equal up to
    * those bits may therefore swap places in the ranking, which is why
    * passes are compared config by config.
    */
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def sameRow(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall { i =>
      (a.get(i), b.get(i)) match {
        case (x: Double, y: Double) => close(x, y)
        case (x, y) => x == y
      }
    }

  /** Report rows as text in config order, doubles to 12 significant
    * digits, for the md5 that lets runs with one seed be compared.
    */
  private def canonical(report: Seq[Row]): Seq[String] =
    report.sortBy(config).map(_.toSeq.map {
      case d: Double => "%.12g".format(d)
      case x => String.valueOf(x)
    }.mkString("|"))

  def opMs: Seq[Double] = passMs.toSeq
  def recall: Double = reportRecall

  def detail: Seq[(String, Detail)] = Seq(
    "rag_docs_per_s" -> Detail(docs / (Stats.median(passMs.toSeq) / 1000.0), "docs/s",
      Seq("samples" -> passMs.size, "pass_ms" -> passMs.toSeq)),
    "report" -> Detail(firstReport.fold(0)(_.size).toDouble, "rows",
      Seq("md5" -> md5(canonical(firstReport.getOrElse(Nil)).mkString("\n")))))

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
}

/** Interactive top-k over one persisted collection of clustered unit
  * vectors, closed loop with one client. A cycle is four 8-query reads,
  * one per kind (exact, IVF, PQ, graph), each batch centred on a
  * Zipf-chosen cluster. With `writes`, every `writeEvery`-th cycle also
  * runs one write, alternating upsert and delete, with the incremental
  * graph maintenance it triggers.
  */
final class VectorServe(spark: SparkSession, seed: Long, dir: File,
    size: Int, dim: Int, clusters: Int, writes: Boolean, writeEvery: Int)
    extends Workload(spark, seed, dir) {
  import spark.implicits._

  private val Coll = "serve"
  private val K = 10
  private val Batch = 8
  /** Reads of each ANN kind whose recall is scored: a fixed prefix of
    * the seeded schedule, so the figure is the same on every run.
    */
  private val RecallReads = 2
  val Kinds: Seq[String] = Seq("exact", "ivf", "pq", "graph")

  private val storeDir = new File(dir, "store")
  private lazy val store = new VectorStore(spark, storeDir.getPath)
  private val cs = Inputs.centres(seed, clusters, dim)
  private val clusterZipf = new Inputs.Zipf(clusters, 1.1)
  private val live = mutable.LongMap.empty[Array[Float]]
  private var nextId = 0L
  private var seeded: Array[Array[Float]] = _
  private val ops = new java.util.SplittableRandom(seed ^ 0x0b5L)
  private var cycle = 0L
  private var upsertNext = true
  private val readMs = mutable.Map.empty[String, ArrayBuffer[Double]]
  private val writeMs = ArrayBuffer.empty[Double]
  private val recalls = mutable.Map.empty[String, ArrayBuffer[Double]]
  private var buildsAtStart = 0L

  def inputs(): Unit = {
    dir.mkdirs()
    seeded = Inputs.clusteredVectors(seed, size, cs, 0.35)
    store.createCollection(Coll,
      seeded.indices.map(i => (i.toLong, seeded(i))).toDF("key", "embedding"), "key")
  }

  def warmUp(): Unit = {
    store.centroidsOf(Coll)
    store.codebooksOf(Coll)
    store.graphOf(Coll).write.format("noop").mode("overwrite").save()
    // one small batch of every read kind; with writes, one point upserted
    // and deleted again, so the served ids stay the seeded ones
    val q = Seq.tabulate(Batch)(i => (i.toLong, seeded(i))).toDF("query_id", "qvec")
    store.search(Coll, q, K).collect()
    store.ivfSearch(Coll, q, K).collect()
    store.searchCompressed(Coll, q, K).collect()
    store.graphSearch(Coll, q, K).collect()
    if (writes) {
      store.upsertPoints(Coll,
        Seq((size.toLong, seeded(0), size.toLong)).toDF("key", "embedding", "id"))
      store.deletePoints(Coll, Seq(size.toLong))
    }
    seeded.indices.foreach(i => live(i.toLong) = seeded(i))
    nextId = size.toLong + 1
    buildsAtStart = graft.perfbench.ArtifactCounters.total(storeDir.getPath, Coll)
  }

  override protected def minPasses: Int = RecallReads

  /** Exact top-k over the client's copy of the collection: sim desc, id
    * asc, sims summed left to right in double as the engine does.
    */
  private def bruteForce(q: Array[Float]): Seq[(Long, Double)] =
    live.iterator.map { case (id, v) =>
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i).toDouble * q(i).toDouble; i += 1 }
      (id, s)
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(K)

  private def read(tr: Tracer, kind: String, qs: Seq[(Long, Array[Float])]): Unit = {
    val q = qs.toDF("query_id", "qvec")
    val t0 = System.nanoTime()
    val got: Array[Row] = tr.call(s"search.$kind") {
      kind match {
        case "exact" => store.search(Coll, q, K)
          .select(col("query_id"), col("rank"), col("id"), col("sim")).collect()
        case "ivf" => store.ivfSearch(Coll, q, K).collect()
        case "pq" => store.searchCompressed(Coll, q, K).collect()
        case "graph" => store.graphSearch(Coll, q, K).collect()
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (!tr.enabled) readMs.getOrElseUpdate(kind, ArrayBuffer()) += ms
    val byQuery = got.groupBy(_.getAs[Long]("query_id"))
      .map { case (k, rs) => k -> rs.sortBy(_.getAs[Int]("rank")) }
    if (kind == "exact") {
      val ok = qs.forall { case (qid, v) =>
        val want = bruteForce(v)
        val have = byQuery.getOrElse(qid, Array.empty[Row])
          .map(r => (r.getAs[Long]("id"), r.getAs[Double]("sim"))).toSeq
        have == want
      }
      checks.check(ok, s"exact read in cycle $cycle differs from brute force")
    } else {
      val rs = recalls.getOrElseUpdate(kind, ArrayBuffer())
      if (rs.size < RecallReads) {
        rs += Stats.mean(qs.map { case (qid, v) =>
          val want = bruteForce(v).map(_._1).toSet
          val have = byQuery.getOrElse(qid, Array.empty[Row])
            .map(_.getAs[Long]("id")).toSet
          (want intersect have).size.toDouble / K
        })
      }
    }
  }

  private def write(tr: Tracer): Unit = {
    val liveIds = live.keys.toArray.sorted
    val t0 = System.nanoTime()
    if (upsertNext) {
      // 32 new points and 32 replacements of existing ones
      val replaced = Seq.fill(32)(liveIds(ops.nextInt(liveIds.length))).distinct
      val added = Seq.fill(32) { nextId += 1; nextId - 1 }
      val rows = (replaced ++ added).map { id =>
        (id, Inputs.near(ops, cs(clusterZipf.sample(ops)), 0.35), id)
      }
      tr.call("index.upsert")(
        store.upsertPoints(Coll, rows.toDF("key", "embedding", "id")))
      rows.foreach { case (id, v, _) => live(id) = v }
    } else {
      val ids = Seq.fill(32)(liveIds(ops.nextInt(liveIds.length))).distinct
      val removed = tr.call("index.delete")(store.deletePoints(Coll, ids))
      checks.check(removed == ids.size, s"delete removed $removed of ${ids.size}")
      ids.foreach(live.remove)
    }
    // writes run only in traced runs, so their times are taken there
    writeMs += (System.nanoTime() - t0) / 1e6
    upsertNext = !upsertNext
  }

  protected def pass(tr: Tracer): Unit = {
    Kinds.foreach { kind =>
      val c = cs(clusterZipf.sample(ops))
      read(tr, kind, Seq.tabulate(Batch)(i =>
        (i.toLong, Inputs.near(ops, c, 0.35))))
    }
    cycle += 1
    if (writes && cycle % writeEvery == 0) write(tr)
  }

  /** Artifact builds, trainings and encodes since serving began. */
  def artifactBuilds: Long =
    graft.perfbench.ArtifactCounters.total(storeDir.getPath, Coll) - buildsAtStart

  /** The end-to-end read latency: the mean over kinds of each kind's
    * median, so every kind weighs the same whatever its speed.
    */
  def opMs: Seq[Double] = Seq(Stats.mean(Kinds.map(k => Stats.median(readMs(k).toSeq))))

  def recall: Double = Stats.mean(Seq("ivf", "pq", "graph").map(k => Stats.mean(recalls(k).toSeq)))

  override def measure(tr: Tracer, seconds: Double, atLeast: Int): Unit = {
    super.measure(tr, seconds, atLeast)
    checks.check(artifactBuilds == 0, s"$artifactBuilds artifact builds while serving")
  }

  def detail: Seq[(String, Detail)] = {
    val pooled = readMs.values.flatten.toSeq
    val p90 = Stats.percentile(pooled, 90)
    Seq(
      "read_p50_ms" -> Detail(Stats.median(pooled), "ms", Seq("samples" -> pooled.size)),
      "read_p90_ms" -> Detail(p90.value, "ms", Seq("samples" -> p90.samples,
        "beyond" -> p90.beyond, "resolved" -> p90.resolved)),
      "write_p50_ms" -> Detail(if (writeMs.isEmpty) 0.0 else Stats.median(writeMs.toSeq),
        "ms", Seq("samples" -> writeMs.size)),
      "recall_at_10" -> Detail(recall, "ratio")) ++
      Kinds.map(k => s"read_${k}_p50_ms" -> Detail(Stats.median(readMs(k).toSeq), "ms",
        Seq("samples" -> readMs(k).size)))
  }

  override def layerExtras: Map[String, Double] =
    Map("index.artifact_builds" -> artifactBuilds.toDouble,
      "index.bytes_per_vector" ->
        dirBytes(new File(storeDir, s"collection=$Coll")) / (live.size * dim * 4.0),
      "search.exact.recall" -> 1.0) ++
      recalls.map { case (k, v) => s"search.$k.recall" -> Stats.mean(v.toSeq) }
}

/** Near-duplicate removal: shingle → MinHash(16) → LSH bands of 4 →
  * candidates → Jaccard ≥ 0.7 → connected components, labels collected.
  */
final class DedupIngest(spark: SparkSession, seed: Long, dir: File,
    families: Int, dups: Int, singles: Int, tokens: Int)
    extends Workload(spark, seed, dir) {
  import spark.implicits._

  private val docsDir = new File(dir, "docs")
  private val passMs = ArrayBuffer.empty[Double]
  private var corpus: Inputs.DedupCorpus = _
  private var dupRecall = 0.0


  private def writeDocs(c: Inputs.DedupCorpus, to: File): Unit =
    c.docs.toDF("id", "text").repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(to.getPath)

  def inputs(): Unit = {
    dir.mkdirs()
    corpus = Inputs.dedupCorpus(seed, families, dups, singles, tokens,
      editRate = 0.02, footerShare = 0.3)
    writeDocs(corpus, docsDir)
  }

  /** Two: the first timed pass after a single warm pass still ran about
    * 1.3x slower than the third, and with three passes a run's median
    * sat on that slope.
    */
  override protected def warmPasses: Int = 2

  def warmUp(): Unit = {
    val untraced = new Tracer(spark.sparkContext, false)
    (1 to warmPasses).foreach(_ => components(untraced, docsDir))
  }

  private def components(tr: Tracer, docsAt: File): Array[Row] = try {
    val dropped = spark.sparkContext.longAccumulator("perfbench.lsh.dropped")
    val docs = spark.read.parquet(docsAt.getPath)
    val sh = tr.layer("dedup.shingle")(Dedup.shingleSet(docs, "id", "text"))(keep)
    val cands = tr.layer("dedup.lsh")(Dedup.lshCandidates(
      Dedup.lshBands(Dedup.minhash(sh, 16), 4), droppedBuckets = Some(dropped)))(keep)
    val pairs = tr.layer("dedup.verify")(Dedup.candidateJaccard(sh, cands)
      .filter(col("jac") >= 0.7).select(col("a"), col("b")))(keep)
    val labels = tr.call("dedup.components")(
      Dedup.connectedComponents(pairs).collect())
    if (tr.enabled) {
      val nc = cands.count().toDouble
      record("dedup.lsh.candidates", nc)
      record("dedup.verify.useful_ratio", if (nc == 0) 0.0 else pairs.count() / nc)
      record("dedup.lsh.dropped_buckets", dropped.value.toDouble)
    }
    labels
  } finally releaseKept()

  protected def pass(tr: Tracer): Unit = {
    val t0 = System.nanoTime()
    val labels = components(tr, docsDir)
    val ms = (System.nanoTime() - t0) / 1e6
    if (!tr.enabled) passMs += ms
    val lab = labels.map(r => r.getLong(0) -> r.getLong(1)).toMap
    checks.check(lab.size == labels.length, "a node has two labels")
    checks.check(lab.toSeq.groupBy(_._2).forall { case (l, ms) => l == ms.map(_._1).min },
      "a component label is not its minimum id")
    dupRecall = corpus.headOf.count { case (d, h) =>
      lab.contains(d) && lab.get(d) == lab.get(h)
    }.toDouble / corpus.headOf.size
  }

  private def nDocs: Int = families * (1 + dups) + singles

  def opMs: Seq[Double] = passMs.toSeq
  def recall: Double = dupRecall

  def detail: Seq[(String, Detail)] = Seq(
    "dedup_docs_per_s" -> Detail(nDocs / (Stats.median(passMs.toSeq) / 1000.0), "docs/s",
      Seq("samples" -> passMs.size, "pass_ms" -> passMs.toSeq)),
    "dup_recall" -> Detail(dupRecall, "ratio"))
}
