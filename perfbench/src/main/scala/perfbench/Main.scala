package perfbench

import java.io.File

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** The benchmark program:
  *
  * {{{
  *   Main --workload <rag_experiment|vector_serve|dedup_ingest> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * One process, one client thread, Spark `local[nproc]` with as many
  * shuffle partitions. It starts the session, makes the seeded inputs
  * `InputReps` times, warms up once, measures passes for `--seconds`
  * (at least a workload's minimum), checks every pass's output,
  * and prints two JSON lines: the detail line (environment and the
  * workload's own figures) and, last, the result line. With `--trace 1`
  * the first half of the window runs untraced and the second traced;
  * the result then carries the per-layer metrics.
  */
object Main {

  /** Set-up makes the inputs this many times and reports the median;
    * the warm-up and artifact builds run once, after them.
    */
  val InputReps = 3

  /** Every span the workloads open, in layer order. */
  val SpanNames: Seq[String] = Seq(
    "sources.load", "chunk.chunk", "embed.embed", "index.create",
    "index.upsert", "index.delete", "search.exact", "search.ivf",
    "search.pq", "search.graph", "search.retrieve", "eval.evaluate",
    "dedup.shingle", "dedup.lsh", "dedup.verify", "dedup.components")

  val SpanFields: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "construct_s" -> "s", "jobs" -> "count",
    "task_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB")

  /** Per-layer counters outside spans: name → unit. */
  val Extras: Seq[(String, String)] = Seq(
    "chunk.chunks_per_doc" -> "ratio", "embed.vectors_per_s" -> "1/s",
    "index.bytes_per_vector" -> "ratio", "index.artifact_builds" -> "count",
    "search.exact.recall" -> "ratio", "search.ivf.recall" -> "ratio",
    "search.pq.recall" -> "ratio", "search.graph.recall" -> "ratio",
    "dedup.lsh.candidates" -> "count", "dedup.verify.useful_ratio" -> "ratio",
    "dedup.lsh.dropped_buckets" -> "count")

  val RunLevel: Seq[(String, String)] = Seq(
    "run.wall_s" -> "s", "run.driver_s" -> "s", "run.core_util" -> "ratio",
    "run.tracing_overhead_frac" -> "ratio")

  /** The result line's metrics with `--trace 0`: name → unit. Peak RSS
    * is in the detail line only: it follows GC timing, and under CPU
    * steal its run-to-run spread reached 27%, wider than any bound.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "recall" -> "ratio")

  /** The result line's metrics with `--trace 1`: name → unit. */
  val PerLayer: Seq[(String, String)] =
    (for (n <- SpanNames; (f, u) <- SpanFields) yield s"$n.$f" -> u) ++ Extras ++ RunLevel

  val Workloads: Seq[String] = Seq("rag_experiment", "vector_serve", "dedup_ingest")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, not $t")
    }
    val work = new File(need("work")).getAbsoluteFile
    sys.exit(run(workload, seed, seconds, trace, work))
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <${Workloads.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1> --work <dir>")
    sys.exit(2)
  }

  def load1(): Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(' ')(0).toDouble

  /** (steal, total) jiffies of all CPUs: time the hypervisor ran
    * something else while this machine had work.
    */
  def cpuSteal(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File): Int = {
    val loadBefore = load1()
    val cores = Runtime.getRuntime.availableProcessors
    work.mkdirs()
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val dir = new File(work, "data")
      val w: Workload = workload match {
        case "rag_experiment" => new RagExperiment(spark, seed, dir,
          docs = 32, sections = 6, queries = 200)
        case "vector_serve" => new VectorServe(spark, seed, dir,
          size = 1500, dim = 32, clusters = 16, writes = trace, writeEvery = 2)
        case "dedup_ingest" => new DedupIngest(spark, seed, dir,
          families = 120, dups = 3, singles = 320, tokens = 150)
      }
      val inputReps = (1 to InputReps).map { _ =>
        val s0 = System.nanoTime()
        w.inputs()
        (System.nanoTime() - s0) / 1e9
      }
      val w0 = System.nanoTime()
      w.warmUp()
      val warmUpS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(inputReps) + warmUpS

      val steal0 = cpuSteal()
      val untraced = new Tracer(spark.sparkContext, false)
      val traced = new Tracer(spark.sparkContext, trace)
      // traced runs give the per-layer figures; one untraced pass is
      // enough to price the tracing overhead against
      if (trace) {
        w.measure(untraced, seconds / 2, atLeast = 1)
        w.measure(traced, seconds / 2, atLeast = 2)
      } else w.measure(untraced, seconds)

      val steal1 = cpuSteal()
      val details = w.detail
      val rss = peakRssMb()
      val metrics =
        if (!trace) withUnits(EndToEnd, Map("setup_s" -> setupS,
          "op_p50_ms" -> Stats.median(w.opMs), "recall" -> w.recall))
        else withUnits(PerLayer, layerMetrics(w, traced, cores))
      val failedFrac = w.checks.failed.toDouble / math.max(1L, w.checks.attempted)
      val env = ListMap(
        "nproc" -> cores, "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version,
        "load1_before" -> loadBefore, "load1_after" -> load1(),
        "cpu_steal_frac" -> (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2))
      val detailMap = ListMap.from(details.map { case (k, d) =>
        k -> ListMap.from(Seq("value" -> d.value, "unit" -> d.unit) ++ d.extra)
      }) ++ ListMap(
        "setup_s" -> ListMap("value" -> setupS, "unit" -> "s",
          "session_s" -> sessionS, "inputs_s" -> inputReps, "warm_up_s" -> warmUpS),
        "peak_rss_mb" -> ListMap("value" -> rss, "unit" -> "MB"),
        "failed_frac" -> ListMap("value" -> failedFrac, "unit" -> "ratio"))
      println(Json.render(ListMap("workload" -> workload, "seed" -> seed,
        "seconds" -> seconds, "trace" -> trace, "passes" -> w.passes.size,
        "env" -> env, "detail" -> detailMap, "failures" -> w.checks.failures.toSeq)))
      println(Json.render(ListMap(
        "correct" -> (w.checks.failed == 0),
        "attempted" -> w.checks.attempted,
        "failed" -> w.checks.failed,
        "metrics" -> metrics)))
      0
    } finally spark.stop()
  }

  private def withUnits(names: Seq[(String, String)],
      values: Map[String, Double]): ListMap[String, Any] =
    ListMap.from(names.map { case (k, unit) =>
      k -> ListMap("value" -> values(k), "unit" -> unit)
    })

  /** Per-layer metrics: each span field as its mean per traced pass, so
    * the span self times plus `run.driver_s` add up to `run.wall_s`.
    * Spans and counters a workload never opens read 0.
    */
  def layerMetrics(w: Workload, tr: Tracer, cores: Int): Map[String, Double] = {
    val passes = w.passes.filter(_.traced).toSeq
    val spans = tr.spans()
    val byRun = spans.groupBy(_.run)
    def perPass(f: Seq[Span] => Double): Double =
      Stats.mean(passes.map(p => f(byRun.getOrElse(p.run, Nil))))
    val spanMetrics = for {
      name <- SpanNames
      (field, _) <- SpanFields
    } yield {
      val get: Span => Double = field match {
        case "wall_s" => _.wallS
        case "construct_s" => _.constructS
        case "jobs" => _.jobs.get.toDouble
        case "task_s" => _.taskNs.get / 1e9
        case "shuffle_mb" => _.shuffleBytes.get / 1e6
        case "spill_mb" => _.spillBytes.get / 1e6
      }
      s"$name.$field" -> perPass(_.filter(_.name == name).map(get).sum)
    }
    val untracedWall = w.passes.filterNot(_.traced).map(_.wallS).toSeq
    val top = spans.filter(_.parent.isEmpty)
    Extras.map { case (k, _) => k -> w.layerExtras.getOrElse(k, 0.0) }.toMap ++
      spanMetrics ++ Map(
        "run.wall_s" -> Stats.mean(passes.map(_.wallS)),
        "run.driver_s" -> Stats.mean(passes.map(p =>
          Span.driverSeconds(p.wallS, byRun.getOrElse(p.run, Nil)))),
        "run.core_util" -> top.map(_.taskNs.get / 1e9).sum /
          (passes.map(_.wallS).sum * cores),
        "run.tracing_overhead_frac" ->
          (Stats.median(passes.map(_.wallS)) / Stats.median(untracedWall) - 1.0))
  }
}
