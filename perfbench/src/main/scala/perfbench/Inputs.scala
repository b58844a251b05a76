package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Each is a pure function of its seed and
  * sizes: SplittableRandom's sequence is fixed by its specification, so
  * one seed gives byte-identical inputs on every JVM.
  */
object Inputs {

  /** Ranks 0..n-1 drawn with probability ∝ 1/(rank+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val Syllables = Array(
    "ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da", "fi", "gu",
    "ho", "ji", "ku", "le", "ma", "no", "pi", "qu", "re", "so", "tu", "va",
    "we", "xi", "ya", "zo", "ba", "ce", "di", "fo")

  /** Word `rank` of the seed's vocabulary: four syllables spelling
    * (rank xor a seed mask) in base 32, so ranks below 2^20 map to
    * distinct words and the seed decides which word is frequent.
    */
  def word(seed: Long, rank: Int): String = {
    val mask = ((seed * 0x9E3779B97F4A7C15L) >>> 44).toInt & 0xFFFFF
    val x = (rank ^ mask) & 0xFFFFF
    Syllables((x >>> 15) & 31) + Syllables((x >>> 10) & 31) +
      Syllables((x >>> 5) & 31) + Syllables(x & 31)
  }

  // ---- rag_experiment: structured markdown reports ------------------

  /** 2^18 words, so the (model seed, token) keys of the embedder's five
    * models (1.3M) exceed its 2^20-entry hash memo.
    */
  val RagVocab: Int = 1 << 18

  final case class RagQuery(id: String, text: String, keyword: String,
      sourcePattern: String)
  final case class RagCorpus(docs: Seq[(String, String)],
      queries: Seq[RagQuery]) {
    /** The query set in the reference's JSON layout (loadQueries). */
    def queriesJson: String = queries.map { q =>
      Json.render(scala.collection.immutable.ListMap(
        "query_id" -> q.id, "query" -> q.text,
        "expected_keywords" -> Seq(q.keyword),
        "expected_source_patterns" -> Seq(q.sourcePattern)))
    }.mkString("[\n", ",\n", "\n]\n")
  }

  /** `nDocs` reports of `sections` sections each: an H1 title, H2
    * sections of multi-sentence paragraphs, H3 `|` tables. Each report
    * has a topic word of its own that its queries look for.
    */
  def ragCorpus(seed: Long, nDocs: Int, sections: Int, nQueries: Int): RagCorpus = {
    val r = new SplittableRandom(seed)
    val zipf = new Zipf(RagVocab, 1.05)
    def w(): String = word(seed, zipf.sample(r))
    def topic(d: Int): String = "zz" + word(seed + 1, d)
    def sentence(extra: Option[String]): String = {
      val n = 8 + r.nextInt(9)
      val ws = Array.fill(n)(w())
      extra.foreach(t => ws(r.nextInt(n)) = t)
      ws(0) = ws(0).capitalize
      ws.mkString(" ") + "."
    }
    val paragraphs = Array.fill(nDocs)(Seq.newBuilder[String])
    val docs = (0 until nDocs).map { d =>
      val t = topic(d)
      val name = f"report_$d%05d.md"
      val b = new StringBuilder
      b ++= s"# Report ${w().capitalize} $t\n\n"
      (0 until sections).foreach { s =>
        b ++= s"## ${w().capitalize} ${w()}\n\n"
        (0 until 1 + r.nextInt(2)).foreach { _ =>
          val para = (0 until 3 + r.nextInt(4))
            .map(i => sentence(if (i == 0) Some(t) else None)).mkString(" ")
          paragraphs(d) += para
          b ++= para + "\n\n"
        }
        if (s % 2 == 1) {
          b ++= s"### ${w().capitalize} table\n\n"
          b ++= s"| ${w()} | ${w()} | value |\n"
          (0 until 3 + r.nextInt(3)).foreach { _ =>
            b ++= s"| ${w()} | ${w()} | ${r.nextInt(10000)} |\n"
          }
          b ++= "\n"
        }
      }
      name -> b.toString
    }
    val paras = paragraphs.map(_.result())
    val queries = (0 until nQueries).map { q =>
      val d = r.nextInt(nDocs)
      val p = paras(d)(r.nextInt(paras(d).length))
        .split(' ').map(_.stripSuffix(".").toLowerCase)
      val start = r.nextInt(math.max(1, p.length - 5))
      val text = (p.slice(start, start + 5) :+ topic(d)).mkString(" ")
      RagQuery(f"q$q%03d", text, topic(d), f"report_$d%05d")
    }
    RagCorpus(docs, queries)
  }

  // ---- vector_serve: clustered unit vectors --------------------------

  def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def gaussian(r: SplittableRandom, dim: Int): Array[Double] =
    Array.fill(dim) {
      // Box-Muller from two uniforms: exact and JVM-independent
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }

  /** Cluster centres on the unit sphere. */
  def centres(seed: Long, clusters: Int, dim: Int): Array[Array[Double]] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    Array.fill(clusters)(unit(gaussian(r, dim)).map(_.toDouble))
  }

  /** A unit vector near `centre`, `spread` the noise scale. */
  def near(r: SplittableRandom, centre: Array[Double], spread: Double): Array[Float] = {
    val g = gaussian(r, centre.length)
    unit(Array.tabulate(centre.length)(i => centre(i) + spread * g(i)))
  }

  /** `n` unit vectors, each near a uniformly chosen centre. */
  def clusteredVectors(seed: Long, n: Int, cs: Array[Array[Double]],
      spread: Double): Array[Array[Float]] = {
    val r = new SplittableRandom(seed)
    Array.fill(n)(near(r, cs(r.nextInt(cs.length)), spread))
  }

  // ---- dedup_ingest: near-duplicate families ------------------------

  final case class DedupCorpus(docs: Seq[(Long, String)], headOf: Map[Long, Long])

  val DedupVocab: Int = 1 << 15
  val Footer: String = (0 until 24).map(i => word(7L, i)).mkString(" ")

  /** `families` heads with `dups` near-duplicates each (every token
    * replaced with probability `editRate`) plus `singles` unrelated
    * documents, `tokens` words each. A `footerShare` of documents end in
    * the same boilerplate footer, whose shingles are hot keys. Ids are
    * a seeded permutation, so a family head is not always its smallest
    * id. `headOf` maps each planted duplicate to its head.
    */
  def dedupCorpus(seed: Long, families: Int, dups: Int, singles: Int,
      tokens: Int, editRate: Double, footerShare: Double): DedupCorpus = {
    val r = new SplittableRandom(seed)
    val zipf = new Zipf(DedupVocab, 1.0)
    def fresh(): Array[String] = Array.fill(tokens)(word(seed, zipf.sample(r)))
    val n = families * (1 + dups) + singles
    val ids = (0 until n).map(_.toLong).toArray
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    val docs = Seq.newBuilder[(Long, String)]
    val headOf = Map.newBuilder[Long, Long]
    var next = 0
    def emit(ws: Array[String]): Long = {
      val id = ids(next)
      next += 1
      val text = ws.mkString(" ") +
        (if (r.nextDouble() < footerShare) " " + Footer else "")
      docs += id -> text
      id
    }
    (0 until families).foreach { _ =>
      val head = fresh()
      val h = emit(head)
      (0 until dups).foreach { _ =>
        val d = head.map(x => if (r.nextDouble() < editRate) word(seed, zipf.sample(r)) else x)
        headOf += emit(d) -> h
      }
    }
    (0 until singles).foreach(_ => emit(fresh()))
    DedupCorpus(docs.result(), headOf.result())
  }
}
