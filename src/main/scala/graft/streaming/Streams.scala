package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.chunk.Chunkers
import graft.embed.HashingEmbedder
import graft.model.Document

/** Structured Streaming surface (SURVEY §2.6 notes the reference has no
  * streaming — this is the engine's additive extension; kept out of the
  * oracle set).
  *
  * The RAG indexing pipeline lifts to streaming for free: chunking and
  * embedding are stateless per-document maps, so `readStream → flatMap →
  * embed → writeStream` is the incremental-index build. Windowed
  * aggregation + watermark covers late event data; sessionization uses
  * explicit keyed state.
  */
// extends Serializable: typed-closure bodies calling sibling helpers
// (md5hex/bloomBandKeys from bloomIngestStream's flatMap) compile to
// `this.helper(...)` and capture the object — stateless, so shipping
// it is free, and the alternative (re-binding every helper as a local
// function) re-litigates this on every new operator
object Streams extends Serializable {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Long)
  case class SessionUpdate(user_id: Long, session_start: Timestamp,
      session_last: Timestamp, n_events: Long, closed: Boolean)

  /** Streaming index build: a folder of JSON documents → chunk (all
    * strategies) → embed (one model) → streaming DataFrame of index rows.
    */
  def indexingStream(spark: SparkSession, inputDir: String,
      model: HashingEmbedder.Model = HashingEmbedder.models.head): DataFrame = {
    import spark.implicits._
    val schema = new StructType()
      .add("source_file", "string").add("content", "string")
    val docs = spark.readStream.schema(schema).json(inputDir).as[Document]
    val chunks = docs.flatMap(d => Chunkers.chunkAll(d.content, d.source_file))
    val embedUdf = udf((text: String) => HashingEmbedder.embed(text, model))
    chunks.toDF()
      .withColumn("model", lit(model.name))
      .withColumn("embedding", embedUdf(col("content")))
  }

  /** Streaming media ingest: a folder of binary media payloads →
    * per-batch decode ([[graft.multimodal.Multimodal.extractFeatures]]:
    * real ImageIO/AudioSystem decode, byte-histogram fallback) →
    * streaming feature rows. Decode is a stateless narrow map, so it
    * lifts to streaming exactly like chunk+embed — codec setup
    * amortizes per micro-batch partition, and the output feeds the same
    * downstream sinks/joins as the batch path.
    */
  def mediaFeaturesStream(spark: SparkSession, inputDir: String,
      dim: Int = 64): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val media = spark.readStream
      .format("binaryFile")
      // the binaryFile source's fixed schema, required explicitly when streaming
      .schema(new StructType()
        .add("path", "string").add("modificationTime", "timestamp")
        .add("length", "long").add("content", "binary"))
      .option("recursiveFileLookup", "true")
      .load(inputDir)
      .select(
        // stable per-file id: path hash (driver ids don't exist in a stream)
        abs(xxhash64(col("path"))).as("media_id"),
        lit("image").as("kind"),
        col("content").as("bytes"),
        struct(lit("auto").as("format"), lit(0).as("width"), lit(0).as("height"),
          lit(0L).as("duration_ms"), lit(0).as("sample_rate")).as("meta"))
      .as[Multimodal.MediaRow]
    Multimodal.extractFeatures(media, dim).toDF()
  }

  /** Tumbling-window event counts with a watermark for late data. */
  def windowedEventCounts(events: DataFrame, windowDur: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming exact dedup: fingerprint + dropDuplicatesWithinWatermark.
    * The dedup state is bounded by the watermark horizon — duplicates
    * arriving within the horizon are dropped exactly; older state ages
    * out, which is the only tractable contract for an unbounded stream
    * (an exact-forever dedup needs unbounded state).
    */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint", md5(graft.text.TextFns.normalized(col("content"))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  case class NearDupCandidate(a: Long, b: Long, band: Int)

  /** MinHash band keys of one document — the row-local (no aggregation)
    * restatement of the batch `Dedup.shingleSet → minhash → lshBands`
    * chain, sharing the SAME permutation constants and 32-bit md5
    * shingle hash, so a streaming bucket key equals the batch bucket
    * key for identical text.
    */
  private[graft] def bandKeys(content: String, numHashes: Int,
      rowsPerBand: Int): Seq[String] = {
    // tokensJvm, not String.trim.split: the batch chain tokenizes with
    // Catalyst semantics (space-only trim, boundary empty tokens kept),
    // and the streaming/batch bucket-equality contract needs identical
    // shingles on text with leading/trailing tabs/newlines (ADVICE r14)
    val toks = graft.text.TextFns.tokensJvm(content)
    if (toks.length < 3) Seq.empty
    else {
      val shingles = toks.sliding(3)
        .map(w => graft.text.TextFns.md5IntJvm(w.mkString(" "))).toSet
      val mh = Array.tabulate(numHashes) { j =>
        var m = Long.MaxValue
        shingles.foreach { s =>
          val v = (graft.dedup.Dedup.permA(j) * s + graft.dedup.Dedup.permB(j)) %
            graft.dedup.Dedup.MinhashP
          if (v < m) m = v
        }
        m
      }
      (0 until numHashes / rowsPerBand).map { b =>
        s"$b:" + (b * rowsPerBand until (b + 1) * rowsPerBand).map(mh).mkString("|")
      }
    }
  }

  /** Streaming near-dup detection: each document fans out to its MinHash
    * band buckets; per-bucket keyed state holds member ids within the
    * watermark horizon and every arrival emits candidate pairs against
    * the bucket's members (a < b; a pair colliding in several bands
    * re-emits per band — downstream consumers dedup, exactly as the
    * batch `lshCandidates` does id-distinct). State is bounded two ways:
    * event-time timeout ages buckets out one horizon after their last
    * arrival, and a degenerate bucket stops emitting at `maxBucket`
    * members (the streaming mirror of `Dedup.DefaultMaxBucket`).
    */
  def nearDupStream(docs: DataFrame, watermark: String = "1 hour",
      numHashes: Int = 16, rowsPerBand: Int = 4,
      maxBucket: Int = 1000): Dataset[NearDupCandidate] = {
    import docs.sparkSession.implicits._
    val nh = numHashes; val rpb = rowsPerBand; val cap = maxBucket
    val bucketUdf = udf((content: String) => bandKeys(content, nh, rpb))
    docs
      .withColumn("bucket", explode(bucketUdf(col("content"))))
      .withWatermark("ts", watermark)
      .select(col("bucket"), col("ts"), col("doc_id").cast("long"))
      .as[(String, Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[Long], NearDupCandidate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[(String, Timestamp, Long)],
            state: GroupState[Seq[Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val band = key.takeWhile(_ != ':').toInt
            val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
            var members = state.getOption.getOrElse(Seq.empty)
            val out = Seq.newBuilder[NearDupCandidate]
            for ((_, _, id) <- sorted) {
              if (!members.contains(id) && members.size < cap) {
                members.foreach(m =>
                  out += NearDupCandidate(math.min(m, id), math.max(m, id), band))
                members = members :+ id
              }
            }
            state.update(members)
            sorted.lastOption.foreach(r =>
              state.setTimeoutTimestamp(r._2.getTime, watermark))
            out.result().iterator
          }
      }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** One document's (band, md5 band key) pairs — [[bandKeys]] with the
    * batch chain's md5 band-key encoding (`Dedup.lshBands` emits
    * md5(pipe-joined signature slice)), so a streaming key equals the
    * batch key for identical text.
    */
  private[graft] def bloomBandKeys(content: String, numHashes: Int,
      rowsPerBand: Int): Seq[(Int, String)] =
    bandKeys(content, numHashes, rowsPerBand).map { k =>
      val Array(band, vals) = k.split(":", 2)
      (band.toInt, md5hex(vals))
    }

  /** Stream-static Bloom near-dup screen — the streaming lift of the
    * batch ingest screen (`DedupQueries.dedupBloomIngest`): the
    * accumulated corpus ships only (a) its m-bit Bloom set of MinHash
    * band keys — collected here into a 2 KB closure from `existing`,
    * the one corpus-sized artifact that reaches executors — and
    * (b) the exact (band, bkey) table the verify join probes. Each
    * incoming document computes its band keys ROW-LOCALLY (the
    * [[bandKeys]] construction with the batch md5 key encoding),
    * probes the bit set map-side, and only bloom-POSITIVE keys reach
    * the stream-static verify join (the batch screen's runtime-filter
    * contract, unchanged). Output per screened document: (doc_id,
    * n_bloom_pos, n_shared_bands, is_near_dup), exactly the batch
    * columns.
    *
    * Batching can NEVER matter: everything upstream of the final
    * per-document aggregate is stateless row-local work against the
    * static side, and a document's band rows all ride its own
    * micro-batch — so any micro-batch split yields the identical
    * screen (the dedupStream associativity discipline; spec-proved
    * against the batch operator). Run in update mode; per-document
    * aggregate state is one row per screened doc (a deployment windows
    * the ingest day and ages it out by watermark). Documents with no
    * bands (< 3 tokens) are not screened — the batch contract.
    * (Scaladoc documents [[bloomIngestStream]] below; the helpers in
    * between are its extracted engine.)
    */
  /** Bit positions of one band key in the ingest Bloom filter. */
  private def bloomBitOf(i: Int, band: Int, bkey: String, m: Int): Int =
    Integer.parseInt(md5hex(s"bloom$i|$band|$bkey").substring(0, 4), 16) % m

  /** Fold band keys into `bitSet` — the screen's incremental state
    * update (the ingest loop grows ONE bitset batch over batch instead
    * of rebuilding it from the corpus band table per micro-batch).
    */
  private[streaming] def bloomAdd(bitSet: java.util.BitSet,
      keys: Iterable[(Int, String)], m: Int, k: Int): Unit =
    keys.foreach { case (b, key) =>
      (0 until k).foreach(i => bitSet.set(bloomBitOf(i, b, key, m)))
    }

  /** The screen body over a PREBUILT bitset and verify-side band
    * table — the shared engine of [[bloomIngestStream]] (which builds
    * the bitset from `existing` per call) and [[ingestIndexStream]]
    * (which owns long-lived screen state and grows it per batch).
    */
  private[streaming] def bloomScreen(docs: DataFrame, existing: DataFrame,
      bitSet: java.util.BitSet, bloomBits: Int, bloomHashes: Int,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val nh = numHashes; val rpb = rowsPerBand
    val m = bloomBits; val k = bloomHashes
    def bitOf(i: Int, band: Int, bkey: String): Int =
      bloomBitOf(i, band, bkey, m)
    val localBits = bitSet.clone().asInstanceOf[java.util.BitSet]
    val positive = docs
      .select(col("doc_id").cast("long"), col("content"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val keys = bloomBandKeys(text, nh, rpb)
        val pos = keys.filter { case (b, key) =>
          (0 until k).forall(i => localBits.get(bitOf(i, b, key)))
        }
        // the sentinel keeps zero-positive (but banded) docs in the
        // screen output, as the batch spine does
        if (keys.isEmpty) Iterator.empty
        else Iterator.single((id, -1, "", 0)) ++
          pos.iterator.map { case (b, key) => (id, b, key, 1) }
      }
      .toDF("doc_id", "band", "bkey", "probe")
    positive
      .join(existing.select(col("band").cast("int"), col("bkey"))
        .distinct().withColumn("shared", lit(1)),
        Seq("band", "bkey"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("probe")).as("n_bloom_pos"),
        sum(coalesce(col("shared"), lit(0))).cast("long")
          .as("n_shared_bands"))
      .select(col("doc_id"), col("n_bloom_pos"),
        col("n_shared_bands"),
        when(col("n_shared_bands") > 0, 1).otherwise(0).as("is_near_dup"))
  }

  def bloomIngestStream(docs: DataFrame, existing: DataFrame,
      bloomBits: Int = 16384, bloomHashes: Int = 3,
      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    import docs.sparkSession.implicits._
    // the corpus's Bloom set: k bit positions per existing band key,
    // collected once into a bitset (m bits = 2 KB) — what a daily
    // pipeline ships instead of the corpus
    val bitSet = new java.util.BitSet(bloomBits)
    bloomAdd(bitSet,
      existing.select(col("band").cast("int"), col("bkey"))
        .distinct().as[(Int, String)].collect(),
      bloomBits, bloomHashes)
    bloomScreen(docs, existing, bitSet, bloomBits, bloomHashes,
      numHashes, rowsPerBand)
  }

  /** The INGEST LOOP — stream → screen → embed → upsert, the steady
    * state of a training-data pipeline's index (VERDICT r18 #3; the
    * reference's §3.3 indexing path run continuously instead of once,
    * reference main.py:415-461 rebuilds per run): each micro-batch of
    * documents is exact-deduped WITHIN the batch (lowest doc_id wins),
    * screened against the ACCUMULATED near-dup state — the pre-stream
    * corpus's band keys PLUS every previously kept batch's, so a
    * republication of a streamed document is caught too — embedded
    * row-locally ([[HashingEmbedder]]), and upserted into the
    * collection via [[graft.index.VectorStore.upsertPoints]], which
    * maintains the collection's graph artifact INCREMENTALLY (HNSW
    * delete+insert, never a rebuild) and persists it for cold-start
    * serving. `docs` must carry `doc_id`, `content`, and every other
    * payload column the collection's schema expects (upsertPoints
    * aligns columns by name). Screen granularity: a NON-identical
    * near-dup pair arriving in the SAME micro-batch passes (state
    * grows at batch boundaries — the micro-batch is the screen's
    * resolution); every later batch sees both.
    *
    * Returns the un-started writer so the caller owns trigger/
    * checkpoint config; foreachBatch runs on the DRIVER, so the store
    * handle and the screen state ride the closure without
    * serialization. Scale shape per batch: screen is row-local probes
    * against the long-lived 2 KB bitset (built ONCE at stream start,
    * grown in place per batch — never rebuilt from the corpus band
    * table), the verify join touches bloom-positive keys only, embed
    * is a narrow map, the kept rows materialize exactly once
    * (localCheckpoint), and upsert is the store's write-to-temp +
    * incremental graph maintenance — nothing corpus² per batch,
    * nothing rebuilt, no per-batch driver pass over the corpus.
    *
    * RESTART DURABILITY (VERDICT r19 #4 — the streaming analog of the
    * store's graph/codebook artifact persistence): with `screenDir`
    * set, every kept batch's band keys are ALSO appended as parquet
    * under `screenDir/bands`, and a (re)started stream seeds its
    * screen from that table (unioned with any caller-supplied
    * `existingBands`) — so a near-dup of a document ingested by a
    * PREVIOUS incarnation is still screened with zero caller-side
    * band re-derivation. The 2 KB bitset is derived state: it rebuilds
    * from the persisted bands in the same one pass that seeds the
    * verify table. Without `screenDir` the accumulated state is
    * driver-memory only and dies with the stream (the r19 boundary).
    */
  def ingestIndexStream(docs: DataFrame, store: graft.index.VectorStore,
      collection: String, existingBands: Option[DataFrame] = None,
      model: HashingEmbedder.Model = HashingEmbedder.models.head,
      screenDir: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val embedUdf = udf((text: String) => HashingEmbedder.embed(text, model))
    val m = 16384; val k = 3; val nh = 16; val rpb = 4
    // LONG-LIVED screen state, owned by the stream (driver-side, built
    // ONCE at start instead of per batch): the mutable 2 KB bitset,
    // and the exact verify-side band table — which GROWS by each kept
    // batch's bands so later batches screen against everything already
    // ingested, not just the pre-stream corpus (the accumulated-corpus
    // contract; per-batch the new keys are ≤ bands-per-doc × batch
    // rows — the volume the batch's own joins already ship). The
    // growing table is localCheckpoint-barriered per batch (flat plan,
    // no per-batch lineage growth), superseded rounds released.
    // ALWAYS built (ADVICE r19): a stream started with NO pre-existing
    // corpus begins from an empty table and still accumulates, so
    // later batches screen against everything already ingested — the
    // scaladoc's republication contract holds unconditionally.
    val state = {
      val spark0 = docs.sparkSession
      import spark0.implicits._
      // previous-incarnation bands (restart durability) — present only
      // when a prior stream with this screenDir kept at least one batch
      val persisted: Option[DataFrame] = screenDir.flatMap { d =>
        val bd = new java.io.File(d, "bands")
        val tmp = new java.io.File(d, ".bands-compact")
        // finish or roll back a compaction swap (below) a crash
        // interrupted, before the live table is read
        graft.DirSwap.recover(bd, tmp)
        val parts = Option(bd.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("part-"))
        if (parts.isEmpty) None
        else {
          // small-files hygiene: per-batch appends leave ~one file per
          // kept batch; past 32 files a (re)start compacts the table
          // through the crash-safe swap, so restart seeding never pays
          // task-per-file scheduling that dwarfs the band data
          if (parts.length > 32) {
            spark0.read.parquet(bd.toString)
              .select(col("band").cast("int"), col("bkey")).distinct()
              .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            graft.DirSwap.install(bd, tmp)
          }
          Some(spark0.read.parquet(bd.toString))
        }
      }
      val seeded = (existingBands.toSeq ++ persisted.toSeq)
        .map(_.select(col("band").cast("int"), col("bkey")))
        .reduceOption(_.unionByName(_))
        .getOrElse(Seq.empty[(Int, String)].toDF("band", "bkey"))
      val frame0 = seeded.distinct().localCheckpoint()
      val bits = new java.util.BitSet(m)
      bloomAdd(bits, frame0.as[(Int, String)].collect(), m, k)
      (bits, new java.util.concurrent.atomic.AtomicReference(frame0))
    }
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        // exact INTRA-batch dedup first (lowest doc_id wins — two
        // identical documents arriving in one micro-batch would
        // otherwise both pass the prior-state screen); near-dup
        // granularity within a single micro-batch is the documented
        // boundary — non-identical near-dups in the SAME batch pass,
        // every batch AFTER sees them in the grown state
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(graft.text.TextFns.normalized(col("content"))))
          .orderBy(col("doc_id"))
        val batchD = batch
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
        // screen against the ACCUMULATED state (prior corpus + every
        // previously kept batch): row-local bitset probes, exact
        // verify join on bloom-positive keys only
        val kept = {
          val (bits, bandsRef) = state
          val dups = bloomScreen(batchD, bandsRef.get(), bits, m, k,
              nh, rpb)
            .filter(col("is_near_dup") === 1)
            .select(col("doc_id"))
          batchD.join(dups, Seq("doc_id"), "left_anti")
        }
        // one materialization of the screened+embedded rows (the
        // emptiness check, the upsert's two references, and the
        // state update below would otherwise re-run the screen and
        // the embed UDF ~4×)
        val rows = kept
          .withColumn("embedding", embedUdf(col("content")))
          .withColumnRenamed("doc_id", "id")
          .localCheckpoint()
        try {
          // an all-duplicates batch upserts nothing (upsertPoints
          // would otherwise rewrite the partition and touch the graph
          // for a no-op)
          if (!rows.isEmpty) {
            store.upsertPoints(collection, rows)
            // grow the screen state with the KEPT documents' bands
            val (bits, bandsRef) = state
            val newKeys = rows.select(col("id"), col("content"))
              .as[(Long, String)]
              .flatMap { case (_, text) => bloomBandKeys(text, nh, rpb) }
              .distinct().collect()
            bloomAdd(bits, newKeys, m, k)
            // restart durability: the kept batch's bands append to the
            // persisted table BEFORE the in-memory state grows — a
            // crash between upsert and this write re-ingests at most
            // one batch's near-dups on restart (the exact intra-batch
            // screen still catches identical re-deliveries), never
            // loses a previously persisted band
            screenDir.foreach { d =>
              newKeys.toSeq.toDF("band", "bkey").write.mode("append")
                .parquet(new java.io.File(d, "bands").toString)
            }
            val prev = bandsRef.get()
            val grown = prev
              .unionByName(newKeys.toSeq.toDF("band", "bkey"))
              .distinct().localCheckpoint()
            bandsRef.set(grown)
            prev.queryExecution.analyzed.collectFirst {
              case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
            }.foreach(_.unpersist(blocking = false))
          }
        } finally {
          rows.queryExecution.analyzed.collectFirst {
            case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
          }.foreach(_.unpersist(blocking = false))
        }
        ()
      }
  }

  /** Keyed sessionization with explicit state: a session closes after
    * `gapSeconds` of silence; each batch emits the updated (or closed)
    * session per user.
    */
  case class HllState(regs: Array[Byte])
  case class DistinctUpdate(event_type: String, batch_events: Long,
      hll_estimate: Double)

  /** Streaming distinct-count estimation per event type — the
    * HyperLogLog sketch as keyed streaming state. Exact streaming
    * distinct needs unbounded state (every seen key); the sketch holds
    * 256 BYTES per group forever, and because the register update is a
    * max (commutative, idempotent), the estimate after any sequence of
    * micro-batches equals the batch `Events.hllOf` over the same rows —
    * StreamingSpec asserts that equality exactly. Emits one update per
    * (group, micro-batch) with the running estimate.
    */
  def distinctStream(events: Dataset[Event]): Dataset[DistinctUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .mapGroupsWithState[HllState, DistinctUpdate](GroupStateTimeout.NoTimeout) {
        (etype: String, batch: Iterator[Event], state: GroupState[HllState]) =>
          val st = state.getOption.getOrElse(HllState(new Array[Byte](256)))
          var n = 0L
          batch.foreach { e =>
            val (b, r) = graft.queries.Events.hllRegister(e.event_id.toString)
            if (r > st.regs(b)) st.regs(b) = r.toByte
            n += 1
          }
          state.update(st)
          DistinctUpdate(etype, n, graft.queries.Events.hllEstimate(st.regs))
      }
  }

  // tsUs is epoch MICROS — java.sql.Timestamp.getTime is millisecond
  // precision and would truncate the fixture's microsecond stamps,
  // silently breaking equality with the batch struct-max
  case class CdcState(tsUs: Long, eventId: Long, value: Double)
  case class CdcUpdate(user_id: Long, event_type: String,
      last_ts: Timestamp, last_event_id: Long, last_value: Double)

  /** Streaming CDC/upsert compaction — the incremental twin of
    * [[graft.queries.Events.eventsCdcLatest]]: per (user, event_type)
    * key, hold ONLY the current winner under the (ts, event_id)
    * argmax. The winner-take-max update is commutative and idempotent
    * (exactly [[distinctStream]]'s register-max argument), so the
    * final state after any micro-batching and any arrival order
    * equals the batch struct-max bit-for-bit — ExtensionsSpec asserts
    * that equality. State is 3 scalars per live key (the compacted
    * table itself — the minimum any upsert view can hold); emits one
    * update per (key, micro-batch) with the running latest row.
    */
  def cdcLatestStream(events: Dataset[Event]): Dataset[CdcUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState[CdcState, CdcUpdate](GroupStateTimeout.NoTimeout) {
        (key: (Long, String), batch: Iterator[Event], state: GroupState[CdcState]) =>
          var st = state.getOption.getOrElse(CdcState(Long.MinValue, Long.MinValue, 0.0))
          batch.foreach { e =>
            val i = e.ts.toInstant
            val t = i.getEpochSecond * 1000000L + i.getNano / 1000L
            if (t > st.tsUs || (t == st.tsUs && e.event_id > st.eventId))
              st = CdcState(t, e.event_id, e.value)
          }
          state.update(st)
          CdcUpdate(key._1, key._2,
            Timestamp.from(java.time.Instant.ofEpochSecond(
              Math.floorDiv(st.tsUs, 1000000L),
              Math.floorMod(st.tsUs, 1000000L) * 1000L)),
            st.eventId, st.value)
      }
  }

  case class CohortState(firstWeekDay: Long)
  case class CohortUpdate(user_id: Long, cohort: String, changed: Boolean)

  /** Monday (ISO week start) of the UTC day containing `epochMs`, as an
    * epoch day — the streaming twin of the batch side's
    * `date_trunc("week", ts)` under the pinned UTC session timezone. */
  private[graft] def mondayEpochDay(epochMs: Long): Long =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(epochMs, 86400000L))
      .`with`(java.time.temporal.TemporalAdjusters
        .previousOrSame(java.time.DayOfWeek.MONDAY))
      .toEpochDay

  /** Streaming cohort assignment — `events_retention`'s per-user first
    * ISO week as keyed streaming state. Exact streaming retention needs
    * each user's full history; first-seen is a MIN — commutative and
    * idempotent — so ONE LONG of state per user reproduces the batch
    * cohort after any micro-batch split (ExtensionsSpec asserts the
    * equality against the batch query's cohort frame). Emits
    * (user, cohort ISO date, changed) per touched user per micro-batch;
    * the retention matrix itself is then a stateless aggregation of
    * events joined to this slowly-changing cohort output.
    *
    * FOREVER-STATE BY DESIGN (unlike [[sessionize]], where NoTimeout
    * was a leak): a user's cohort is their first week EVER — evicting
    * it would re-cohort a returning user into the wrong week, changing
    * answers. State is one long per user, the minimum the semantics
    * admit; at 100 TB / 10⁹ users that is ~8 GB of raw state, which is
    * a RocksDB state-store deployment
    * (`spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider) — off-heap, incrementally
    * checkpointed — not the default in-memory HDFS-backed store.
    */
  def cohortStream(events: Dataset[Event]): Dataset[CohortUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[CohortState, CohortUpdate](GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[CohortState]) =>
          val minDay = batch.map(e => mondayEpochDay(e.ts.getTime)).min
          val prev = state.getOption
          val day = prev.map(p => math.min(p.firstWeekDay, minDay)).getOrElse(minDay)
          state.update(CohortState(day))
          CohortUpdate(uid, java.time.LocalDate.ofEpochDay(day).toString,
            changed = prev.forall(_.firstWeekDay != day))
      }
  }

  case class CanonicalState(canonical: Long)
  case class CanonicalUpdate(fingerprint: String, canonical: Long,
      changed: Boolean)

  /** Streaming exact-dedup canonicalization — the INGEST-TIME form of
    * the batch `dedup_exact` (per content fingerprint, canonical doc =
    * MINIMUM doc_id): each arriving (fingerprint, doc_id) merges into
    * one long of keyed state via min. Min is commutative + idempotent,
    * so the final state is independent of arrival order and
    * micro-batch split — the [[cohortStream]] proof shape, spec-proved
    * equal to the batch group-min under shuffled one-file-per-trigger
    * arrival. An update row with `changed = false` means the arrival
    * was a duplicate of something already canonical — the signal an
    * ingest sink uses to drop the incoming copy; `changed = true` with
    * a LOWERED canonical means a late-arriving earlier doc displaced
    * the previous keeper (the retraction case batch dedup never sees —
    * a downstream sink keyed on fingerprint overwrites to converge).
    * Fingerprints are computed by the CALLER with the same Catalyst
    * expressions as the batch query (md5 ∘ normalized — a stateless
    * select lifts to streaming), so no JVM replica of the
    * normalization exists to drift.
    */
  def dedupStream(fps: Dataset[(String, Long)]): Dataset[CanonicalUpdate] = {
    import fps.sparkSession.implicits._
    fps.groupByKey(_._1)
      .mapGroupsWithState[CanonicalState, CanonicalUpdate](
          GroupStateTimeout.NoTimeout) {
        (fp: String, batch: Iterator[(String, Long)],
            state: GroupState[CanonicalState]) =>
          val minId = batch.map(_._2).min
          val prev = state.getOption
          val canon = prev.map(p => math.min(p.canonical, minId))
            .getOrElse(minId)
          state.update(CanonicalState(canon))
          CanonicalUpdate(fp, canon, changed = prev.forall(_.canonical != canon))
      }
  }

  case class RetentionState(buf: Seq[Long], cohortDay: Option[Long],
      seen: Seq[Int])
  case class RetentionHit(user_id: Long, cohort: String, week_offset: Int)

  /** Streaming retention — `events_retention`'s matrix as an
    * append-only delta log: one RetentionHit(user, cohort, offset) the
    * first time a user is seen active `offset` weeks after their
    * cohort week, so `count(*) GROUP BY cohort, week_offset` over the
    * output equals the batch matrix exactly (each user contributes
    * each offset once — the streaming form of countDistinct).
    *
    * Correctness needs the same EVENT-TIME ORDERED REPLAY as
    * [[funnelStream]], for a subtler reason: a user's cohort is their
    * MINIMUM week, and a late-arriving earlier event would silently
    * re-cohort the user after offsets were already emitted against the
    * old cohort — an append-only output cannot retract them. Folding
    * strictly in event-time order below the watermark pins the cohort
    * at the user's true first event BEFORE any offset row is emitted;
    * no retraction case exists by construction. Buffer bounded by the
    * watermark horizon (timer-drained); cohort + seen-offsets persist
    * for the user's lifetime like [[cohortStream]] (bounded: one int
    * per ACTIVE week since cohort), RocksDB expectation as there.
    */
  def retentionStream(events: Dataset[Event], watermark: String = "2 hours")
      : Dataset[RetentionHit] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionState, RetentionHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[RetentionState]) =>
          val prev = state.getOption.getOrElse(RetentionState(Nil, None, Nil))
          val wm = state.getCurrentWatermarkMs
          val (ready, pending) =
            (prev.buf ++ batch.map(_.ts.getTime)).partition(_ <= wm)
          var cohort = prev.cohortDay
          var seen = prev.seen.toSet
          val out = Seq.newBuilder[RetentionHit]
          for (t <- ready.sorted) {
            val wk = mondayEpochDay(t)
            if (cohort.isEmpty) cohort = Some(wk)
            val off = ((wk - cohort.get) / 7).toInt
            if (!seen(off)) {
              seen += off
              out += RetentionHit(userId,
                java.time.LocalDate.ofEpochDay(cohort.get).toString, off)
            }
          }
          state.update(RetentionState(pending, cohort, seen.toSeq))
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(math.max(pending.min, wm + 1))
          out.result().iterator
      }
  }

  case class FunnelState(buf: Seq[(Long, String)], t1: Option[Long],
      t2: Option[Long], t3: Option[Long])
  case class FunnelStep(user_id: Long, step: Int, event_type: String,
      ts: Timestamp)

  /** Streaming funnel — `events_funnel`'s per-user step progression as
    * keyed streaming state, EXACT under out-of-order arrival. The batch
    * contract (t1 = min signup, t2 = min click > t1, t3 = min purchase
    * > t2) is order-sensitive: a click arriving before its user's
    * earlier-timestamped signup must still convert. A naive
    * fold-on-arrival gets this wrong, and monotone min-updates can't
    * repair it (lowering t1 retroactively admits clicks already
    * discarded). The correct streaming pattern is EVENT-TIME ORDERED
    * REPLAY: buffer each user's funnel events in state, and only when
    * the watermark passes an event's timestamp fold it — in timestamp
    * order — into the (t1, t2, t3) machine, emitting a FunnelStep row
    * the moment a step is definitively reached. Processing strictly in
    * event-time order below the watermark makes the fold equal to the
    * batch min-chain by construction (ExtensionsSpec proves equality
    * against the batch query, including an out-of-order case).
    *
    * State hygiene: the BUFFER is bounded by the watermark horizon per
    * user (exactly `nearDupStream`'s discipline — a timer at the
    * earliest buffered timestamp re-fires as the watermark advances and
    * drains it); the three folded longs persist for the user's lifetime
    * BY DESIGN, like [[cohortStream]]'s first-week (a funnel step, once
    * reached, is a fact about history — evicting it would double-count
    * a returning user), with the same RocksDB state-store expectation
    * at 10⁹ users.
    */
  def funnelStream(events: Dataset[Event], watermark: String = "2 hours")
      : Dataset[FunnelStep] = {
    import events.sparkSession.implicits._
    val steps = Map("signup" -> 1, "click" -> 2, "purchase" -> 3)
    events
      .filter(col("event_type").isin("signup", "click", "purchase"))
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelStep](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          val prev = state.getOption.getOrElse(FunnelState(Nil, None, None, None))
          val incoming = batch.map(e => (e.ts.getTime, e.event_type)).toSeq
          val wm = state.getCurrentWatermarkMs
          // fold everything the watermark has finalized, in ts order
          // (ties: step order — a click at the exact signup instant does
          // NOT convert, matching the batch side's strict `>`)
          val (ready, pending) = (prev.buf ++ incoming).partition(_._1 <= wm)
          var (t1, t2, t3) = (prev.t1, prev.t2, prev.t3)
          val out = Seq.newBuilder[FunnelStep]
          for ((ts, typ) <- ready.sortBy(r => (r._1, steps(r._2)))) typ match {
            case "signup" if t1.isEmpty =>
              t1 = Some(ts); out += FunnelStep(userId, 1, typ, new Timestamp(ts))
            case "click" if t1.exists(ts > _) && t2.isEmpty =>
              t2 = Some(ts); out += FunnelStep(userId, 2, typ, new Timestamp(ts))
            case "purchase" if t2.exists(ts > _) && t3.isEmpty =>
              t3 = Some(ts); out += FunnelStep(userId, 3, typ, new Timestamp(ts))
            case _ => ()
          }
          state.update(FunnelState(pending, t1, t2, t3))
          if (pending.nonEmpty)
            // re-fire when the watermark reaches the earliest buffered
            // event (clamped above the current watermark, as required)
            state.setTimeoutTimestamp(math.max(pending.map(_._1).min, wm + 1))
          out.result().iterator
      }
  }

  /** Keyed sessionization with EVICTED state: a session closes after
    * `gapSeconds` of event-time silence, enforced two ways. In-batch, a
    * same-user event past the gap closes the previous session exactly
    * as before; across batches, an event-time TIMER (per-key timeout at
    * `last + gap`, clamped above the current watermark) fires once the
    * watermark passes it, emits the open session as closed, and REMOVES
    * the key's state — the `nearDupStream` pattern. Without the timer
    * (round-10 shape: NoTimeout), per-user state grew forever and an
    * idle user's last session never emitted its closed row — unbounded
    * state at 100× and a correctness gap, not just a leak. `watermark`
    * bounds how late a same-user event may arrive and still extend its
    * session; beyond it the session has already closed.
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800,
      watermark: String = "10 minutes"): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap with no new events: the open
            // session is definitively closed; evict the key's state
            val st = state.get
            state.remove()
            Iterator.single(SessionUpdate(userId, new Timestamp(st.start),
              new Timestamp(st.last), st.n, closed = true))
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            if (sorted.isEmpty) Iterator.empty
            else {
              val out = Seq.newBuilder[SessionUpdate]
              var st = state.getOption.getOrElse {
                val t = sorted.head.ts.getTime
                SessionState(t, t, 0)
              }
              for (e <- sorted) {
                val t = e.ts.getTime
                if (t - st.last > gapSeconds * 1000) {
                  out += SessionUpdate(userId, new Timestamp(st.start),
                    new Timestamp(st.last), st.n, closed = true)
                  st = SessionState(t, t, 1)
                } else {
                  st = st.copy(last = math.max(st.last, t), n = st.n + 1)
                }
              }
              state.update(st)
              // the timer must sit strictly above the current watermark
              // or Spark rejects it — a session already older than the
              // watermark fires at the next batch boundary instead
              state.setTimeoutTimestamp(math.max(st.last + gapSeconds * 1000,
                state.getCurrentWatermarkMs + 1))
              out += SessionUpdate(userId, new Timestamp(st.start),
                new Timestamp(st.last), st.n, closed = false)
              out.result().iterator
            }
          }
      }
  }

  case class EwmaState(pending: Map[Long, Long], ewma: Option[Double], nDays: Int)
  case class EwmaUpdate(event_type: String, day: String, n: Long,
      n_days: Int, ewma: Double)

  /** Streaming EWMA volume baseline — `events_ewma` lifted to
    * Structured Streaming with [[funnelStream]]'s ordered-replay
    * discipline: a day's count folds into the baseline only once the
    * watermark passes the day's END (the count is then complete by the
    * watermark contract — no later event may land in it), days fold in
    * day order, and the lambda s·0.75 + x·0.25 is the batch fold
    * BIT-FOR-BIT (same init, same exact binary constants), so the
    * streamed baseline equals the batch one under any micro-batching
    * and any arrival order. State per event type is the pending
    * day→count map — bounded by days inside the watermark horizon,
    * never by stream length — plus one double; a per-key event-time
    * timer re-fires at the next pending day boundary so a quiet stream
    * still finalizes its buffered days.
    */
  def ewmaStream(events: Dataset[Event], watermark: String = "2 hours")
      : Dataset[EwmaUpdate] = {
    import events.sparkSession.implicits._
    val dayMs = 86400000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaState, EwmaUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (typ: String, batch: Iterator[Event], state: GroupState[EwmaState]) =>
          val prev = state.getOption.getOrElse(EwmaState(Map.empty, None, 0))
          var pending = prev.pending
          batch.foreach { e =>
            val d = Math.floorDiv(e.ts.getTime, dayMs)
            pending += d -> (pending.getOrElse(d, 0L) + 1L)
          }
          val wm = state.getCurrentWatermarkMs
          val (ready, rest) = pending.partition { case (d, _) =>
            (d + 1) * dayMs <= wm
          }
          var ew = prev.ewma
          var nd = prev.nDays
          val out = Seq.newBuilder[EwmaUpdate]
          for ((d, n) <- ready.toSeq.sortBy(_._1)) {
            ew = Some(ew.fold(n.toDouble)(s => s * 0.75 + n * 0.25))
            nd += 1
            // ISO string via LocalDate.ofEpochDay — the cohortStream
            // convention: no java.sql.Date, whose Catalyst conversion
            // reads the JVM default timezone
            out += EwmaUpdate(typ, java.time.LocalDate.ofEpochDay(d).toString,
              n, nd, ew.get)
          }
          state.update(EwmaState(rest, ew, nd))
          if (rest.nonEmpty)
            state.setTimeoutTimestamp(math.max((rest.keys.min + 1) * dayMs, wm + 1))
          out.result().iterator
      }
  }

  /** Stream-STREAM interval join — the taxonomy cell the rest of this
    * surface doesn't cover (windowed aggs, keyed state, and
    * stream-static joins all keep one side bounded; here BOTH sides
    * arrive unbounded): attribute each purchase to every click by the
    * same user within the preceding `joinWindowSeconds`. The canonical
    * ad-attribution join.
    *
    * State bounds (the 100 TB concern): Spark derives each side's
    * state-eviction horizon from the OTHER side's watermark plus the
    * time-range span of the join condition — a click can only match
    * purchases in [click_ts, click_ts + window], so once the purchase
    * watermark passes that, the buffered click is evicted; purchases
    * are evicted at the click watermark directly. Both buffers are
    * bounded by (event rate × (watermark + window)), never by stream
    * length. Without the time-range condition the state would grow
    * forever — the condition is load-bearing, not a filter.
    *
    * Batch equality: inner interval joins are micro-batch-invariant
    * (every pair within the horizon is eventually co-buffered exactly
    * once), spec-proven against the identical batch join on a
    * shuffled multi-trigger feed.
    */
  def attributionStream(clicks: Dataset[Event], purchases: Dataset[Event],
      watermark: String = "2 hours", joinWindowSeconds: Long = 3600): DataFrame = {
    val c = clicks.toDF()
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
        col("user_id"))
      .withWatermark("click_ts", watermark)
    val p = purchases.toDF()
      .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("user_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    c.join(p,
      c("user_id") === p("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $joinWindowSeconds SECONDS") &&
        col("click_ts") <= col("purchase_ts"))
      .select(c("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  case class QueryArrival(query_id: Long, ts: Timestamp, qvec: Array[Float])

  /** Streaming vector search — the store's serving path lifted to
    * Structured Streaming: queries ARRIVE as a stream while the index
    * is the STATIC side (a stream-static join, re-planned against the
    * current index snapshot each micro-batch — exactly how a serving
    * tier reads a periodically-republished index). Each arriving query
    * fans out to the index, per-partition sims reduce through the
    * bounded [[graft.functions.TopKAggregator]] buffer keyed by
    * (event-time window, query_id), and the watermark finalizes
    * windows so append-mode emission is exact-once-per-query; queries
    * later than the horizon are dropped instead of re-opening state.
    *
    * Scale shape: identical to batch kNN — the static index never
    * shuffles (partial buffers combine map-side), only ≤ queries×2k
    * buffer rows exchange, and state per open window is one bounded
    * buffer per in-flight query. Batch equality: the buffer merge is
    * associative and commutative, so the emitted top-k is independent
    * of micro-batching — spec-proven against
    * [[graft.search.Knn.bruteForceTopK]].
    */
  def knnStream(queries: Dataset[QueryArrival], index: DataFrame,
      k: Int = 10, windowDur: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator[Long](k))
    queries.toDF()
      .withWatermark("ts", watermark)
      .crossJoin(index.select(col("vec_id"), col("embedding")))
      .select(col("ts"), col("query_id"), col("vec_id"),
        graft.functions.Vec.dot(col("embedding"), col("qvec")).as("sim"))
      .groupBy(window(col("ts"), windowDur), col("query_id"))
      .agg(topk(col("vec_id"), col("sim")).as("topk"))
      .select(col("window").getField("start").as("window_start"),
        col("query_id"), posexplode(col("topk")))
      .select(col("window_start"), col("query_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col").getField("_2").as("vec_id"),
        col("col").getField("_1").as("sim"))
  }
}
