package graft

import org.apache.spark.sql.functions._

import graft.embed.HashingEmbedder
import graft.index.VectorStore
import graft.model.Document
import graft.rag.Pipeline

class EmbedderSpec extends SparkSpec {
  import HashingEmbedder._

  test("embeddings are L2-normalized, deterministic, model-sensitive") {
    val m = modelsByName("hash-64")
    val v = embed("satellites trade altitude for speed", m)
    assert(v.length == 64)
    val norm = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
    assert(v.toSeq == embed("satellites trade altitude for speed", m).toSeq)
    val v2 = embed("satellites trade altitude for speed", modelsByName("hash-128"))
    assert(v2.length == 128)
    assert(embed("", m).forall(_ == 0f)) // zero-token → zero vector
  }

  test("self-similarity is 1, symmetry holds") {
    val m = modelsByName("hash-64")
    val a = embed("alpha beta gamma", m)
    val b = embed("beta gamma delta", m)
    assert(math.abs(similarity(a, a) - 1.0) < 1e-6)
    assert(similarity(a, b) == similarity(b, a))
    assert(similarity(a, b) > 0 && similarity(a, b) < 1)
  }
}

class VectorStoreSpec extends SparkSpec {
  import spark.implicits._

  test("create / search / info / delete round-trip") {
    val base = java.nio.file.Files.createTempDirectory("vstore").toString
    val store = new VectorStore(spark, base)
    val m = HashingEmbedder.modelsByName("hash-64")
    val texts = Seq("red apples and pears", "green apples only",
      "orbital mechanics primer", "station keeping burns")
    val rows = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, HashingEmbedder.embed(t, m)) }
      .toDF("row_order", "content", "embedding")
    store.createCollection("fixed_size_hash-64", rows, "row_order")
    assert(store.collectionNames() == Seq("fixed_size_hash-64"))

    val info = store.collectionInfo().collect().head
    assert(info.getAs[Long]("points") == 4 && info.getAs[Int]("dim") == 64)

    val q = Seq((0L, HashingEmbedder.embed("apples", m)))
      .toDF("query_id", "qvec")
    val hits = store.search("fixed_size_hash-64", q, 2)
      .orderBy("rank").collect()
    assert(hits.length == 2)
    // both apple documents outrank the orbital ones
    assert(Set(hits(0).getAs[Long]("id"), hits(1).getAs[Long]("id")) == Set(0L, 1L))

    store.deleteCollection("fixed_size_hash-64")
    assert(store.collectionNames().isEmpty)
  }

  test("point maintenance: deletePoints expires ids from storage and search; upsertPoints replaces by id") {
    val base = java.nio.file.Files.createTempDirectory("vstore-points").toString
    val store = new VectorStore(spark, base)
    val m = HashingEmbedder.modelsByName("hash-64")
    val rows = (0 until 6)
      .map(i => (i.toLong, s"original doc $i", HashingEmbedder.embed(s"doc $i", m)))
      .toDF("row_order", "content", "embedding")
    store.createCollection("c", rows, "row_order")
    // delete two points (plus one absent id — idempotent, not an error)
    val removed = store.deletePoints("c", Seq(1L, 4L, 99L))
    assert(removed == 2, s"removed $removed")
    val ids = store.read("c").select("id").as[Long].collect().toSet
    assert(ids == Set(0L, 2L, 3L, 5L))
    // a deleted point can never come back from search
    val q = Seq((0L, HashingEmbedder.embed("doc 1", m))).toDF("query_id", "qvec")
    val hits = store.search("c", q, 6).collect().map(_.getAs[Long]("id"))
    assert(hits.nonEmpty && !hits.contains(1L) && !hits.contains(4L))
    // upsert: id 2 replaced, id 9 added, everything else untouched
    val up = Seq(
        (2L, "replaced doc 2", HashingEmbedder.embed("replaced", m), 0L),
        (9L, "new doc 9", HashingEmbedder.embed("brand new", m), 0L))
      .toDF("id", "content", "embedding", "row_order")
    store.upsertPoints("c", up)
    val byId = store.read("c").select("id", "content").as[(Long, String)]
      .collect().toMap
    assert(byId.keySet == Set(0L, 2L, 3L, 5L, 9L))
    assert(byId(2L) == "replaced doc 2" && byId(9L) == "new doc 9")
    assert(byId(0L) == "original doc 0")
  }

  test("per-collection graph artifacts: maintenance on A never rebuilds A or touches B") {
    val base = java.nio.file.Files.createTempDirectory("vstore-graph").toString
    val store = new VectorStore(spark, base)
    val m = HashingEmbedder.modelsByName("hash-64")
    def rows(pfx: String, n: Int) = (0 until n)
      .map(i => (i.toLong, s"$pfx doc $i", HashingEmbedder.embed(s"$pfx doc $i", m)))
      .toDF("row_order", "content", "embedding")
    store.createCollection("a", rows("alpha", 30), "row_order")
    store.createCollection("b", rows("beta", 30), "row_order")

    def q(text: String) = Seq((0L, HashingEmbedder.embed(text, m)))
      .toDF("query_id", "qvec")

    // first search per collection pays exactly ONE full build each
    assert(store.graphSearch("a", q("alpha doc 3"), 3).collect().nonEmpty)
    assert(store.graphSearch("b", q("beta doc 3"), 3).collect().nonEmpty)
    assert(VectorStore.graphBuildsOf(base, "a") == 1L)
    assert(VectorStore.graphBuildsOf(base, "b") == 1L)
    val bBefore = store.graphSearch("b", q("beta doc 3"), 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

    // upsert into A: incremental insert — no rebuild of A, B untouched
    val up = Seq((50L, "alpha brand new",
        HashingEmbedder.embed("alpha brand new", m), 0L))
      .toDF("id", "content", "embedding", "row_order")
    store.upsertPoints("a", up)
    assert(VectorStore.graphBuildsOf(base, "a") == 1L,
      "upsert must maintain incrementally, not rebuild")
    assert(VectorStore.graphBuildsOf(base, "b") == 1L,
      "maintenance on A must never touch B")
    // the inserted point is served from A's updated artifact (a query
    // AT the new vector finds it at rank 1 — self-similarity is max)
    val hit = store.graphSearch("a", q("alpha brand new"), 3)
      .orderBy("rank").collect()
    assert(hit.head.getAs[Long]("id") == 50L,
      s"inserted point not served: ${hit.toSeq}")

    // delete from A: incremental tombstone — the id can never return
    assert(store.deletePoints("a", Seq(50L)) == 1L)
    assert(VectorStore.graphBuildsOf(base, "a") == 1L,
      "delete must maintain incrementally, not rebuild")
    val after = store.graphSearch("a", q("alpha brand new"), 10)
      .collect().map(_.getAs[Long]("id"))
    assert(after.nonEmpty && !after.contains(50L))

    // B's artifact was never rebuilt or modified: identical serving
    val bAfter = store.graphSearch("b", q("beta doc 3"), 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(bAfter == bBefore, "B's graph changed under A's maintenance")
    assert(VectorStore.graphBuildsOf(base, "b") == 1L)

    // recreate-on-exists invalidates: a fresh dataset rebuilds fresh
    store.createCollection("a", rows("gamma", 10), "row_order")
    assert(store.graphSearch("a", q("gamma doc 1"), 3).collect().nonEmpty)
    assert(VectorStore.graphBuildsOf(base, "a") == 2L,
      "recreated collection must rebuild, not serve the stale artifact")
  }

  test("cold-start serving: a fresh session over the same store path serves graphSearch with zero rebuilds") {
    val base = java.nio.file.Files.createTempDirectory("vstore-cold").toString
    val m = HashingEmbedder.modelsByName("hash-64")
    def rows(pfx: String, n: Int) = (0 until n)
      .map(i => (i.toLong, s"$pfx doc $i", HashingEmbedder.embed(s"$pfx doc $i", m)))
      .toDF("row_order", "content", "embedding")
    def q(text: String) = Seq((0L, HashingEmbedder.embed(text, m)))
      .toDF("query_id", "qvec")
    def serve(s: VectorStore, text: String) =
      s.graphSearch("c", q(text), 5).orderBy("rank")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

    // session 1: create + first search pays the one full build, and the
    // artifact lands under the STORE path (not JVM scratch)
    val store1 = new VectorStore(spark, base)
    store1.createCollection("c", rows("delta", 30), "row_order")
    val served1 = serve(store1, "delta doc 3")
    assert(served1.nonEmpty)
    assert(VectorStore.graphBuildsOf(base, "c") == 1L)
    val persisted = new java.io.File(s"$base/.graph/c")
    assert(persisted.isDirectory && persisted.listFiles.nonEmpty,
      "graph artifact must persist under the store path")

    // session 2 (fresh session state — fresh FrameMemo): the persisted
    // artifact serves COLD, zero rebuilds, identical results (the
    // Qdrant reopen / Faiss read_index contract — VERDICT r18 #1)
    val spark2 = spark.newSession()
    val store2 = new VectorStore(spark2, base)
    val served2 = serve(store2, "delta doc 3")
    assert(served2 == served1, "cold-start serving must match the builder")
    assert(VectorStore.graphBuildsOf(base, "c") == 1L,
      "a fresh session must load the persisted artifact, not rebuild")

    // cold MAINTENANCE: session 3 upserts with an empty memo — the
    // persisted artifact is maintained incrementally, never rebuilt
    val spark3 = spark.newSession()
    val store3 = new VectorStore(spark3, base)
    val up = Seq((50L, "delta brand new",
        HashingEmbedder.embed("delta brand new", m), 0L))
      .toDF("id", "content", "embedding", "row_order")
    store3.upsertPoints("c", up)
    assert(VectorStore.graphBuildsOf(base, "c") == 1L,
      "cold upsert must maintain the persisted artifact, not rebuild")
    val hit = store3.graphSearch("c", q("delta brand new"), 3)
      .orderBy("rank").collect()
    assert(hit.head.getAs[Long]("id") == 50L,
      s"cold-maintained artifact must serve the inserted point: ${hit.toSeq}")

    // session 4 serves the POST-upsert artifact cold — still no rebuild
    val spark4 = spark.newSession()
    val store4 = new VectorStore(spark4, base)
    val hit4 = store4.graphSearch("c", q("delta brand new"), 3)
      .orderBy("rank").collect()
    assert(hit4.head.getAs[Long]("id") == 50L)
    assert(VectorStore.graphBuildsOf(base, "c") == 1L)

    // staleness guard: recreate the collection OUT FROM UNDER a new
    // session — the stamp mismatch forces a rebuild (a stale artifact
    // must never serve a changed dataset)
    store4.createCollection("c", rows("omega", 10), "row_order")
    val spark5 = spark.newSession()
    val store5 = new VectorStore(spark5, base)
    assert(serve(store5, "omega doc 1").nonEmpty)
    assert(VectorStore.graphBuildsOf(base, "c") == 2L,
      "a recreated dataset must rebuild, not serve the stale artifact")
  }

  test("cross-session mutation: a session's memoized graph and codebooks never outlive another session's writes") {
    val base = java.nio.file.Files.createTempDirectory("vstore-xsess").toString
    val m = HashingEmbedder.modelsByName("hash-64")
    def rows(pfx: String, n: Int) = (0 until n)
      .map(i => (i.toLong, s"$pfx doc $i", HashingEmbedder.embed(s"$pfx doc $i", m)))
      .toDF("row_order", "content", "embedding")
    def q(text: String) = Seq((0L, HashingEmbedder.embed(text, m)))
      .toDF("query_id", "qvec")

    val store1 = new VectorStore(spark, base)
    store1.createCollection("c", rows("kappa", 30), "row_order")
    assert(store1.graphSearch("c", q("kappa doc 2"), 3).collect().nonEmpty)
    store1.codebooksOf("c")
    assert(VectorStore.graphBuildsOf(base, "c") == 1L)
    assert(VectorStore.cwTrainsOf(base, "c") == 1L)

    // session 2 MUTATES the collection (upsert): its maintenance
    // prunes the artifact dir session 1's memoized frame scans — the
    // stamp guard must drop session 1's stale memo and serve the
    // post-upsert persisted artifact (not throw FileNotFound, not
    // rebuild)
    val spark2 = spark.newSession()
    val store2 = new VectorStore(spark2, base)
    store2.upsertPoints("c", Seq((77L, "kappa brand new",
        HashingEmbedder.embed("kappa brand new", m), 0L))
      .toDF("id", "content", "embedding", "row_order"))
    val hit = store1.graphSearch("c", q("kappa brand new"), 3)
      .orderBy("rank").collect()
    assert(hit.head.getAs[Long]("id") == 77L,
      s"session 1 must serve the post-upsert artifact: ${hit.toSeq}")
    assert(VectorStore.graphBuildsOf(base, "c") == 1L,
      "the stamp guard must reload the maintained artifact, not rebuild")
    // codebooks survive an upsert (train-once) in BOTH sessions
    store1.codebooksOf("c")
    assert(VectorStore.cwTrainsOf(base, "c") == 1L)

    // session 2 RECREATES the collection: session 1's memoized
    // codebooks would silently score the new dataset with the old
    // quantizer — the token guard must force a retrain/reload instead
    store2.createCollection("c", rows("lambda", 12), "row_order")
    store1.codebooksOf("c")
    assert(VectorStore.cwTrainsOf(base, "c") == 2L,
      "session 1 must not serve the old dataset's codebooks")
    assert(store1.graphSearch("c", q("lambda doc 3"), 3).collect().nonEmpty)
    assert(VectorStore.graphBuildsOf(base, "c") == 2L,
      "session 1 must rebuild for the recreated dataset")

    // the guard holds for EVERY artifact kind: warm session 1's memo for
    // each, let session 2 recreate, and each kind rebuilds exactly once
    // (a second lookup is a memo hit; frames are scanned, so a stale
    // memo over pruned files would throw)
    val kinds: Seq[(String, VectorStore => Any, () => Long)] = Seq(
      ("graph", _.graphOf("c").count(),
        () => VectorStore.graphBuildsOf(base, "c")),
      ("sharded graph", _.shardedGraphOf("c", 2).count(),
        () => VectorStore.graphBuildsOf(base, "c#s2")),
      ("codebooks", _.codebooksOf("c"),
        () => VectorStore.cwTrainsOf(base, "c")),
      ("centroids", _.centroidsOf("c"),
        () => VectorStore.ivfTrainsOf(base, "c")),
      ("codes", _.codesOf("c").count(),
        () => VectorStore.codesEncodesOf(base, "c")))
    kinds.foreach { case (_, resolve, _) => resolve(store1) }
    val warm = kinds.map(_._3())
    store2.createCollection("c", rows("xi", 14), "row_order")
    kinds.foreach { case (_, resolve, _) => resolve(store1); resolve(store1) }
    kinds.zip(warm).foreach { case ((kind, _, census), w) =>
      assert(census() == w + 1,
        s"$kind: ${census() - w} builds after another session's recreate")
    }
  }

  test("cross-session mutation guard covers MAINTENANCE too: upsert after another session's recreate must not touch pruned artifacts") {
    val base = java.nio.file.Files.createTempDirectory("vstore-xmut").toString
    val m = HashingEmbedder.modelsByName("hash-64")
    def rows(pfx: String, n: Int) = (0 until n)
      .map(i => (i.toLong, s"$pfx doc $i", HashingEmbedder.embed(s"$pfx doc $i", m)))
      .toDF("row_order", "content", "embedding")
    def q(text: String) = Seq((0L, HashingEmbedder.embed(text, m)))
      .toDF("query_id", "qvec")

    val store1 = new VectorStore(spark, base)
    store1.createCollection("c", rows("mu", 25), "row_order")
    assert(store1.graphSearch("c", q("mu doc 2"), 3).collect().nonEmpty)
    assert(VectorStore.graphBuildsOf(base, "c") == 1L)

    // session 2 RECREATES the collection — pruning every graph
    // artifact dir session 1's memoized frame scans
    val spark2 = spark.newSession()
    val store2 = new VectorStore(spark2, base)
    store2.createCollection("c", rows("nu", 12), "row_order")

    // session 1 now MUTATES: graphToMaintain must drop its stale memo
    // (ADVICE r19 — the old peek ran maintenance jobs over deleted
    // files and threw AFTER the data rename committed) and, with no
    // persisted artifact for the recreated contents, skip maintenance
    store1.upsertPoints("c", Seq((77L, "nu brand new",
        HashingEmbedder.embed("nu brand new", m), 0L))
      .toDF("id", "content", "embedding", "row_order"))
    assert(VectorStore.graphBuildsOf(base, "c") == 1L,
      "a skipped maintenance pass must not rebuild")
    // the next serve builds fresh over the post-recreate + upsert data
    val hit = store1.graphSearch("c", q("nu brand new"), 3)
      .orderBy("rank").collect()
    assert(hit.head.getAs[Long]("id") == 77L, hit.toSeq.toString)
    assert(VectorStore.graphBuildsOf(base, "c") == 2L)
  }

  test("codebooks persisted WITHOUT a token (crash window) are treated as stale, never served guard-less") {
    val base = java.nio.file.Files.createTempDirectory("vstore-notok").toString
    val m = HashingEmbedder.modelsByName("hash-64")
    val rows = (0 until 30)
      .map(i => (i.toLong, s"pi doc $i", HashingEmbedder.embed(s"pi doc $i", m)))
      .toDF("row_order", "content", "embedding")
    val store = new VectorStore(spark, base)
    store.createCollection("a", rows, "row_order")
    store.codebooksOf("a")
    assert(VectorStore.cwTrainsOf(base, "a") == 1L)
    // simulate the crash between the parquet commit and the _token
    // write: valid _SUCCESS parquet, no identity
    val tok = new java.io.File(s"$base/.pq/a/v1/_token")
    assert(tok.isFile)
    assert(tok.delete())
    // a fresh session must NOT load the tokenless artifact (its memo
    // would record no token and the staleness guard would go inert —
    // ADVICE r19): it retrains and re-persists, minting a new token
    val spark2 = spark.newSession()
    val store2 = new VectorStore(spark2, base)
    store2.codebooksOf("a")
    assert(VectorStore.cwTrainsOf(base, "a") == 2L,
      "tokenless codebooks must be treated as invalid")
    assert(new java.io.File(s"$base/.pq/a/v1/_token").isFile,
      "the retrain must re-persist with a fresh token")
  }

  test("per-collection codebooks: train once, serve compressed, cold-start load, recreate retrains") {
    val base = java.nio.file.Files.createTempDirectory("vstore-cw").toString
    val m = HashingEmbedder.modelsByName("hash-64")
    def rows(pfx: String, n: Int) = (0 until n)
      .map(i => (i.toLong, s"$pfx doc $i", HashingEmbedder.embed(s"$pfx doc $i", m)))
      .toDF("row_order", "content", "embedding")
    def q(text: String) = Seq((0L, HashingEmbedder.embed(text, m)))
      .toDF("query_id", "qvec")
    val store = new VectorStore(spark, base)
    store.createCollection("a", rows("alpha", 30), "row_order")
    store.createCollection("b", rows("beta", 30), "row_order")

    // first use trains exactly once per collection; the second call is
    // a memo hit
    val cwA = store.codebooksOf("a")
    assert(cwA.length == VectorStore.PqM)
    assert(store.codebooksOf("a") eq cwA)
    assert(VectorStore.cwTrainsOf(base, "a") == 1L)
    assert(VectorStore.cwTrainsOf(base, "b") == 0L,
      "training A must never touch B")

    // compressed serve: k ranked rows, the self-query's own vector in
    // the ADC top-k (decode error cannot displace a unit-norm self
    // match out of the top 3 on this fixture)
    val hits = store.searchCompressed("a", q("alpha doc 4"), 3)
      .orderBy("rank").collect()
    assert(hits.length == 3)
    assert(hits.map(_.getAs[Long]("id")).contains(4L), hits.toSeq.toString)

    // upsert keeps the trained quantizer (the Faiss train-once
    // contract: add() never retrains)
    store.upsertPoints("a", Seq((50L, "alpha brand new",
        HashingEmbedder.embed("alpha brand new", m), 0L))
      .toDF("id", "content", "embedding", "row_order"))
    assert(store.codebooksOf("a") eq cwA)
    assert(VectorStore.cwTrainsOf(base, "a") == 1L)

    // cold start: a fresh session loads the persisted codebooks —
    // zero training, identical values
    val spark2 = spark.newSession()
    val store2 = new VectorStore(spark2, base)
    val cwA2 = store2.codebooksOf("a")
    assert(VectorStore.cwTrainsOf(base, "a") == 1L,
      "a fresh session must load persisted codebooks, not retrain")
    assert(cwA2.length == cwA.length &&
      cwA2.zip(cwA).forall { case (x, y) =>
        x.zip(y).forall { case (u, v) => u.sameElements(v) } },
      "persisted codebooks must round-trip bit-exact")

    // recreate invalidates: a new dataset retrains
    store2.createCollection("a", rows("gamma", 10), "row_order")
    store2.codebooksOf("a")
    assert(VectorStore.cwTrainsOf(base, "a") == 2L,
      "a recreated collection must retrain, not serve stale codebooks")
  }

  test("sharded graph serving: persisted artifact, incremental in-shard maintenance, cold start, coexists with the monolithic path") {
    val base = java.nio.file.Files.createTempDirectory("vstore-shard").toString
    val m = HashingEmbedder.modelsByName("hash-64")
    def rows(pfx: String, n: Int) = (0 until n)
      .map(i => (i.toLong, s"$pfx doc $i", HashingEmbedder.embed(s"$pfx doc $i", m)))
      .toDF("row_order", "content", "embedding")
    def q(text: String) = Seq((0L, HashingEmbedder.embed(text, m)))
      .toDF("query_id", "qvec")
    val store = new VectorStore(spark, base)
    store.createCollection("c", rows("tau", 30), "row_order")

    // both index flavors build exactly once and coexist on disk
    assert(store.graphSearchSharded("c", q("tau doc 4"), 3)
      .orderBy("rank").collect().head.getAs[Long]("id") == 4L)
    assert(store.graphSearch("c", q("tau doc 4"), 3)
      .orderBy("rank").collect().head.getAs[Long]("id") == 4L)
    assert(VectorStore.graphBuildsOf(base, "c#s2") == 1L)
    assert(VectorStore.graphBuildsOf(base, "c") == 1L)
    def artifactDirs() = Option(new java.io.File(s"$base/.graph/c")
      .listFiles()).getOrElse(Array.empty).map(_.getName).sorted.toSeq
    assert(artifactDirs().exists(_.startsWith("v1-")) &&
      artifactDirs().exists(_.startsWith("v1s2-")), artifactDirs().toString)

    // upsert maintains BOTH incrementally (no rebuild), each serving
    // the new doc; the sharded edges stay in-shard
    store.upsertPoints("c", Seq((77L, "tau brand new",
        HashingEmbedder.embed("tau brand new", m), 0L))
      .toDF("id", "content", "embedding", "row_order"))
    assert(store.graphSearchSharded("c", q("tau brand new"), 3)
      .orderBy("rank").collect().head.getAs[Long]("id") == 77L)
    assert(store.graphSearch("c", q("tau brand new"), 3)
      .orderBy("rank").collect().head.getAs[Long]("id") == 77L)
    assert(VectorStore.graphBuildsOf(base, "c#s2") == 1L,
      "sharded maintenance must not rebuild")
    assert(VectorStore.graphBuildsOf(base, "c") == 1L)
    val edges = store.shardedGraphOf("c", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.forall { case (id, nbr) => id % 2 == nbr % 2 },
      "maintained sharded artifact has a cross-shard edge")

    // point delete maintains both too; deleted ids vanish from serves
    assert(store.deletePoints("c", Seq(4L)) == 1L)
    assert(VectorStore.graphBuildsOf(base, "c#s2") == 1L)
    assert(!store.graphSearchSharded("c", q("tau doc 4"), 5)
      .collect().map(_.getAs[Long]("id")).contains(4L))

    // cold start: a fresh session serves the maintained artifacts with
    // zero builds
    val spark2 = spark.newSession()
    val store2 = new VectorStore(spark2, base)
    assert(store2.graphSearchSharded("c", q("tau brand new"), 3)
      .orderBy("rank").collect().head.getAs[Long]("id") == 77L)
    assert(VectorStore.graphBuildsOf(base, "c#s2") == 1L,
      "a fresh session must load the persisted sharded artifact")

    // recreate invalidates the sharded artifact like every other one
    store2.createCollection("c", rows("ups", 12), "row_order")
    assert(store2.graphSearchSharded("c", q("ups doc 2"), 3)
      .collect().nonEmpty)
    assert(VectorStore.graphBuildsOf(base, "c#s2") == 2L)
  }

  test("sharded graph serving answers negative query ids and negative point ids") {
    val base = java.nio.file.Files.createTempDirectory("vstore-negid").toString
    val m = HashingEmbedder.modelsByName("hash-64")
    val store = new VectorStore(spark, base)
    store.createCollection("c", (0 until 300)
      .map(i => (i.toLong, HashingEmbedder.embed(s"sigma doc $i", m)))
      .toDF("row_order", "embedding"), "row_order")
    val v = HashingEmbedder.embed("sigma doc 17 and 18", m)
    def hits(qid: Long) = store.graphSearchSharded("c",
        Seq((qid, v), (3L, HashingEmbedder.embed("sigma doc 5", m)))
          .toDF("query_id", "qvec"), 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("id"))).sortBy(t => (t._1, t._2)).toSeq
    // query -1 gets both shards' beams, exactly as the same query under
    // a non-negative id does, and no other query id appears
    val neg = hits(-1L)
    val pos = hits(7L)
    assert(neg.map(_._1).distinct == Seq(-1L, 3L), neg.toString)
    assert(neg.filter(_._1 == -1L).map(t => (t._2, t._3)) ==
      pos.filter(_._1 == 7L).map(t => (t._2, t._3)))
    assert(neg.filter(_._1 == -1L).exists(_._3 % 2 == 1L))
    // a point upserted as id -5 lives in shard -1 and is served from it
    store.upsertPoints("c", Seq((-5L, v, -5L)).toDF("id", "embedding", "row_order"))
    val q = Seq((0L, v)).toDF("query_id", "qvec")
    assert(store.search("c", q, 3).orderBy("rank").first().getAs[Long]("id") == -5L)
    assert(store.graphSearchSharded("c", q, 3).orderBy("rank")
      .first().getAs[Long]("id") == -5L)
  }

  test("per-collection IVF centroids: train once, serve probed, cold-start load, recreate retrains") {
    val base = java.nio.file.Files.createTempDirectory("vstore-ivf").toString
    val m = HashingEmbedder.modelsByName("hash-64")
    def rows(pfx: String, n: Int) = (0 until n)
      .map(i => (i.toLong, s"$pfx doc $i", HashingEmbedder.embed(s"$pfx doc $i", m)))
      .toDF("row_order", "content", "embedding")
    def q(text: String) = Seq((0L, HashingEmbedder.embed(text, m)))
      .toDF("query_id", "qvec")
    val store = new VectorStore(spark, base)
    store.createCollection("a", rows("rho", 30), "row_order")

    // first serve trains exactly once; the second is a memo hit
    val hits = store.ivfSearch("a", q("rho doc 4"), 3).orderBy("rank").collect()
    assert(hits.length == 3)
    assert(hits.map(_.getAs[Long]("id")).contains(4L), hits.toSeq.toString)
    store.ivfSearch("a", q("rho doc 7"), 3).collect()
    assert(VectorStore.ivfTrainsOf(base, "a") == 1L)

    // upsert keeps the trained centroids (train-once)
    store.upsertPoints("a", Seq((50L, "rho brand new",
        HashingEmbedder.embed("rho brand new", m), 0L))
      .toDF("id", "content", "embedding", "row_order"))
    val c1 = store.centroidsOf("a")
    assert(VectorStore.ivfTrainsOf(base, "a") == 1L)

    // cold start: a fresh session loads bit-exact, zero training
    val spark2 = spark.newSession()
    val store2 = new VectorStore(spark2, base)
    val c2 = store2.centroidsOf("a")
    assert(VectorStore.ivfTrainsOf(base, "a") == 1L,
      "a fresh session must load persisted centroids, not retrain")
    assert(c1.length == c2.length &&
      c1.zip(c2).forall { case (u, v) => u.sameElements(v) },
      "persisted centroids must round-trip bit-exact")

    // recreate invalidates: a new dataset retrains
    store2.createCollection("a", rows("sigma", 12), "row_order")
    store2.ivfSearch("a", q("sigma doc 2"), 3).collect()
    assert(VectorStore.ivfTrainsOf(base, "a") == 2L,
      "a recreated collection must retrain, not serve stale centroids")
  }

  test("store maxsim serve: a second session composes persisted graph + codebooks + codes with ZERO builds, trains, or encodes") {
    val base = java.nio.file.Files.createTempDirectory("vstore-maxsim").toString
    val m = HashingEmbedder.modelsByName("hash-64")
    val tok = 4
    // 16 docs × 4 tokens: token id = doc*4 + t, token text interleaves
    // shared vocabulary with doc/token-specific ids (the ingest-loop
    // fixture discipline: similar enough to keep the graph navigable,
    // distinct enough that self-tokens are unique exact matches)
    def tokText(d: Int, t: Int) = s"corpus shared d$d token t$t body x${d}y$t"
    val rows = (0 until 16).flatMap { d =>
      (0 until tok).map { t =>
        ((d * tok + t).toLong, tokText(d, t),
          HashingEmbedder.embed(tokText(d, t), m))
      }
    }.toDF("row_order", "content", "embedding")
    val store = new VectorStore(spark, base)
    store.createCollection("c", rows, "row_order")
    // query 0 = doc 3's own tokens, query 1 = doc 11's
    def queryTokens = Seq(3, 11).zipWithIndex.flatMap { case (d, qi) =>
      (0 until tok).map(t =>
        (qi.toLong, t, HashingEmbedder.embed(tokText(d, t), m)))
    }.toDF("query_id", "qt", "qvec")

    val r1 = store.maxsimSearch("c", queryTokens, 3, tok)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(r1.count(_._2 == 1) == 2, r1.toString)
    // self-doc at rank 1: the query IS the doc's token set, and the
    // exact full-width rescore cannot rank anything above a perfect
    // per-token match
    assert(r1.contains((0L, 1, 3L)) && r1.contains((1L, 1, 11L)), r1.toString)
    assert(VectorStore.graphBuildsOf(base, "c") == 1L)
    assert(VectorStore.cwTrainsOf(base, "c") == 1L)
    assert(VectorStore.codesEncodesOf(base, "c") == 1L)

    // a SECOND session serves the identical answer with zero new work:
    // graph, codebooks, and code rows all load cold from the store path
    val spark2 = spark.newSession()
    val store2 = new VectorStore(spark2, base)
    val r2 = store2.maxsimSearch("c", queryTokens, 3, tok)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(r2 == r1, s"cold serve diverged: $r2 vs $r1")
    assert(VectorStore.graphBuildsOf(base, "c") == 1L,
      "cold maxsim serve must not rebuild the graph")
    assert(VectorStore.cwTrainsOf(base, "c") == 1L,
      "cold maxsim serve must not retrain the quantizer")
    assert(VectorStore.codesEncodesOf(base, "c") == 1L,
      "cold maxsim serve must not re-encode the code rows")
  }

  test("crash mid-swap: a new store recovers every crash state of the collection swap") {
    val base = java.nio.file.Files.createTempDirectory("vstore-crash").toString
    val m = HashingEmbedder.modelsByName("hash-64")
    val store = new VectorStore(spark, base)
    store.createCollection("c", (0 until 20)
      .map(i => (i.toLong, s"eta doc $i", HashingEmbedder.embed(s"eta doc $i", m)))
      .toDF("row_order", "content", "embedding"), "row_order")
    assert(store.deletePoints("c", Seq(3L)) == 1L)
    val live = new java.io.File(s"$base/collection=c")
    val aside = DirSwap.aside(live)
    val fresh = new java.io.File(s"$base/.collection=c-new")
    def ids(s: VectorStore) = s.read("c").select("id").as[Long].collect().toSet
    val full = ids(store)
    assert(full == (0L until 20L).toSet - 3L)

    // installed, old copy not yet dropped: the live copy serves
    store.read("c").write.parquet(aside.toString)
    assert(ids(new VectorStore(spark, base)) == full)
    assert(!aside.exists, "recovery must drop the set-aside copy")

    // set aside, fresh copy only partly written: the aside copy returns
    fresh.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(fresh, "part-00000-partial.parquet").toPath,
      Array[Byte](1, 2, 3))
    assert(live.renameTo(aside))
    assert(ids(new VectorStore(spark, base)) == full)
    assert(!aside.exists && !fresh.exists)

    // set aside, fresh copy complete — here every point deleted, which
    // _SUCCESS still marks complete: the fresh copy is installed
    store.read("c").filter(lit(false)).write.parquet(fresh.toString)
    assert(live.renameTo(aside))
    assert(ids(new VectorStore(spark, base)).isEmpty)
    assert(!aside.exists && !fresh.exists)
  }

  test("compact rewrites the file layout without changing a row") {
    val base = java.nio.file.Files.createTempDirectory("vstore-compact").toString
    val store = new VectorStore(spark, base)
    val m = HashingEmbedder.modelsByName("hash-64")
    // eight single-file appended micro-batches — the layout streaming
    // ingestion leaves behind (createCollection's one-shot write is
    // AQE-coalesced, so fragmentation comes from appends, not creates)
    val dir = s"$base/collection=c"
    for (b <- 0 until 8) {
      (0 until 25)
        .map(i => ((b * 25 + i).toLong, s"doc number ${b * 25 + i}",
          HashingEmbedder.embed(s"doc ${b * 25 + i}", m)))
        .toDF("id", "content", "embedding")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    def files(): Int = new java.io.File(s"$base/collection=c")
      .listFiles.count(_.getName.endsWith(".parquet"))
    val before = store.read("c")
      .select("id", "content").as[(Long, String)].collect().toSet
    assert(files() >= 8, s"expected a fragmented layout, got ${files()} files")
    store.compact("c", targetRows = 100)
    assert(files() <= 2, s"compact left ${files()} files")
    val after = store.read("c")
      .select("id", "content").as[(Long, String)].collect().toSet
    assert(after == before, "compact changed collection contents")
  }

  test("id assignment is distributed: range sort + zipWithIndex, never a single-partition window") {
    val base = java.nio.file.Files.createTempDirectory("vstore-ids").toString
    val store = new VectorStore(spark, base)
    val n = 5000
    val rows = new scala.util.Random(3).shuffle((0 until n).toList)
      .map(i => (i.toLong, s"doc $i", Array.fill(4)(i.toFloat)))
      .toDF("row_order", "content", "embedding")
      .repartition(8)
    // the id-assignment prefix sorts by range partitioning — the
    // Window.orderBy formulation would show SinglePartition here
    val plan = rows.orderBy(col("row_order")).queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("rangepartitioning"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    store.createCollection("big", rows, "row_order")
    val got = store.read("big").select("id", "row_order")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (0L until n).toSeq) // contiguous enumerate() ids
    assert(got.forall { case (id, ro) => id == ro }) // in orderCol order
    store.deleteCollection("big")
  }
}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("end-to-end experiment: 25 configs, metrics bounded, self-retrieval works") {
    val docs = Seq(
      Document("corpus/apples.md", "# Apples\n\nApples are pomes. Orchards prune in winter. Cider needs pressing."),
      Document("corpus/orbits.md", "# Orbits\n\nSatellites trade altitude for speed. Drag decays low orbits."),
      Document("corpus/bread.md", "# Bread\n\nSourdough needs a starter. Gluten develops with kneading."),
    ).toDS()
    // the hashing embedder is token-exact (the reference embeds raw text
    // too — its case-robustness came from the neural model), so queries
    // quote the documents verbatim
    val queries = Seq(
      ("q1", "Apples are pomes", Seq("apples", "cider"), Seq("apples")),
      ("q2", "Satellites trade altitude", Seq("satellites", "drag"), Seq("orbits")),
    ).toDF("query_id", "query", "expected_keywords", "expected_source_patterns")

    val report = Pipeline.run(spark, docs, queries).collect()
    assert(report.length == 5 * 5)
    report.foreach { r =>
      Seq("top_1_accuracy", "top_3_accuracy", "mrr", "avg_similarity").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c out of range: $v")
      }
      assert(r.getAs[Long]("num_queries") == 2)
      // the corpus is tiny and queries quote the docs verbatim — every
      // config should retrieve the right source in its top-3
      assert(r.getAs[Double]("top_3_accuracy") == 1.0)
    }
  }
}
