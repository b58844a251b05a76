package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private def ragBytes(seed: Long): Seq[Array[Byte]] = {
    val c = Inputs.ragCorpus(seed, 12, 4, 6)
    c.docs.flatMap { case (n, t) => Seq(n.getBytes("UTF-8"), t.getBytes("UTF-8")) } :+
      c.queriesJson.getBytes("UTF-8")
  }

  private def vectorBytes(seed: Long): Seq[Array[Byte]] = {
    val cs = Inputs.centres(seed, 4, 16)
    Inputs.clusteredVectors(seed, 50, cs, 0.35).map { v =>
      val b = java.nio.ByteBuffer.allocate(4 * v.length)
      v.foreach(b.putFloat)
      b.array
    }.toSeq
  }

  private def dedupBytes(seed: Long): Seq[Array[Byte]] = {
    val c = Inputs.dedupCorpus(seed, 5, 2, 5, 40, 0.02, 0.3)
    c.docs.map { case (id, t) => s"$id\t$t".getBytes("UTF-8") } ++
      c.headOf.toSeq.sorted.map { case (d, h) => s"$d>$h".getBytes("UTF-8") }
  }

  private def same(a: Seq[Array[Byte]], b: Seq[Array[Byte]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) }

  for ((name, gen) <- Seq[(String, Long => Seq[Array[Byte]])](
      "rag corpus" -> ragBytes, "vectors" -> vectorBytes, "dedup corpus" -> dedupBytes)) {
    test(s"$name: one seed gives byte-identical inputs, another seed different ones") {
      assert(same(gen(1L), gen(1L)))
      assert(!same(gen(1L), gen(2L)))
    }
  }

  test("the rag vocabulary's embedder keys exceed the 2^20-entry hash memo") {
    val words = (0 until Inputs.RagVocab).map(Inputs.word(1L, _))
    assert(words.distinct.size == Inputs.RagVocab)
    assert(Inputs.RagVocab.toLong * graft.embed.HashingEmbedder.models.size > (1L << 20))
  }

  test("every planted duplicate's head is a document of the corpus") {
    val c = Inputs.dedupCorpus(3L, 10, 3, 10, 60, 0.02, 0.3)
    val ids = c.docs.map(_._1).toSet
    assert(ids.size == c.docs.size)
    assert(c.headOf.size == 30)
    assert(c.headOf.forall { case (d, h) => ids(d) && ids(h) && d != h })
  }
}
