package graft.perfbench

import graft.index.VectorStore

/** Read-only view of the vector store's artifact census: full graph
  * builds, PQ codebook trainings, IVF centroid trainings and PQ code
  * encodes of one collection. The census is package-private to `graft`;
  * this object only sums it.
  */
object ArtifactCounters {
  def total(basePath: String, collection: String): Long =
    VectorStore.graphBuildsOf(basePath, collection) +
      VectorStore.cwTrainsOf(basePath, collection) +
      VectorStore.ivfTrainsOf(basePath, collection) +
      VectorStore.codesEncodesOf(basePath, collection)
}
