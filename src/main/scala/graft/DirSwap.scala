package graft

import java.io.{File, IOException}

/** Crash-safe replacement of a live directory by a freshly written copy
  * — the one swap every rewrite-in-place shares (the vector store's
  * point delete/upsert/compact and the ingest screen's band
  * compaction). Never delete-then-rename: a crash between those two
  * steps loses the live directory outright. Instead [[install]] sets
  * the live copy ASIDE (`.<live>-old`), installs the fresh one, then
  * drops the aside copy, so every crash point leaves at least one
  * complete copy on disk, and [[recover]] (run before the next read or
  * write that depends on `live`) finishes or rolls back the swap.
  *
  * A fresh copy is complete when it carries `_SUCCESS` (the marker
  * every Spark parquet commit writes — an empty rewrite, e.g. a
  * collection with every point deleted, still counts).
  *
  * Assumes POSIX `rename(2)` semantics for `File.renameTo` on one
  * filesystem: a directory rename is atomic and never leaves a
  * half-moved tree, so `live` is at every instant either absent or a
  * complete copy. An object store without atomic directory rename needs
  * a different commit protocol (a manifest pointer) instead.
  */
object DirSwap {

  /** Where [[install]] parks the live copy while the fresh one goes in. */
  def aside(live: File): File = new File(live.getParentFile, s".${live.getName}-old")

  /** Replace `live` with the complete copy at `fresh`. */
  def install(live: File, fresh: File): Unit = {
    val old = aside(live)
    rmTree(old)
    if (live.exists && !live.renameTo(old))
      throw new IOException(s"swap: set-aside rename failed for $live")
    if (!fresh.renameTo(live))
      throw new IOException(s"swap: install rename failed for $live")
    rmTree(old)
  }

  /** Finish or roll back a swap of `live` a crash interrupted: a present
    * `live` is authoritative (leftovers are dropped); otherwise a
    * complete `fresh` copy is installed, else the aside copy restored.
    */
  def recover(live: File, fresh: File): Unit = {
    val old = aside(live)
    if (live.exists) { rmTree(old); rmTree(fresh) }
    else if (new File(fresh, "_SUCCESS").isFile) {
      if (!fresh.renameTo(live))
        throw new IOException(s"swap recovery: install rename failed for $live")
      rmTree(old)
    } else if (old.exists) {
      if (!old.renameTo(live))
        throw new IOException(s"swap recovery: restore rename failed for $live")
      rmTree(fresh)
    }
  }

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }
}
