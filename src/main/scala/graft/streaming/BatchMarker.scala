package graft.streaming

/** Last-applied-batch marker for foreachBatch replay guards, written
  * ATOMICALLY (tmp + atomic rename over the old marker) so a crash
  * mid-write leaves either the old or the new id, never a truncated or
  * missing marker.
  *
  * Two read policies, matched to the sink's write discipline:
  *  - `lenient` (idempotent per-batch writes — overwrite-by-batchId
  *    dirs, tagged segments): an unreadable marker degrades to "replay
  *    the in-flight batch", which the idempotent write absorbs.
  *  - strict (non-idempotent folds, e.g. the CDC SCD2 history): an
  *    unreadable marker is an ERROR — replaying a possibly-applied
  *    batch would double-fold, so the operator must stop and say so
  *    rather than corrupt the target.
  */
object BatchMarker {

  def lastApplied(path: String, lenient: Boolean): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) -1L
    else {
      val raw = scala.io.Source.fromFile(f).mkString.trim
      raw.toLongOption match {
        case Some(v) => v
        case None if lenient => -1L
        case None => throw new java.io.IOException(
          s"corrupt batch marker $path ('$raw') guarding a non-idempotent " +
            "sink — refusing to guess; inspect the target and restore the marker")
      }
    }
  }

  def commit(path: String, batchId: Long): Unit = {
    val tmp = new java.io.File(path + ".tmp")
    val w = new java.io.PrintWriter(tmp)
    try w.print(batchId) finally w.close()
    // POSIX rename replaces the target atomically: no window in which
    // the marker is gone and reads back as "nothing applied".
    java.nio.file.Files.move(tmp.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
