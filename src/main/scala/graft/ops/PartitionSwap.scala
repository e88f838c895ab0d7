package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe publication of directories by rename swap — shared by the
  * NYT firing's partition merge ([[Ingest.ingestNewFiles]], per partition
  * dir) and the retrieval index ([[graft.RagIndexJob]], whole root via
  * [[swapDir]]).
  *
  * Protocol per partition dir `p`: rename(live/p → prevRoot/p);
  * rename(staging/p → live/p); delete(prevRoot/p). Backups live OUTSIDE
  * the sink (`<sink>__prev`) so a half-finished swap can never pollute
  * partition discovery. Every intermediate state is recoverable:
  * [[recover]] restores any backup whose live dir is missing (crash
  * between the two renames) and drops backups whose live dir exists
  * (crash after publish, before cleanup). A writer of the sink must call
  * [[recover]] before publishing; the firing does.
  */
private[graft] object PartitionSwap {

  private def prevRootFor(sinkPath: String): Path = new Path(sinkPath + "__prev")

  /** Heal a half-done WHOLE-DIRECTORY swap ([[swapDir]]). Idempotent;
    * every reader/writer of a swapped root must call this first. */
  def recoverDir(fs: FileSystem, live: Path): Unit = {
    val prev = prevRootFor(live.toString)
    if (fs.exists(prev)) restoreOrDrop(fs, prev, live)
  }

  /** One recovery step: an existing `backup` is restored to `live` when
    * `live` is missing (crash between the two renames), else dropped
    * (crash after publish, before cleanup). */
  private def restoreOrDrop(fs: FileSystem, backup: Path, live: Path): Unit =
    if (!fs.exists(live)) {
      if (!fs.rename(backup, live))
        sys.error(s"cannot restore $backup to $live")
    } else fs.delete(backup, true)

  /** Crash-safe publication of a whole directory: `staging` replaces
    * `live` via the same rename protocol as the per-partition swap
    * (live → `<live>__prev`; staging → live; delete prev). Used when an
    * artifact is a SET of files that must change together (e.g. the RAG
    * index + its manifest): any crash point leaves either the old set or
    * the new set recoverable, never a mix. */
  def swapDir(fs: FileSystem, staging: Path, live: Path): Unit = {
    recoverDir(fs, live)
    val prev = prevRootFor(live.toString)
    if (fs.exists(live) && !fs.rename(live, prev))
      sys.error(s"cannot move $live aside to $prev")
    if (!fs.rename(staging, live))
      sys.error(s"cannot publish $staging to $live")
    fs.delete(prev, true)
  }

  /** Heal any swap a previous crash left half-done. Idempotent. */
  def recover(fs: FileSystem, sink: Path): Unit = {
    val prevRoot = prevRootFor(sink.toString)
    if (fs.exists(prevRoot)) {
      fs.listStatus(prevRoot).foreach(st =>
        restoreOrDrop(fs, st.getPath, new Path(sink, st.getPath.getName)))
      fs.delete(prevRoot, true)
    }
  }

  /** Swap every `<partitionCol>=` dir under `staging` into `sink`;
    * returns the published dir names. Deletes `staging` when done. */
  def publish(fs: FileSystem, staging: Path, sink: Path,
              partitionCol: String): Seq[String] = {
    val prevRoot = prevRootFor(sink.toString)
    fs.mkdirs(sink)
    fs.mkdirs(prevRoot)
    val published = fs.listStatus(staging)
      .filter(_.getPath.getName.startsWith(partitionCol + "="))
      .map { st =>
        val name = st.getPath.getName
        val live = new Path(sink, name)
        val backup = new Path(prevRoot, name)
        if (fs.exists(live) && !fs.rename(live, backup))
          sys.error(s"cannot move $live aside to $backup")
        if (!fs.rename(st.getPath, live))
          sys.error(s"cannot publish ${st.getPath} to $live")
        fs.delete(backup, true)
        name
      }
    fs.delete(staging, true)
    fs.delete(prevRoot, true)
    published.toSeq
  }
}
