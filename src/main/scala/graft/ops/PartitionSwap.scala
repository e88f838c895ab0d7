package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe publication of partition directories by rename swap — shared
  * by the incremental ingest merge ([[Ingest.ingestNewFiles]]) and
  * sink compaction ([[SinkMaintenance.compactPartitions]]).
  *
  * Protocol per partition dir `p`: rename(live/p → prevRoot/p);
  * rename(staging/p → live/p); delete(prevRoot/p). Backups live OUTSIDE
  * the sink (`<sink>__prev`) so a half-finished swap can never pollute
  * partition discovery. Every intermediate state is recoverable:
  * [[recover]] restores any backup whose live dir is missing (crash
  * between the two renames) and drops backups whose live dir exists
  * (crash after publish, before cleanup). Writers on the same sink must
  * call [[recover]] before publishing — both call sites do.
  */
private[graft] object PartitionSwap {

  def prevRootFor(sinkPath: String): Path = new Path(sinkPath + "__prev")

  /** Heal a half-done WHOLE-DIRECTORY swap ([[swapDir]]). Idempotent;
    * every reader/writer of a swapped root must call this first. */
  def recoverDir(fs: FileSystem, live: Path): Unit = {
    val prev = prevRootFor(live.toString)
    if (fs.exists(prev)) {
      if (!fs.exists(live)) {
        if (!fs.rename(prev, live))
          sys.error(s"cannot restore $prev to $live")
      } else fs.delete(prev, true)
    }
  }

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
      fs.listStatus(prevRoot).foreach { st =>
        val live = new Path(sink, st.getPath.getName)
        if (!fs.exists(live)) {
          if (!fs.rename(st.getPath, live))
            sys.error(s"cannot restore ${st.getPath} to $live")
        } else fs.delete(st.getPath, true)
      }
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
