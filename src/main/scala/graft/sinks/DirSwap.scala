package graft.sinks

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one directory-replace protocol behind [[graft.Cli.writeObserved]]
  * (`outDir`, `.staging`, `.old`), [[ParquetSink.compact]] (`path`,
  * `.compact_tmp`, `.compact_old`) and [[IdCache]] (`<class>`,
  * `__compacting`, `__retired`): a complete copy is written to `staged`,
  * then [[publish]] swaps it in with two renames, `live` → `aside` and
  * `staged` → `live`. A directory rename is atomic on HDFS and the local
  * filesystem, so a crash at any point leaves a complete copy in `live`,
  * `aside` or a `_SUCCESS`-marked `staged`; [[recover]] finishes what
  * the crash left undone.
  *
  * Single writer per triple. A writer drops a stale `staged` before it
  * writes. Readers may call [[recover]] at any time: it acts only when
  * it finds `live` missing, so it deletes nothing while `live` exists.
  */
private[graft] final case class DirSwap(fs: FileSystem, live: Path,
    staged: Path, aside: Path) {

  /** `false` also when the source is gone (the local filesystem throws). */
  private def moved(from: Path, to: Path): Boolean =
    try fs.rename(from, to) catch { case _: FileNotFoundException => false }

  /** Restore `live` after a crash; returns whether `live` exists now.
    * Does nothing while `live` exists. Otherwise drops `staged` and
    * rolls back to `aside` if it is there, or else adopts a `staged`
    * whose `_SUCCESS` marker says it is complete. Hadoop's `rename`
    * moves a source INTO an existing directory, so `staged` goes first
    * (a racing promote then finds no source), and a rollback that lands
    * inside a just-promoted `live` is deleted from there. A rename lost
    * to a concurrent recovery is success when `live` exists afterwards.
    */
  def recover(): Boolean =
    fs.exists(live) || {
      if (fs.exists(aside)) {
        fs.delete(staged, true)
        if (moved(aside, live)) fs.delete(new Path(live, aside.getName), true)
        else require(fs.exists(live), s"could not restore $aside to $live")
        true
      } else if (fs.exists(new Path(staged, "_SUCCESS"))) {
        require(moved(staged, live) || fs.exists(live),
          s"could not adopt $staged as $live")
        true
      } else false
    }

  /** Swap the complete `staged` in: drop a stale `aside`, move `live`
    * aside if `liveExists` (what [[recover]] returned, for a writer that
    * just ran it), rename `staged` to `live`, then drop `aside`, which
    * also supersedes a copy a crash stranded there. A failed promote
    * with `live` back is a race lost to [[recover]]: success. Any other
    * renames `aside` back and throws an [[IllegalStateException]] naming
    * where each copy is.
    */
  def publish(liveExists: Boolean = fs.exists(live)): Unit = {
    if (liveExists) {
      if (fs.exists(aside)) fs.delete(aside, true)
      require(fs.rename(live, aside), s"could not move $live aside to $aside")
    }
    if (!moved(staged, live) && !fs.exists(live)) {
      val hadAside = fs.exists(aside)
      val restored = hadAside && (moved(aside, live) || fs.exists(live))
      throw new IllegalStateException(s"could not promote $staged to $live; " +
        (if (!hadAside) s"the new copy is at $staged"
         else if (restored) s"previous copy restored, the new copy is at $staged"
         else s"the previous copy is at $aside, the new copy at $staged"))
    }
    fs.delete(aside, true)
  }
}

private[graft] object DirSwap {

  /** The triple `live`, `live + stagedSuffix`, `live + asideSuffix`. */
  def apply(conf: org.apache.hadoop.conf.Configuration, live: String,
      stagedSuffix: String, asideSuffix: String): DirSwap = {
    val p = new Path(live)
    DirSwap(p.getFileSystem(conf), p, new Path(live + stagedSuffix),
      new Path(live + asideSuffix))
  }
}
