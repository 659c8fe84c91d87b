package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The program's one way to publish files: every version, generation,
  * rewritten table and staging copy becomes visible through [[add]] or
  * [[replace]], and every reader of a replaced target runs [[recover]]
  * first. The reference publishes the same two ways: an append-only
  * versioned history beside an overwritten staging table
  * (`S1:185-222,1086-1125`).
  *
  * Crash contract, for one writer per target and a crash that stops the
  * writer at any step:
  *  - A pending path starts with `_` and holds no `=`, so a parquet
  *    listing of its parent skips it and never reads it as a partition
  *    directory. A crash before a publish leaves at most a pending path,
  *    which the next publish to it deletes first.
  *  - [[add]]'s one rename is its commit: the target appears whole or not
  *    at all.
  *  - [[replace]] moves the target to `<target>_old`, then renames the
  *    pending copy in. A crash between the two leaves the whole old copy
  *    at `<target>_old`, which [[recover]] renames back; at any other step
  *    the target is the old copy or the new one, whole.
  *  - Every rename checks that its destination is absent first: Hadoop's
  *    `rename` onto an existing directory moves the source inside it
  *    instead of failing.
  *
  * On an object store without atomic rename, `rename` is a copy and a
  * crash inside it can leave a partial target.
  */
object Commit {

  /** Where [[replace]] keeps the current `target` during its swap. */
  private def backupOf(target: Path): Path =
    new Path(target.getParent, s"${target.getName}_old")

  /** Publishes a new entry. Deletes a leftover `pending`, lets `write` fill
    * it and return the path to publish (`pending` itself, or a file in it),
    * and renames that path to `target(path)`, which must not exist.
    * `pending` is deleted afterwards, also when a step fails. */
  def add(fs: FileSystem, pending: Path)(write: Path => Path)(
      target: Path => Path): Unit = {
    fs.delete(pending, true)
    try {
      val from = write(pending)
      move(fs, from, target(from))
    } finally fs.delete(pending, true): Unit
  }

  /** Replaces `target` with what `write` puts in its hidden sibling
    * `_pending_<name>`: runs [[recover]], deletes a leftover pending copy,
    * writes it, moves the current target (if any) to `<target>_old`, renames
    * the pending copy in, and deletes the backup. A failed write deletes
    * the pending copy and leaves the target as it was. */
  def replace(fs: FileSystem, target: Path)(write: Path => Unit): Unit = {
    recover(fs, target)
    val pending = new Path(target.getParent, s"_pending_${target.getName}")
    fs.delete(pending, true)
    try write(pending)
    catch { case e: Throwable => fs.delete(pending, true); throw e }
    val backup = backupOf(target)
    if (fs.exists(target)) move(fs, target, backup)
    move(fs, pending, target)
    fs.delete(backup, true): Unit
  }

  /** Brings `target` back after a [[replace]] that crashed: restores
    * `<target>_old` when the target is absent, and deletes it when the
    * target is present (the swap finished, and only the backup's delete was
    * lost). */
  def recover(fs: FileSystem, target: Path): Unit = {
    val backup = backupOf(target)
    if (fs.exists(backup)) {
      if (fs.exists(target)) fs.delete(backup, true): Unit
      else move(fs, backup, target)
    }
  }

  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (fs.exists(to) || !fs.rename(from, to))
      throw new IllegalStateException(s"cannot publish $from as $to")
}
